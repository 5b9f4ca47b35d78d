package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, element_at, lit, typedLit}

import graft.api.GraftClient
import graft.functions.VectorFunctions.l2_distance

/** A live row of the benchmark's own model of a collection. */
final case class Live(vec: Array[Float], meta: Map[String, String])

/** One top-10 search and what its answer must satisfy. `filter` is a
  * metadata (field, value) equality; `expectTop` a key that must come back
  * first at distance 0; `nprobe` None leaves the client's default. */
final case class Query(vec: Array[Float], filter: Option[(String, String)] = None,
                       expectTop: Option[String] = None, nprobe: Option[Int] = None)

/** Issues searches through `GraftClient.search`, times them, and checks
  * every answer against the model the benchmark keeps in plain Scala. */
final class Reads(ctx: Ctx, name: String) {
  val K = 10
  val latMs = ArrayBuffer.empty[Double]
  val filteredMs = ArrayBuffer.empty[Double]
  val firstAfterCommitMs = ArrayBuffer.empty[Double]
  val steadyMs = ArrayBuffer.empty[Double]
  val planMs = ArrayBuffer.empty[Double]
  val execMs = ArrayBuffer.empty[Double]
  val recalls = ArrayBuffer.empty[Double]
  var freshSeen = 0
  var freshChecked = 0

  /** A timed search counted in the read metrics; returns its milliseconds. */
  def search(client: GraftClient, q: Query, live: collection.Map[String, Live],
             firstAfterCommit: Boolean): Double = {
    if (ctx.traced) {
      freshChecked += 1
      if (indexFresh(client)) freshSeen += 1
    }
    val (got, ms) = run(client, q)
    latMs += ms
    if (q.filter.isDefined) filteredMs += ms
    (if (firstAfterCommit) firstAfterCommitMs else steadyMs) += ms
    val exact = Stats.exactTopK(q.vec, candidates(live, q.filter), K)
    if (exact.nonEmpty) recalls += Stats.recallAtK(got.map(_._1), exact.map(_._1), K)
    ctx.record(checkAnswer(q, got, live))
    ms
  }

  /** A full-probe search (`nprobe` = nlist): its top-10 must be the exact
    * top-10, up to ties. Not counted in the read latencies. */
  def fullProbe(client: GraftClient, q: Query, live: collection.Map[String, Live]): Unit = {
    val (got, _) = run(client, q)
    val exact = Stats.exactTopK(q.vec, candidates(live, q.filter), K)
    val tenth = exact.lastOption.map(_._2).getOrElse(0.0)
    val extra = got.map(_._1).filterNot(exact.map(_._1).toSet)
    val tiesOnly = extra.forall(k => live.get(k).exists(l =>
      math.sqrt(Stats.l2sq(q.vec, l.vec)) <= tenth + 1e-5))
    ctx.record(checkAnswer(q, got, live) &
      ctx.check(got.size == exact.size && tiesOnly,
        s"full-probe search on $name is not the exact top-$K: got ${got.map(_._1)}, " +
          s"exact ${exact.map(_._1)}"))
  }

  private def run(client: GraftClient, q: Query): (Seq[(String, Double, Map[String, String])], Double) = {
    val filter = q.filter.map { case (f, v) => element_at(col("meta"), lit(f)) === lit(v) }
    val t0 = Ctx.nowNs
    val rows = ctx.call("api.search", "api") { id =>
      val p0 = Ctx.nowNs
      val df = ctx.child(id, "api.search.plan", "api") {
        q.nprobe.fold(client.search(name, q.vec, K, filter = filter))(np =>
          client.search(name, q.vec, K, filter = filter, nprobe = np))
      }
      val p1 = Ctx.nowNs
      val out = ctx.child(id, "api.search.exec", "api")(df.collect())
      if (ctx.traced) {
        planMs += (p1 - p0) / 1e6
        execMs += Ctx.msSince(p1)
      }
      out
    }
    val ms = Ctx.msSince(t0)
    val got = rows.toSeq.map { r =>
      (r.getString(0), r.get(1).asInstanceOf[Number].doubleValue,
        Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty[String, String]))
    }
    (got, ms)
  }

  private def candidates(live: collection.Map[String, Live], filter: Option[(String, String)]) =
    live.iterator.collect {
      case (k, l) if filter.forall { case (f, v) => l.meta.get(f).contains(v) } => (k, l.vec)
    }.toSeq

  private def checkAnswer(q: Query, got: Seq[(String, Double, Map[String, String])],
                          live: collection.Map[String, Live]): Boolean = {
    val dead = got.map(_._1).filterNot(live.contains)
    // each hit's distance must be the one to the row's current vector, so
    // an overwrite that left an old vector in the store or index shows
    val offDistance = got.collect {
      case (k, d, _) if live.get(k).exists(l => math.abs(d - math.sqrt(Stats.l2sq(q.vec, l.vec))) > 1e-3) => k
    }
    val badFilter = q.filter.toSeq.flatMap { case (f, v) =>
      got.filterNot(_._3.get(f).contains(v)).map(_._1)
    }
    val sorted = got.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1) + 1e-9)
    val top = q.expectTop.forall(k => got.headOption.exists(g => g._1 == k && g._2 < 1e-3))
    ctx.check(dead.isEmpty, s"search on $name returned keys that are not live: $dead") &
      ctx.check(badFilter.isEmpty, s"search on $name returned hits failing ${q.filter}: $badFilter") &
      ctx.check(offDistance.isEmpty, s"search on $name returned distances that are not to the rows' " +
        s"current vectors: $offDistance") &
      ctx.check(sorted, s"search on $name returned hits out of distance order") &
      ctx.check(got.size <= K, s"search on $name returned ${got.size} hits for k = $K") &
      ctx.check(top, s"search on $name did not return ${q.expectTop} first at distance 0: " +
        got.take(2).map(g => (g._1, g._2)))
  }

  /** `listIndexes` reads stamps on the driver and launches no Spark job. */
  private def indexFresh(client: GraftClient): Boolean =
    client.listIndexes(name).collect().exists(r => r.getAs[String]("field") == "vec" &&
      r.getAs[Boolean]("fresh"))
}

object Reads {
  /** Exact top-10 through `l2_distance` over the collection's SQL view, no
    * index: median milliseconds of five queries, each checked against the
    * benchmark's brute force. */
  def l2Scan(ctx: Ctx, view: String, live: collection.Map[String, Live],
             keys: IndexedSeq[String], rng: scala.util.Random): Double = {
    val ms = (0 until 5).map { _ =>
      val q = live(keys(rng.nextInt(keys.size))).vec
      val t0 = Ctx.nowNs
      val got = ctx.spark.table(view).select(col("key"), l2_distance(col("vec"), typedLit(q)).as("d"))
        .orderBy(col("d"), col("key")).limit(10).collect().map(_.getString(0)).toSeq
      val ms = Ctx.msSince(t0)
      val exact = Stats.exactTopK(q, live.iterator.map { case (k, l) => (k, l.vec) }.toSeq, 10).map(_._1)
      ctx.record(ctx.check(got.toSet == exact.toSet, s"l2_distance scan top-10 $got != exact $exact"))
      ms
    }
    Stats.median(ms)
  }
}
