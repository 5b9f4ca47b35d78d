package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.index.SparseIndex
import graft.operators.SparseSearch

/** SparseIndex at-rest layout: lossless bucket prune, score parity with
  * the raw-postings operator, partition-prune plan shape. */
class SparseIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(23)
  private val vecs: Map[Long, Map[Long, Double]] = (0L until 80L).map { id =>
    id -> Seq.fill(7)((rnd.nextInt(50).toLong,
      math.rint((rnd.nextDouble() * 3 + 0.25) * 100) / 100)).toMap
  }.toMap
  private def postingsDf =
    vecs.toSeq.flatMap { case (id, m) => m.map { case (d, w) => (id, d, w) } }
      .toDF("id", "dim", "w")
  private val query: Seq[(Long, Double)] = Seq((2L, 1.0), (9L, 2.0), (31L, 0.5))

  private def freshIndex(buckets: Int = 16): String = {
    val dir = java.nio.file.Files.createTempDirectory("sparse-idx").toString
    SparseIndex.build(postingsDf, dir, buckets = buckets)
    dir
  }

  test("topK via index == topK via raw postings, both metrics") {
    val dir = freshIndex()
    for (metric <- Seq("dot", "cosine")) {
      val viaIndex = SparseIndex.topK(spark, dir, query, k = 12, metric)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val viaRaw = SparseSearch.topK(postingsDf, query, k = 12, metric)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(viaIndex.map(_._1).toSeq == viaRaw.map(_._1).toSeq, s"$metric ids diverged")
      viaIndex.zip(viaRaw).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-12, s"$metric scores diverged: $a vs $b")
      }
    }
  }

  test("topKBatch via index == via raw postings, both metrics") {
    val dir = freshIndex()
    val qp = Seq((1L, 2L, 1.0), (1L, 9L, 2.0), (2L, 31L, 0.5), (2L, 44L, 1.5))
      .toDF("qid", "dim", "w")
    for (metric <- Seq("dot", "cosine")) {
      val viaIndex = SparseIndex.topKBatch(spark, dir, qp, k = 6, metric)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val viaRaw = SparseSearch.topKBatch(postingsDf, qp, k = 6, metric)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(viaIndex.map(t => (t._1, t._2, t._4)).toSeq ==
        viaRaw.map(t => (t._1, t._2, t._4)).toSeq, s"$metric rankings diverged")
      viaIndex.zip(viaRaw).foreach { case ((_, _, a, _), (_, _, b, _)) =>
        assert(math.abs(a - b) < 1e-12)
      }
    }
  }

  test("the scan is partition-pruned to the query dims' buckets") {
    val dir = freshIndex(buckets = 16)
    val plan = SparseIndex.topK(spark, dir, query, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket partition prune missing:\n${plan.take(2000)}")
    assert(plan.contains("PushedFilters") && plan.contains("In(dim"),
      s"dim IN pushdown missing:\n${plan.take(2000)}")
    // driver-side bucket fn matches the executor-side partition column:
    // every queried dim's posting must actually be found (lossless prune)
    val hitDims = query.map(_._1).toSet
    val expectIds = vecs.collect {
      case (id, m) if m.keySet.intersect(hitDims).nonEmpty => id
    }.toSet
    val gotIds = SparseIndex.topK(spark, dir, query, k = 80)
      .collect().map(_.getLong(0)).toSet
    assert(gotIds == expectIds, "prune lost (or invented) candidate docs")
  }

  test("cosine norms come from the side table, not the pruned scan") {
    // a doc with ONE queried dim and many un-queried ones: a norm derived
    // from the pruned frame would be too small, inflating its cosine
    val dir = java.nio.file.Files.createTempDirectory("sparse-idx").toString
    val p = Seq((1L, 5L, 1.0), (1L, 100L, 10.0), (1L, 101L, 10.0),
      (2L, 5L, 1.0)).toDF("id", "dim", "w")
    SparseIndex.build(p, dir, buckets = 8)
    val got = SparseIndex.topK(spark, dir, Seq((5L, 1.0)), k = 2, "cosine")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val n1 = math.sqrt(1.0 + 100.0 + 100.0)
    assert(math.abs(got(1L) - 1.0 / n1) < 1e-12,
      s"doc 1's cosine must use its FULL norm $n1, got ${got(1L)}")
    assert(math.abs(got(2L) - 1.0) < 1e-12)
  }

  test("querying an unbuilt path fails loudly") {
    val e = intercept[IllegalArgumentException](
      SparseIndex.topK(spark, "/tmp/definitely-not-an-index", query, 3))
    assert(e.getMessage.contains("build first"))
  }

  private def toPostings(m: Map[Long, Map[Long, Double]]) =
    m.toSeq.flatMap { case (id, v) => v.map { case (d, w) => (id, d, w) } }
      .toDF("id", "dim", "w")

  test("append ≡ rebuild: new docs, re-upserts, deletes; compaction stable") {
    val dir = java.nio.file.Files.createTempDirectory("sparse-seg").toString
    val base = vecs.filter(_._1 < 60L)
    SparseIndex.build(toPostings(base), dir, buckets = 16)
    // delta: 20 new docs, one RE-UPSERT (id 5 gets a completely new
    // posting set — its old dims must stop serving), two deletes
    val newDocs = vecs.filter(_._1 >= 60L)
    val re5: Map[Long, Double] = Map(2L -> 9.0, 31L -> 1.5, 44L -> 2.0)
    SparseIndex.append(toPostings(newDocs + (5L -> re5)), dir,
      deletedIds = Some(Seq(7L, 9L).toDF("id")))
    assert(SparseIndex.segmentCount(dir) == 2)
    // dead rows: the prior versions of 5, 7, 9 over 81 stored docs
    assert(math.abs(SparseIndex.tombstoneRatio(spark, dir) - 3.0 / 81) < 1e-12)
    val merged = (base - 5L - 7L - 9L) ++ newDocs + (5L -> re5)
    def check(): Unit = for (metric <- Seq("dot", "cosine")) {
      val viaIndex = SparseIndex.topK(spark, dir, query, k = 80, metric)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val viaRaw = SparseSearch.topK(toPostings(merged), query, k = 80, metric)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(viaIndex.map(_._1).toSeq == viaRaw.map(_._1).toSeq,
        s"$metric ids diverged after append")
      viaIndex.zip(viaRaw).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-12, s"$metric scores diverged: $a vs $b") }
      val qp = Seq((1L, 2L, 1.0), (1L, 9L, 2.0), (2L, 31L, 0.5))
        .toDF("qid", "dim", "w")
      val bIdx = SparseIndex.topKBatch(spark, dir, qp, k = 6, metric)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
      val bRaw = SparseSearch.topKBatch(toPostings(merged), qp, k = 6, metric)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
      assert(bIdx == bRaw, s"$metric batch rankings diverged after append")
    }
    check()
    // deleted docs must be GONE, not just down-ranked: a query hitting
    // only doc 7's dims finds nothing of it
    val all = SparseIndex.topK(spark, dir, query, k = 80).collect()
      .map(_.getLong(0)).toSet
    assert(!all.contains(7L) && !all.contains(9L))
    // compaction folds to one segment without changing any result
    SparseIndex.compact(spark, dir)
    assert(SparseIndex.segmentCount(dir) == 1)
    assert(SparseIndex.tombstoneRatio(spark, dir) == 0.0)
    check()
  }

  test("append auto-compacts past compactAt") {
    val dir = java.nio.file.Files.createTempDirectory("sparse-ac").toString
    SparseIndex.build(toPostings(vecs.filter(_._1 < 40L)), dir, buckets = 8)
    SparseIndex.append(toPostings(vecs.filter(k => k._1 >= 40L && k._1 < 60L)),
      dir, compactAt = 1)
    assert(SparseIndex.segmentCount(dir) == 1,
      "compactAt = 1 must fold the appended segment immediately")
    val got = SparseIndex.topK(spark, dir, query, k = 80)
      .collect().map(_.getLong(0)).toSet
    val raw = SparseSearch.topK(toPostings(vecs.filter(_._1 < 60L)), query, k = 80)
      .collect().map(_.getLong(0)).toSet
    assert(got == raw)
  }

  test("concurrent append vs compact: serialized on the commit lock, never a torn layout") {
    val dir = java.nio.file.Files.createTempDirectory("sparse-race").toString
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, 7L, 1.0 + (i % 13) * 0.01)).toDF("id", "dim", "w")
    SparseIndex.build(docs(0 until 40), dir, buckets = 8)
    // two writers racing on one layout: an appender streaming delta
    // segments, a compactor folding in a loop — the commit lock must
    // serialize them (an unserialized pair could sweep each other's
    // in-flight segments and wedge META on a deleted dir)
    @volatile var failure: Option[Throwable] = None
    def guarded(body: => Unit): Runnable = () =>
      try body catch { case t: Throwable => failure = failure.orElse(Some(t)) }
    val appender = new Thread(guarded {
      (0 until 5).foreach(b => SparseIndex.append(
        docs(100 + 8 * b until 108 + 8 * b), dir, compactAt = 100))
    })
    val compactor = new Thread(guarded {
      (0 until 5).foreach(_ => SparseIndex.compact(spark, dir))
    })
    appender.start(); compactor.start(); appender.join(); compactor.join()
    failure.foreach(t => fail(s"concurrent writer threw: $t", t))
    // whatever interleaving happened: every doc ever appended is live,
    // and META references only dirs that exist (no torn sweep)
    val expect = ((0 until 40) ++ (100 until 140)).map(_.toLong).toSet
    def ids(): Set[Long] = SparseIndex.topK(spark, dir, Seq((7L, 1.0)), k = 100)
      .collect().map(_.getLong(0)).toSet
    assert(ids() == expect, "a racing compact must not lose an appended segment")
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "META")).split("\n")
    meta(2).trim.split(",").filter(_.nonEmpty).foreach { g =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"postings-$g")),
        s"META names segment $g whose postings dir is missing — torn sweep")
    }
    SparseIndex.compact(spark, dir)
    assert(SparseIndex.segmentCount(dir) == 1 && ids() == expect)
  }
}
