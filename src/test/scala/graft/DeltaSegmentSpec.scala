package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftClient
import graft.index.VecField

/** Commits to a centroid-partitioned index (IVF_FLAT, IVF_SQ8, IVF_PQ,
  * BIN_IVF_FLAT, extra vector fields) append delta segments and leave the
  * base cells alone; searches serve the base minus superseded keys plus
  * every delta row, a fold rewrites the touched cells once the delta
  * reaches the tail ratio, and the loaded cell layout survives every
  * commit that does not fold. */
class DeltaSegmentSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("delta-segment-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Dim = 4
  private val Bits = 64
  private val NList = 4

  /** One live row of the model: the primary vector, the extra float
    * fields, the binary field, and its group tag. */
  private case class Live(vec: Seq[Float], s8: Seq[Float],
      pq: Seq[Float], bin: Seq[Long], g: String)

  private def gauss(r: scala.util.Random): Seq[Float] =
    Seq.fill(Dim)(r.nextGaussian().toFloat * 3f)

  private def live(r: scala.util.Random): Live =
    Live(gauss(r), gauss(r), gauss(r), Seq(r.nextLong()),
      s"g${r.nextInt(4)}")

  // the primary is IVF_FLAT; IVF_SQ8, IVF_PQ and BIN_IVF_FLAT ride as
  // extra vector fields (each its own index, segments and stamp)
  private val fields = Seq(
    VecField("s8", Dim, "l2", "IVF_SQ8"),
    VecField("pq", Dim, "l2", "IVF_PQ"),
    VecField("bin", Bits, "hamming", "BIN_IVF_FLAT", family = "BINARY_VECTOR"))

  private def newClient(): GraftClient = new GraftClient(spark,
    java.nio.file.Files.createTempDirectory("graft-delta").toString)

  private def create(c: GraftClient, name: String): Unit =
    c.createCollection(name, dim = Dim, indexType = "IVF_FLAT", nlist = NList,
      buckets = 4, vectorFields = fields)

  private def put(c: GraftClient, name: String, rows: Seq[(String, Live)]): Unit = {
    import spark.implicits._
    c.upsert(name, rows.map { case (k, l) =>
      (k, l.vec, l.s8, l.pq, l.bin, Map("g" -> l.g)) }
      .toDF("key", "vec", "s8", "pq", "bin", "meta"))
  }

  private def l2(a: Seq[Float], b: Seq[Float]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => val d = x.toDouble - y; d * d }.sum)

  private def hamming(a: Seq[Long], b: Seq[Long]): Double =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toDouble

  /** One index of the collection: its field name ("" = the primary) and
    * how the model reads its vector. */
  private case class Ix(field: String, binary: Boolean, float: Live => Seq[Float],
      bits: Live => Seq[Long])

  private val indexes = Seq(
    Ix("", binary = false, _.vec, _ => Nil),
    Ix("s8", binary = false, _.s8, _ => Nil),
    Ix("pq", binary = false, _.pq, _ => Nil),
    Ix("bin", binary = true, _ => Nil, _.bin))

  private def keys(rows: Array[Row], col: String): Seq[String] =
    rows.map(_.getAs[String](col)).toSeq

  /** Every surface of index `ix` on collection `name` equals brute force
    * over `model`, for the query row `q`. */
  private def checkIndex(c: GraftClient, name: String, ix: Ix,
      model: collection.Map[String, Live], q: Live, stage: String): Unit = {
    import spark.implicits._
    val what = s"$stage ${if (ix.field.isEmpty) "vec" else ix.field}"
    val ranked = model.toSeq.map { case (k, l) =>
      ((if (ix.binary) hamming(ix.bits(l), ix.bits(q)) else l2(ix.float(l), ix.float(q))), k)
    }.sorted
    val all = ranked.map(_._2)
    val n = model.size
    // range: a radius in the widest gap among the 6th..12th distances
    val (radius, inRange) = {
      val ds = ranked.map(_._1)
      val i = (5 until math.min(12, n - 1)).maxBy(j => ds(j + 1) - ds(j))
      ((ds(i) + ds(i + 1)) / 2, all.take(i + 1))
    }
    // grouped: the 2 best groups by their best row, 2 rows each
    val groups = ranked.groupBy { case (_, k) => model(k).g }.toSeq
      .map { case (g, rs) => (rs.min, g, rs.sorted.take(2).map(_._2)) }
      .sortBy { case (best, g, _) => (best._1, g) }.take(2).flatMap(_._3)
    val (top, range, grouped, batch, drained) =
      if (ix.binary) {
        val qa = ix.bits(q).toArray
        (c.searchBinary(name, qa, k = 5, nprobe = NList, field = ix.field),
          c.searchBinaryRange(name, qa, radius, field = ix.field),
          c.searchBinaryGrouped(name, qa, k = 2, groupByKey = "g", groupSize = 2,
            nprobe = NList, field = ix.field),
          c.searchBinaryBatch(name, Seq((7L, qa.toSeq)).toDF("qid", "qcodes"), k = 5,
            nprobe = NList, field = ix.field),
          c.searchBinaryIterator(name, qa, batchSize = 40, field = ix.field))
      } else {
        val qa = ix.float(q).toArray
        (c.search(name, qa, k = 5, nprobe = NList, refine = 100, field = ix.field),
          c.searchRange(name, qa, radius, field = ix.field),
          c.searchGrouped(name, qa, k = 2, groupByKey = "g", groupSize = 2,
            nprobe = NList, field = ix.field),
          c.searchBatch(name, Seq((7L, qa.toSeq)).toDF("qid", "qvec"), k = 5,
            nprobe = NList, refine = 100, field = ix.field),
          c.searchIterator(name, qa, batchSize = 40, nprobe = NList, refine = 100,
            field = ix.field))
      }
    assert(keys(top.collect(), "vector_key") == all.take(5), s"$what: top-k")
    assert(keys(range.collect(), "vector_key") == inRange, s"$what: range")
    assert(keys(grouped.collect(), "vector_key") == groups, s"$what: grouped")
    assert(keys(batch.collect(), "vector_key") == all.take(5), s"$what: searchBatch")
    assert(drained.flatten.map(_.getString(0)).toSeq == all, s"$what: iterator")
  }

  private def deltaState(c: GraftClient, name: String): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"${c.describe(name).dataPath}-ivf", "DELTA"))).split("\n").toSeq

  test("a seeded 30-commit sequence across folds equals brute force on every " +
       "surface, for every IVF family and extra fields, loaded and unloaded") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val rng = new scala.util.Random(20261020)
    val c = newClient()
    val names = Seq("loaded", "plain")
    // the two collections take the same commits; each one's commit and
    // checks run beside the other's
    def both(f: String => Unit): Unit = Await.result(
      Future.sequence(names.map(n => Future(f(n)))), scala.concurrent.duration.Duration.Inf)
    val model = mutable.LinkedHashMap.empty[String, Live]
    var next = 0
    def fresh(): String = { next += 1; f"k$next%04d" }
    val initial = Seq.fill(40)(fresh() -> live(rng))
    model ++= initial
    names.foreach(create(c, _))
    both { n =>
      put(c, n, initial)
      c.buildIndex(n, nlist = NList)
      fields.foreach(f => c.buildIndex(n, nlist = NList, field = f.name))
    }
    c.loadCollection("loaded")
    var deletedOnce = Option.empty[String]
    var twice = Option.empty[String]
    val bases = mutable.Set.empty[String]
    var sawDelta = false
    for (commit <- 1 to 30) {
      val liveKeys = model.keys.toIndexedSeq
      val (puts, doomed) = commit % 5 match {
        case 0 => // delete two keys, one of which comes back later
          val doomed = rng.shuffle(liveKeys).take(2)
          deletedOnce = Some(doomed.head)
          (Nil, doomed)
        case 3 if deletedOnce.isDefined => // the deleted key comes back
          val back = Seq(deletedOnce.get -> live(rng))
          deletedOnce = None
          (back, Nil)
        case 1 => // overwrite a key (it moves cells) — and the next commit again
          val k = liveKeys(rng.nextInt(liveKeys.size))
          twice = Some(k)
          (Seq(k -> live(rng), fresh() -> live(rng)), Nil)
        case 2 if twice.exists(model.contains) =>
          (Seq(twice.get -> live(rng)), Nil)
        case _ => // new keys and an overwrite
          (Seq(fresh() -> live(rng), fresh() -> live(rng),
            liveKeys(rng.nextInt(liveKeys.size)) -> live(rng)), Nil)
      }
      model ++= puts
      model --= doomed
      val q = live(rng)
      both { n =>
        if (doomed.nonEmpty) c.deleteByKeys(n, doomed) else put(c, n, puts)
        indexes.foreach(checkIndex(c, n, _, model, q, s"$n commit $commit"))
      }
      val state = deltaState(c, "plain")
      bases += state.head
      sawDelta ||= state.size > 1
    }
    assert(bases.size >= 2, s"the sequence must cross a fold: $bases")
    assert(sawDelta, "the sequence must serve a non-empty delta")
  }

  test("a commit that does not fold leaves the loaded layout in place: the next " +
       "search reads no parquet and runs no more jobs or tasks than a steady one") {
    import spark.implicits._
    val c = newClient()
    c.createCollection("s", dim = Dim, indexType = "IVF_FLAT", nlist = NList, buckets = 4)
    val rng = new scala.util.Random(7)
    c.upsert("s", (0 until 200).map(i => (f"k$i%04d", gauss(rng), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    c.buildIndex("s", nlist = NList)
    c.loadCollection("s")
    val layout = c.describe("s").dataPath + "-ivf"
    def commit(i: Int): Unit =
      c.upsert("s", Seq((f"n$i%04d", gauss(rng), Map.empty[String, String]),
        (f"k$i%04d", gauss(rng), Map.empty[String, String])).toDF("key", "vec", "meta"))
    def query(): DataFrame = c.search("s", gauss(rng).toArray, k = 5, nprobe = 2)

    val tasks = mutable.Map.empty[Int, Int]
    val stageJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        tasks(e.jobId) = 0
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stageJob.get(e.stageId).foreach(j => tasks(j) += 1)
      }
    }
    /** (jobs, tasks) of one search: planned, then run. */
    def measured(): (Int, Int) = {
      GraftShim.drainListenerBus(spark)
      listener.synchronized(tasks.clear())
      val df = query()
      assert(LayoutScans.of(df, layout) == Seq("cells"),
        s"a loaded search must read the loaded layout only:\n${df.queryExecution.executedPlan}")
      df.collect()
      GraftShim.drainListenerBus(spark)
      listener.synchronized((tasks.size, tasks.values.sum))
    }
    commit(0)
    query().collect()
    spark.sparkContext.addSparkListener(listener)
    try (1 to 3).foreach { i =>
      commit(i)
      val first = measured()
      val steady = measured()
      assert(first._1 <= steady._1 && first._2 <= steady._2,
        s"commit $i: first search after it ran $first (jobs, tasks), a steady one $steady")
    } finally spark.sparkContext.removeSparkListener(listener)

    // twenty searches spread over three more commits compile nothing after
    // the first (the commits' own compiles are not the searches')
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    query().collect()
    var searchCompiles = 0L
    (1 to 20).foreach { i =>
      if (i % 6 == 0) commit(100 + i) // before searches 6, 12 and 18
      val before = compiles
      query().collect()
      searchCompiles += compiles - before
    }
    assert(searchCompiles == 0, s"$searchCompiles compiles over 20 searches and 3 commits")
    assert(deltaState(c, "s").size > 1, "the commits must have appended, not folded")
  }

  test("a loaded searchBatch reads no parquet of the layout and equals the " +
       "per-query search, after 0 and 2 commits") {
    import spark.implicits._
    val c = newClient()
    val rng = new scala.util.Random(3)
    val its = Seq("IVF_FLAT", "IVF_SQ8", "IVF_PQ")
    its.foreach { it =>
      c.createCollection(it, dim = 8, indexType = it, nlist = NList, buckets = 4)
      c.upsert(it, (0 until 120).map(i =>
        (f"k$i%04d", Seq.fill(8)(rng.nextGaussian().toFloat), Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
      c.buildIndex(it, nlist = NList)
      c.loadCollection(it)
    }
    val qs = (0 until 4).map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian().toFloat)))
    def check(stage: String): Unit = its.foreach { it =>
      val batch = c.searchBatch(it, qs.toDF("qid", "qvec"), k = 5, nprobe = 2)
      assert(!LayoutScans.of(batch, c.describe(it).dataPath + "-ivf").contains("parquet"),
        s"$it $stage: a loaded batch read the layout from parquet:\n" +
          batch.queryExecution.executedPlan)
      val got = batch.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val single = qs.flatMap { case (qid, v) =>
        c.search(it, v.toArray, k = 5, nprobe = 2).collect()
          .map(r => (qid, r.getString(0), r.getDouble(1)))
      }
      assert(got.toSeq == single, s"$it $stage: batch rows must equal per-query search")
    }
    check("after load")
    (1 to 2).foreach { i =>
      its.foreach { it =>
        c.upsert(it, Seq((f"n$i", Seq.fill(8)(rng.nextGaussian().toFloat), Map.empty[String, String]),
          (f"k000$i", Seq.fill(8)(rng.nextGaussian().toFloat), Map.empty[String, String]))
          .toDF("key", "vec", "meta"))
      }
    }
    check("after 2 commits")
  }

  test("compact folds every delta: answers unchanged, the on-disk cells hold " +
       "exactly the live rows with the snapshot's ingest_ts") {
    val rng = new scala.util.Random(99)
    val c = newClient()
    create(c, "cp")
    val model = mutable.LinkedHashMap.from((0 until 60).map(i => f"k$i%04d" -> live(rng)))
    put(c, "cp", model.toSeq)
    c.buildIndex("cp", nlist = NList)
    fields.foreach(f => c.buildIndex("cp", nlist = NList, field = f.name))
    val moved = Seq("k0003" -> live(rng), "n0001" -> live(rng))
    put(c, "cp", moved)
    c.deleteByKeys("cp", Seq("k0007"))
    model ++= moved
    model -= "k0007"
    val q = live(rng)
    indexes.foreach(checkIndex(c, "cp", _, model, q, "before compact"))
    // indexStats counts the served rows: base minus superseded plus delta
    def served: Long = c.indexStats("cp").collect().map(_.getAs[Long]("n_rows")).sum
    assert(deltaState(c, "cp").size > 1 && served == model.size, "indexStats before compact")
    val folded = c.compact("cp").filter(_._2 == "ivf").map(_._3).toSet
    assert(folded == Set("delta folded") ++ fields.map(f => s"${f.name} delta folded"),
      s"one fold per index: $folded")
    assert(c.compact("cp").forall(_._2 != "ivf"), "a second compact has nothing to fold")
    indexes.foreach(checkIndex(c, "cp", _, model, q, "after compact"))
    val dp = c.describe("cp").dataPath
    assert(deltaState(c, "cp").size == 1, "the delta is empty after compact")
    assert(served == model.size, "indexStats after compact")
    c.registerSqlViews()
    val snapshot = spark.table("cp").select(col("key"), col("ingest_ts").as("snap_ts"))
    for (dir <- Seq(s"$dp-ivf") ++ fields.map(f => s"$dp-fields/${f.name}/ivf")) {
      val cells = spark.read.parquet(s"$dir/cells")
      assert(cells.select("key").collect().map(_.getString(0)).toSet == model.keySet,
        s"$dir: the folded cells hold exactly the live keys")
      assert(cells.count() == model.size, s"$dir: one row per live key")
      assert(cells.join(snapshot, Seq("key")).filter(col("ingest_ts") =!= col("snap_ts"))
        .count() == 0, s"$dir: cell ingest_ts must equal the snapshot's")
    }
  }
}
