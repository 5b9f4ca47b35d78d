package graft

import scala.collection.mutable

import org.apache.spark.NarrowDependency
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftClient
import graft.streaming.BucketedKeyedCollection

/** Where a search plan reads a collection's index layouts (the
  * `<dataPath>-ivf` tree) from. */
object LayoutScans {
  private def canon(p: String) =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  private def walk(plan: SparkPlan)(f: PartialFunction[SparkPlan, Seq[String]]): Seq[String] =
    plan match {
      case p if f.isDefinedAt(p) => f(p)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case other => (other.children ++ other.subqueries).flatMap(walk(_)(f))
    }

  private def persistedUnder(r: RDD[_], prefix: String): Boolean =
    (r.getStorageLevel != StorageLevel.NONE &&
      Option(r.name).exists(_.startsWith(prefix))) ||
      r.dependencies.exists(d => persistedUnder(d.rdd, prefix))

  /** One entry per read of a layout under `prefix` in `df`'s physical
    * plan: "parquet" for a file scan of the layout, "cells" for a scan
    * of a persisted loaded cell layout, "cached" for a cached relation
    * over the layout. */
  def of(df: DataFrame, prefix: String): Seq[String] = {
    val root = canon(prefix)
    def reads(plan: SparkPlan): Seq[String] = walk(plan) {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(p => canon(p.toUri.getPath).startsWith(root)))
          Seq("parquet") else Nil
      case m: InMemoryTableScanExec =>
        if (reads(m.relation.cachedPlan).nonEmpty) Seq("cached") else Nil
      case r: RDDScanExec => if (persistedUnder(r.rdd, root)) Seq("cells") else Nil
    }
    reads(df.queryExecution.executedPlan)
  }

  /** The loaded-layout partitions (cell slots) each loaded cell scan in
    * `df` selects. */
  def probedSlots(df: DataFrame): Seq[Set[Int]] = {
    val found = mutable.Buffer.empty[Set[Int]]
    walk(df.queryExecution.executedPlan) {
      case r: RDDScanExec =>
        found += (r.rdd.dependencies match {
          case Seq(d: NarrowDependency[_]) if r.rdd.getStorageLevel == StorageLevel.NONE =>
            (0 until r.rdd.getNumPartitions).flatMap(d.getParents).toSet
          case _ => (0 until r.rdd.getNumPartitions).toSet
        })
        Nil
    }
    found.toSeq
  }
}

/** Loaded IVF-family search (IVF_FLAT, IVF_SQ8, IVF_PQ, BIN_IVF_FLAT)
  * serves from one cached cell-partitioned layout per index version:
  * it survives maintained commits, a probe selects partitions (no
  * per-query generated code, one task per probed cell), and release
  * returns searches to parquet. */
class LoadedCellLayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("loaded-cell-layout-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newClient(): GraftClient = new GraftClient(spark,
    java.nio.file.Files.createTempDirectory("graft-cells").toString)

  private def layoutOf(c: GraftClient, name: String) = c.describe(name).dataPath + "-ivf"

  private def floatVec(rng: scala.util.Random, dim: Int, cluster: Int): Seq[Float] =
    (0 until dim).map(d => (if (d == cluster % dim) 10f * (1 + cluster / dim) else 0f) +
      rng.nextGaussian().toFloat)

  private def l2(v: Seq[Float], q: Array[Float]): Double =
    v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum

  private val bases = Array(
    Array(0x0000000000000000L, 0x0000000000000000L),
    Array(0xFFFFFFFFFFFFFFFFL, 0x0000000000000000L),
    Array(0x0000000000000000L, 0xFFFFFFFFFFFFFFFFL),
    Array(0xFFFFFFFFFFFFFFFFL, 0xFFFFFFFFFFFFFFFFL))

  private def code(i: Int): Array[Long] = {
    val c = bases(i % 4).clone()
    (0 until 3).foreach { j =>
      val bit = (i * 31 + j * 17 + i / 4) % 128
      c(bit / 64) ^= (1L << (bit % 64))
    }
    c
  }

  private def hamming(a: Seq[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  test("a loaded IVF_FLAT / IVF_SQ8 / IVF_PQ / BIN_IVF_FLAT collection serves from its " +
       "loaded layout after 1 and 3 maintained commits, and from parquet after release") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (indexType <- Seq("IVF_FLAT", "IVF_SQ8", "IVF_PQ", "BIN_IVF_FLAT")) {
      val client = newClient()
      val binary = indexType == "BIN_IVF_FLAT"
      val dim = if (binary) 128 else 8
      val nlist = 4
      client.createCollection("c", dim = dim, metric = if (binary) "hamming" else "l2",
        indexType = indexType, nlist = nlist, buckets = 4,
        vectorType = if (binary) "BINARY_VECTOR" else "FLOAT_VECTOR")
      val fl = mutable.Map.empty[String, Seq[Float]]
      val bl = mutable.Map.empty[String, Seq[Long]]
      def put(ids: Seq[Int]): Unit =
        if (binary) {
          val rows = ids.map(i => (f"k$i%04d", code(i).toSeq, Map.empty[String, String]))
          rows.foreach { case (k, v, _) => bl(k) = v }
          client.upsert("c", rows.toDF("key", "vec", "meta"))
        } else {
          val rows = ids.map(i =>
            (f"k$i%04d", floatVec(rng, dim, i % nlist), Map.empty[String, String]))
          rows.foreach { case (k, v, _) => fl(k) = v }
          client.upsert("c", rows.toDF("key", "vec", "meta"))
        }
      put(0 until 40)
      client.buildIndex("c", nlist = nlist)
      client.loadCollection("c")

      def check(stage: String): Unit = (0 until 3).foreach { qi =>
        val (df, expect) =
          if (binary) {
            val q = code(qi * 7 + 1)
            (client.searchBinary("c", q, k = 5, nprobe = nlist),
              bl.toSeq.map { case (k, v) => (hamming(v, q).toDouble, k) }.sorted.take(5).map(_._2))
          } else {
            val q = floatVec(rng, dim, qi).toArray
            (client.search("c", q, k = 5, nprobe = nlist, refine = 20),
              fl.toSeq.map { case (k, v) => (l2(v, q), k) }.sorted.take(5).map(_._2))
          }
        val sources = LayoutScans.of(df, layoutOf(client, "c"))
        assert(!sources.contains("parquet"),
          s"$indexType $stage: loaded search read the layout from parquet:\n" +
            df.queryExecution.executedPlan)
        assert(sources.nonEmpty, s"$indexType $stage: no layout read in the plan")
        assert(df.collect().map(_.getString(0)).toSeq == expect,
          s"$indexType $stage: answers must equal brute force")
      }
      check("after load")
      (1 to 3).foreach { commit =>
        put(Seq(1000 + commit, commit)) // one new key, one overwrite
        if (commit == 2) {
          client.deleteByKeys("c", Seq("k0005"))
          fl.remove("k0005"); bl.remove("k0005")
        }
        if (commit == 1 || commit == 3) check(s"after commit $commit")
      }
      def probe() =
        if (binary) client.searchBinary("c", code(1), k = 5, nprobe = nlist)
        else client.search("c", Array.fill(dim)(0f), k = 5, nprobe = nlist, refine = 20)
      assert(LayoutScans.of(probe(), layoutOf(client, "c")) == Seq("cells"),
        s"$indexType: the loaded layout is the cell-partitioned one")
      client.releaseCollection("c")
      assert(LayoutScans.of(probe(), layoutOf(client, "c")) == Seq("parquet"),
        s"$indexType: release must return searches to parquet")
    }
  }

  test("one query's generated code serves every query, loaded and from parquet; " +
       "a loaded top-k job runs one task per probed cell") {
    import spark.implicits._
    val client = newClient()
    val rng = new scala.util.Random(5)
    val nlist = 8
    val rows = (0 until 240).map(i =>
      (f"k$i%04d", floatVec(rng, 4, i % nlist), Map("tag" -> s"t${i % 16}")))
    for (t <- Seq("IVF_FLAT", "IVF_SQ8")) {
      client.createCollection(t, dim = 4, indexType = t, nlist = nlist, buckets = 4)
      client.upsert(t, rows.toDF("key", "vec", "meta"))
      client.buildIndex(t, nlist = nlist)
    }
    client.createCollection("pq", dim = 8, indexType = "IVF_PQ", nlist = nlist, buckets = 4)
    client.upsert("pq", (0 until 240).map(i =>
      (f"k$i%04d", floatVec(rng, 8, i % nlist), Map("tag" -> s"t${i % 16}")))
      .toDF("key", "vec", "meta"))
    client.buildIndex("pq", nlist = nlist)
    client.createCollection("bin", dim = 128, metric = "hamming", indexType = "BIN_IVF_FLAT",
      nlist = 4, buckets = 4, vectorType = "BINARY_VECTOR")
    client.upsert("bin", (0 until 200).map(i =>
      (f"k$i%04d", code(i).toSeq, Map("tag" -> s"t${i % 16}"))).toDF("key", "vec", "meta"))
    client.buildIndex("bin", nlist = 4)

    // between clusters i % 8 and (3i + 1) % 8: the nprobe = 2 probe set
    // moves with the query
    def q(i: Int, dim: Int): Array[Float] = {
      val r = new scala.util.Random(100 + i)
      floatVec(r, dim, i % nlist).zip(floatVec(r, dim, (3 * i + 1) % nlist))
        .map { case (a, b) => 0.55f * a + 0.45f * b }.toArray
    }
    def tagFilter(i: Int): Option[Column] = Some(col("meta")("tag") =!= s"t${i % 16}")
    val surfaces: Seq[(String, Int => DataFrame)] = Seq(
      "top-k" -> (i => client.search("IVF_FLAT", q(i, 4), k = 5, nprobe = 2, filter = tagFilter(i))),
      "range" -> (i => client.searchRange("IVF_FLAT", q(i, 4), radius = 40.0, filter = tagFilter(i))),
      "SQ8" -> (i => client.search("IVF_SQ8", q(i, 4), k = 5, nprobe = 2, filter = tagFilter(i))),
      "PQ" -> (i => client.search("pq", q(i, 8), k = 5, nprobe = 2, filter = tagFilter(i))),
      "binary" -> (i => client.searchBinary("bin", code(i * 5 + 1), k = 5, nprobe = 2,
        filter = tagFilter(i))))
    def iteratorPage(i: Int): Seq[String] =
      client.searchIterator("IVF_FLAT", q(i, 4), batchSize = 5, nprobe = 2,
        filter = tagFilter(i)).next().map(_.getString(0))
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def codeIsStable(path: String): Unit = {
      surfaces.foreach { case (what, run) =>
        run(0).collect()
        val before = compiles
        (1 to 20).foreach(i => run(i).collect())
        assert(compiles == before,
          s"$path $what: ${compiles - before} compiles over 20 distinct searches")
      }
      iteratorPage(0)
      val before = compiles
      (1 to 20).foreach(iteratorPage)
      assert(compiles == before,
        s"$path iterator page: ${compiles - before} compiles over 20 distinct searches")
    }

    Seq("IVF_FLAT", "IVF_SQ8", "pq", "bin").foreach(client.loadCollection(_))
    codeIsStable("loaded")

    // every loaded top-k job runs exactly nprobe tasks (all 8 cells hold rows)
    val taskCount = mutable.Map.empty[Int, Int]
    val stageJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        taskCount(e.jobId) = 0
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stageJob.get(e.stageId).foreach(j => taskCount(j) += 1)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val probeSets = mutable.Set.empty[Set[Int]]
    try (1 to 20).foreach { i =>
      val df = client.search("IVF_FLAT", q(i, 4), k = 5, nprobe = 2, filter = tagFilter(i))
      val slots = LayoutScans.probedSlots(df)
      assert(slots.size == 1 && slots.head.size == 2, s"probe selects 2 cells: $slots")
      probeSets += slots.head
      GraftShim.drainListenerBus(spark)
      listener.synchronized(taskCount.clear())
      df.collect()
      GraftShim.drainListenerBus(spark)
      val jobs = listener.synchronized(taskCount.toMap)
      assert(jobs.nonEmpty && jobs.values.forall(_ == 2),
        s"search $i: tasks per job must equal nprobe = 2, got $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(probeSets.size >= 5, s"the queries must probe distinct cells: $probeSets")

    Seq("IVF_FLAT", "IVF_SQ8", "pq", "bin").foreach(client.releaseCollection)
    codeIsStable("parquet")
  }

  test("indexFrame keeps the kept frame cached across versions and a lost build race") {
    val dir = java.nio.file.Files.createTempDirectory("graft-frame").resolve("graphs").toString
    spark.range(20).write.parquet(dir)
    val read = () => spark.read.parquet(dir)
    def frame(v: Long, mk: () => DataFrame = read) =
      BucketedKeyedCollection.indexFrame(dir, v, mk, () => true).get
    try {
      val v1 = frame(1)
      assert(v1.storageLevel != StorageLevel.NONE)
      val v2 = frame(2)
      assert(v2.storageLevel != StorageLevel.NONE,
        "persisting version 2 over version 1 of the same path must leave it cached")
      var winner: DataFrame = null
      val loser = frame(3, () => { winner = frame(3); read() })
      assert(loser eq winner, "a lost build race returns the winner")
      assert(winner.storageLevel != StorageLevel.NONE,
        "discarding the losing build must not uncache the winner")
      assert(frame(3) eq winner)
      assert(winner.count() == 20)
    } finally BucketedKeyedCollection.evictUnder(dir)
    assert(read().storageLevel == StorageLevel.NONE)
  }
}
