package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.{AnnRequest, GraftClient}

/** The ranking tail the float, binary and sparse search families share:
  * offset paging, the keyset iterator scaffold and the fused hybrid
  * output. Every family's page at `offset = o` must be rows
  * `o until o + k` of its offset-0 top-(o+k) — also when a page boundary
  * lands inside a distance/score tie — and must plan without a window;
  * binary and sparse drains end on their first short page; the hybrid
  * surfaces' column lists stay pinned. */
class RankingTailSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("ranking-tail-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mkClient(): GraftClient = new GraftClient(spark,
    java.nio.file.Files.createTempDirectory("graft-ranking-tail").toString)

  private def key(i: Int): String = f"r$i%03d"

  // (offset, k) pairs; the fixtures below repeat every score 4-5 times,
  // so most of these boundaries split a tie run
  private val pages = Seq((0, 5), (1, 4), (3, 4), (5, 5), (7, 6), (11, 3))

  private def rowsOf(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** Asserts the page law for one surface, and that at least one tested
    * boundary really falls inside a tie. */
  private def checkPages(surface: String)(run: (Int, Int) => DataFrame): Unit = {
    var splitTie = false
    pages.foreach { case (o, k) =>
      val top = rowsOf(run(0, o + k))
      assert(top.size == o + k, s"$surface: fixture too small for ($o, $k)")
      if (o > 0 && top(o - 1)._2 == top(o)._2) splitTie = true
      assert(rowsOf(run(o, k)) == top.slice(o, o + k),
        s"$surface: page (offset $o, k $k) is not rows $o until ${o + k}")
    }
    assert(splitTie, s"$surface: no tested boundary landed inside a tie")
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertNoWindowPage(surface: String, df: DataFrame): Unit = {
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"$surface: an offset page must plan as one TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window"), s"$surface: an offset page planned a window:\n$p")
  }

  // ---- fixtures: 40 rows, each score shared by several keys

  private def floatClient(): GraftClient = {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("fl", dim = 2, buckets = 4)
    c.upsert("fl", (0 until 40).map(i =>
        (key(i), Seq((i % 9).toFloat, 0f), Map("g" -> s"g${i % 3}")))
      .toDF("key", "vec", "meta"))
    c
  }

  // one 64-bit word per code; Hamming distance to the all-zero query = i % 8
  private def code(i: Int): Array[Long] = Array((1L << (i % 8)) - 1)

  private def binaryClient(): GraftClient = {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("bn", dim = 64, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 2, buckets = 4,
      vectorType = "BINARY_VECTOR")
    c.upsert("bn", (0 until 42).map(i =>
        (key(i), code(i).toSeq, Map("g" -> s"g${i % 3}")))
      .toDF("key", "vec", "meta"))
    c
  }

  private val sparseQuery: Seq[(Long, Double)] = Seq(0L -> 1.0, 1L -> 2.0)

  private def sparseClient(): GraftClient = {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("sp", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    c.upsert("sp", (0 until 38).map(i =>
        (key(i), Map((i % 2).toLong -> (1.0 + i % 4), (10L + i) -> 1.0),
          Map("g" -> s"g${i % 3}")))
      .toDF("key", "vec", "meta"))
    c
  }

  test("search: offset pages are slices of the offset-0 ranking, no window") {
    val c = floatClient()
    val q = Array(0f, 0f)
    checkPages("search")((o, k) => c.search("fl", q, k = k, offset = o))
    assertNoWindowPage("search", c.search("fl", q, k = 4, offset = 3))
    // the benchmarked shape stays orderBy.limit(k) at offset 0
    val p0 = planOf(c.search("fl", q, k = 4))
    assert(p0.contains("TakeOrderedAndProject") && !p0.contains("Window"), p0)
  }

  test("searchBinary: offset pages (exact scan and fresh index), no window") {
    val c = binaryClient()
    val q = Array(0L)
    checkPages("searchBinary/exact")((o, k) =>
      c.searchBinary("bn", q, k = k, offset = o))
    c.buildIndex("bn", nlist = 2)
    checkPages("searchBinary/index")((o, k) =>
      c.searchBinary("bn", q, k = k, offset = o, nprobe = 2))
    assertNoWindowPage("searchBinary",
      c.searchBinary("bn", q, k = 4, offset = 3, nprobe = 2))
  }

  test("searchSparse: offset pages (exact scan and fresh index), no window") {
    val c = sparseClient()
    checkPages("searchSparse/exact")((o, k) =>
      c.searchSparse("sp", sparseQuery, k = k, offset = o))
    c.buildIndex("sp", nlist = 4)
    checkPages("searchSparse/index")((o, k) =>
      c.searchSparse("sp", sparseQuery, k = k, offset = o))
    assertNoWindowPage("searchSparse",
      c.searchSparse("sp", sparseQuery, k = 4, offset = 3))
  }

  test("hybridSearchRequests: offset pages slice the fused ranking") {
    val c = floatClient()
    // two dense arms over tied distances: fused rrf scores tie too
    val reqs = Seq(AnnRequest.Dense(Array(0f, 0f)), AnnRequest.Dense(Array(8f, 0f)))
    for (ranker <- Seq("rrf", "weighted")) {
      val fused = (o: Int, k: Int) =>
        c.hybridSearchRequests("fl", reqs, k = k, armK = 15, offset = o,
          ranker = ranker)
          .select(col("key"), col(if (ranker == "rrf") "rrf" else "wscore"))
      checkPages(s"hybridSearchRequests/$ranker")(fused)
    }
  }

  /** Spark jobs started while `body` runs — the listener bus is drained
    * before and after, so every start event is counted deterministically. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def drainEndsOnShortPage(surface: String, total: Int, batch: Int)(
      it: => Iterator[Seq[org.apache.spark.sql.Row]]): Unit = {
    assert(total % batch != 0, "the fixture's last page must be short")
    val iter = it
    val full = total / batch
    (0 until full).foreach(_ => assert(iter.next().size == batch))
    assert(iter.next().size == total % batch, s"$surface: last page size")
    val (more, jobs) = jobsDuring(iter.hasNext)
    assert(!more, s"$surface: the drain must end after its short page")
    assert(jobs == 0, s"$surface: ending the drain ran $jobs job(s) for an empty page")
  }

  test("binary and sparse drains end on the first short page, without an " +
       "empty-page job") {
    val b = binaryClient()
    drainEndsOnShortPage("searchBinaryIterator", 42, 8)(
      b.searchBinaryIterator("bn", Array(0L), batchSize = 8))
    b.buildIndex("bn", nlist = 2)
    drainEndsOnShortPage("searchBinaryIterator/index", 42, 8)(
      b.searchBinaryIterator("bn", Array(0L), batchSize = 8))
    val s = sparseClient()
    // every doc shares dim 0 or 1 with the query: all 38 are members
    drainEndsOnShortPage("searchSparseIterator", 38, 5)(
      s.searchSparseIterator("sp", sparseQuery, batchSize = 5))
  }

  test("hybrid surfaces keep their fused column lists") {
    import spark.implicits._
    val c = floatClient()
    val docs = (0 until 40).map(i => (key(i), if (i % 2 == 0) "red fox" else "blue dog"))
      .toDF("key", "text")
    val q = Array(0f, 0f)
    assert(c.hybridSearch("fl", docs, Seq("fox"), q, k = 5, useIndex = false)
      .columns.toSeq == Seq("key", "lex_rank", "vec_rank", "rrf"))
    assert(c.hybridSearch("fl", docs, Seq("fox"), q, k = 5, useIndex = false,
        fusion = "weighted").columns.toSeq ==
      Seq("key", "lex_norm", "vec_norm", "wscore"))
    val sdir = java.nio.file.Files.createTempDirectory("graft-rt-sp").toString
    graft.index.SparseIndex.build((0 until 40).map(i => (key(i), 1L, 1.0 + i % 4))
      .toDF("key", "dim", "w"), sdir, buckets = 4, idCol = "key")
    val rrf = c.hybridDenseSparse("fl", sdir, Seq(1L -> 1.0), q, k = 5)
    assert(rrf.columns.toSeq == Seq("key", "sp_rank", "vec_rank", "rrf"))
    assert(rrf.count() == 5)
    assert(c.hybridDenseSparse("fl", sdir, Seq(1L -> 1.0), q, k = 5,
        fusion = "weighted").columns.toSeq ==
      Seq("key", "sp_norm", "vec_norm", "wscore"))
  }
}
