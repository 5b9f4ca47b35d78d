package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient

/** Collection TTL — Milvus `collection.ttl.seconds`
  * (`milvus-app/pythonvectordbceph_milvus.py:92-99` is the create path
  * the property rides). Expiry is a READ-TIME mask off `ingest_ts`
  * (Milvus filters expired entities at read time from insert
  * timestamps); the bytes linger until compact() purges them. Pins:
  *
  *  - the gate binds at EVERY read arm — store scans, IVF/SQ8/PQ/HNSW/
  *    BIN_IVF cell layouts, sparse postings, text postings, both
  *    iterators, point reads, count, SQL views, batch sweeps — with an
  *    EXPIRED decoy that would rank #1 in each arm (absence is
  *    load-bearing, not vacuous);
  *  - predicate deletes cannot see expired rows; compact() physically
  *    purges them (and reports the sweep);
  *  - alter_collection_properties semantics: raising/clearing the TTL
  *    resurrects not-yet-compacted rows, lowering hides more;
  *  - upsertAt (backfill/replay) stamps an explicit ingest_ts without
  *    touching LWW ordering (seq still rules).
  */
class TtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("ttl-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dim = 8
  private def vec(i: Int): Seq[Float] =
    Seq.tabulate(dim)(j => ((i * 31 + j * 7) % 101) / 101.0f)

  /** The query vector: vec(999). The expired decoy stores EXACTLY this
    * vector (distance 0 — rank #1 if any arm leaks it). */
  private def qv: Array[Float] = vec(999).toArray

  private def expiredTs =
    new java.sql.Timestamp(System.currentTimeMillis() - 7200L * 1000L)

  private def mkClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("ttl").toString
    new GraftClient(spark, root)
  }

  /** Live corpus + one EXPIRED exact-match decoy (key "!dk" sorts before
    * every live key, so a leak also wins the (dist, key) tie-break). */
  private def seed(c: GraftClient, name: String, n: Int = 40): Unit = {
    import spark.implicits._
    c.upsert(name, (0 until n).map(i =>
        (f"k$i%04d", vec(i), Map("grp" -> s"g${i % 3}", "i" -> i.toString)))
      .toDF("key", "vec", "meta"))
    c.upsertAt(name, Seq(("!dk", vec(999), Map("grp" -> "g0")))
      .toDF("key", "vec", "meta"), expiredTs)
  }

  private def topKeys(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("vector_key").collect().map(_.getString(0)).toSeq

  test("create/describe/alter round-trip; catalog persistence; refusals") {
    val c = mkClient()
    c.createCollection("t", dim = dim, buckets = 4, ttlSeconds = 3600L)
    assert(c.describe("t").ttlSeconds == 3600L)
    // persisted: a FRESH client re-reads it from the catalog JSON
    val c2 = new GraftClient(spark, c.describe("t").dataPath
      .stripSuffix("/data/t"))
    assert(c2.describe("t").ttlSeconds == 3600L)
    assert(c.alterCollectionTtl("t", 60L))
    assert(c.describe("t").ttlSeconds == 60L)
    intercept[IllegalArgumentException] { c.alterCollectionTtl("t", -1L) }
    intercept[IllegalArgumentException] {
      c.createCollection("t2", dim = dim, ttlSeconds = -5L)
    }
  }

  test("store arms: FLAT search, count, get, fetch, queryWhere, " +
       "SQL view, deleteWhere blindness, re-upsert resurrection") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("st", dim = dim, buckets = 4, ttlSeconds = 3600L)
    seed(c, "st")
    // the decoy IS in the store (physical), invisible to reads (mask)
    assert(c.readVersion("st",
      c.versions("st").max).filter(col("key") === "!dk").count() == 1)
    assert(c.count("st") == 40)
    val hits = topKeys(c.search("st", qv, k = 3))
    assert(!hits.contains("!dk") && hits.size == 3)
    assert(c.get("st", "!dk").isEmpty)
    assert(c.get("st", "k0001").isDefined)
    assert(c.fetch("st", Seq("!dk", "k0001")).count() == 1)
    assert(c.queryWhere("st", col("key") === "!dk").count() == 0)
    assert(c.queryMilvus("st", "grp == \"g0\"",
      outputFields = Seq("count(*)")).head.getLong(0) == 14) // 0,3,..,39
    c.registerSqlViews()
    assert(spark.table("st").filter(col("key") === "!dk").count() == 0)
    // predicate deletes can't see expired rows — nothing committed
    val v0 = c.versions("st").max
    c.deleteWhere("st", col("key") === "!dk")
    assert(c.versions("st").max == v0,
      "deleteWhere matched an expired row — it must be invisible")
    // re-upsert refreshes ingest_ts: the key lives again (Milvus TTL
    // counts from the LAST insert of the entity)
    c.upsert("st", Seq(("!dk", vec(999), Map("grp" -> "g0")))
      .toDF("key", "vec", "meta"))
    assert(topKeys(c.search("st", qv, k = 1)) == Seq("!dk"))
  }

  test("alter resurrection: clearing/raising TTL un-hides uncompacted " +
       "rows; lowering hides live ones") {
    val c = mkClient()
    c.createCollection("al", dim = dim, buckets = 4, ttlSeconds = 3600L)
    seed(c, "al")
    val seeded = System.currentTimeMillis()
    assert(!topKeys(c.search("al", qv, k = 1)).contains("!dk"))
    c.alterCollectionTtl("al", 0L) // disable: the mask lifts entirely
    assert(topKeys(c.search("al", qv, k = 1)) == Seq("!dk"))
    assert(c.count("al") == 41)
    c.alterCollectionTtl("al", 1L) // 1s: everything seeded is expired
    // once it is older than the 1 s TTL — the calls above can take less
    Thread.sleep(math.max(0L, seeded + 1100L - System.currentTimeMillis()))
    assert(c.count("al") == 0)
    assert(c.search("al", qv, k = 5).count() == 0)
  }

  test("every dense index family arm skips an expired row INSIDE the " +
       "layout: IVF_FLAT, IVF_SQ8, IVF_PQ, HNSW") {
    for (it <- Seq("IVF_FLAT", "IVF_SQ8", "IVF_PQ", "HNSW")) {
      val c = mkClient()
      val name = s"ix_${it.toLowerCase}"
      c.createCollection(name, dim = dim, indexType = it, buckets = 4,
        ttlSeconds = 3600L)
      seed(c, name)
      // build AFTER the decoy upsert: the expired row sits in the cells
      // layout / graph, so the arm's own scan must mask it
      c.buildIndex(name, nlist = 2)
      assert(c.listIndexes(name).collect().exists(_.getBoolean(2)),
        s"$it index must be FRESH — the indexed arm is what's under test")
      val hits = topKeys(c.search(name, qv, k = 3, nprobe = 2))
      assert(!hits.contains("!dk"), s"$it cells/graph leaked an expired row")
      assert(hits.size == 3)
      // maintenance path: a SECOND expired decoy lands via incremental
      // refresh (commit AFTER build) — still masked
      import spark.implicits._
      c.upsertAt(name, Seq(("!d2", vec(999), Map("grp" -> "g1")))
        .toDF("key", "vec", "meta"), expiredTs)
      assert(c.listIndexes(name).collect().exists(_.getBoolean(2)))
      val hits2 = topKeys(c.search(name, qv, k = 3, nprobe = 2))
      assert(!hits2.exists(_.startsWith("!")),
        s"$it incremental maintenance leaked an expired row")
      // range + grouped + batch ride the same layouts
      assert(!topKeys(c.searchRange(name, qv, radius = 1e9))
        .exists(_.startsWith("!")), s"$it range leaked")
      val grouped = c.searchGrouped(name, qv, k = 3, groupByKey = "grp")
        .select("vector_key").collect().map(_.getString(0))
      assert(!grouped.exists(_.startsWith("!")), s"$it grouped leaked")
      val batch = c.searchBatch(name,
        Seq((1L, vec(999))).toDF("qid", "qvec"), k = 3)
        .select("vector_key").collect().map(_.getString(0))
      assert(!batch.exists(_.startsWith("!")), s"$it batch leaked")
      // iterator: full drain returns exactly the 40 live rows
      val drained = c.searchIterator(name, qv, batchSize = 16)
        .flatMap(_.map(_.getString(0))).toSeq
      assert(drained.size == 40 && !drained.exists(_.startsWith("!")),
        s"$it iterator drained ${drained.size} rows (expired leak?)")
    }
  }

  test("queryIterator drains live rows only") {
    val c = mkClient()
    c.createCollection("qi", dim = dim, buckets = 4, ttlSeconds = 3600L)
    seed(c, "qi")
    val drained = c.queryIterator("qi", lit(true), batchSize = 16)
      .flatMap(_.map(_.getString(0))).toSeq
    assert(drained.size == 40 && !drained.contains("!dk"))
  }

  test("binary family: BIN_IVF cells, range, grouped, batch, iterator") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("bn", dim = 64, metric = "hamming",
      indexType = "BIN_IVF_FLAT", vectorType = "BINARY_VECTOR",
      buckets = 4, ttlSeconds = 3600L)
    def code(i: Int): Seq[Long] =
      Seq(java.lang.Long.rotateLeft(0x9E3779B97F4A7C15L * (i + 1), i % 64))
    val q = code(999).toArray
    c.upsert("bn", (0 until 30).map(i =>
        (f"k$i%04d", code(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "meta"))
    // expired decoy = the query's EXACT code, Hamming 0
    c.upsertAt("bn", Seq(("!dk", code(999), Map("grp" -> "g0")))
      .toDF("key", "vec", "meta"), expiredTs)
    c.buildIndex("bn", nlist = 2)
    val hits = topKeys(c.searchBinary("bn", q, k = 3, nprobe = 2))
    assert(!hits.contains("!dk"), "BIN_IVF cells leaked an expired row")
    assert(!topKeys(c.searchBinaryRange("bn", q, radius = 65.0))
      .contains("!dk"))
    assert(!c.searchBinaryGrouped("bn", q, k = 3, groupByKey = "grp")
      .select("vector_key").collect().map(_.getString(0)).contains("!dk"))
    assert(!c.searchBinaryBatch("bn",
        Seq((1L, code(999))).toDF("qid", "qcodes"), k = 3)
      .select("vector_key").collect().map(_.getString(0)).contains("!dk"))
    val drained = c.searchBinaryIterator("bn", q, batchSize = 16)
      .flatMap(_.map(_.getString(0))).toSeq
    assert(drained.size == 30 && !drained.contains("!dk"))
  }

  test("sparse family: postings index arm, exact arm, range, grouped, " +
       "batch, iterator, getSparse") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("sp", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX",
      vectorType = "SPARSE_FLOAT_VECTOR", buckets = 4, ttlSeconds = 3600L)
    def sv(i: Int): Map[Long, Double] =
      Seq.tabulate(3)(t => ((i * 7 + t * 13) % 11).toLong ->
        (1.0 + (i + t) % 5)).toMap
    val q = Seq(1L -> 1.0, 2L -> 1.0, 3L -> 1.0)
    c.upsert("sp", (0 until 30).map(i =>
        (f"k$i%04d", sv(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "meta"))
    // expired decoy: a huge weight on a query dim — rank #1 if leaked
    c.upsertAt("sp", Seq(("!dk", Map(1L -> 1000.0), Map("grp" -> "g0")))
      .toDF("key", "vec", "meta"), expiredTs)
    c.buildIndex("sp", nlist = 4)
    assert(c.listIndexes("sp").collect().exists(_.getBoolean(2)),
      "sparse postings must be FRESH — the index arm is under test")
    assert(!topKeys(c.searchSparse("sp", q, k = 3)).contains("!dk"),
      "sparse postings arm leaked an expired row")
    assert(!topKeys(c.searchSparseRange("sp", q, radius = 0.5))
      .contains("!dk"))
    assert(!c.searchSparseGrouped("sp", q, k = 3, groupByKey = "grp")
      .select("vector_key").collect().map(_.getString(0)).contains("!dk"))
    assert(!c.searchSparseBatch("sp",
        Seq((1L, Seq(1L, 2L, 3L), Seq(1.0, 1.0, 1.0)))
          .toDF("qid", "dims", "ws"), k = 3)
      .select("vector_key").collect().map(_.getString(0)).contains("!dk"))
    val drained = c.searchSparseIterator("sp", q, batchSize = 16)
      .flatMap(_.map(_.getString(0))).toSeq
    assert(!drained.contains("!dk"))
    assert(c.getSparse("sp", "!dk").isEmpty)
    assert(c.getSparse("sp", "k0001").isDefined)
  }

  test("text: fullTextSearch and textMatchKeys mask expired docs; " +
       "stats stay whole-corpus until compact") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("tx", dim = dim, buckets = 4, ttlSeconds = 3600L)
    c.upsert("tx", (0 until 10).map(i =>
        (f"k$i%04d", vec(i), Map("grp" -> "g0")))
      .toDF("key", "vec", "meta"))
    c.upsertAt("tx", Seq(("!dk", vec(999), Map("grp" -> "g0")))
      .toDF("key", "vec", "meta"), expiredTs)
    val docs = ((0 until 10).map(i =>
        (f"k$i%04d", s"common words row $i")) :+
        ("!dk" -> "common magic magic magic")).map(t => (t._1, t._2))
      .toDF("key", "text")
    c.buildTextIndex("tx", docs)
    // "magic" appears ONLY in the expired doc — it must not rank
    assert(c.fullTextSearch("tx", "magic", k = 5).count() == 0,
      "BM25 ranked an expired doc")
    assert(!topKeys(c.fullTextSearch("tx", "common", k = 20))
      .contains("!dk"))
    assert(c.textMatchKeys("tx", Seq("magic")).count() == 0)
    assert(c.searchLexical("tx", docs, Seq("magic"), k = 5).count() == 0)
  }

  test("compact physically purges expired rows and reports the sweep; " +
       "raising TTL after compact cannot resurrect them") {
    val c = mkClient()
    c.createCollection("gc", dim = dim, indexType = "IVF_FLAT",
      buckets = 4, ttlSeconds = 3600L)
    seed(c, "gc")
    c.buildIndex("gc", nlist = 2)
    val report = c.compact("gc")
    assert(report.exists { case (_, kind, what) =>
      kind == "ttl" && what.startsWith("1 expired") },
      s"compact must report the TTL sweep (got $report)")
    // PHYSICALLY gone: the ungated current snapshot no longer holds it
    assert(c.readVersion("gc",
      c.versions("gc").max).filter(col("key") === "!dk").count() == 0)
    // the index refresh rode the tombstone commit — still fresh
    assert(c.listIndexes("gc").collect().exists(_.getBoolean(2)))
    c.alterCollectionTtl("gc", 0L)
    assert(!topKeys(c.search("gc", qv, k = 1)).contains("!dk"),
      "a compacted row resurrected when the TTL mask lifted")
    // idempotent: a second compact sweeps nothing
    assert(!c.compact("gc").exists(_._2 == "ttl"))
  }

  test("hybrid arms inherit the gate (dense + text)") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("hy", dim = dim, buckets = 4, ttlSeconds = 3600L)
    seed(c, "hy", n = 10)
    val docs = ((0 until 10).map(i => (f"k$i%04d", s"alpha row $i")) :+
        ("!dk" -> "alpha alpha alpha")).map(t => (t._1, t._2))
      .toDF("key", "text")
    c.buildTextIndex("hy", docs)
    val fused = c.hybridSearchText("hy", "alpha", qv, k = 5)
    assert(!fused.select("key").collect().map(_.getString(0))
      .contains("!dk"), "hybrid fused an expired doc from an arm")
  }

  test("upsertAt: LWW still rides seq, not the backdated stamp; " +
       "partition-key collections refuse") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("bf", dim = dim, buckets = 4) // NO ttl
    c.upsert("bf", Seq(("k1", vec(1), Map("v" -> "new")))
      .toDF("key", "vec", "meta"))
    // a LATER backdated write still wins per key (seq orders commits)
    c.upsertAt("bf", Seq(("k1", vec(2), Map("v" -> "backfill")))
      .toDF("key", "vec", "meta"), expiredTs)
    assert(c.get("bf", "k1").get._2("v") == "backfill")
    // and without a TTL the backdated row is simply visible
    assert(c.count("bf") == 1)
    c.createCollection("pk", dim = dim, partitionKey = "grp",
      numPartitions = 2)
    intercept[IllegalArgumentException] {
      c.upsertAt("pk", Seq(("k1", vec(1), Map("grp" -> "a")))
        .toDF("key", "vec", "meta"), expiredTs)
    }
  }
}
