package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.{AnnRequest, GraftClient}
import graft.index.VecField

/** Milvus 2.4's FULL multi-vector schema (VERDICT r15's #1/#4): named
  * extra fields of SPARSE_FLOAT_VECTOR and BINARY_VECTOR families beside
  * the dense primary — the standard dense+SPLADE hybrid row — plus
  * Milvus 2.6 `add_collection_field` (nullable schema evolution, no
  * rewrite). Pins: per-family create/describe/validation, the per-family
  * write boundary, field search == the family's brute force, the field
  * index lifecycle (build/auto-maintain/independent staleness), hybrid
  * arms that scope BEFORE ranking (the attached layout's documented
  * under-fill, retired by declaring the field), and the nullable-field
  * view contract (rows without the field are invisible to it). */
object MultiVectorFamiliesSpec {
  val bulkCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Bulk embedder that counts embedItems calls in a JVM static —
    * proves the streaming field path batches instead of one call per
    * row (local mode shares the JVM, so the static survives the task
    * closure's serialization round-trip). */
  class CountingBulk extends graft.ingest.BulkEmbedder {
    private val inner = graft.ingest.HashingEmbedder(12)
    def dim: Int = 12
    def batchSize: Int = 16
    def embedText(t: String): Array[Float] = inner.embedText(t)
    def embedBytes(b: Array[Byte]): Array[Float] = inner.embedBytes(b)
    def embedTexts(ts: Seq[String]): Seq[Array[Float]] =
      ts.map(inner.embedText)
    override def embedItems(items: Seq[Either[String, Array[Byte]]])
        : Seq[Array[Float]] = {
      bulkCalls.incrementAndGet()
      super.embedItems(items)
    }
  }
}

class MultiVectorFamiliesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("multi-vector-families-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dim = 6

  private def dvec(i: Int): Seq[Float] =
    Seq.tabulate(dim)(j => ((i * 31 + j * 7) % 101) / 101.0f - 0.5f)

  /** Deterministic small sparse vector: 3 dims from a tiny vocabulary so
    * queries overlap many docs. Weights integer-valued (exact doubles). */
  private def svec(i: Int): Map[Long, Double] =
    Seq.tabulate(3)(t => ((i * 7 + t * 13) % 11).toLong ->
      (1.0 + (i + t) % 5)).toMap

  /** Packed sign bits of a deterministic 64-bit pattern (dim 64 = 1 word). */
  private def bvec(i: Int): Seq[Long] =
    Seq(java.lang.Long.rotateLeft(0x9E3779B97F4A7C15L * (i + 1), i % 64))

  private def rows(is: Range) =
    is.map(i => (f"k$i%04d", dvec(i), svec(i), Map("grp" -> s"g${i % 3}")))

  private def mkClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("mvfam").toString
    new GraftClient(spark, root)
  }

  private def createSp(c: GraftClient, name: String,
                       spIndex: String = "FLAT"): Unit =
    c.createCollection(name, dim = dim, indexType = "FLAT", buckets = 4,
      vectorFields = Seq(
        VecField("sp", 0, "dot", spIndex, family = "SPARSE_FLOAT_VECTOR")))

  private def upsertAll(c: GraftClient, name: String, is: Range,
                        partition: String = "_default"): Unit = {
    import spark.implicits._
    c.upsert(name, rows(is).toDF("key", "vec", "sp", "meta"),
      partition = partition)
  }

  private def dot(a: Map[Long, Double], b: Map[Long, Double]): Double =
    a.collect { case (d, w) if b.contains(d) => w * b(d) }.sum

  /** Brute-force sparse top-k with the family's membership rule
    * (shares >= 1 dim) and (score DESC, key) order. */
  private def bruteSparse(is: Range, q: Map[Long, Double], k: Int): Seq[String] =
    is.map(i => (f"k$i%04d", svec(i)))
      .filter { case (_, v) => v.keySet.intersect(q.keySet).nonEmpty }
      .map { case (key, v) => (key, dot(v, q)) }
      .sortBy { case (key, s) => (-s, key) }.take(k).map(_._1)

  private def qPairs(q: Map[Long, Double]): Seq[(Long, Double)] = q.toSeq

  test("create/describe round-trip per family; boundary refusals") {
    val c = mkClient()
    c.createCollection("fam", dim = dim, buckets = 4, vectorFields = Seq(
      VecField("sp", 0, "dot", "SPARSE_INVERTED_INDEX",
        family = "SPARSE_FLOAT_VECTOR"),
      VecField("bv", 64, "hamming", "BIN_IVF_FLAT",
        family = "BINARY_VECTOR"),
      VecField("dv", 4, "l2", "FLAT")))
    val m = c.describe("fam")
    assert(m.extraVecFields.map(f => (f.name, f.family)) == Seq(
      ("sp", "SPARSE_FLOAT_VECTOR"), ("bv", "BINARY_VECTOR"),
      ("dv", "FLOAT_VECTOR")))

    // AUTOINDEX resolves per FAMILY, like the primary's
    c.createCollection("famauto", dim = dim, vectorFields = Seq(
      VecField("s2", 0, "dot", "AUTOINDEX", family = "SPARSE_FLOAT_VECTOR"),
      VecField("b2", 64, "hamming", "AUTOINDEX", family = "BINARY_VECTOR")))
    assert(c.describe("famauto").extraVecFields.map(_.indexType) ==
      Seq("SPARSE_INVERTED_INDEX", "BIN_IVF_FLAT"))

    // sparse fields take no dim
    intercept[IllegalArgumentException] {
      c.createCollection("bad1", dim = dim, vectorFields = Seq(
        VecField("s", 8, "dot", "FLAT", family = "SPARSE_FLOAT_VECTOR")))
    }
    // sparse metric must be dot/cosine; index FLAT/SPARSE_INVERTED_INDEX
    intercept[IllegalArgumentException] {
      c.createCollection("bad2", dim = dim, vectorFields = Seq(
        VecField("s", 0, "l2", "FLAT", family = "SPARSE_FLOAT_VECTOR")))
    }
    intercept[IllegalArgumentException] {
      c.createCollection("bad3", dim = dim, vectorFields = Seq(
        VecField("s", 0, "dot", "HNSW", family = "SPARSE_FLOAT_VECTOR")))
    }
    // binary: dim counts bits, multiple of 8; jaccard stays FLAT
    intercept[IllegalArgumentException] {
      c.createCollection("bad4", dim = dim, vectorFields = Seq(
        VecField("b", 60, "hamming", "FLAT", family = "BINARY_VECTOR")))
    }
    intercept[IllegalArgumentException] {
      c.createCollection("bad5", dim = dim, vectorFields = Seq(
        VecField("b", 64, "jaccard", "BIN_IVF_FLAT", family = "BINARY_VECTOR")))
    }
    // unknown family is loud
    intercept[IllegalArgumentException] {
      c.createCollection("bad6", dim = dim, vectorFields = Seq(
        VecField("x", 4, "l2", "FLAT", family = "FLOAT16_VECTOR")))
    }
  }

  test("write boundary: per-family checks on extra field columns") {
    import spark.implicits._
    val c = mkClient()
    createSp(c, "wb")

    // missing declared sparse column
    val e1 = intercept[IllegalArgumentException] {
      c.upsert("wb", rows(0 until 3).map(r => (r._1, r._2, r._4))
        .toDF("key", "vec", "meta"))
    }
    assert(e1.getMessage.contains("sp"))

    // null sparse field (non-nullable) refused
    val e2 = intercept[Exception] {
      c.upsert("wb", Seq(("k1", dvec(1), null: Map[Long, Double],
        Map.empty[String, String])).toDF("key", "vec", "sp", "meta"))
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("sp"))

    // empty map refused
    intercept[Exception] {
      c.upsert("wb", Seq(("k1", dvec(1), Map.empty[Long, Double],
        Map.empty[String, String])).toDF("key", "vec", "sp", "meta"))
    }
    // zero weight refused (the family's write rule: the two search arms
    // would otherwise diverge on membership)
    intercept[Exception] {
      c.upsert("wb", Seq(("k1", dvec(1), Map(3L -> 0.0),
        Map.empty[String, String])).toDF("key", "vec", "sp", "meta"))
    }

    // binary field: word count + pad bits
    c.createCollection("wbb", dim = dim, buckets = 4, vectorFields = Seq(
      VecField("bv", 56, "hamming", "FLAT", family = "BINARY_VECTOR")))
    intercept[Exception] { // 56 bits need 1 word, got 2
      c.upsert("wbb", Seq(("k1", dvec(1), Seq(1L, 2L),
        Map.empty[String, String])).toDF("key", "vec", "bv", "meta"))
    }
    intercept[Exception] { // bit 63 set past dim 56
      c.upsert("wbb", Seq(("k1", dvec(1), Seq(Long.MinValue),
        Map.empty[String, String])).toDF("key", "vec", "bv", "meta"))
    }
  }

  test("SPARSE primary + dense field (r17: the FLOAT-primary " +
       "restriction lifted): upsert/search/maintenance/fetch") {
    import spark.implicits._
    val c = mkClient()
    // the lexical-primary schema Milvus 2.4 admits: SPLADE-style sparse
    // as the PRIMARY `vec`, a dense field beside it
    c.createCollection("spfirst", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX",
      vectorType = "SPARSE_FLOAT_VECTOR", buckets = 4,
      vectorFields = Seq(VecField("dv", dim, "l2", "IVF_FLAT")))
    val meta = c.describe("spfirst")
    assert(meta.vectorType == "SPARSE_FLOAT_VECTOR" &&
      meta.extraVecFields.map(_.name) == Seq("dv"))
    c.upsert("spfirst", (0 until 20).map(i =>
        (f"k$i%04d", svec(i), dvec(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "dv", "meta"))
    // PRIMARY sparse search serves as a plain sparse collection
    val q = qPairs(svec(3))
    assert(c.searchSparse("spfirst", q, k = 3).count() == 3)
    // the DENSE FIELD rides the float family's whole envelope through
    // its view — exact arm first, then the indexed arm + maintenance
    val qd = dvec(7).toArray
    val exact = c.search("spfirst", qd, k = 3, field = "dv")
      .select("vector_key").collect().map(_.getString(0)).toSeq
    assert(exact.head == "k0007") // self at rank 1 (L2 distance 0)
    c.buildIndex("spfirst", nlist = 2, field = "dv")
    assert(c.listIndexes("spfirst").collect()
      .exists(r => r.getString(1) == "dv" && r.getBoolean(2)))
    assert(c.search("spfirst", qd, k = 3, field = "dv", nprobe = 2)
      .select("vector_key").collect().map(_.getString(0)).toSeq == exact)
    // maintenance: a decoy put+delete through the FIELD's cells
    c.upsert("spfirst", Seq(("!d", svec(0), dvec(7), Map.empty[String, String]))
      .toDF("key", "vec", "dv", "meta"))
    c.deleteByKeys("spfirst", Seq("!d"))
    assert(c.listIndexes("spfirst").collect()
      .exists(r => r.getString(1) == "dv" && r.getBoolean(2)))
    assert(c.search("spfirst", qd, k = 3, field = "dv", nprobe = 2)
      .select("vector_key").collect().map(_.getString(0)).toSeq == exact)
    // fetch returns every declared field; get dispatches per family
    val row = c.fetch("spfirst", Seq("k0007"))
    assert(row.columns.toSeq == Seq("key", "vec", "dv", "meta"))
    assert(row.select("dv").head.getSeq[Float](0) == dvec(7))
    assert(c.getSparse("spfirst", "k0007").isDefined)
    assert(c.get("spfirst", "k0007", field = "dv").get._1 == dvec(7))
  }

  test("BINARY primary + sparse field: upsert/search/maintenance/" +
       "add_collection_field on a non-float base") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("bnfirst", dim = 64, metric = "hamming",
      indexType = "BIN_IVF_FLAT", vectorType = "BINARY_VECTOR",
      buckets = 4,
      vectorFields = Seq(VecField("sp", 0, "dot",
        "SPARSE_INVERTED_INDEX", family = "SPARSE_FLOAT_VECTOR")))
    c.upsert("bnfirst", (0 until 20).map(i =>
        (f"k$i%04d", bvec(i), svec(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "sp", "meta"))
    // primary binary search; sparse FIELD search via its view
    assert(c.searchBinary("bnfirst", bvec(5).toArray, k = 1)
      .head.getString(0) == "k0005")
    val q = qPairs(svec(3))
    val spHits = c.searchSparse("bnfirst", q, k = 3, field = "sp")
      .select("vector_key").collect().map(_.getString(0)).toSeq
    assert(spHits == bruteSparse(0 until 20, svec(3), 3))
    // field postings build + refresh on a binary base
    c.buildIndex("bnfirst", nlist = 4, field = "sp")
    assert(c.searchSparse("bnfirst", q, k = 3, field = "sp")
      .select("vector_key").collect().map(_.getString(0)).toSeq == spHits)
    // add_collection_field onto a BINARY primary: nullable dense field
    assert(c.addCollectionField("bnfirst",
      VecField("dv", dim, "l2", "FLAT", nullable = true)))
    c.upsert("bnfirst", Seq(("k0099", bvec(99), svec(99), dvec(99),
        Map.empty[String, String]))
      .toDF("key", "vec", "sp", "dv", "meta"))
    // old rows gained the column with no rewrite; the view sees ONLY
    // the row that has it
    assert(c.search("bnfirst", dvec(99).toArray, k = 5, field = "dv")
      .count() == 1)
    assert(c.fetch("bnfirst", Seq("k0001")).columns.toSeq ==
      Seq("key", "vec", "sp", "dv", "meta"))
  }

  test("nullable-field nulls pass the write boundary with ANSI OFF — " +
       "legacy sizeOfNull=-1 must not trip the size/empty checks") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("wbn", dim = dim, buckets = 4, vectorFields = Seq(
      VecField("sp", 0, "dot", "FLAT", family = "SPARSE_FLOAT_VECTOR",
        nullable = true),
      VecField("bv", 64, "hamming", "FLAT", family = "BINARY_VECTOR",
        nullable = true)))
    // with spark.sql.ansi.enabled=false (and the default
    // legacy.sizeOfNull=true) size(null) = -1, not null — the boundary
    // check's null stance must be its own explicit isNull branch, not
    // an ANSI-dependent size(null) propagation, or every omitted
    // nullable field would raise "empty sparse"/"needs N words"
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      c.upsert("wbn", Seq(("k1", dvec(1), null: Map[Long, Double],
        null: Seq[Long], Map.empty[String, String]))
        .toDF("key", "vec", "sp", "bv", "meta"))
      // non-null values still checked under legacy mode
      intercept[Exception] {
        c.upsert("wbn", Seq(("k2", dvec(2), Map.empty[Long, Double],
          null: Seq[Long], Map.empty[String, String]))
          .toDF("key", "vec", "sp", "bv", "meta"))
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None    => spark.conf.unset("spark.sql.ansi.enabled")
    }
    assert(c.count("wbn") == 1)
    assert(c.fetch("wbn", Seq("k1")).count() == 1)
  }

  test("sparse field search == family brute force; filter; getSparse") {
    val c = mkClient()
    createSp(c, "sf")
    upsertAll(c, "sf", 0 until 120)

    val q = svec(7)
    val got = c.searchSparse("sf", qPairs(q), k = 10, field = "sp")
      .collect().map(_.getString(0)).toSeq
    assert(got == bruteSparse(0 until 120, q, 10))

    // metric is the FIELD's, not the primary's
    intercept[IllegalArgumentException] {
      c.searchSparse("sf", qPairs(q), k = 5, metric = "cosine", field = "sp")
    }
    // a dense field through searchSparse refuses toward search(field=)
    c.createCollection("sfd", dim = dim,
      vectorFields = Seq(VecField("dv", 4, "l2", "FLAT")))
    val e = intercept[IllegalArgumentException] {
      c.searchSparse("sfd", qPairs(q), k = 5, field = "dv")
    }
    assert(e.getMessage.contains("search(field=)"))

    // filters gate BEFORE ranking (the collection family's arm)
    val filtered = c.searchSparse("sf", qPairs(q), k = 5, field = "sp",
        filter = Some(element_at(col("meta"), lit("grp")) === "g1"))
      .collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_.getAs[Map[String, String]]("metadata")("grp") == "g1"))
    val expectFiltered = (0 until 120).filter(_ % 3 == 1)
      .map(i => (f"k$i%04d", svec(i)))
      .filter { case (_, v) => v.keySet.intersect(q.keySet).nonEmpty }
      .map { case (key, v) => (key, dot(v, q)) }
      .sortBy { case (key, s) => (-s, key) }.take(5).map(_._1)
    assert(filtered.map(_.getString(0)).toSeq == expectFiltered)

    // getSparse(field=) reads the stored map
    assert(c.getSparse("sf", "k0004", field = "sp").map(_._1)
      .contains(svec(4).toSeq.sortBy(_._1)))

    // the store scan of a sparse-field search never drags the primary
    // vec (or another field) through it — the field view's column prune
    val scans = c.searchSparse("sf", qPairs(q), k = 3, field = "sp")
      .queryExecution.executedPlan.toString
      .split("\n").filter(l => l.contains("ReadSchema") &&
        !l.contains("-fields/")).toSeq
    assert(scans.nonEmpty)
    assert(!scans.exists(l => l.contains("<vec:") || l.contains(",vec:")),
      s"sparse field search leaked the primary vec: ${scans.mkString}")
  }

  test("sparse field index lifecycle: build, auto-maintain, independence") {
    import spark.implicits._
    val c = mkClient()
    createSp(c, "sfi", spIndex = "SPARSE_INVERTED_INDEX")
    upsertAll(c, "sfi", 0 until 150)

    c.buildIndex("sfi", nlist = 8, field = "sp")
    val idx0 = c.listIndexes("sfi").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(idx0.contains(("SPARSE_INVERTED_INDEX", "sp", true)))

    val q = svec(3)
    val df = c.searchSparse("sfi", qPairs(q), k = 10, field = "sp")
    // dispatch honesty: the fresh field index's postings layout is read
    assert(df.queryExecution.executedPlan.toString.contains("In(dim"),
      "field search did not read the field's postings layout")
    assert(df.collect().map(_.getString(0)).toSeq ==
      bruteSparse(0 until 150, q, 10))

    // a merge commit rolls the FIELD's postings forward (auto-maintain):
    // re-upsert doc 3 with DOUBLED weights — if the index missed the
    // delta, the old postings would rank instead
    val primaryStamp = c.listIndexes("sfi").collect()
      .collectFirst { case r if r.getString(1) == "vec" => r.getLong(3) }
    c.upsert("sfi", Seq((f"k${3}%04d", dvec(3),
        svec(3).view.mapValues(_ * 2).toMap, Map("grp" -> "g0")))
      .toDF("key", "vec", "sp", "meta"))
    val idx1 = c.listIndexes("sfi").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSeq
    assert(idx1.contains(("sp", true)),
      "field postings index must stay fresh across the commit")
    val expect2 = (0 until 150)
      .map(i => (f"k$i%04d",
        if (i == 3) svec(3).view.mapValues(_ * 2).toMap else svec(i)))
      .filter { case (_, v) => v.keySet.intersect(q.keySet).nonEmpty }
      .map { case (key, v) => (key, dot(v, q)) }
      .sortBy { case (key, s) => (-s, key) }.take(10).map(_._1)
    val got2 = c.searchSparse("sfi", qPairs(q), k = 10, field = "sp")
    assert(got2.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(got2.collect().map(_.getString(0)).toSeq == expect2)

    // INDEPENDENCE: rebuilding the field's index never moves the
    // primary's state (here: the primary has NO index — none appears)
    c.buildIndex("sfi", nlist = 4, field = "sp")
    val idx2 = c.listIndexes("sfi").collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(idx2.collectFirst { case ("vec", v) => v } == primaryStamp)

    // compact() folds the FIELD's auto-appended postings segments
    // (the commit above appended a delta) with result parity
    val folded = c.compact("sfi")
    assert(folded.exists(a => a._2 == "sparse_inverted" && a._3 == "sp"),
      s"compact must fold the sparse field's postings, got $folded")
    val gotC = c.searchSparse("sfi", qPairs(q), k = 10, field = "sp")
    assert(gotC.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(gotC.collect().map(_.getString(0)).toSeq == expect2,
      "the fold must not change the result")

    // dropIndex(field=) falls back to the exact map scan — same answers
    c.dropIndex("sfi", field = "sp")
    val got3 = c.searchSparse("sfi", qPairs(q), k = 10, field = "sp")
    assert(!got3.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(got3.collect().map(_.getString(0)).toSeq == expect2)
  }

  test("sparse field envelope: range, grouped, iterator, batch, milvus") {
    import spark.implicits._
    val c = mkClient()
    createSp(c, "se", spIndex = "SPARSE_INVERTED_INDEX")
    upsertAll(c, "se", 0 until 100)
    c.buildIndex("se", nlist = 8, field = "sp")

    val q = svec(5)
    val all = (0 until 100).map(i => (f"k$i%04d", svec(i)))
      .filter { case (_, v) => v.keySet.intersect(q.keySet).nonEmpty }
      .map { case (key, v) => (key, dot(v, q)) }

    // range: score > r10 (the similarity band convention)
    val r10 = all.sortBy { case (key, s) => (-s, key) }.take(10).last._2
    val rng = c.searchSparseRange("se", qPairs(q), radius = r10, field = "sp")
      .collect().map(_.getString(0)).toSeq
    assert(rng == all.filter(_._2 > r10)
      .sortBy { case (key, s) => (-s, key) }.map(_._1))

    // grouped
    val grp = c.searchSparseGrouped("se", qPairs(q), k = 2,
      groupByKey = "grp", groupSize = 2, field = "sp").collect()
    assert(grp.length == 4 && grp.map(_.getString(0)).distinct.length == 2)

    // iterator drains in exact (score DESC, key) order
    val it = c.searchSparseIterator("se", qPairs(q), batchSize = 7,
      field = "sp").take(3).flatten.toSeq
    assert(it.map(_.getString(0)) ==
      all.sortBy { case (key, s) => (-s, key) }.take(21).map(_._1))

    // batch
    val qdf = Seq(
      (0L, svec(0).keys.toSeq.sorted, svec(0).keys.toSeq.sorted.map(svec(0))),
      (1L, svec(1).keys.toSeq.sorted, svec(1).keys.toSeq.sorted.map(svec(1))))
      .toDF("qid", "dims", "ws")
    val bt = c.searchSparseBatch("se", qdf, k = 5, field = "sp").collect()
    assert(bt.length == 10)
    assert(bt.filter(_.getLong(0) == 0L).map(_.getString(1)).toSeq ==
      bruteSparse(0 until 100, svec(0), 5))

    // the one-call filter-string surface
    val mv = c.searchSparseMilvus("se", qPairs(q), k = 5,
      filter = """grp == "g0"""", field = "sp").collect()
    assert(mv.forall(_.getAs[Map[String, String]]("metadata")("grp") == "g0"))
  }

  test("hybrid SparseField(field=) scopes BEFORE ranking — the named " +
       "field retires the attached layout's under-fill") {
    val c = mkClient()
    createSp(c, "hy")
    c.createPartition("hy", "p1")
    upsertAll(c, "hy", 0 until 60)                    // default partition
    upsertAll(c, "hy", 100 until 160, partition = "p1") // scoped rows

    val qd = dvec(111).toArray
    val qs = svec(11)
    val armK = 15
    val got = c.hybridSearchRequests("hy",
      Seq(AnnRequest.Dense(qd),
        AnnRequest.SparseField(qPairs(qs), field = "sp")),
      k = 10, armK = armK, partitions = Seq("p1")).collect()

    // every hit lives in p1 — and the sparse arm FILLED from p1 (scope
    // before rank): an attached layout would have ranked globally then
    // intersected, under-filling the arm
    assert(got.nonEmpty)
    assert(got.forall(r => r.getString(0).drop(1).toInt >= 100))
    // the sparse arm's TOP hit is the scoped brute-force best
    val bestSp = (100 until 160)
      .filter(i => svec(i).keySet.intersect(qs.keySet).nonEmpty)
      .map(i => (f"k$i%04d", dot(svec(i), qs)))
      .sortBy { case (key, s) => (-s, key) }.head._1
    val rank1 = got.filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(rank1.get(bestSp).contains(1L),
      s"scoped sparse arm's rank-1 must be $bestSp, got $rank1")

    // field + sparseDir together refuse
    intercept[IllegalArgumentException] {
      c.hybridSearchRequests("hy", Seq(
        AnnRequest.SparseField(qPairs(qs), sparseDir = "/tmp/x",
          field = "sp")), k = 3)
    }
  }

  test("binary field: search/grouped == brute force; BIN_IVF_FLAT build") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("bf", dim = dim, buckets = 4, vectorFields = Seq(
      VecField("bv", 64, "hamming", "BIN_IVF_FLAT", family = "BINARY_VECTOR")))
    c.upsert("bf", (0 until 130)
      .map(i => (f"k$i%04d", dvec(i), bvec(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "bv", "meta"))

    val q = bvec(0).toArray
    def brute(k: Int): Seq[String] = (0 until 130)
      .map(i => (f"k$i%04d",
        java.lang.Long.bitCount(bvec(i).head ^ q.head)))
      .sortBy { case (key, d) => (d, key) }.take(k).map(_._1)

    val got = c.searchBinary("bf", q, k = 10, field = "bv")
      .collect().map(_.getString(0)).toSeq
    assert(got == brute(10))

    // field index build + full-probe exactness + freshness row
    c.buildIndex("bf", nlist = 4, field = "bv")
    assert(c.listIndexes("bf").collect()
      .exists(r => r.getString(0) == "BIN_IVF_FLAT" &&
        r.getString(1) == "bv" && r.getBoolean(2)))
    val got2 = c.searchBinary("bf", q, k = 10, nprobe = 4, field = "bv")
    assert(got2.queryExecution.executedPlan.toString.contains("centroidId"),
      "binary field search did not read the field's cell layout")
    assert(got2.collect().map(_.getString(0)).toSeq == brute(10))

    // maintenance rolls the field's cells forward on commit
    c.upsert("bf", Seq((f"k0000", dvec(0), bvec(999),
      Map("grp" -> "g0"))).toDF("key", "vec", "bv", "meta"))
    assert(c.listIndexes("bf").collect()
      .exists(r => r.getString(1) == "bv" && r.getBoolean(2)),
      "field cells must stay fresh across the commit")
    val brute2 = (0 until 130)
      .map(i => (f"k$i%04d", java.lang.Long.bitCount(
        (if (i == 0) bvec(999) else bvec(i)).head ^ q.head)))
      .sortBy { case (key, d) => (d, key) }.take(10).map(_._1)
    assert(c.searchBinary("bf", q, k = 10, nprobe = 4, field = "bv")
      .collect().map(_.getString(0)).toSeq == brute2)

    // grouped rides the field dispatch
    val grp = c.searchBinaryGrouped("bf", q, k = 3, groupByKey = "grp",
      groupSize = 2, nprobe = 4, field = "bv").collect()
    assert(grp.length == 6)

    // a float query against the binary field refuses toward searchBinary
    intercept[IllegalArgumentException] {
      c.search("bf", dvec(0).toArray, k = 3, field = "bv")
    }
  }

  test("streaming ingest into a multi-field collection: per-field " +
       "providers, field indexes fresh per micro-batch, live set matches " +
       "the batch-upsert twin, per-row drops and refusals") {
    import spark.implicits._
    import graft.ingest.{Embedder, HashingEmbedder, SparseFeaturizer}
    val root = java.nio.file.Files.createTempDirectory("mv-ingest").toString
    val client = new GraftClient(spark, root)
    // the reference's TEXT + IMAGE consolidation: one collection, the
    // text vec primary + a named image field + a named SPLADE-shaped
    // sparse field + a nullable binary extra with no streaming provider
    client.createCollection("smv", dim = 8, buckets = 4, vectorFields = Seq(
      VecField("img_vec", 12, "l2", "FLAT"),
      VecField("lex", 0, "dot", "SPARSE_INVERTED_INDEX",
        family = "SPARSE_FLOAT_VECTOR"),
      VecField("bv", 64, "hamming", "FLAT", family = "BINARY_VECTOR",
        nullable = true)))
    val textE = HashingEmbedder(8)
    val imgE = HashingEmbedder(12)
    val fz = SparseFeaturizer.hashingTf

    // refusals first: a non-nullable field without a provider; a
    // provider naming no declared field; a featurizer on a dense field
    val eNo = intercept[IllegalArgumentException] {
      client.startIngest("smv", s"$root/x", Seq(("k", "t")).toDF("key", "text"),
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE))
    }
    assert(eNo.getMessage.contains("lex") &&
      eNo.getMessage.contains("fieldFeaturizers"))
    intercept[IllegalArgumentException] {
      client.startIngest("smv", s"$root/x", Seq(("k", "t")).toDF("key", "text"),
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE,
          "nope" -> imgE), fieldFeaturizers = Map("lex" -> fz))
    }
    intercept[IllegalArgumentException] {
      client.startIngest("smv", s"$root/x", Seq(("k", "t")).toDF("key", "text"),
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz, "img_vec" -> fz))
    }
    // a dim-mismatched field embedder refuses up front, not at the
    // write boundary mid-stream
    intercept[IllegalArgumentException] {
      client.startIngest("smv", s"$root/x", Seq(("k", "t")).toDF("key", "text"),
        embedder = textE, fieldEmbedders = Map("img_vec" -> HashingEmbedder(5)),
        fieldFeaturizers = Map("lex" -> fz))
    }

    def writeLanding(dir: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, "events.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
    }
    val texts = Map(
      "doc-a" -> "spark shuffles hash join hash",
      "doc-b" -> "sort merge join over sorted runs",
      "doc-c" -> "hash partitioned spark scan")
    val objects = texts.toSeq.toDF("key", "text")

    // seed + build the FIELD's sparse index, so post-stream freshness
    // comes from per-commit field maintenance, never a rebuild
    client.upsert("smv", Seq(("seed-1", textE.embedText("seed doc").toSeq,
        imgE.embedText("seed doc").toSeq, fz.featurize("seed doc"),
        Map.empty[String, String]))
      .toDF("key", "vec", "img_vec", "lex", "meta"))
    client.buildIndex("smv", nlist = 4, field = "lex")

    writeLanding(s"$root/landing1", Seq(
      TestDirs.notif("ObjectCreated:Put", "doc-a"),
      TestDirs.notif("ObjectCreated:Put", "doc-b")))
    client.startIngest("smv", s"$root/landing1", objects,
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz))
      .awaitTermination(120000)

    // the FIELD's postings stayed fresh across the streamed commit
    assert(client.listIndexes("smv").collect().exists(r =>
      r.getString(0) == "SPARSE_INVERTED_INDEX" && r.getString(1) == "lex" &&
        r.getBoolean(2)),
      "the sparse FIELD index must stay fresh after a streamed batch")

    // every field of a streamed row matches its provider run upstream —
    // the live set IS the batch-upsert twin's
    val twin = Map("seed-1" -> "seed doc") ++ texts.view.filterKeys(
      Set("doc-a", "doc-b")).toMap
    val fetched = client.fetch("smv", twin.keys.toSeq).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(fetched.keySet == twin.keySet)
    twin.foreach { case (k, t) =>
      assert(fetched(k).getSeq[Float](1) == textE.embedText(t).toSeq,
        s"$k primary vec")
      assert(fetched(k).getSeq[Float](2) == imgE.embedText(t).toSeq,
        s"$k img_vec")
      assert(fetched(k).getMap[Long, Double](3).toMap == fz.featurize(t),
        s"$k lex")
      assert(fetched(k).isNullAt(4), s"$k bv must stream null (no provider)")
    }

    // field searches serve the streamed rows: sparse through the
    // MAINTAINED postings (plan-asserted), dense through the field view
    val qv = fz.featurize(texts("doc-a")).toSeq
    val sp = client.searchSparse("smv", qv, k = 3, field = "lex")
    assert(sp.queryExecution.executedPlan.toString.contains("In(dim"),
      "post-stream field search must ride the maintained postings")
    assert(sp.collect().head.getString(0) == "doc-a")
    assert(client.search("smv", imgE.embedText(texts("doc-b")), k = 1,
      field = "img_vec").collect().head.getString(0) == "doc-b")

    // batch 2: a put + a delete — the delete tombstones EVERY field's
    // state in the one commit
    writeLanding(s"$root/landing2", Seq(
      TestDirs.notif("ObjectCreated:Put", "doc-c"),
      TestDirs.notif("ObjectRemoved:Delete", "doc-a")))
    client.startIngest("smv", s"$root/landing2", objects,
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz))
      .awaitTermination(120000)
    assert(client.count("smv") == 3)
    val sp2 = client.searchSparse("smv", qv, k = 5, field = "lex")
    assert(sp2.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(!sp2.collect().map(_.getString(0)).contains("doc-a"),
      "the streamed delete must tombstone the field's postings")

    // a bytes-only event drops PER-ROW (the 400 arm): the primary and
    // img_vec could embed bytes, but the required sparse field cannot
    writeLanding(s"$root/landing3",
      Seq(TestDirs.notif("ObjectCreated:Put", "doc-bin")))
    client.startIngest("smv", s"$root/landing3",
        Seq(("doc-bin", null: String, "zz".getBytes("UTF-8")))
          .toDF("key", "text", "bytes"),
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz))
      .awaitTermination(120000)
    assert(client.count("smv") == 3,
      "an event a required field cannot embed must drop, not land or kill")
  }

  test("partition-key routed STREAMING with multi-field rows: puts carry " +
       "every field through the pk router, deletes fan out") {
    import spark.implicits._
    import graft.ingest.{HashingEmbedder, SparseFeaturizer}
    val root = java.nio.file.Files.createTempDirectory("mv-pk-ingest").toString
    val c = new GraftClient(spark, root)
    // the pk is the `category` tag the landing events carry
    c.createCollection("spkmv", dim = 8, buckets = 2,
      partitionKey = "category", numPartitions = 4,
      vectorFields = Seq(
        VecField("img_vec", 12, "l2", "FLAT"),
        VecField("lex", 0, "dot", "FLAT", family = "SPARSE_FLOAT_VECTOR")))
    val textE = HashingEmbedder(8)
    val imgE = HashingEmbedder(12)
    val fz = SparseFeaturizer.hashingTf
    val texts = Map("k1" -> "one doc here", "k2" -> "two doc there",
      "k3" -> "three docs everywhere")
    val objects = texts.toSeq.toDF("key", "text")
    val lp = java.nio.file.Files.createTempDirectory("mv-pk-l1")
      .resolve("f1.json")
    java.nio.file.Files.write(lp, Seq(
      TestDirs.notif("ObjectCreated:Put", "k1", category = "tA"),
      TestDirs.notif("ObjectCreated:Put", "k2", category = "tB"),
      TestDirs.notif("ObjectCreated:Put", "k3", category = "tA"))
      .mkString("\n").getBytes)
    c.startIngest("spkmv", lp.getParent.toString, objects,
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz))
      .awaitTermination(120000)
    assert(c.count("spkmv") == 3)
    // every field landed through the routed fan-out, pk-scoped reads see
    // only their tenant's rows
    val f1 = c.fetch("spkmv", Seq("k1")).collect().head
    assert(f1.getSeq[Float](1) == textE.embedText(texts("k1")).toSeq)
    assert(f1.getSeq[Float](2) == imgE.embedText(texts("k1")).toSeq)
    assert(f1.getMap[Long, Double](3).toMap == fz.featurize(texts("k1")))
    val scoped = c.search("spkmv", imgE.embedText(texts("k1")), k = 3,
        field = "img_vec", partitionKeyValues = Seq("tA"))
      .collect().map(_.getString(0)).toSeq
    assert(scoped.head == "k1" && scoped.toSet == Set("k1", "k3"),
      s"pk-scoped field search must see tenant tA only: $scoped")
    // a streamed delete fans to every partition and clears the row
    val lp2 = java.nio.file.Files.createTempDirectory("mv-pk-l2")
      .resolve("f2.json")
    java.nio.file.Files.write(lp2,
      Seq(TestDirs.notif("ObjectRemoved:Delete", "k1")).mkString("\n").getBytes)
    c.startIngest("spkmv", lp2.getParent.toString, objects,
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz))
      .awaitTermination(120000)
    assert(c.count("spkmv") == 2)
    assert(c.searchSparse("spkmv", fz.featurize(texts("k1")).toSeq, k = 5,
        field = "lex").collect().forall(_.getString(0) != "k1"),
      "the fanned delete must clear every field's state")
  }

  test("multi-field crash between merge-commit and checkpoint ack: the " +
       "replay converges field-for-field and the FIELD index recovers") {
    import spark.implicits._
    import graft.ingest.{HashingEmbedder, SparseFeaturizer}
    val root = java.nio.file.Files.createTempDirectory("mv-crash").toString
    val c = new GraftClient(spark, root)
    c.createCollection("smc", dim = 8, buckets = 4, vectorFields = Seq(
      VecField("img_vec", 12, "l2", "FLAT"),
      VecField("lex", 0, "dot", "SPARSE_INVERTED_INDEX",
        family = "SPARSE_FLOAT_VECTOR")))
    val textE = HashingEmbedder(8)
    val imgE = HashingEmbedder(12)
    val fz = SparseFeaturizer.hashingTf
    c.upsert("smc", Seq(
      ("k0", textE.embedText("zero doc").toSeq, imgE.embedText("zero doc").toSeq,
        fz.featurize("zero doc"), Map.empty[String, String]),
      ("kA", textE.embedText("alpha doc").toSeq, imgE.embedText("alpha doc").toSeq,
        fz.featurize("alpha doc"), Map.empty[String, String]))
      .toDF("key", "vec", "img_vec", "lex", "meta"))
    c.buildIndex("smc", nlist = 4, field = "lex")

    val texts = Map("k1" -> "one doc here", "k2" -> "two doc there")
    val objects = texts.toSeq.toDF("key", "text")
    val ckpt = s"$root/checkpoint"
    val lp = java.nio.file.Paths.get(root, "landing", "f1.json")
    java.nio.file.Files.createDirectories(lp.getParent)
    java.nio.file.Files.write(lp, Seq(
      TestDirs.notif("ObjectCreated:Put", "k1"),
      TestDirs.notif("ObjectCreated:Put", "k2"),
      TestDirs.notif("ObjectRemoved:Delete", "k0"))
      .mkString("\n").getBytes)
    def ingestOnce() = c.startIngest("smc", s"$root/landing", objects,
        embedder = textE, fieldEmbedders = Map("img_vec" -> imgE),
        fieldFeaturizers = Map("lex" -> fz),
        checkpointDir = Some(ckpt))
      .awaitTermination(120000)
    ingestOnce()

    val dataPath = c.describe("smc").dataPath
    def storeVersion: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dataPath, "CURRENT"))).trim.toLong
    def fieldIdxVersion: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataPath-fields/lex/ivf/VERSION"))).trim.toLong
    def fingerprint: Map[String, (Seq[Float], Seq[Float], Map[Long, Double])] =
      c.fetch("smc", Seq("k0", "kA", "k1", "k2")).collect()
        .map(r => r.getString(0) -> (r.getSeq[Float](1), r.getSeq[Float](2),
          r.getMap[Long, Double](3).toMap)).toMap
    val fp1 = fingerprint
    assert(fp1.keySet == Set("kA", "k1", "k2"))
    assert(fieldIdxVersion == storeVersion,
      "the FIELD's postings must chain VERSION through the streamed batch")
    val vAfter = storeVersion

    // CRASH INJECTION: merge-commit landed, checkpoint ack did not —
    // delete the last commit marker AND its checksum sidecar (a stale
    // .crc would masquerade as a concurrent-writer error on rewrite)
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val lastCommit = java.nio.file.Files.list(commits).iterator().asScala
      .filter(_.getFileName.toString.matches("\\d+")).toSeq
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(lastCommit)
    java.nio.file.Files.deleteIfExists(
      lastCommit.resolveSibling(s".${lastCommit.getFileName}.crc"))

    ingestOnce() // replay the unacked batch
    assert(fingerprint == fp1,
      "replay must converge to the IDENTICAL live set, field for field")
    assert(storeVersion > vAfter)
    assert(fieldIdxVersion == storeVersion,
      "the FIELD index must recover across the replayed commit")
    val sp = c.searchSparse("smc", fz.featurize(texts("k1")).toSeq,
      k = 2, field = "lex")
    assert(sp.queryExecution.executedPlan.toString.contains("In(dim"),
      "field search must keep the postings ride after the crash-replay")
    assert(sp.collect().head.getString(0) == "k1")
  }

  test("review-pass regressions (r16): loaded-snapshot eviction on " +
       "add_collection_field, AUTOINDEX per (family, metric), reserved " +
       "ingest column names, binary provider refusal, bulk field provider") {
    import spark.implicits._
    val c = mkClient()

    // (1) addCollectionField on a LOADED collection: the pinned
    // snapshot frames were built pre-add — without eviction every read
    // of the new column dies with UNRESOLVED_COLUMN until the next
    // commit. The add must evict (collection un-loads; re-load pins
    // the new schema).
    c.createCollection("ld", dim = dim, buckets = 4)
    c.upsert("ld", (0 until 20)
      .map(i => (f"k$i%04d", dvec(i), Map.empty[String, String]))
      .toDF("key", "vec", "meta"))
    c.loadCollection("ld")
    c.addCollectionField("ld", VecField("sp", 0, "dot", "FLAT",
      family = "SPARSE_FLOAT_VECTOR", nullable = true))
    assert(c.getSparse("ld", "k0001", field = "sp").isEmpty) // not an error
    c.upsert("ld", Seq((f"k0100", dvec(100), svec(100),
      Map.empty[String, String])).toDF("key", "vec", "sp", "meta"))
    assert(c.searchSparse("ld", qPairs(svec(100)), k = 5, field = "sp")
      .collect().map(_.getString(0)).toSeq == Seq("k0100"))

    // (2) AUTOINDEX resolves per (family, metric): jaccard binary and
    // dot dense fields get FLAT (their exact-serving defaults), not an
    // index type validation would refuse
    c.createCollection("auto2", dim = dim, vectorFields = Seq(
      VecField("bj", 64, "jaccard", "AUTOINDEX", family = "BINARY_VECTOR"),
      VecField("dd", 4, "dot", "AUTOINDEX")))
    assert(c.describe("auto2").extraVecFields.map(_.indexType) ==
      Seq("FLAT", "FLAT"))
    // ... and a dot-metric PRIMARY under AUTOINDEX resolves FLAT too
    // (HNSW on dot would be declarable but forever unbuildable)
    c.createCollection("autodot", dim = dim, metric = "dot",
      indexType = "AUTOINDEX")
    assert(c.describe("autodot").indexType == "FLAT")

    // (3) a field named like a streaming event column is refused at
    // declaration (it would be overwritten mid-pipeline and poison
    // every checkpoint replay)
    Seq("tags", "text", "bytes", "event_name").foreach { n =>
      intercept[IllegalArgumentException] {
        c.createCollection(s"bad_$n", dim = dim,
          vectorFields = Seq(VecField(n, 4, "l2", "FLAT")))
      }
    }

    // (4) a provider for a BINARY field is refused loudly — it would
    // otherwise be silently ignored (binary fields stream null)
    c.createCollection("binp", dim = dim, vectorFields = Seq(
      VecField("bv", 64, "hamming", "FLAT", family = "BINARY_VECTOR",
        nullable = true)))
    val eBin = intercept[IllegalArgumentException] {
      c.startIngest("binp", "/tmp/nope", Seq(("k", "t")).toDF("key", "text"),
        fieldEmbedders = Map("bv" -> graft.ingest.HashingEmbedder(64)))
    }
    assert(eBin.getMessage.contains("BINARY_VECTOR") &&
      eBin.getMessage.contains("provider"))

    // (5) a BULK field embedder rides the batched path (one call per
    // chunk, not one per row) and lands the same values as its own
    // per-item kernel
    // the call counter is a JVM STATIC (companion object): task
    // closures serialize even in local mode, so an instance field would
    // count on the deserialized copy and read 0 here
    val calls = MultiVectorFamiliesSpec.bulkCalls
    calls.set(0)
    val root = java.nio.file.Files.createTempDirectory("mv-bulk").toString
    val cb = new GraftClient(spark, root)
    cb.createCollection("blk", dim = 8, buckets = 2, vectorFields = Seq(
      VecField("img_vec", 12, "l2", "FLAT")))
    val texts = (0 until 40).map(i => (s"d$i", s"doc number $i words"))
    val lines = texts.map { case (k, _) =>
      TestDirs.notif("ObjectCreated:Put", k) }
    val lp = java.nio.file.Paths.get(root, "landing", "events.json")
    java.nio.file.Files.createDirectories(lp.getParent)
    java.nio.file.Files.write(lp, lines.mkString("\n").getBytes)
    cb.startIngest("blk", s"$root/landing", texts.toDF("key", "text"),
        embedder = graft.ingest.HashingEmbedder(8),
        fieldEmbedders = Map("img_vec" ->
          new MultiVectorFamiliesSpec.CountingBulk))
      .awaitTermination(120000)
    assert(cb.count("blk") == 40)
    val he12 = graft.ingest.HashingEmbedder(12)
    val got = cb.fetch("blk", Seq("d7")).collect().head
    assert(got.getSeq[Float](2) == he12.embedText("doc number 7 words").toSeq,
      "the bulk path must land the same values as the per-item kernel")
    assert(calls.get() > 0 && calls.get() <= 8,
      s"40 rows at batchSize 16 must batch (got ${calls.get()} calls)")
  }

  test("add_collection_field: nullable evolution without rewrite") {
    import spark.implicits._
    val c = mkClient()
    c.createCollection("ev", dim = dim, buckets = 4)
    c.upsert("ev", (0 until 40)
      .map(i => (f"k$i%04d", dvec(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "meta"))

    // nullable is mandatory (Milvus 2.6's rule)
    val e0 = intercept[IllegalArgumentException] {
      c.addCollectionField("ev",
        VecField("sp", 0, "dot", "FLAT", family = "SPARSE_FLOAT_VECTOR"))
    }
    assert(e0.getMessage.contains("nullable"))

    val f = VecField("sp", 0, "dot", "SPARSE_INVERTED_INDEX",
      family = "SPARSE_FLOAT_VECTOR", nullable = true)
    assert(c.addCollectionField("ev", f))
    assert(!c.addCollectionField("ev", f)) // idempotent re-add
    intercept[IllegalArgumentException] {  // frozen definition
      c.addCollectionField("ev", f.copy(metric = "cosine"))
    }
    assert(c.describe("ev").extraVecFields == Seq(f))

    // old rows read as null — fetch shows the column, null-valued;
    // the FIELD VIEW surfaces none of them
    val f0 = c.fetch("ev", Seq("k0001")).collect().head
    assert(f0.schema.fieldNames.toSeq == Seq("key", "vec", "sp", "meta"))
    assert(f0.isNullAt(2))
    assert(c.getSparse("ev", "k0001", field = "sp").isEmpty)

    // new writes MAY omit the column (fills null) or carry it (checked)
    c.upsert("ev", Seq((f"k0100", dvec(100), Map("grp" -> "g1")))
      .toDF("key", "vec", "meta"))
    c.upsert("ev", (101 until 120)
      .map(i => (f"k$i%04d", dvec(i), svec(i), Map("grp" -> s"g${i % 3}")))
      .toDF("key", "vec", "sp", "meta"))
    intercept[Exception] { // carried values still family-checked
      c.upsert("ev", Seq(("kz", dvec(1), Map(3L -> Double.NaN),
        Map.empty[String, String])).toDF("key", "vec", "sp", "meta"))
    }

    // search sees exactly the rows that HAVE the field
    val q = svec(11)
    val got = c.searchSparse("ev", qPairs(q), k = 50, field = "sp")
      .collect().map(_.getString(0)).toSeq
    assert(got == bruteSparse(101 until 120, q, 50))

    // the field's own index builds and auto-maintains over that row set
    c.buildIndex("ev", nlist = 4, field = "sp")
    assert(c.listIndexes("ev").collect()
      .exists(r => r.getString(1) == "sp" && r.getBoolean(2)))
    val df2 = c.searchSparse("ev", qPairs(q), k = 50, field = "sp")
    assert(df2.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(df2.collect().map(_.getString(0)).toSeq == got)

    // BACKFILL is just an upsert re-put: old keys gain the field
    c.upsert("ev", Seq((f"k0001", dvec(1), svec(1), Map("grp" -> "g1")))
      .toDF("key", "vec", "sp", "meta"))
    assert(c.getSparse("ev", "k0001", field = "sp").nonEmpty)
    val got3 = c.searchSparse("ev", qPairs(q), k = 50, field = "sp")
      .collect().map(_.getString(0)).toSeq
    val expect3 = ((101 until 120).map(i => (f"k$i%04d", svec(i))) :+
      (("k0001", svec(1))))
      .filter { case (_, v) => v.keySet.intersect(q.keySet).nonEmpty }
      .map { case (key, v) => (key, dot(v, q)) }
      .sortBy { case (key, s) => (-s, key) }.map(_._1)
    assert(got3 == expect3)
  }
}
