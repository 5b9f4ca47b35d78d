package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient

/** BINARY_VECTOR as a first-class client collection family (Milvus
  * `DataType.BINARY_VECTOR` — the natural pairing of the reference's
  * Milvus backend with sign-binarized embeddings, SURVEY B7): the full
  * create → upsert → buildIndex("BIN_IVF_FLAT") → search lifecycle with
  * versioned touched-cell maintenance, the exact fallback, the jaccard
  * FLAT family, and the create/write-boundary validation. */
class BinaryClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("binary-client-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dim = 128 // bits
  private val words = 2

  // Four planted Hamming clusters: cluster bases far apart (alternating
  // word patterns), members = base + a few index-dependent noise bits —
  // the geometry BIN_IVF_FLAT's k-majority training recovers.
  private val bases = Array(
    Array(0x0000000000000000L, 0x0000000000000000L),
    Array(0xFFFFFFFFFFFFFFFFL, 0x0000000000000000L),
    Array(0x0000000000000000L, 0xFFFFFFFFFFFFFFFFL),
    Array(0xFFFFFFFFFFFFFFFFL, 0xFFFFFFFFFFFFFFFFL))

  private def code(i: Int): Array[Long] = {
    val c = bases(i % 4).clone()
    // flip 3 deterministic noise bits
    var j = 0
    while (j < 3) {
      val bit = (i * 31 + j * 17) % dim
      c(bit / 64) ^= (1L << (bit % 64))
      j += 1
    }
    c
  }

  private def key(i: Int): String = f"k$i%04d"

  private def hamming(a: Array[Long], b: Array[Long]): Int = {
    var s = 0; var i = 0
    while (i < a.length) { s += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    s
  }

  /** Brute-force (hamming, key)-ordered top-k over a driver-side model
    * of the live set — the spec's ground truth. */
  private def exactTopK(live: Map[String, Array[Long]], q: Array[Long],
                        k: Int): Seq[String] =
    live.toSeq.map { case (kk, c) => (hamming(c, q), kk) }
      .sortBy(identity).take(k).map(_._2)

  private def mkClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("bin-client").toString
    new GraftClient(spark, root)
  }

  test("BIN_IVF_FLAT lifecycle: create, upsert, build, search == exact, " +
       "maintenance keeps it fresh, dropIndex falls back") {
    import spark.implicits._
    val client = mkClient()
    assert(client.createCollection("bc", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR"))
    assert(client.describe("bc").vectorType == "BINARY_VECTOR")

    var live = (0 until 300).map(i => key(i) -> code(i)).toMap
    client.upsert("bc",
      live.toSeq.map { case (k, c) => (k, c.toSeq, Map.empty[String, String]) }
        .toDF("key", "vec", "meta"))
    val q = code(1) // a cluster-1 member

    // pre-build: exact scan, already correct
    val pre = client.searchBinary("bc", q, k = 10)
      .collect().map(_.getString(0)).toSeq
    assert(pre == exactTopK(live, q, 10), s"pre-build mismatch: $pre")

    client.buildIndex("bc", nlist = 4)
    val idx = client.listIndexes("bc").collect()
      .map(r => (r.getString(0), r.getBoolean(2)))
    assert(idx.contains(("BIN_IVF_FLAT", true)),
      s"expected fresh BIN_IVF_FLAT row, got ${idx.toSeq}")

    // full probe == exact, THROUGH the cell layout (plan-asserted: the
    // exact fallback reads the keyed store, which has no centroidId)
    val fullDf = client.searchBinary("bc", q, k = 10, nprobe = 4)
    assert(fullDf.queryExecution.executedPlan.toString.contains("centroidId"),
      "searchBinary must read the cell-partitioned layout when fresh")
    assert(fullDf.collect().map(_.getString(0)).toSeq == exactTopK(live, q, 10))

    // nprobe=1 on planted clusters: the query's own cluster serves top-10
    val probe1 = client.searchBinary("bc", q, k = 10, nprobe = 1)
      .collect().map(_.getString(0)).toSet
    assert(probe1.intersect(exactTopK(live, q, 10).toSet).size >= 8,
      s"nprobe=1 recall below 0.8 on planted clusters")

    // maintenance: an upsert (5 new + 1 overwrite) and a delete keep the
    // index FRESH (touched-cell merge), and results track the live set
    val newRows = (300 until 305).map(i => key(i) -> code(i)) :+
      (key(1) -> code(77)) // overwrite: k0001 moves clusters
    client.upsert("bc",
      newRows.map { case (k, c) => (k, c.toSeq, Map.empty[String, String]) }
        .toDF("key", "vec", "meta"))
    live = live ++ newRows.toMap
    client.deleteByKeys("bc", Seq(key(5), key(9)))
    live = live - key(5) - key(9)

    val idx2 = client.listIndexes("bc").collect()
      .map(r => (r.getString(0), r.getBoolean(2)))
    assert(idx2.contains(("BIN_IVF_FLAT", true)),
      s"index must stay fresh across the merge commits, got ${idx2.toSeq}")
    val postDf = client.searchBinary("bc", q, k = 10, nprobe = 4)
    assert(postDf.queryExecution.executedPlan.toString.contains("centroidId"),
      "post-maintenance search must still ride the cell layout")
    assert(postDf.collect().map(_.getString(0)).toSeq == exactTopK(live, q, 10),
      "post-maintenance results must track the live set exactly")

    // metadata filter composes (exact path through the filter too)
    client.upsert("bc",
      Seq((key(999), code(999).toSeq, Map("grp" -> "x")))
        .toDF("key", "vec", "meta"))
    live = live + (key(999) -> code(999))
    val filtered = client.searchBinary("bc", q, k = 5,
        filter = Some(element_at(col("meta"), "grp") === "x"))
      .collect().map(_.getString(0)).toSeq
    assert(filtered == Seq(key(999)), s"filter must gate candidates: $filtered")

    // dropIndex: exact fallback, same answers, no cell layout in the plan
    client.dropIndex("bc")
    val dropped = client.searchBinary("bc", q, k = 10)
    assert(!dropped.queryExecution.executedPlan.toString.contains("centroidId"),
      "after dropIndex the exact scan must serve")
    assert(dropped.collect().map(_.getString(0)).toSeq == exactTopK(live, q, 10))

    assert(client.count("bc") == live.size)
    assert(client.drop("bc"))
  }

  test("stale index (crash-shaped: store moved, stamp behind) falls back " +
       "to the exact scan") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bs", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 2, buckets = 2,
      vectorType = "BINARY_VECTOR")
    client.upsert("bs",
      (0 until 50).map(i => (key(i), code(i).toSeq, Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    client.buildIndex("bs", nlist = 2)
    // simulate a crash mid-refresh: delete the VERSION stamp — the index
    // must read as stale and searches must serve the exact store scan
    val m = client.describe("bs")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"${m.dataPath}-ivf", "VERSION"))
    val live = (0 until 50).map(i => key(i) -> code(i)).toMap
    val q = code(3)
    val df = client.searchBinary("bs", q, k = 10, nprobe = 2)
    assert(!df.queryExecution.executedPlan.toString.contains("centroidId"),
      "a stale stamp must route to the exact scan")
    assert(df.collect().map(_.getString(0)).toSeq == exactTopK(live, q, 10))
  }

  test("jaccard FLAT collection: exact search in jaccard order") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bj", dim = dim, metric = "jaccard",
      buckets = 2, vectorType = "BINARY_VECTOR")
    val live = (0 until 60).map(i => key(i) -> code(i)).toMap
    client.upsert("bj",
      live.toSeq.map { case (k, c) => (k, c.toSeq, Map.empty[String, String]) }
        .toDF("key", "vec", "meta"))
    val q = code(2)
    def jac(a: Array[Long], b: Array[Long]): Double = {
      var inter = 0; var un = 0; var i = 0
      while (i < a.length) {
        inter += java.lang.Long.bitCount(a(i) & b(i))
        un += java.lang.Long.bitCount(a(i) | b(i))
        i += 1
      }
      if (un == 0) 0.0 else 1.0 - inter.toDouble / un
    }
    val expect = live.toSeq.map { case (k, c) => (jac(c, q), k) }
      .sortBy(identity).take(10).map(_._2)
    val got = client.searchBinary("bj", q, k = 10)
      .collect().map(_.getString(0)).toSeq
    assert(got == expect, s"jaccard order mismatch: $got vs $expect")
  }

  test("searchBinaryRange: lossless Hamming cell prune — indexed band == " +
       "exact band, maintained radii stay exact") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("br", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR")
    var live = (0 until 240).map(i => key(i) -> code(i)).toMap
    client.upsert("br",
      live.toSeq.map { case (k, c) => (k, c.toSeq, Map.empty[String, String]) }
        .toDF("key", "vec", "meta"))
    val q = bases(1) // cluster-1 center: members sit within ~3 bits
    def exactBand(r: Double): Seq[(String, Double)] =
      live.toSeq.map { case (kk, c) => (kk, hamming(c, q).toDouble) }
        .filter(_._2 < r).sortBy(p => (p._2, p._1))
    def got(r: Double): Seq[(String, Double)] =
      client.searchBinaryRange("br", q, radius = r)
        .collect().map(rr => (rr.getString(0), rr.getDouble(1))).toSeq
    // pre-index: exact scan band
    assert(got(5.0) == exactBand(5.0))
    client.buildIndex("br", nlist = 4)
    // indexed: the prune is LOSSLESS — identical band, served off the
    // cell layout (clusters sit ~64+ bits apart, so a 5-bit band around
    // cluster 1 proves the far cells prune without losing a row)
    val df = client.searchBinaryRange("br", q, radius = 5.0)
    assert(df.queryExecution.executedPlan.toString.contains("centroidId"),
      "indexed range search must read the cell layout")
    assert(got(5.0) == exactBand(5.0))
    assert(got(5.0).nonEmpty, "the band should hold cluster-1 members")
    // annulus form + limit
    val annulus = client.searchBinaryRange("br", q, radius = 5.0,
      rangeFilter = 1.0, limit = Some(7))
      .collect().map(rr => (rr.getString(0), rr.getDouble(1))).toSeq
    assert(annulus == exactBand(5.0).filter(_._2 >= 1.0).take(7))
    // maintenance keeps the radii exact: move a key INTO the band (its
    // old cell's radius must not leak; its new cell's must cover it)
    client.upsert("br",
      Seq((key(3), bases(1).toSeq, Map.empty[String, String]))
        .toDF("key", "vec", "meta")) // key 3 (cluster 3) becomes exactly q
    live = live + (key(3) -> bases(1))
    assert(got(5.0) == exactBand(5.0),
      "post-maintenance band must include the moved key at dist 0")
    // jaccard FLAT collections band exactly too (no index ever)
    client.createCollection("brj", dim = dim, metric = "jaccard",
      buckets = 2, vectorType = "BINARY_VECTOR")
    client.upsert("brj",
      (0 until 40).map(i => (key(i), code(i).toSeq, Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    val jgot = client.searchBinaryRange("brj", q, radius = 0.2)
      .collect().map(_.getString(0)).toSeq
    def jac(a: Array[Long], b: Array[Long]): Double = {
      var inter = 0; var un = 0; var i = 0
      while (i < a.length) {
        inter += java.lang.Long.bitCount(a(i) & b(i))
        un += java.lang.Long.bitCount(a(i) | b(i)); i += 1
      }
      if (un == 0) 0.0 else 1.0 - inter.toDouble / un
    }
    val jexp = (0 until 40).map(i => (key(i), jac(code(i), q)))
      .filter(_._2 < 0.2).sortBy(p => (p._2, p._1)).map(_._1)
    assert(jgot == jexp)
  }

  test("searchBinaryBatch == per-query searchBinary on both the cell " +
       "layout and the exact fallback") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bb", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR")
    client.upsert("bb",
      (0 until 200).map(i => (key(i), code(i).toSeq, Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    client.buildIndex("bb", nlist = 4)
    val qs = Seq(1, 2, 3).map(i => (i.toLong, code(i).toSeq))
    def batchHits(np: Int): Map[Long, Seq[String]] =
      client.searchBinaryBatch("bb", qs.toDF("qid", "qcodes"), k = 8,
          nprobe = np)
        .collect().groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getString(1)).toSeq }
    def singleHits(np: Int): Map[Long, Seq[String]] =
      qs.map { case (qid, c) =>
        qid -> client.searchBinary("bb", c.toArray, k = 8, nprobe = np)
          .collect().map(_.getString(0)).toSeq
      }.toMap
    // fresh index, pruned probe: batch == per-query at the same nprobe
    assert(batchHits(1) == singleHits(1))
    assert(batchHits(4) == singleHits(4))
    // exact fallback (index dropped): same parity through the product arm
    client.dropIndex("bb")
    assert(batchHits(4) == singleHits(4))
    // wrong query word count raises
    intercept[Exception] {
      client.searchBinaryBatch("bb",
        Seq((0L, Seq(1L))).toDF("qid", "qcodes"), k = 2).collect()
    }
  }

  test("indexStats on BIN_IVF_FLAT: fresh across appended commits, the base " +
       "cells' Hamming radii, and counts that include the delta") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bs", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4, vectorType = "BINARY_VECTOR")
    def put(is: Seq[Int]): Unit = client.upsert("bs",
      is.map(i => (key(i), code(i).toSeq, Map.empty[String, String])).toDF("key", "vec", "meta"))
    put(0 until 80)
    client.buildIndex("bs", nlist = 4)
    // two new keys and one delete, far below the tail ratio: both commits
    // append a delta segment and leave the base cells as built
    put(Seq(80, 81))
    client.deleteByKeys("bs", Seq(key(3)))
    val ivf = java.nio.file.Paths.get(client.describe("bs").dataPath + "-ivf")
    assert(new String(java.nio.file.Files.readAllBytes(ivf.resolve("DELTA")))
      .split("\n").count(_.startsWith("segment ")) == 2, "no commit may fold")

    // brute force over the base cells: each cell's largest Hamming
    // distance to its frozen center
    val centers = spark.read.parquet(ivf.resolve("bin_centroids").toString).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    val radii = spark.read.parquet(ivf.resolve("cells").toString)
      .select("centroidId", "vec").collect()
      .groupMapReduce(_.getInt(0))(r => hamming(r.getSeq[Long](1).toArray,
        centers(r.getInt(0))).toDouble)(math.max)
    val stats = client.indexStats("bs").collect()
    assert(stats.map(_.getAs[Int]("centroidId")).toSeq == (0 until 4))
    stats.foreach { r =>
      val cell = r.getAs[Int]("centroidId")
      assert(r.getAs[Boolean]("fresh"), s"cell $cell must read fresh")
      assert(Option(r.getAs[java.lang.Double]("radius")).map(_.doubleValue) == radii.get(cell),
        s"cell $cell radius")
    }
    assert(stats.map(_.getAs[Long]("n_rows")).sum == client.count("bs"))
    assert(client.count("bs") == 81)
  }

  test("create/write/search boundary validation") {
    import spark.implicits._
    val client = mkClient()
    // dim must be a multiple of 8 (Milvus binary contract)
    intercept[IllegalArgumentException] {
      client.createCollection("bv1", dim = 100, metric = "hamming",
        vectorType = "BINARY_VECTOR")
    }
    // BIN_IVF_FLAT prunes Hamming space — jaccard collections stay FLAT
    intercept[IllegalArgumentException] {
      client.createCollection("bv2", dim = dim, metric = "jaccard",
        indexType = "BIN_IVF_FLAT", vectorType = "BINARY_VECTOR")
    }
    // float metrics/index types refuse on binary, and vice versa
    intercept[IllegalArgumentException] {
      client.createCollection("bv3", dim = dim, metric = "l2",
        vectorType = "BINARY_VECTOR")
    }
    intercept[IllegalArgumentException] {
      client.createCollection("bv4", dim = dim, metric = "hamming",
        vectorType = "FLOAT_VECTOR")
    }

    client.createCollection("bv", dim = 72, metric = "hamming",
      buckets = 2, vectorType = "BINARY_VECTOR") // 72 bits -> 2 words
    // wrong word count raises at the write boundary
    intercept[Exception] {
      client.upsert("bv", Seq(("a", Seq(1L), Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    }
    // pad bits past dim (72 % 64 = 8 -> bits 8..63 of word 2) must be zero
    intercept[Exception] {
      client.upsert("bv",
        Seq(("a", Seq(0L, 1L << 9), Map.empty[String, String]))
          .toDF("key", "vec", "meta"))
    }
    // a legal row: bit 71 = bit 7 of word 2
    client.upsert("bv",
      Seq(("a", Seq(5L, 1L << 7), Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    assert(client.count("bv") == 1)

    // float query surfaces refuse binary collections, by name
    val e1 = intercept[IllegalArgumentException] {
      client.search("bv", Array.fill(72)(0.0f), k = 1)
    }
    assert(e1.getMessage.contains("searchBinary"))
    intercept[IllegalArgumentException] {
      client.searchIterator("bv", Array.fill(72)(0.0f), batchSize = 10)
    }
    // searchBinary refuses float collections, and checks word counts
    client.createCollection("fv", dim = 4, buckets = 2)
    intercept[IllegalArgumentException] {
      client.searchBinary("fv", Array(0L), k = 1)
    }
    intercept[IllegalArgumentException] {
      client.searchBinary("bv", Array(0L), k = 1) // needs 2 words
    }
    // startIngest refuses binary collections up front (embedders emit
    // float vectors — failing at the write boundary would be far from
    // the cause)
    val e2 = intercept[IllegalArgumentException] {
      client.startIngest("bv",
        java.nio.file.Files.createTempDirectory("bv-landing").toString,
        Seq(("k", "t")).toDF("key", "text"))
    }
    assert(e2.getMessage.contains("startIngest"))
    // consistency levels ride searchBinary like the float search:
    // Session's covers-own-writes assertion applies, unknown levels refuse
    client.searchBinary("bv", Array(5L, 1L << 7), k = 1,
      consistencyLevel = "Session").collect()
    intercept[IllegalArgumentException] {
      client.searchBinary("bv", Array(5L, 1L << 7), k = 1,
        consistencyLevel = "Sloppy")
    }
  }

  test("searchBinaryIterator: exact-order unbounded drain (key for key), " +
       "pinned-snapshot drift contract") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bi", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR")
    var live = (0 until 240).map(i => key(i) -> code(i)).toMap
    client.upsert("bi",
      live.toSeq.map { case (k, c) => (k, c.toSeq, Map.empty[String, String]) }
        .toDF("key", "vec", "meta"))
    client.buildIndex("bi", nlist = 4)
    val q = bases(0)
    def expectOrder(l: Map[String, Array[Long]]): Seq[(Double, String)] =
      l.toSeq.map { case (k, c) => (hamming(c, q).toDouble, k) }.sorted
    // the FULL drain must equal the brute-force total ordering key for
    // key — pages cross cluster boundaries, so the deep-page cell skip
    // (cells whose max distance sort below the cursor) is exercised and
    // must lose nothing
    val drained = client.searchBinaryIterator("bi", q, batchSize = 37)
      .flatMap(_.map(r => (r.getDouble(1), r.getString(0)))).toSeq
    assert(drained == expectOrder(live),
      s"drain diverged at ${drained.zip(expectOrder(live)).indexWhere(p => p._1 != p._2)}")
    // mid-drain commit: next page raises without drift consent
    val it = client.searchBinaryIterator("bi", q, batchSize = 20)
    it.next()
    client.upsert("bi",
      Seq((key(900), code(900).toSeq, Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    live = live + (key(900) -> code(900))
    intercept[java.util.ConcurrentModificationException] { it.next() }
    // a fresh iterator covers the new snapshot; with drift consent it
    // keeps covering ITS pinned snapshot across a later commit
    val it2 = client.searchBinaryIterator("bi", q, batchSize = 64,
      allowDrift = true)
    val preCommitLive = live
    val first = it2.next().map(r => (r.getDouble(1), r.getString(0)))
    client.deleteByKeys("bi", Seq(key(0)))
    live = live - key(0)
    val rest = it2.flatMap(_.map(r => (r.getDouble(1), r.getString(0)))).toSeq
    assert((first ++ rest) == expectOrder(preCommitLive),
      "drift-consented drain must cover the PINNED snapshot exactly")
  }

  test("estimateRecallBinary: full probe is ground truth; pruned recall " +
       "1.0 on planted clusters at nprobe=1") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("er", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR")
    client.upsert("er",
      (0 until 200).map(i => (key(i), code(i).toSeq, Map.empty[String, String]))
        .toDF("key", "vec", "meta"))
    // no fresh index yet: refused loudly (pruned == exact would be vacuous)
    intercept[IllegalStateException] {
      client.estimateRecallBinary("er", k = 5, nprobe = 1)
    }
    client.buildIndex("er", nlist = 4)
    // 4 planted clusters, 4 cells: nprobe=1 recall is HIGH but not
    // necessarily 1.0 — k-majority seeding (first 4 distinct patterns
    // in hash order) can split one cluster across two cells, and a
    // 1-cell probe then sees half of the query's cluster (deterministic
    // here: 0.85). Full probe is ground truth, so nprobe = nlist must
    // be exactly 1.0 by construction.
    val r1 = client.estimateRecallBinary("er", k = 5, nprobe = 1,
      sampleQueries = 8)
    assert(r1 >= 0.8, s"nprobe=1 recall on planted clusters: $r1")
    assert(client.estimateRecallBinary("er", k = 5, nprobe = 4,
      sampleQueries = 8) == 1.0)
  }

  test("searchBinaryGrouped: top-k groups by best distance, groupSize " +
       "hits per group, full probe == driver model") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bg", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR")
    val live = (0 until 200).map(i => key(i) -> code(i)).toMap
    def band(k: String) = if (k.drop(1).toInt % 3 == 0) "a"
                          else if (k.drop(1).toInt % 3 == 1) "b" else "c"
    client.upsert("bg", live.toSeq.map { case (k, c) =>
      (k, c.toSeq, Map("band" -> band(k))) }.toDF("key", "vec", "meta"))
    client.buildIndex("bg", nlist = 4)
    val q = code(1)
    val model: Seq[(String, Long, Long, String)] = live
      .groupBy { case (k, _) => band(k) }.toSeq
      .map { case (g, docs) =>
        (g, docs.toSeq.map { case (kk, c) => (hamming(c, q), kk) }
          .sortBy(identity).take(2)) }
      .sortBy { case (g, hs) => (hs.head._1, g) }
      .take(2)
      .zipWithIndex.flatMap { case ((g, hs), gi) =>
        hs.zipWithIndex.map { case ((_, kk), ri) =>
          (g, (gi + 1).toLong, (ri + 1).toLong, kk) }
      }
    val got = client.searchBinaryGrouped("bg", q, k = 2,
        groupByKey = "band", groupSize = 2, nprobe = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == model)
  }

  test("searchBinaryMilvus: filter-string grammar with TEXT_MATCH gates " +
       "binds the packed-words family") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("bm", dim = dim, metric = "hamming",
      indexType = "BIN_IVF_FLAT", nlist = 4, buckets = 4,
      vectorType = "BINARY_VECTOR")
    val live = (0 until 150).map(i => key(i) -> code(i)).toMap
    def band(k: String) = if (k.drop(1).toInt % 2 == 0) "even" else "odd"
    client.upsert("bm", live.toSeq.map { case (k, c) =>
      (k, c.toSeq, Map("band" -> band(k))) }.toDF("key", "vec", "meta"))
    // text: token w<i%5> — TEXT_MATCH(text, 'w1') keeps i%5 == 1
    client.buildTextIndex("bm", live.keys.toSeq.sorted.map { k =>
      (k, s"w${k.drop(1).toInt % 5} common") }.toDF("key", "text"))
    client.buildIndex("bm", nlist = 4)
    val q = code(1)
    val want = live.filter { case (k, _) =>
      k.drop(1).toInt % 5 == 1 && k.drop(1).toInt % 2 == 1 }
    val got = client.searchBinaryMilvus("bm", q, k = 6,
        filter = """TEXT_MATCH(text, "w1") && band == "odd"""", nprobe = 4)
      .collect().map(_.getString(0)).toSeq
    assert(got == exactTopK(want, q, 6))
  }
}
