package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient
import graft.index.VecField

/** The index readers REQUIRE every artifact a current build writes (the
  * probe table, cell radii, binary radii, `pq_recon`, `hnsw_meta`, the
  * `DELTA` bookkeeping and every delta segment it names): a stamped index
  * without one raises a missing-artifact error instead of serving a
  * fallback. This spec pins the writer side of that contract — every
  * build, maintained commit and rebucket leaves each artifact in place —
  * and the crash side: a failure between the artifact writes and the
  * VERSION stamp (in a build, a segment append or a fold) leaves an
  * unstamped or stale index, which answers exactly through the snapshot
  * scan rather than raising. */
class IndexArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("index-artifacts-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private final class InjectedCrash
      extends RuntimeException("injected crash before the VERSION stamp")

  /** A client whose vector-index stamp throws while `armed`. */
  private final class CrashingClient(root: String) extends GraftClient(spark, root) {
    @volatile var armed = false
    override protected def beforeIndexStamp(): Unit =
      if (armed) throw new InjectedCrash
  }

  private case class Family(indexType: String, binary: Boolean,
                            artifacts: Seq[String])

  private val families = Seq(
    Family("IVF_FLAT", binary = false,
      Seq("cells", "centroids", "probe_centroids", "cell_radii", "DELTA")),
    Family("IVF_SQ8", binary = false,
      Seq("cells", "centroids", "probe_centroids", "cell_radii", "sq8cells", "DELTA")),
    Family("IVF_PQ", binary = false,
      Seq("cells", "centroids", "probe_centroids", "cell_radii", "pqcells",
        "pq_codebooks", "pq_recon", "DELTA")),
    Family("HNSW", binary = false, Seq("hnsw_graphs", "hnsw_meta")),
    Family("BIN_IVF_FLAT", binary = true,
      Seq("cells", "bin_centroids", "bin_radii", "DELTA")))

  /** The families table's index types plus SPARSE_INVERTED_INDEX — the
    * four vector index families — each pinned on the primary vector and
    * on an extra field `f2` of the same family and index type. */
  private val lifecycleTypes = families.map(_.indexType) :+ "SPARSE_INVERTED_INDEX"

  /** Each index type's describe_index params on the primary, then on
    * `f2`: the create-time values (nlist 4, the primary's pqNbits 4; a
    * field takes the family defaults). */
  private val lifecycleParams = Map(
    "IVF_FLAT" -> Seq("""{"nlist":4}""", """{"nlist":4}"""),
    "IVF_SQ8" -> Seq("""{"nlist":4}""", """{"nlist":4}"""),
    "IVF_PQ" -> Seq("""{"nlist":4,"m":4,"nbits":4}""", """{"nlist":4,"m":4,"nbits":8}"""),
    "HNSW" -> Seq("""{"M":16,"efConstruction":200}""", """{"M":16,"efConstruction":200}"""),
    "BIN_IVF_FLAT" -> Seq("""{"nlist":4}""", """{"nlist":4}"""),
    "SPARSE_INVERTED_INDEX" -> Seq("""{"metric":"dot"}""", """{"metric":"dot"}"""))

  /** Each index type's compact detail on the primary, then on `f2`. */
  private val lifecycleCompact = Map(
    "HNSW" -> ("hnsw", Seq("tail folded", "f2 tail folded")),
    "SPARSE_INVERTED_INDEX" -> ("sparse_inverted", Seq("-", "f2")))
      .withDefaultValue(("ivf", Seq("delta folded", "f2 delta folded")))

  private def sparseVec(seed: Int): Map[Long, Double] =
    Map((seed % 7).toLong -> (1.0 + seed % 3), (20 + seed % 11).toLong -> 2.0)

  /** (key, vec, f2, meta) rows of index type `it`'s family. */
  private def lifecycleRows(it: String, seeds: Seq[Int]): DataFrame = {
    import spark.implicits._
    val k = (s: Int) => f"k$s%03d"
    val meta = Map.empty[String, String]
    it match {
      case "BIN_IVF_FLAT" =>
        seeds.map(s => (k(s), binVec(s), binVec(s + 500), meta)).toDF("key", "vec", "f2", "meta")
      case "SPARSE_INVERTED_INDEX" =>
        seeds.map(s => (k(s), sparseVec(s), sparseVec(s + 500), meta))
          .toDF("key", "vec", "f2", "meta")
      case _ =>
        seeds.map(s => (k(s), floatVec(s), floatVec(s + 500), meta)).toDF("key", "vec", "f2", "meta")
    }
  }

  private def floatVec(seed: Int): Seq[Float] = {
    val r = new scala.util.Random(seed)
    Seq.fill(8)(r.nextFloat())
  }

  private def binVec(seed: Int): Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(2)(r.nextLong())
  }

  private def create(c: GraftClient, f: Family): Unit =
    if (f.binary)
      c.createCollection("c", dim = 128, metric = "hamming",
        indexType = f.indexType, nlist = 4, buckets = 4,
        vectorType = "BINARY_VECTOR")
    else
      c.createCollection("c", dim = 8, indexType = f.indexType, nlist = 4,
        buckets = 4, pqNbits = if (f.indexType == "IVF_PQ") 4 else 8)

  /** Upserts (key, seed) rows — the seed determines the vector. */
  private def upsert(c: GraftClient, f: Family, rows: Seq[(String, Int)]): Unit = {
    import spark.implicits._
    val df: DataFrame =
      if (f.binary) rows.map { case (k, s) => (k, binVec(s), Map.empty[String, String]) }
        .toDF("key", "vec", "meta")
      else rows.map { case (k, s) => (k, floatVec(s), Map.empty[String, String]) }
        .toDF("key", "vec", "meta")
    c.upsert("c", df)
  }

  /** Every live key with its distance to query seed `q`, in (distance,
    * key) order. */
  private def ranked(f: Family, live: Map[String, Int], q: Int): Seq[(Double, String)] =
    live.toSeq.map { case (k, s) =>
      val d =
        if (f.binary) binVec(s).zip(binVec(q))
          .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum.toDouble
        else math.sqrt(floatVec(s).zip(floatVec(q))
          .map { case (a, b) => val x = a.toDouble - b; x * x }.sum)
      (d, k)
    }.sorted

  /** Brute-force top-10 keys over the live model, (distance, key) order. */
  private def exactTop(f: Family, live: Map[String, Int], q: Int): Seq[String] =
    ranked(f, live, q).take(10).map(_._2)

  private def searchTop(c: GraftClient, f: Family, q: Int): Seq[String] = {
    val df =
      if (f.binary) c.searchBinary("c", binVec(q).toArray, k = 10)
      else c.search("c", floatVec(q).toArray, k = 10)
    df.collect().map(_.getString(0)).toSeq
  }

  /** Top-k, range (the 10 nearest), batch and a drained iterator all
    * equal brute force for query seed `q`. */
  private def surfacesExact(c: GraftClient, f: Family, live: Map[String, Int],
      q: Int, what: String): Unit = {
    import spark.implicits._
    val byDist = ranked(f, live, q)
    val all = byDist.map(_._2)
    // range: every row as near as the 10th, the radius halfway to the next
    val cut = byDist(9)._1
    val inRange = byDist.takeWhile(_._1 <= cut).map(_._2)
    val radius = (cut + byDist.map(_._1).find(_ > cut).getOrElse(cut + 1)) / 2
    val keys = (df: DataFrame) => df.collect().map(_.getString(1)).toSeq
    val (range, batch, drained) =
      if (f.binary) {
        val qa = binVec(q).toArray
        (c.searchBinaryRange("c", qa, radius),
          c.searchBinaryBatch("c", Seq((1L, qa.toSeq)).toDF("qid", "qcodes"), k = 10),
          c.searchBinaryIterator("c", qa, batchSize = 50))
      } else {
        val qa = floatVec(q).toArray
        (c.searchRange("c", qa, radius),
          c.searchBatch("c", Seq((1L, qa.toSeq)).toDF("qid", "qvec"), k = 10),
          c.searchIterator("c", qa, batchSize = 50))
      }
    assert(searchTop(c, f, q) == all.take(10), s"${f.indexType} $what: top-k (q=$q)")
    assert(range.collect().map(_.getString(0)).toSeq == inRange,
      s"${f.indexType} $what: range (q=$q)")
    assert(keys(batch) == all.take(10), s"${f.indexType} $what: batch (q=$q)")
    assert(drained.flatten.map(_.getString(0)).toSeq == all,
      s"${f.indexType} $what: iterator (q=$q)")
  }

  /** The segments the DELTA bookkeeping names, as index-dir paths. */
  private def namedSegments(c: GraftClient): Seq[java.nio.file.Path] =
    new String(java.nio.file.Files.readAllBytes(ivfDir(c).resolve("DELTA")))
      .split("\n").toSeq.filter(_.startsWith("segment ")).flatMap { l =>
        val w = l.split(" ")
        w.drop(2).map(layout => ivfDir(c).resolve(f"delta/$layout-${w(1).toLong}%08d"))
      }

  private def ivfDir(c: GraftClient): java.nio.file.Path =
    java.nio.file.Paths.get(s"${c.describe("c").dataPath}-ivf")

  private def stamped(c: GraftClient): Boolean =
    java.nio.file.Files.exists(ivfDir(c).resolve("VERSION"))

  private def fresh(c: GraftClient): Boolean =
    c.listIndexes("c").collect()
      .exists(r => r.getString(1) == "vec" && r.getBoolean(2))

  private def assertArtifacts(c: GraftClient, f: Family, when: String): Unit = {
    assert(stamped(c), s"${f.indexType} $when: no VERSION stamp")
    f.artifacts.foreach { a =>
      assert(java.nio.file.Files.exists(ivfDir(c).resolve(a)),
        s"${f.indexType} $when: stamped index lacks $a")
    }
    assert(fresh(c), s"${f.indexType} $when: index must read fresh")
  }

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("index-artifacts").toString

  test("every build, maintained commit and rebucket leaves each required artifact") {
    families.foreach { f =>
      val c = new GraftClient(spark, newRoot())
      create(c, f)
      var live = (0 until 120).map(i => f"k$i%03d" -> i).toMap
      upsert(c, f, live.toSeq)
      c.buildIndex("c", nlist = 4)
      assertArtifacts(c, f, "after buildIndex")

      // 5 new keys, 5 overwrites, then 3 deletes: two maintained commits
      val batch = (120 until 125).map(i => f"k$i%03d" -> i) ++
        (0 until 5).map(i => f"k$i%03d" -> (1000 + i))
      upsert(c, f, batch)
      c.deleteByKeys("c", Seq("k010", "k011", "k012"))
      live = live ++ batch -- Seq("k010", "k011", "k012")
      assertArtifacts(c, f, "after a maintained upsert + delete")
      if (f.indexType != "HNSW") {
        val segments = namedSegments(c)
        assert(segments.size >= 2, s"${f.indexType}: both commits append a segment")
        segments.foreach(p => assert(java.nio.file.Files.exists(p),
          s"${f.indexType}: the stamp names $p but it is missing"))
      }

      // rebucket re-homes the store and drops the index: nothing stamped
      // is left behind without its artifacts, and a rebuild has them all
      c.rebucket("c", 8)
      assert(!stamped(c), s"${f.indexType}: rebucket must not leave a stamp")
      assert(searchTop(c, f, 7) == exactTop(f, live, 7))
      c.buildIndex("c", nlist = 4)
      assertArtifacts(c, f, "after rebucket + buildIndex")
    }
  }

  test("a crash between the artifact writes and the VERSION stamp reads as " +
       "stale (exact answers), not as a missing artifact") {
    families.foreach { f =>
      val c = new CrashingClient(newRoot())
      create(c, f)
      var live = (0 until 120).map(i => f"k$i%03d" -> i).toMap
      upsert(c, f, live.toSeq)

      // a first build dies before its stamp: unstamped → exact scan
      c.armed = true
      intercept[InjectedCrash](c.buildIndex("c", nlist = 4))
      c.armed = false
      assert(!stamped(c) && !fresh(c))
      Seq(3, 77).foreach(q =>
        assert(searchTop(c, f, q) == exactTop(f, live, q),
          s"${f.indexType}: unstamped build must answer exactly (q=$q)"))

      if (f.indexType != "HNSW") { // HNSW commits do not restamp
        c.buildIndex("c", nlist = 4)
        assert(fresh(c))
        // a maintenance refresh dies before its stamp: the store commit
        // is published, the index stays at the old stamp → stale
        val batch = (120 until 130).map(i => f"k$i%03d" -> i) :+ ("k000" -> 500)
        c.armed = true
        intercept[InjectedCrash](upsert(c, f, batch))
        c.armed = false
        live = live ++ batch
        assert(!fresh(c), s"${f.indexType}: a crashed refresh must read stale")
        Seq(3, 77, 500).foreach(q =>
          surfacesExact(c, f, live, q, "after a crashed segment append"))
        // the next commit succeeds and the index stays stale, not wrong
        c.deleteByKeys("c", Seq("k001"))
        live = live - "k001"
        assert(!fresh(c))
        assert(searchTop(c, f, 1) == exactTop(f, live, 1))

        // the same through a FOLD: a batch past the tail ratio (24 of
        // the 120-odd base rows) folds, and dies before its stamp
        c.buildIndex("c", nlist = 4)
        val folding = (200 until 230).map(i => f"k$i%03d" -> i)
        c.armed = true
        intercept[InjectedCrash](upsert(c, f, folding))
        c.armed = false
        live = live ++ folding
        assert(!fresh(c), s"${f.indexType}: a crashed fold must read stale")
        Seq(3, 77, 215).foreach(q => surfacesExact(c, f, live, q, "after a crashed fold"))
        upsert(c, f, Seq("k002" -> 600))
        live = live + ("k002" -> 600)
        assert(!fresh(c))
        surfacesExact(c, f, live, 600, "after the commit following a crashed fold")
      }
      // buildIndex is the recovery
      c.buildIndex("c", nlist = 4)
      assertArtifacts(c, f, "after the recovery build")
      if (f.indexType != "HNSW") surfacesExact(c, f, live, 77, "after the recovery build")
    }
  }

  test("listIndexes and compact rows of every family, on the primary and on " +
       "an extra field") {
    lifecycleTypes.foreach { it =>
      val c = new GraftClient(spark, newRoot())
      val (vectorType, metric, dim) = it match {
        case "BIN_IVF_FLAT" => ("BINARY_VECTOR", "hamming", 128)
        case "SPARSE_INVERTED_INDEX" => ("SPARSE_FLOAT_VECTOR", "dot", 0)
        case _ => ("FLOAT_VECTOR", "l2", 8)
      }
      c.createCollection("c", dim = dim, metric = metric, indexType = it, nlist = 4,
        buckets = 4, pqNbits = if (it == "IVF_PQ") 4 else 8, vectorType = vectorType,
        vectorFields = Seq(VecField("f2", dim, metric, it, family = vectorType)))
      c.upsert("c", lifecycleRows(it, 0 until 40))
      c.buildIndex("c", nlist = 4)
      c.buildIndex("c", nlist = 4, field = "f2")
      val expected = Seq("vec", "f2").zip(lifecycleParams(it)).map { case (field, params) =>
        (it, field, true, params) }
      def rows(): Seq[(String, String, Boolean, String)] = c.listIndexes("c").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(5))).toSeq
      assert(rows() == expected, s"$it after the builds")
      // one new key: far below the tail ratio, so every family appends
      c.upsert("c", lifecycleRows(it, Seq(40)))
      assert(rows() == expected, s"$it after a non-folding commit")
      val (artifact, details) = lifecycleCompact(it)
      assert(c.compact("c") == details.map(d => ("_default", artifact, d)), s"$it compact")
    }
  }

  test("a stamped index missing a required artifact raises the missing-artifact error") {
    Seq("IVF_FLAT" -> "cell_radii", "HNSW" -> "hnsw_meta",
        "BIN_IVF_FLAT" -> "bin_radii").foreach { case (it, artifact) =>
      val f = families.find(_.indexType == it).get
      val root = newRoot()
      val c = new GraftClient(spark, root)
      create(c, f)
      upsert(c, f, (0 until 60).map(i => f"k$i%03d" -> i))
      c.buildIndex("c", nlist = 4)
      val path = ivfDir(c).resolve(artifact)
      graft.streaming.BucketedKeyedCollection.deleteTree(path)
      // a new client: nothing of the index is cached yet. Binary top-k
      // needs no radii, so the binary family reads them through its
      // range search
      val fresh = new GraftClient(spark, root)
      val e = intercept[IllegalStateException](
        if (f.binary)
          fresh.searchBinaryRange("c", binVec(3).toArray, radius = 64).collect()
        else searchTop(fresh, f, 3))
      assert(e.getMessage.contains(path.toString) &&
        e.getMessage.contains("rebuild the index"), s"$it: ${e.getMessage}")
    }
  }

  test("a stamped index missing a delta segment its DELTA names raises the " +
       "missing-artifact error") {
    Seq("IVF_SQ8", "BIN_IVF_FLAT").foreach { it =>
      val f = families.find(_.indexType == it).get
      val root = newRoot()
      val c = new GraftClient(spark, root)
      create(c, f)
      upsert(c, f, (0 until 60).map(i => f"k$i%03d" -> i))
      c.buildIndex("c", nlist = 4)
      upsert(c, f, Seq("k001" -> 500, "k100" -> 100))
      val segments = namedSegments(c)
      assert(segments.nonEmpty, s"$it: the commit must append a segment")
      segments.foreach { path =>
        val saved = java.nio.file.Files.createTempDirectory("segment").resolve("s")
        java.nio.file.Files.move(path, saved)
        try {
          val e = intercept[IllegalStateException](searchTop(new GraftClient(spark, root), f, 3))
          assert(e.getMessage.contains(path.toString) &&
            e.getMessage.contains("rebuild the index"), s"$it: ${e.getMessage}")
        } finally java.nio.file.Files.move(saved, path)
      }
      assert(searchTop(new GraftClient(spark, root), f, 3) ==
        exactTop(f, (0 until 60).map(i => f"k$i%03d" -> i).toMap ++
          Map("k001" -> 500, "k100" -> 100), 3))
    }
  }
}
