package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient

/** SPARSE_FLOAT_VECTOR as a first-class client collection family (Milvus
  * `DataType.SPARSE_FLOAT_VECTOR` — the SPLADE/lexical vector type,
  * SURVEY B7): the full create → upsert (maps through the keyed store) →
  * buildIndex("SPARSE_INVERTED_INDEX") → searchSparse lifecycle with
  * AUTO-maintained postings (the store owns the vectors, so merge
  * commits derive their own deltas — the attached family can't), the
  * exact map-lookup fallback, cosine, the search envelope
  * (filter/offset/output_fields/drop_ratio_search), and the create/write
  * boundary validation. */
class SparseClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("sparse-client-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // Deterministic sparse vectors over four disjoint dim bands (so a
  // doc's map never self-collides): shared head dims the query overlaps,
  // plus one unique tail dim per doc.
  private def svec(i: Int): Map[Long, Double] = Map(
    (i % 7).toLong -> (1.0 + (i % 5)),
    (10 + i % 11).toLong -> (0.5 + (i % 3)),
    (30 + i % 13).toLong -> 2.0,
    (100 + i).toLong -> 1.5)

  private def key(i: Int): String = f"s$i%04d"

  private val q: Seq[(Long, Double)] =
    Seq(0L -> 2.0, 3L -> 1.0, 12L -> 3.0, 31L -> 0.5, 999L -> 4.0)

  private def dot(v: Map[Long, Double], qq: Seq[(Long, Double)]): Double =
    qq.map { case (d, w) => v.getOrElse(d, 0.0) * w }.sum

  private def norm(v: Iterable[Double]): Double =
    math.sqrt(v.map(x => x * x).sum)

  /** Driver-side ground truth: docs sharing ≥1 query dim, scored by the
    * collection metric, ordered (score DESC, key). */
  private def exactTop(live: Map[String, Map[Long, Double]],
                       qq: Seq[(Long, Double)], k: Int,
                       metric: String = "dot"): Seq[(String, Double)] =
    live.toSeq
      .filter { case (_, v) => qq.exists { case (d, _) => v.contains(d) } }
      .map { case (kk, v) =>
        val s = metric match {
          case "dot" => dot(v, qq)
          case _ => dot(v, qq) / (norm(v.values) * norm(qq.map(_._2)))
        }
        (kk, s)
      }
      .sortBy { case (kk, s) => (-s, kk) }
      .take(k)

  private def mkClient(): (GraftClient, String) = {
    val root = java.nio.file.Files.createTempDirectory("sparse-client").toString
    (new GraftClient(spark, root), root)
  }

  private def upsertRows(client: GraftClient, name: String,
                         rows: Seq[(String, Map[Long, Double])]): Unit = {
    import spark.implicits._
    client.upsert(name, rows.map { case (k, v) =>
      (k, v, Map("band" -> (if (k.drop(1).toInt % 2 == 0) "even" else "odd")))
    }.toDF("key", "vec", "meta"))
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0),
      math.rint(r.getDouble(1) * 1e9) / 1e9)).toSeq

  private def expect(model: Seq[(String, Double)]): Seq[(String, Double)] =
    model.map { case (k, s) => (k, math.rint(s * 1e9) / 1e9) }

  test("SPARSE_INVERTED_INDEX lifecycle: exact before build, index-served " +
       "after, auto-maintained across upsert+delete, dropIndex falls back") {
    val (client, root) = mkClient()
    assert(client.createCollection("sc", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR"))
    assert(client.describe("sc").vectorType == "SPARSE_FLOAT_VECTOR")

    var live = (0 until 200).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "sc", live.toSeq)

    // no index yet: exact map-lookup scan, and listIndexes shows none
    assert(client.listIndexes("sc")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX").count() == 0)
    assert(hits(client.searchSparse("sc", q, k = 10)) ==
      expect(exactTop(live, q, 10)))

    client.buildIndex("sc", nlist = 8)
    val idx = client.listIndexes("sc")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX").collect()
    assert(idx.length == 1 && idx.head.getBoolean(2), "index must be FRESH")
    val served = client.searchSparse("sc", q, k = 10)
    assert(served.queryExecution.executedPlan.toString.contains("In(dim"),
      "fresh-index search must read the postings layout")
    assert(hits(served) == expect(exactTop(live, q, 10)))

    // merge commits auto-maintain: new docs, changed weights, deletes
    val changed = (0 until 5).map(i => key(i) -> svec(i + 1000))
    val added = (200 until 230).map(i => key(i) -> svec(i))
    upsertRows(client, "sc", changed ++ added)
    live = live ++ changed ++ added
    client.deleteByKeys("sc", (50 until 60).map(key))
    live = live -- (50 until 60).map(key)
    val idx2 = client.listIndexes("sc")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX").collect()
    assert(idx2.head.getBoolean(2),
      "auto-maintenance must keep the index FRESH across upsert+delete")
    val served2 = client.searchSparse("sc", q, k = 12)
    assert(served2.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(hits(served2) == expect(exactTop(live, q, 12)),
      "index-served results must track the churned live set exactly")

    // dropIndex: back to the exact scan, same answers
    client.dropIndex("sc")
    val after = client.searchSparse("sc", q, k = 12)
    assert(!after.queryExecution.executedPlan.toString.contains("In(dim"))
    assert(hits(after) == expect(exactTop(live, q, 12)))
  }

  test("cosine collection: exact and index-served rankings match the model") {
    val (client, _) = mkClient()
    client.createCollection("cc", dim = 0, metric = "cosine",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 120).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "cc", live.toSeq)
    val model = expect(exactTop(live, q, 8, "cosine"))
    assert(hits(client.searchSparse("cc", q, k = 8, metric = "cosine")) == model)
    client.buildIndex("cc", nlist = 4)
    assert(hits(client.searchSparse("cc", q, k = 8, metric = "cosine")) == model)
    // the create-time metric is the contract — a mismatched param refuses
    val e = intercept[IllegalArgumentException] {
      client.searchSparse("cc", q, k = 8, metric = "dot") }
    assert(e.getMessage.contains("fixed at create"))
  }

  test("search envelope: filter gates both arms, offset pages exactly, " +
       "output_fields projects metadata") {
    val (client, _) = mkClient()
    client.createCollection("se", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 150).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "se", live.toSeq)
    val evens = live.filter { case (k, _) => k.drop(1).toInt % 2 == 0 }
    val f = Some(element_at(col("meta"), "band") === "even")
    // exact arm
    assert(hits(client.searchSparse("se", q, k = 7, filter = f)) ==
      expect(exactTop(evens, q, 7)))
    client.buildIndex("se", nlist = 8)
    // index arm: gate + deepen
    assert(hits(client.searchSparse("se", q, k = 7, filter = f)) ==
      expect(exactTop(evens, q, 7)))
    // offset: page 2 of the unfiltered ranking
    val page2 = expect(exactTop(live, q, 20)).slice(10, 20)
    assert(hits(client.searchSparse("se", q, k = 10, offset = 10)) == page2)
    // output_fields: (vector_key, score, band)
    val of = client.searchSparse("se", q, k = 3, outputFields = Seq("band"))
    assert(of.columns.toSeq == Seq("vector_key", "score", "band"))
    assert(of.collect().forall(r => Set("even", "odd")(r.getString(2))))
  }

  test("drop_ratio_search drops the smallest-|w| query terms only") {
    val (client, _) = mkClient()
    client.createCollection("dr", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 100).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "dr", live.toSeq)
    client.buildIndex("dr", nlist = 4)
    // q sorted by |w| desc: 999→4.0, 12→3.0, 0→2.0, 3→1.0, 31→0.5;
    // ratio 0.4 drops floor(5*0.4)=2 smallest → keep (999,12,0)
    val kept = q.sortBy { case (d, w) => (-math.abs(w), d) }.take(3)
    assert(hits(client.searchSparse("dr", q, k = 10, dropRatioSearch = 0.4)) ==
      expect(exactTop(live, kept, 10)))
  }

  test("crash-shaped staleness: a stale stamp falls back to the exact scan") {
    val (client, root) = mkClient()
    client.createCollection("st", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 80).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "st", live.toSeq)
    client.buildIndex("st", nlist = 4)
    // simulate a crash that left the stamp behind the store (torn
    // maintenance): force the VERSION file to a never-current value
    val ver = java.nio.file.Paths.get(s"$root/data/st-ivf", "VERSION")
    java.nio.file.Files.write(ver, "-42".getBytes)
    val idx = client.listIndexes("st")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX").collect()
    assert(!idx.head.getBoolean(2), "stamp mismatch must read STALE")
    val df = client.searchSparse("st", q, k = 9)
    assert(!df.queryExecution.executedPlan.toString.contains("In(dim"),
      "stale index must not serve the search")
    assert(hits(df) == expect(exactTop(live, q, 9)))
    // and a stale index is NOT rolled forward by later commits (the
    // stamp no longer matches the pre-image) — it stays stale until
    // buildIndex reruns
    upsertRows(client, "st", Seq(key(900) -> svec(900)))
    assert(!client.listIndexes("st")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX")
      .head().getBoolean(2))
    client.buildIndex("st", nlist = 4)
    assert(client.listIndexes("st")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX")
      .head().getBoolean(2))
  }

  test("searchSparseBatch: one pruned pass per batch == per-query results, " +
       "on both arms; filter gates rows before scoring") {
    import spark.implicits._
    val (client, _) = mkClient()
    client.createCollection("sb", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 140).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "sb", live.toSeq)
    val qs: Seq[(Long, Seq[(Long, Double)])] =
      (0L until 3L).map(i => i -> svec(i.toInt).toSeq.sortBy(_._1))
    val qdf = qs.map { case (qid, v) =>
      (qid, v.map(_._1), v.map(_._2)) }.toDF("qid", "dims", "ws")
    def model(ls: Map[String, Map[Long, Double]], k: Int) = qs.flatMap {
      case (qid, v) => expect(exactTop(ls, v, k)).map {
        case (kk, s) => (qid, kk, s) }
    }
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq
    // exact arm (no index yet)
    assert(got(client.searchSparseBatch("sb", qdf, k = 6)) == model(live, 6))
    client.buildIndex("sb", nlist = 8)
    // index arm: the one-pass batched ride
    assert(got(client.searchSparseBatch("sb", qdf, k = 6)) == model(live, 6))
    // filtered batch: gates rows before scoring (routes to the exact join)
    val evens = live.filter { case (k, _) => k.drop(1).toInt % 2 == 0 }
    assert(got(client.searchSparseBatch("sb", qdf, k = 6,
      filter = Some(element_at(col("meta"), "band") === "even"))) ==
      model(evens, 6))
    // batch boundary: ragged arrays refuse
    val err = intercept[Exception] {
      client.searchSparseBatch("sb",
        Seq((0L, Seq(1L, 2L), Seq(1.0))).toDF("qid", "dims", "ws"), k = 1)
        .collect()
    }
    assert(err.toString.contains("parallel") ||
      Option(err.getCause).exists(_.toString.contains("parallel")))
  }

  test("searchSparseRange: radius < score <= rangeFilter band, identical " +
       "on both arms, overlap-membership only") {
    val (client, _) = mkClient()
    client.createCollection("sr", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 160).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "sr", live.toSeq)
    val all = exactTop(live, q, live.size) // every overlapping doc, ranked
    val radius = all(11)._2 // 12th score: band = strictly above it
    val upper = all(2)._2   // and at most the 3rd
    def model(lo: Double, hi: Double) =
      expect(all.filter { case (_, s) => s > lo && s <= hi })
    def got(df: org.apache.spark.sql.DataFrame) = hits(df)
    // exact arm
    assert(got(client.searchSparseRange("sr", q, radius)) ==
      model(radius, Double.PositiveInfinity))
    assert(got(client.searchSparseRange("sr", q, radius, rangeFilter = upper)) ==
      model(radius, upper))
    client.buildIndex("sr", nlist = 8)
    // index arm: the complete overlap set is the candidate set — lossless
    assert(got(client.searchSparseRange("sr", q, radius)) ==
      model(radius, Double.PositiveInfinity))
    assert(got(client.searchSparseRange("sr", q, radius, rangeFilter = upper)) ==
      model(radius, upper))
    // limit caps best-first
    assert(got(client.searchSparseRange("sr", q, radius, limit = Some(3))) ==
      model(radius, Double.PositiveInfinity).take(3))
    // a doc sharing NO query dim is never returned even in an
    // everything-band (score 0 is non-membership, not a hit)
    val none = client.searchSparseRange("sr", Seq(777777L -> 1.0),
      radius = -1e18)
    assert(none.count() == 0)
  }

  test("searchSparseGrouped: top-k groups by best hit, groupSize hits " +
       "per group, identical on both arms") {
    val (client, _) = mkClient()
    client.createCollection("sg", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 120).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "sg", live.toSeq)
    def band(k: String) = if (k.drop(1).toInt % 2 == 0) "even" else "odd"
    val model: Seq[(String, Long, Long, String, Double)] = live
      .groupBy { case (k, _) => band(k) }.toSeq
      .map { case (g, docs) => (g, expect(exactTop(docs, q, 3))) }
      .sortBy { case (g, hs) => (-hs.head._2, g) }
      .zipWithIndex.flatMap { case ((g, hs), gi) =>
        hs.zipWithIndex.map { case ((kk, s), ri) =>
          (g, (gi + 1).toLong, (ri + 1).toLong, kk, s) }
      }
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), math.rint(r.getDouble(4) * 1e9) / 1e9)).toSeq
    assert(got(client.searchSparseGrouped("sg", q, k = 2,
      groupByKey = "band", groupSize = 3)) == model)
    client.buildIndex("sg", nlist = 8)
    assert(got(client.searchSparseGrouped("sg", q, k = 2,
      groupByKey = "band", groupSize = 3)) == model)
    // k = 1 keeps only the best group
    assert(got(client.searchSparseGrouped("sg", q, k = 1,
      groupByKey = "band", groupSize = 3)) == model.take(3))
  }

  test("searchSparseIterator: strict keyset pages equal the total " +
       "ordering; mid-drain commits refuse unless allowDrift pins") {
    val (client, _) = mkClient()
    client.createCollection("si", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 130).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "si", live.toSeq)
    val all = expect(exactTop(live, q, live.size)) // every overlapping doc
    // page size 7 does not divide the score-tie runs — boundaries land
    // mid-tie, which is exactly what the strict cursor must survive
    val drained = client.searchSparseIterator("si", q, batchSize = 7)
      .take(6).flatten.toSeq
      .map(r => (r.getString(0), math.rint(r.getDouble(1) * 1e9) / 1e9))
    assert(drained == all.take(42))
    // a full drain terminates and equals the whole ordering
    val full = client.searchSparseIterator("si", q, batchSize = 31)
      .flatMap(_.map(r => r.getString(0))).toSeq
    assert(full == all.map(_._1))
    // mid-drain commit: refuse by default…
    val it2 = client.searchSparseIterator("si", q, batchSize = 5)
    it2.next()
    // …but an allowDrift iterator created BEFORE the commit keeps
    // draining its pinned snapshot (the interloper must not appear)
    val it3 = client.searchSparseIterator("si", q, batchSize = 5,
      allowDrift = true)
    val p1 = it3.next().map(_.getString(0))
    upsertRows(client, "si", Seq(key(998) -> Map(0L -> 1e6)))
    val e = intercept[java.util.ConcurrentModificationException] { it2.next() }
    assert(e.getMessage.contains("pinned at creation"))
    val p2 = it3.next().map(_.getString(0))
    assert((p1 ++ p2) == all.map(_._1).take(10),
      "the pinned drain must serve the pre-commit snapshot exactly")
  }

  test("streamed micro-batch upserts keep the sparse index fresh; " +
       "streamed docs are index-served") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (client, _) = mkClient()
    client.createCollection("ss", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    var live = (0 until 100).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "ss", live.toSeq)
    client.buildIndex("ss", nlist = 4)
    // the reference's event-loop shape without the embedder: each
    // micro-batch is one merge commit, whose auto-append must roll the
    // postings forward — no rebuild, no staleness window
    val stream = MemoryStream[Int]
    val sq = stream.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = batch.collect().map(_.getInt(0)).toSeq
        if (ids.nonEmpty) upsertRows(client, "ss", ids.map(i => key(i) -> svec(i)))
        ()
      }
      .start()
    stream.addData(300 until 310)
    sq.processAllAvailable()
    stream.addData(310 until 320)
    sq.processAllAvailable()
    sq.stop()
    live = live ++ (300 until 320).map(i => key(i) -> svec(i))
    assert(client.listIndexes("ss")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX").head().getBoolean(2),
      "every micro-batch commit must leave the index FRESH")
    val served = client.searchSparse("ss", q, k = 10)
    assert(served.queryExecution.executedPlan.toString.contains("In(dim"),
      "post-stream searches must stay index-served")
    assert(hits(served) == expect(exactTop(live, q, 10)),
      "streamed docs must rank exactly through the maintained postings")
  }

  test("landing-file ingest into a sparse collection (r14): startIngest " +
       "featurizes text events, postings stay fresh after every batch, " +
       "streamed docs are index-served; bytes-only events reject per-row") {
    import spark.implicits._
    import graft.ingest.SparseFeaturizer
    val root = java.nio.file.Files.createTempDirectory("sparse-ingest").toString
    val client = new GraftClient(spark, root)
    client.createCollection("si", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val fz = SparseFeaturizer.hashingTf

    // dim parity pin: the JVM-side featurizer hash must equal SQL
    // xxhash64 — the hash every batch postings build uses — or streamed
    // and batch-built docs would live in disjoint vocabularies
    val words = Seq("hash", "join", "spark", "the")
    val sqlHashes = words.toDF("w").select(xxhash64(col("w")))
      .collect().map(_.getLong(0)).toSeq
    assert(words.map(SparseFeaturizer.xxhash64) == sqlHashes,
      "featurizer dims must equal SQL xxhash64 (seed 42)")

    def writeLanding(dir: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, "events.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
    }
    val texts = Map(
      "doc-a" -> "spark shuffles hash join hash",
      "doc-b" -> "sort merge join over sorted runs",
      "doc-c" -> "hash partitioned spark scan",
      "doc-d" -> "broadcast join avoids the shuffle")
    val objects = texts.toSeq.toDF("key", "text")
    val qv: Seq[(Long, Double)] = Seq("hash" -> 2.0, "join" -> 1.0,
      "spark" -> 1.5).map { case (w, x) => SparseFeaturizer.xxhash64(w) -> x }

    // seed + build, so streamed freshness comes from per-commit
    // MAINTENANCE (auto-append), never a rebuild
    client.upsert("si", Seq(("seed-1", fz.featurize("seed spark doc"),
      Map.empty[String, String])).toDF("key", "vec", "meta"))
    client.buildIndex("si", nlist = 4)

    def assertServed(live: Map[String, Map[Long, Double]]): Unit = {
      assert(client.listIndexes("si")
        .filter(col("kind") === "SPARSE_INVERTED_INDEX").head().getBoolean(2),
        "every ingest micro-batch must leave the postings FRESH")
      val served = client.searchSparse("si", qv, k = 10)
      assert(served.queryExecution.executedPlan.toString.contains("In(dim"),
        "post-stream searches must ride the postings layout")
      assert(hits(served) == expect(exactTop(live, qv, 10)),
        "streamed docs must rank exactly through the maintained postings")
    }

    // batch 1: two puts
    writeLanding(s"$root/landing1", Seq(
      TestDirs.notif("ObjectCreated:Put", "doc-a"),
      TestDirs.notif("ObjectCreated:Put", "doc-b")))
    client.startIngest("si", s"$root/landing1", objects)
      .awaitTermination(120000)
    val live1 = Map("seed-1" -> fz.featurize("seed spark doc"),
      "doc-a" -> fz.featurize(texts("doc-a")),
      "doc-b" -> fz.featurize(texts("doc-b")))
    assertServed(live1)

    // batch 2: two puts + a delete — deletes must tombstone postings
    writeLanding(s"$root/landing2", Seq(
      TestDirs.notif("ObjectCreated:Put", "doc-c"),
      TestDirs.notif("ObjectCreated:Put", "doc-d"),
      TestDirs.notif("ObjectRemoved:Delete", "doc-b")))
    client.startIngest("si", s"$root/landing2", objects)
      .awaitTermination(120000)
    assertServed(live1 - "doc-b" +
      ("doc-c" -> fz.featurize(texts("doc-c"))) +
      ("doc-d" -> fz.featurize(texts("doc-d"))))

    // bytes-only EVENT rejects per-row (the 400 arm), not per-stream:
    // the put lands, featurizes to null, and is dropped
    val mixed = Seq(("doc-bin", null: String, "zz".getBytes("UTF-8")))
      .toDF("key", "text", "bytes")
    writeLanding(s"$root/landing3",
      Seq(TestDirs.notif("ObjectCreated:Put", "doc-bin")))
    client.startIngest("si", s"$root/landing3", mixed)
      .awaitTermination(120000)
    assert(client.count("si") == 4, "a bytes-only event must drop, not land")

    // an objectsDf with no text column at all refuses up front
    val e = intercept[IllegalArgumentException] {
      client.startIngest("si", s"$root/landing3",
        Seq(("doc-bin", "zz".getBytes("UTF-8"))).toDF("key", "bytes"))
    }
    assert(e.getMessage.contains("text"))
  }

  test("landing-file ingest into a PARTITION-KEY sparse collection: " +
       "micro-batches route through the pk router, the live set and " +
       "exact sparse ranking track puts and deletes") {
    import spark.implicits._
    import graft.ingest.SparseFeaturizer
    val root = java.nio.file.Files.createTempDirectory("sparse-pk-ingest").toString
    val client = new GraftClient(spark, root)
    client.createCollection("spk", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR",
      partitionKey = "category", numPartitions = 4)
    val fz = SparseFeaturizer.hashingTf
    val texts = Map(
      "doc-a" -> "spark shuffles hash join hash",
      "doc-b" -> "sort merge join over sorted runs",
      "doc-c" -> "hash partitioned spark scan")
    val objects = texts.toSeq.toDF("key", "text")
    def landing(dir: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, "events.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
    }
    // two tenants' events — the pk router must hash each put to its
    // category's partition (tags carry the pk value)
    landing(s"$root/landing1", Seq(
      TestDirs.notif("ObjectCreated:Put", "doc-a", category = "t1"),
      TestDirs.notif("ObjectCreated:Put", "doc-b", category = "t2"),
      TestDirs.notif("ObjectCreated:Put", "doc-c", category = "t1")))
    client.startIngest("spk", s"$root/landing1", objects)
      .awaitTermination(120000)
    assert(client.count("spk") == 3)
    val qv: Seq[(Long, Double)] = Seq("hash" -> 2.0, "join" -> 1.0,
      "spark" -> 1.5).map { case (w, x) => SparseFeaturizer.xxhash64(w) -> x }
    val live1 = texts.map { case (k, t) => k -> fz.featurize(t) }
    assert(hits(client.searchSparse("spk", qv, k = 10)) ==
      expect(exactTop(live1, qv, 10)),
      "routed streamed docs must rank exactly across the pk partitions")
    // partition-key scoping sees only the tenant's docs
    assert(client.searchSparse("spk", qv, k = 10,
        filter = Some(element_at(col("meta"), "category") === "t1"))
      .collect().map(_.getString(0)).toSet == Set("doc-a", "doc-c"))
    // a delete event fans to every partition and lands
    landing(s"$root/landing2", Seq(
      TestDirs.notif("ObjectRemoved:Delete", "doc-b")))
    client.startIngest("spk", s"$root/landing2", objects)
      .awaitTermination(120000)
    assert(client.count("spk") == 2)
    assert(hits(client.searchSparse("spk", qv, k = 10)) ==
      expect(exactTop(live1 - "doc-b", qv, 10)),
      "the routed delete must drop the row from the ranking")
  }

  test("BATCH upsert on a partition-key sparse collection: the routed " +
       "content-hash resolve accepts map vectors (r16 regression)") {
    import spark.implicits._
    // upsertRouted resolves within-batch duplicate keys by a content
    // hash; pre-r16 it hashed the raw vec column, which Spark's hash
    // expressions REFUSE for MapType — so the sparse family's batch
    // upsert on a pk collection failed analysis (streamed ingest,
    // which resolves by arrival order, masked it). Pin: the batch
    // lands, duplicates resolve to ONE live copy, a pk-value re-put
    // MOVES the row.
    val (client, _) = mkClient()
    client.createCollection("spkb", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR",
      partitionKey = "tenant", numPartitions = 4)
    def rows(is: Seq[Int], tenant: Int => String) = is.map(i =>
      (key(i), svec(i), Map("tenant" -> tenant(i))))
      .toDF("key", "vec", "meta")
    client.upsert("spkb", rows(0 until 20, i => s"t${i % 2}"))
    assert(client.count("spkb") == 20)
    // duplicate key under TWO pk values in ONE batch: the content
    // resolve picks one winner and exactly one copy lives anywhere
    client.upsert("spkb",
      rows(Seq(3), _ => "t0").union(rows(Seq(3), _ => "t1")))
    assert(client.count("spkb") == 20)
    // scoped search proves the re-put MOVED key 5 (t1 -> t0): gone
    // from its old pk scope, ranked in the new one
    client.upsert("spkb", rows(Seq(5), _ => "t0"))
    val q5 = svec(5).toSeq
    assert(!client.searchSparse("spkb", q5, k = 50,
        partitions = Nil).collect().isEmpty)
    val t1Keys = client.queryWhere("spkb",
        element_at(col("meta"), lit("tenant")) === "t1")
      .collect().map(_.getString(0)).toSet
    assert(!t1Keys.contains(key(5)), "the old pk copy must be gone")
    assert(client.count("spkb") == 20)
  }

  test("compact() folds the auto-appended postings segments; searches " +
       "and freshness survive; concurrent writers stay model-exact") {
    val (client, root) = mkClient()
    client.createCollection("cp", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    var live = (0 until 80).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "cp", live.toSeq)
    client.buildIndex("cp", nlist = 4)
    // two concurrent writers, disjoint key ranges — CAS retries merge
    // them, and every commit's auto-append must roll the index forward
    val ranges = Seq(100 until 115, 200 until 215)
    val threads = ranges.map { r =>
      new Thread(() => r.grouped(5).foreach { g =>
        upsertRows(client, "cp", g.map(i => key(i) -> svec(i))) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    live = live ++ ranges.flatten.map(i => key(i) -> svec(i))
    assert(client.listIndexes("cp")
      .filter(col("kind") === "SPARSE_INVERTED_INDEX").head().getBoolean(2),
      "every racing commit's refresh must leave the index FRESH")
    assert(hits(client.searchSparse("cp", q, k = 9)) ==
      expect(exactTop(live, q, 9)))
    val postings = s"$root/data/cp-ivf/sparse_postings"
    assert(graft.index.SparseIndex.segmentCount(postings) > 1,
      "auto-appends should have accumulated delta segments")
    client.compact("cp")
    assert(graft.index.SparseIndex.segmentCount(postings) == 1,
      "compact() must fold the collection-owned postings segments")
    assert(hits(client.searchSparse("cp", q, k = 9)) ==
      expect(exactTop(live, q, 9)))
  }

  test("searchSparseMilvus: filter-string grammar with TEXT_MATCH gates " +
       "binds both arms through the attached text index") {
    import spark.implicits._
    val (client, _) = mkClient()
    client.createCollection("sm", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 4,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 120).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "sm", live.toSeq)
    // deterministic text: token w<i%5> plus a common filler
    client.buildTextIndex("sm", live.keys.toSeq.sorted.map { k =>
      (k, s"w${k.drop(1).toInt % 5} common") }.toDF("key", "text"))
    val want = live.filter { case (k, _) =>
      k.drop(1).toInt % 5 == 1 && k.drop(1).toInt % 2 == 1 }
    val f = """TEXT_MATCH(text, "w1") && band == "odd""""
    // exact arm (no sparse index yet)
    assert(hits(client.searchSparseMilvus("sm", q, k = 6, filter = f)) ==
      expect(exactTop(want, q, 6)))
    client.buildIndex("sm", nlist = 8)
    // index arm: gate ∩ filter keys drive the deepening fetch
    assert(hits(client.searchSparseMilvus("sm", q, k = 6, filter = f)) ==
      expect(exactTop(want, q, 6)))
  }

  test("named partitions: per-partition indexes, scoped and all-partition " +
       "searches, cross-partition batch re-rank") {
    val (client, _) = mkClient()
    client.createCollection("mp", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    client.createPartition("mp", "hot")
    val base = (0 until 60).map(i => key(i) -> svec(i)).toMap
    val hot = (60 until 120).map(i => key(i) -> svec(i)).toMap
    import spark.implicits._
    def rows(m: Map[String, Map[Long, Double]]) = m.toSeq.map { case (k, v) =>
      (k, v, Map("band" -> (if (k.drop(1).toInt % 2 == 0) "even" else "odd")))
    }.toDF("key", "vec", "meta")
    client.upsert("mp", rows(base))
    client.upsert("mp", rows(hot), partition = "hot")
    client.buildIndex("mp", nlist = 4) // builds BOTH partitions' layouts
    // scoped search sees only that partition; unscoped merges both
    assert(hits(client.searchSparse("mp", q, k = 5,
      partitions = Seq("hot"))) == expect(exactTop(hot, q, 5)))
    assert(hits(client.searchSparse("mp", q, k = 8)) ==
      expect(exactTop(base ++ hot, q, 8)))
    // batch across partitions: each arm is top-k per partition, the
    // global re-rank must merge them per qid exactly
    val qs = (0L until 2L).map(i => i -> svec(i.toInt).toSeq.sortBy(_._1))
    val qdf = qs.map { case (qid, v) =>
      (qid, v.map(_._1), v.map(_._2)) }.toDF("qid", "dims", "ws")
    val gotB = client.searchSparseBatch("mp", qdf, k = 6).collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.rint(r.getDouble(2) * 1e9) / 1e9)).toSeq
    val modelB = qs.flatMap { case (qid, v) =>
      expect(exactTop(base ++ hot, v, 6)).map { case (kk, s) => (qid, kk, s) } }
    assert(gotB == modelB)
    // iterator across partitions honors per-partition pins
    val drained = client.searchSparseIterator("mp", q, batchSize = 9)
      .take(2).flatten.map(r => r.getString(0)).toSeq
    assert(drained == expect(exactTop(base ++ hot, q, 18)).map(_._1))
  }

  test("loadCollection pins a sparse store without tripping the IVF " +
       "loader; searches stay correct loaded and after release") {
    val (client, _) = mkClient()
    client.createCollection("ld", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    val live = (0 until 90).map(i => key(i) -> svec(i)).toMap
    upsertRows(client, "ld", live.toSeq)
    client.buildIndex("ld", nlist = 4)
    // pre-fix this crashed: loadIndex read the sparse stamp then died on
    // the missing centroid tables
    assert(client.loadCollection("ld") == 90L)
    assert(hits(client.searchSparse("ld", q, k = 6)) ==
      expect(exactTop(live, q, 6)))
    client.releaseCollection("ld")
    assert(hits(client.searchSparse("ld", q, k = 6)) ==
      expect(exactTop(live, q, 6)))
    // and hybridDenseSparse names its refusal (the dense arm needs floats)
    val e = intercept[IllegalArgumentException] {
      client.hybridDenseSparse("ld", sparseQuery = q,
        qvec = Array.fill(4)(0.1f)) }
    assert(e.getMessage.contains("searchSparse"))
  }

  test("getSparse round-trips the stored map; get refuses the family") {
    val (client, _) = mkClient()
    client.createCollection("gs", dim = 0, metric = "dot",
      buckets = 2, vectorType = "SPARSE_FLOAT_VECTOR")
    upsertRows(client, "gs", Seq(key(7) -> svec(7)))
    val got = client.getSparse("gs", key(7)).get
    assert(got._1 == svec(7).toSeq.sortBy(_._1))
    assert(got._2("band") == "odd")
    assert(client.getSparse("gs", "nope").isEmpty)
    val e = intercept[IllegalArgumentException] { client.get("gs", key(7)) }
    assert(e.getMessage.contains("getSparse"))
  }

  test("create/write boundary validation and cross-family refusals") {
    import spark.implicits._
    val (client, _) = mkClient()
    // create-time
    assert(intercept[IllegalArgumentException] {
      client.createCollection("x", dim = 384, metric = "dot",
        vectorType = "SPARSE_FLOAT_VECTOR")
    }.getMessage.contains("dim = 0"))
    assert(intercept[IllegalArgumentException] {
      client.createCollection("x", dim = 0, metric = "l2",
        vectorType = "SPARSE_FLOAT_VECTOR")
    }.getMessage.contains("dot or cosine"))
    assert(intercept[IllegalArgumentException] {
      client.createCollection("x", dim = 0, metric = "dot",
        indexType = "SPARSE_WAND", vectorType = "SPARSE_FLOAT_VECTOR")
    }.getMessage.contains("SPARSE_INVERTED_INDEX"))
    client.createCollection("v", dim = 0, metric = "dot",
      indexType = "SPARSE_INVERTED_INDEX", buckets = 2,
      vectorType = "SPARSE_FLOAT_VECTOR")
    // FLAT sparse collections refuse buildIndex
    client.createCollection("vf", dim = 0, metric = "dot",
      indexType = "FLAT", buckets = 2, vectorType = "SPARSE_FLOAT_VECTOR")
    upsertRows(client, "vf", Seq(key(1) -> svec(1)))
    assert(intercept[IllegalArgumentException] {
      client.buildIndex("vf", nlist = 4)
    }.getMessage.contains("FLAT sparse"))
    // write boundary: empty map, zero weight, NaN, Inf
    def bad(vec: Map[Long, Double]): Unit = {
      val e = intercept[Exception] {
        client.upsert("v", Seq(("k", vec, Map.empty[String, String]))
          .toDF("key", "vec", "meta"))
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("sparse vec")),
        s"expected a sparse boundary refusal, got: $e")
    }
    bad(Map.empty)
    bad(Map(1L -> 0.0))
    bad(Map(1L -> Double.NaN))
    bad(Map(1L -> Double.PositiveInfinity))
    // hashed-vocabulary dims land NEGATIVE and are first-class
    upsertRows(client, "v", Seq(key(2) -> Map(-3L -> 1.0, 5L -> 2.0)))
    assert(client.getSparse("v", key(2)).get._1 == Seq(-3L -> 1.0, 5L -> 2.0))
    // cross-family: float surfaces refuse sparse collections…
    upsertRows(client, "v", Seq(key(1) -> svec(1)))
    assert(intercept[IllegalArgumentException] {
      client.search("v", Array.fill(4)(0.1f), k = 1)
    }.getMessage.contains("searchSparse"))
    assert(intercept[IllegalArgumentException] {
      client.searchBinary("v", Array(0L), k = 1)
    }.getMessage.contains("searchBinary serves BINARY_VECTOR"))
    assert(intercept[IllegalArgumentException] {
      client.upsertTexts("v", Seq(("k", "t", Map.empty[String, String]))
        .toDF("key", "text", "meta"))
    }.getMessage.contains("float"))
    // …the attached sparse-index lifecycle refuses the sparse family
    // (its index derives from the store via buildIndex)…
    assert(intercept[IllegalArgumentException] {
      client.buildSparseIndex("v",
        Seq(("k", 1L, 1.0)).toDF("key", "dim", "w"))
    }.getMessage.contains("buildIndex"))
    // …and a dense collection refuses the sparse query surface's
    // envelope params while serving its attached arm
    client.createCollection("dense", dim = 4)
    assert(intercept[IllegalArgumentException] {
      client.searchSparse("dense", q, k = 1, offset = 5)
    }.getMessage.contains("ATTACHED"))
    // duplicate query dims refuse up front
    assert(intercept[IllegalArgumentException] {
      client.searchSparse("v", Seq(1L -> 1.0, 1L -> 2.0), k = 1)
    }.getMessage.contains("duplicate"))
    // zero / non-finite query weights refuse: the index never sees a
    // zero-weight dim while the exact arm's overlap test would count
    // it — accepting one would let the two arms diverge on membership
    for (w <- Seq(0.0, Double.NaN, Double.PositiveInfinity))
      assert(intercept[IllegalArgumentException] {
        client.searchSparse("v", Seq(1L -> w, 5L -> 1.0), k = 1)
      }.getMessage.contains("finite and nonzero"))
    // Milvus AUTOINDEX resolves per family to the concrete type the
    // catalog stores (describe shows the truth, not the alias)
    client.createCollection("ai_s", dim = 0, metric = "dot",
      indexType = "AUTOINDEX", vectorType = "SPARSE_FLOAT_VECTOR")
    assert(client.describe("ai_s").indexType == "SPARSE_INVERTED_INDEX")
    client.createCollection("ai_f", dim = 8, indexType = "AUTOINDEX")
    assert(client.describe("ai_f").indexType == "HNSW")
    client.createCollection("ai_b", dim = 64, metric = "hamming",
      indexType = "AUTOINDEX", vectorType = "BINARY_VECTOR")
    assert(client.describe("ai_b").indexType == "BIN_IVF_FLAT")
    // known-but-unshipped Milvus index types refuse with a pointer
    assert(intercept[IllegalArgumentException] {
      client.createCollection("dk", dim = 8, indexType = "DISKANN")
    }.getMessage.contains("use HNSW"))
    assert(intercept[IllegalArgumentException] {
      client.createCollection("gp", dim = 8, indexType = "GPU_IVF_PQ")
    }.getMessage.contains("IVF_PQ"))
  }
}
