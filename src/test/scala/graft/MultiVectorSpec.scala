package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.{AnnRequest, GraftClient}
import graft.index.VecField

/** Milvus 2.4 multi-vector collections (VERDICT r14's #1): named extra
  * dense fields as SECOND vec columns in the same keyed store row, each
  * with its own index lifecycle and staleness clock. Pins: create/
  * describe round-trip, write-boundary validation (missing column, dim,
  * null), per-field search == per-field brute force, per-field index
  * builds + incremental maintenance across commits, staleness
  * INDEPENDENCE (rebuilding/dropping one field's index never moves
  * another's stamp), the cross-field hybrid fusion, fetch's all-fields
  * envelope, and the refusals (pk collections, single-vector embedding
  * surfaces, non-float primaries). */
class MultiVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("multi-vector-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dimText = 8
  private val dimImg = 12

  private def tvec(i: Int): Seq[Float] =
    Seq.tabulate(dimText)(j => ((i * 31 + j * 7) % 101) / 101.0f - 0.5f)
  private def ivec(i: Int): Seq[Float] =
    Seq.tabulate(dimImg)(j => ((i * 13 + j * 17) % 89) / 89.0f - 0.5f)

  private def rows(is: Range) =
    is.map(i => (f"k$i%04d", tvec(i), ivec(i), Map("grp" -> s"g${i % 3}")))

  private def mkClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("multivec").toString
    new GraftClient(spark, root)
  }

  private def create(client: GraftClient, name: String,
                     imgIndex: String = "FLAT"): Unit =
    client.createCollection(name, dim = dimText, indexType = "FLAT",
      buckets = 4,
      vectorFields = Seq(VecField("img_vec", dimImg, "l2", imgIndex)))

  private def upsertAll(client: GraftClient, name: String, is: Range): Unit = {
    import spark.implicits._
    client.upsert(name,
      rows(is).toDF("key", "vec", "img_vec", "meta"))
  }

  /** Brute-force l2 top-k over the generator — the spec's own oracle.
    * Accumulates per-element DOUBLE differences, bit-identical to the
    * engine's L2Distance kernel, so ties resolve the same way. */
  private def l2(v: Seq[Float], q: Array[Float]): Double =
    math.sqrt(v.zip(q).map { case (a, b) =>
      val d = a.toDouble - b.toDouble; d * d }.sum)

  private def bruteTopK(is: Range, q: Array[Float],
                        f: Int => Seq[Float], k: Int): Seq[String] =
    is.map(i => (f"k$i%04d", l2(f(i), q)))
      .sortBy { case (key, d) => (d, key) }.take(k).map(_._1)

  test("create/describe round-trip and the create-boundary refusals") {
    val client = mkClient()
    create(client, "mv")
    val m = client.describe("mv")
    assert(m.extraVecFields == Seq(VecField("img_vec", dimImg, "l2", "FLAT")))
    assert(m.fieldView.isEmpty)

    // per-field AUTOINDEX resolves to HNSW like the primary's
    client.createCollection("mvauto", dim = dimText,
      vectorFields = Seq(VecField("f2", 4, "l2", "AUTOINDEX")))
    assert(client.describe("mvauto").extraVecFields.head.indexType == "HNSW")

    // refusals, each at the create boundary
    intercept[IllegalArgumentException] {
      client.createCollection("bad1", dim = 4,
        vectorFields = Seq(VecField("a", 4, "l2", "FLAT"),
          VecField("a", 8, "l2", "FLAT")))
    }
    intercept[IllegalArgumentException] {
      client.createCollection("bad2", dim = 4,
        vectorFields = Seq(VecField("meta", 4, "l2", "FLAT")))
    }
    intercept[IllegalArgumentException] {
      client.createCollection("bad3", dim = 4,
        vectorFields = Seq(VecField("has-dash", 4, "l2", "FLAT")))
    }
    intercept[IllegalArgumentException] {
      client.createCollection("bad4", dim = 4,
        vectorFields = Seq(VecField("f", 4, "l2", "IVF_WAT")))
    }
    // non-float primaries with extra fields are LEGAL since the r17
    // FLOAT-primary lift (Milvus 2.4 admits any family in any position);
    // the family matrix is pinned in MultiVectorFamiliesSpec — here just
    // the create boundary: it round-trips instead of refusing
    client.createCollection("okbin", dim = 64, metric = "hamming",
      vectorType = "BINARY_VECTOR",
      vectorFields = Seq(VecField("f", 4, "l2", "FLAT")))
    assert(client.describe("okbin").extraVecFields ==
      Seq(VecField("f", 4, "l2", "FLAT")))
  }

  test("write boundary: missing column, wrong dim, null field all loud") {
    import spark.implicits._
    val client = mkClient()
    create(client, "mv")

    // missing declared field column
    val e1 = intercept[IllegalArgumentException] {
      client.upsert("mv", rows(0 until 3)
        .map(r => (r._1, r._2, r._4)).toDF("key", "vec", "meta"))
    }
    assert(e1.getMessage.contains("img_vec"))

    // wrong dim on the extra field
    val e2 = intercept[Exception] {
      client.upsert("mv", rows(0 until 3)
        .map(r => (r._1, r._2, r._3.take(3), r._4))
        .toDF("key", "vec", "img_vec", "meta"))
    }
    assert(e2.getMessage != null)

    // null extra field
    val e3 = intercept[Exception] {
      client.upsert("mv", Seq(("k1", tvec(1), null: Seq[Float],
        Map("grp" -> "g"))).toDF("key", "vec", "img_vec", "meta"))
    }
    assert(e3.getMessage.contains("img_vec") ||
      e3.getCause != null && e3.getCause.getMessage.contains("img_vec"))

    // single-vector embedding surfaces refuse multi-field collections
    intercept[IllegalArgumentException] {
      client.upsertTexts("mv", Seq(("k1", "hello", Map.empty[String, String]))
        .toDF("key", "text", "meta"))
    }
  }

  test("per-field search == per-field brute force; unknown field loud") {
    val client = mkClient()
    create(client, "mv")
    upsertAll(client, "mv", 0 until 120)

    val qT = tvec(7).toArray
    val qI = ivec(7).toArray

    val gotPrimary = client.search("mv", qT, k = 10)
      .collect().map(_.getString(0)).toSeq
    assert(gotPrimary == bruteTopK(0 until 120, qT, tvec, 10))

    val gotImg = client.search("mv", qI, k = 10, field = "img_vec")
      .collect().map(_.getString(0)).toSeq
    assert(gotImg == bruteTopK(0 until 120, qI, ivec, 10))

    // the field's dim governs the query-dim check
    intercept[IllegalArgumentException] {
      client.search("mv", qT, k = 5, field = "img_vec")
    }
    val e = intercept[IllegalArgumentException] {
      client.search("mv", qI, k = 5, field = "nope")
    }
    assert(e.getMessage.contains("img_vec")) // names the declared fields

    // filters bind on field searches exactly as on the primary
    val filtered = client.search("mv", qI, k = 5, field = "img_vec",
        filter = Some(element_at(col("meta"), lit("grp")) === "g1"))
      .collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_.getAs[Map[String, String]]("metadata")("grp") == "g1"))

    // column-pruning honesty (the createCollection scaladoc's claim):
    // a field search's STORE scan must read (key, <field>, meta) — the
    // PRIMARY vec column never leaves the parquet files, so an N-field
    // collection's per-field search reads one vector column, not N.
    // (Scans of a field's own index layouts carry the canonical `vec`
    // column name by the cells contract — only STORE paths are checked.)
    val storeScans = client.search("mv", qI, k = 3, field = "img_vec")
      .queryExecution.executedPlan.toString
      .split("\n").filter(l => l.contains("ReadSchema") &&
        !l.contains("-fields/") && !l.contains("-ivf")).toSeq
    assert(storeScans.nonEmpty)
    // the primary column renders as "<vec:" or ",vec:" in the struct;
    // a bare contains("vec:") would false-match inside "img_vec:"
    assert(!storeScans.exists(l => l.contains("<vec:") || l.contains(",vec:")),
      s"a field search leaked the primary vec into a store scan: ${storeScans.mkString}")
    assert(storeScans.exists(_.contains("img_vec:")),
      "no store scan read the field column at all")

    // grouped + range + batch ride the same field dispatch
    val grouped = client.searchGrouped("mv", qI, k = 2, groupByKey = "grp",
      field = "img_vec").collect()
    assert(grouped.length == 2)
    val rng = client.searchRange("mv", qI, radius = 0.4, field = "img_vec")
      .collect()
    val brute = (0 until 120).count(i => l2(ivec(i), qI) < 0.4)
    assert(rng.length == brute)
  }

  test("per-field index lifecycle: build, serve, maintain, independence") {
    import spark.implicits._
    val client = mkClient()
    create(client, "mvi", imgIndex = "IVF_FLAT")
    upsertAll(client, "mvi", 0 until 200)

    val qI = ivec(3).toArray
    val exact = bruteTopK(0 until 200, qI, ivec, 8)

    // primary index (the collection's own FLAT → IVF layout) + field index
    client.buildIndex("mvi", nlist = 4)
    client.buildIndex("mvi", nlist = 4, field = "img_vec")

    val idx0 = client.listIndexes("mvi").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    assert(idx0.exists { case (k, f, fresh, _) =>
      k == "IVF_FLAT" && f == "vec" && fresh })
    assert(idx0.exists { case (k, f, fresh, _) =>
      k == "IVF_FLAT" && f == "img_vec" && fresh })

    // a full probe through the fresh field index is exact
    val got = client.search("mvi", qI, k = 8, field = "img_vec", nprobe = 4)
      .collect().map(_.getString(0)).toSeq
    assert(got == exact)

    // one commit rolls BOTH indexes forward (per-field incremental refresh)
    client.upsert("mvi",
      rows(200 until 230).toDF("key", "vec", "img_vec", "meta"))
    val idx1 = client.listIndexes("mvi").collect()
      .map(r => (r.getString(1), r.getBoolean(2), r.getLong(3))).toSeq
    assert(idx1.collect { case ("vec", fresh, _) => fresh }.head,
      "primary index must stay fresh across the commit")
    assert(idx1.collect { case ("img_vec", fresh, _) => fresh }.head,
      "field index must stay fresh across the commit")
    val exact2 = bruteTopK(0 until 230, qI, ivec, 8)
    val got2 = client.search("mvi", qI, k = 8, field = "img_vec", nprobe = 4)
      .collect().map(_.getString(0)).toSeq
    assert(got2 == exact2)

    // the estimator rides the field dispatch: full probe (nprobe =
    // nlist = 4) through the fresh field index is exact by contract
    assert(client.estimateRecall("mvi", nprobe = 4, sampleQueries = 4,
      field = "img_vec") == 1.0)

    // INDEPENDENCE: rebuilding the FIELD's index must not move the
    // primary's stamp, and dropping the field's index must leave the
    // primary serving
    val primaryStamp0 = idx1.collect { case ("vec", _, v) => v }.head
    client.buildIndex("mvi", nlist = 8, field = "img_vec")
    val idx2 = client.listIndexes("mvi").collect()
      .map(r => (r.getString(1), r.getBoolean(2), r.getLong(3))).toSeq
    assert(idx2.collect { case ("vec", _, v) => v }.head == primaryStamp0,
      "field rebuild moved the primary's stamp")
    assert(idx2.collect { case ("vec", fresh, _) => fresh }.head)

    client.dropIndex("mvi", field = "img_vec")
    val idx3 = client.listIndexes("mvi").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSeq
    assert(!idx3.exists(_._1 == "img_vec"), "field index row must be gone")
    assert(idx3.collect { case ("vec", fresh) => fresh }.head,
      "dropping the field index must not touch the primary")
    // field searches fall back to the exact scan — same answers
    val got3 = client.search("mvi", qI, k = 8, field = "img_vec")
      .collect().map(_.getString(0)).toSeq
    assert(got3 == exact2)
  }

  test("loadCollection warms every field's index: a field's first search " +
       "after load runs no more tasks than its second") {
    val client = mkClient()
    client.createCollection("mvl", dim = dimText, indexType = "IVF_FLAT", buckets = 4,
      vectorFields = Seq(VecField("img_vec", dimImg, "l2", "IVF_SQ8")))
    upsertAll(client, "mvl", 0 until 200)
    client.buildIndex("mvl", nlist = 8)
    client.buildIndex("mvl", nlist = 8, field = "img_vec")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    client.loadCollection("mvl")
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    /** The tasks one search runs, planned and collected. */
    def tasksOf(search: => org.apache.spark.sql.DataFrame): Int = {
      GraftShim.drainListenerBus(spark)
      tasks.set(0)
      search.collect()
      GraftShim.drainListenerBus(spark)
      tasks.get
    }
    spark.sparkContext.addSparkListener(listener)
    try Seq("" -> tvec(5), "img_vec" -> ivec(5)).foreach { case (field, q) =>
      def run() = tasksOf(client.search("mvl", q.toArray, k = 5, nprobe = 2, field = field))
      val first = run()
      val second = run()
      assert(first <= second,
        s"field '$field': the first search after load ran $first tasks, the second $second")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      client.releaseCollection("mvl")
    }
    // release unpins every layout load pinned, the field's included
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"released collection still pins RDDs $leaked")
  }

  test("HNSW field index: exact at full ef through the graph dispatch; " +
       "compact folds the FIELD's growing tail") {
    import spark.implicits._
    val client = mkClient()
    create(client, "mvh", imgIndex = "HNSW")
    upsertAll(client, "mvh", 0 until 150)
    client.buildIndex("mvh", nlist = 0, field = "img_vec")

    val qI = ivec(11).toArray
    val got = client.search("mvh", qI, k = 10, field = "img_vec", ef = 150)
      .collect().map(_.getString(0)).toSeq
    assert(got == bruteTopK(0 until 150, qI, ivec, 10))

    // a commit grows the FIELD graph's tail; the walk stays exact
    // (graph ∪ tail), and compact() folds the field tail on demand
    // with result parity — the r15 per-field fold
    client.upsert("mvh", rows(150 until 165).toDF("key", "vec", "img_vec", "meta"))
    val expect2 = bruteTopK(0 until 165, qI, ivec, 10)
    val got2 = client.search("mvh", qI, k = 10, field = "img_vec", ef = 165)
      .collect().map(_.getString(0)).toSeq
    assert(got2 == expect2)
    val folded = client.compact("mvh")
    assert(folded.exists(a => a._2 == "hnsw" && a._3.contains("img_vec")),
      s"compact must fold the field's tail, got $folded")
    val got3 = client.search("mvh", qI, k = 10, field = "img_vec", ef = 165)
      .collect().map(_.getString(0)).toSeq
    assert(got3 == expect2, "the fold must not change the result")
  }

  test("cross-field hybrid: two Dense arms fuse like the RRF algebra") {
    val client = mkClient()
    create(client, "mvhy")
    upsertAll(client, "mvhy", 0 until 100)

    val qT = tvec(5).toArray
    val qI = ivec(41).toArray
    val armK = 20
    val got = client.hybridSearchRequests("mvhy",
      Seq(AnnRequest.Dense(qT), AnnRequest.Dense(qI, field = "img_vec")),
      k = 10, armK = armK).collect()

    // replay the fusion from the spec's own brute-force arms
    val tTop = bruteTopK(0 until 100, qT, tvec, armK).zipWithIndex.toMap
    val iTop = bruteTopK(0 until 100, qI, ivec, armK).zipWithIndex.toMap
    val expected = (tTop.keySet ++ iTop.keySet).toSeq.map { key =>
      val s = tTop.get(key).map(r => 1.0 / (60 + r + 1)).getOrElse(0.0) +
        iTop.get(key).map(r => 1.0 / (60 + r + 1)).getOrElse(0.0)
      (key, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (key, s) => (-s, key) }.take(10)
    assert(got.map(r => (r.getString(0), r.getDouble(3))).toSeq == expected)
  }

  test("fetch returns every declared field; get(field) reads the right one") {
    import spark.implicits._
    val client = mkClient()
    create(client, "mvf")
    upsertAll(client, "mvf", 0 until 10)

    val f = client.fetch("mvf", Seq("k0003")).collect().head
    assert(f.schema.fieldNames.toSeq == Seq("key", "vec", "img_vec", "meta"))
    assert(f.getSeq[Float](1) == tvec(3))
    assert(f.getSeq[Float](2) == ivec(3))

    assert(client.get("mvf", "k0004").map(_._1).contains(tvec(4)))
    assert(client.get("mvf", "k0004", field = "img_vec").map(_._1)
      .contains(ivec(4)))

    // delete covers every field's row (one store)
    client.deleteByKeys("mvf", Seq("k0003"))
    assert(client.fetch("mvf", Seq("k0003")).count() == 0)
  }

  test("partition-key collections route multi-field rows; pk moves carry " +
       "every field (r15)") {
    import spark.implicits._
    val client = mkClient()
    client.createCollection("mvpk", dim = dimText, buckets = 4,
      partitionKey = "tenant", numPartitions = 4,
      vectorFields = Seq(VecField("img_vec", dimImg, "l2", "FLAT")))
    def pkRows(is: Range, tenant: Int => String) =
      is.map(i => (f"k$i%04d", tvec(i), ivec(i),
        Map("tenant" -> tenant(i)))).toDF("key", "vec", "img_vec", "meta")
    client.upsert("mvpk", pkRows(0 until 60, i => s"t${i % 3}"))

    // pk-VALUE scoped field search sees only that tenant's rows, and
    // both vector fields survived the routed fan-out
    val qI = ivec(9).toArray
    val scoped = client.search("mvpk", qI, k = 5, field = "img_vec",
        partitionKeyValues = Seq("t1")).collect().map(_.getString(0)).toSeq
    assert(scoped ==
      (0 until 60).filter(_ % 3 == 1)
        .map(i => (f"k$i%04d", l2(ivec(i), qI)))
        .sortBy { case (key, d) => (d, key) }.take(5).map(_._1))
    val f = client.fetch("mvpk", Seq("k0004")).collect().head
    assert(f.getSeq[Float](1) == tvec(4) && f.getSeq[Float](2) == ivec(4))

    // a pk-value change MOVES the row (delete-by-PK + insert) with every
    // field intact — the routed-fan-out contract, now multi-field
    client.upsert("mvpk", pkRows(4 to 4, _ => "t0"))
    assert(client.search("mvpk", qI, k = 60, field = "img_vec",
        partitionKeyValues = Seq("t1")).collect()
      .forall(_.getString(0) != "k0004"), "the old copy must be gone")
    val moved = client.search("mvpk", ivec(4).toArray, k = 1,
      field = "img_vec", partitionKeyValues = Seq("t0")).collect().head
    assert(moved.getString(0) == "k0004" && moved.getDouble(1) == 0.0)
    assert(client.fetch("mvpk", Seq("k0004")).count() == 1)
  }

  test("review-pass regressions: output_fields vs declared fields, " +
       "pk missing-column boundary, dropped partition's field cache") {
    import spark.implicits._
    val client = mkClient()
    create(client, "mvr", imgIndex = "IVF_FLAT")
    upsertAll(client, "mvr", 0 until 30)

    // queryWhere: a declared field name in output_fields is a SCHEMA
    // column (the real array), never a silent all-null meta lookup
    val qw = client.queryWhere("mvr", col("key") === "k0003",
      outputFields = Seq("img_vec")).collect()
    assert(qw.length == 1 && qw.head.getSeq[Float](1) == ivec(3))
    // ... and the unprojected row carries every declared field
    val full = client.queryWhere("mvr", col("key") === "k0003").collect().head
    assert(full.schema.fieldNames.toSeq == Seq("key", "vec", "img_vec", "meta"))

    // search results do NOT carry vectors: a declared field in
    // output_fields refuses toward fetch, exactly like 'vec'
    val e = intercept[IllegalArgumentException] {
      client.search("mvr", ivec(1).toArray, k = 3, field = "img_vec",
        outputFields = Seq("img_vec"))
    }
    assert(e.getMessage.contains("fetch"))

    // pk-routed writes give the same friendly missing-column error as
    // the plain path (not a raw plan-analysis failure)
    client.createCollection("mvrpk", dim = dimText, partitionKey = "t",
      numPartitions = 2,
      vectorFields = Seq(VecField("img_vec", dimImg, "l2", "FLAT")))
    val e2 = intercept[IllegalArgumentException] {
      client.upsert("mvrpk", Seq(("k1", tvec(1), Map("t" -> "a")))
        .toDF("key", "vec", "meta"))
    }
    assert(e2.getMessage.contains("img_vec") &&
      e2.getMessage.contains("column"))

    // a dropped-and-recreated partition whose fresh store reaches the
    // SAME version number must not serve the dropped partition's cached
    // field index (the '@field#part' cache-eviction arm)
    client.createPartition("mvr", "p1")
    client.upsert("mvr", rows(100 until 130).toDF("key", "vec", "img_vec", "meta"),
      partition = "p1")
    client.buildIndex("mvr", nlist = 2, field = "img_vec",
      partitions = Seq("p1"))
    val qI = ivec(105).toArray
    assert(client.search("mvr", qI, k = 3, field = "img_vec",
        partitions = Seq("p1"), nprobe = 2).collect()
      .head.getString(0) == "k0105")
    client.dropPartition("mvr", "p1")
    client.createPartition("mvr", "p1")
    // DIFFERENT rows, same single commit → same store version number
    client.upsert("mvr", rows(200 until 230).toDF("key", "vec", "img_vec", "meta"),
      partition = "p1")
    client.buildIndex("mvr", nlist = 2, field = "img_vec",
      partitions = Seq("p1"))
    val after = client.search("mvr", ivec(205).toArray, k = 3,
        field = "img_vec", partitions = Seq("p1"), nprobe = 2)
      .collect().map(_.getString(0)).toSeq
    assert(after.head == "k0205" && after.forall(_.startsWith("k02")),
      s"served the dropped partition's cached field index: $after")
  }

  test("named partitions compose with fields; rename keeps field state") {
    import spark.implicits._
    val client = mkClient()
    create(client, "mvp", imgIndex = "IVF_FLAT")
    client.createPartition("mvp", "p1")
    client.upsert("mvp",
      rows(0 until 40).toDF("key", "vec", "img_vec", "meta"))
    client.upsert("mvp",
      rows(40 until 80).toDF("key", "vec", "img_vec", "meta"),
      partition = "p1")

    val qI = ivec(50).toArray
    // scoped field search sees ONLY the named partition's rows
    val scoped = client.search("mvp", qI, k = 5, field = "img_vec",
      partitions = Seq("p1")).collect().map(_.getString(0)).toSeq
    assert(scoped == bruteTopK(40 until 80, qI, ivec, 5))

    // per-partition field index builds under the partition's fields dir
    client.buildIndex("mvp", nlist = 2, field = "img_vec",
      partitions = Seq("p1"))
    val idxP1 = client.listIndexes("mvp", partition = "p1").collect()
      .map(r => (r.getString(1), r.getBoolean(2)))
    assert(idxP1.contains(("img_vec", true)))
    val scoped2 = client.search("mvp", qI, k = 5, field = "img_vec",
      partitions = Seq("p1"), nprobe = 2).collect()
      .map(_.getString(0)).toSeq
    assert(scoped2 == scoped)

    // rename is catalog-only: field data and index survive
    client.renameCollection("mvp", "mvp2")
    val after = client.search("mvp2", qI, k = 5, field = "img_vec",
      partitions = Seq("p1")).collect().map(_.getString(0)).toSeq
    assert(after == scoped)
    assert(client.describe("mvp2").extraVecFields.map(_.name) == Seq("img_vec"))
  }
}
