package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.GraftClient
import graft.index.{IvfIndex, PqIndex}
import graft.functions.{PqFunctions, PqKernels}

/** IVF_PQ product-quantized cells: the encode kernel must equal a Scala
  * recomputation (frozen float32/lowest-id contract), ADC must equal the
  * LUT sum it abbreviates, refined search must recover the exact top-k,
  * maintenance must keep the codes fresh across upserts/deletes, and the
  * iterator must drain PQ collections completely — in exact order — via
  * the ADC quantized-keyset margin drain (reconstruction-bound
  * hold-back), staying exact across maintenance commits. */
class PqIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("pq-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def vec(seed: Int, dim: Int = 8): Seq[Float] =
    (1 to dim).map(i => math.sin(seed * 0.7 + i * 1.31).toFloat)

  private def newClient(): GraftClient = {
    val root = java.nio.file.Files.createTempDirectory("graft-pq").toString
    new GraftClient(spark, root)
  }

  // ---- kernel-level ----

  test("pq_encode equals a Scala recomputation; ADC equals its LUT sum") {
    import spark.implicits._
    val dim = 8; val m = 4; val dsub = dim / m
    val rows = (0 until 120).map(i => (i.toLong, vec(i, dim)))
    val df = rows.toDF("id", "v")
    val (indexed, quant) = IvfIndex.build(df, "v", nlist = 3)
    // small ksub so real quantization distortion is exercised
    val pq = PqIndex.train(indexed, "v", quant.centers, m, ksub = 8)
    assert(pq.m == m && pq.dsub == dsub && pq.ksub == 8)
    val centersBc = spark.sparkContext.broadcast(quant.centers)
    val booksBc = spark.sparkContext.broadcast(pq.codebooks)
    val encoded = PqIndex.encode(indexed, "v", centersBc, booksBc)
      .select("id", "centroidId", "pqcode").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2))).toList

    // Scala twin of the encode kernel: float32 reads, ties to lowest id
    def encodeScala(v: Seq[Float], cell: Int): Array[Byte] = {
      val ctr = quant.centers(cell)
      (0 until m).map { j =>
        val best = (0 until pq.ksub).minBy { c =>
          val w = pq.codebooks(j)(c)
          ((0 until dsub).map { t =>
            val i = j * dsub + t
            val d = v(i).toDouble - ctr(i) - w(t); d * d
          }.sum, c)
        }
        best.toByte
      }.toArray
    }
    val byId = rows.toMap
    encoded.foreach { case (id, cell, code) =>
      assert(code.sameElements(encodeScala(byId(id), cell)),
        s"row $id: kernel codes differ from the Scala twin")
    }

    // ADC: kernel result == sqrt of the LUT entries its codes select,
    // and approximates the exact residual-space distance
    val q = vec(7, dim).toArray
    val luts = Array.fill[Array[Double]](quant.nlist)(null)
    (0 until quant.nlist).foreach(c => luts(c) = pq.lutFor(q, quant.centers(c)))
    val lutsBc = spark.sparkContext.broadcast(luts)
    val adc = PqIndex.encode(indexed, "v", centersBc, booksBc)
      .select(col("id"), PqFunctions.pq_adc_distance(
        col("pqcode"), col("centroidId"), lutsBc, pq.ksub).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    encoded.foreach { case (id, cell, code) =>
      val s = code.indices.map(j => luts(cell)(j * pq.ksub + (code(j) & 0xFF))).sum
      assert(math.abs(adc(id) - math.sqrt(s)) < 1e-12,
        s"row $id: ADC kernel != its own LUT sum")
    }
    // sanity: ADC correlates with exact L2 (same nearest row at least)
    val exactNearest = rows.minBy { case (_, v) =>
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    }._1
    val adcNearest = adc.minBy { case (id, d) => (d, id) }._1
    assert(adcNearest == exactNearest,
      "ADC must rank the clearly-nearest row first on this corpus")
  }

  test("train clamps ksub to the row count and pads to uniform width") {
    import spark.implicits._
    val df = (0 until 5).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val (indexed, quant) = IvfIndex.build(df, "v", nlist = 2)
    val pq = PqIndex.train(indexed, "v", quant.centers, m = 2, ksub = 256)
    assert(pq.ksub == 5, "ksub must clamp to the training row count")
    assert(pq.codebooks.forall(_.length == pq.ksub), "uniform codebook width")
  }

  // ---- client-level ----

  test("IVF_PQ through the client: ADC stage-1, exact re-rank, fresh across upserts") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pq", dim = 8, metric = "l2",
      indexType = "IVF_PQ", nlist = 4)
    assert(client.describe("pq").pqM == 4,
      "auto-picked m: largest ≤ 64 dividing dim 8 with dsub ≥ 2")
    val rows = (0 until 200).map(i => (s"k$i", vec(i), Map("i" -> i.toString)))
    client.upsert("pq", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pq", nlist = 4)

    val dp = client.describe("pq").dataPath
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dp-ivf/pqcells")),
      "IVF_PQ build must persist the encoded cells")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dp-ivf/pq_codebooks")),
      "IVF_PQ build must persist the codebooks")
    assert(client.listIndexes("pq").collect()
      .exists(r => r.getString(0) == "IVF_PQ" && r.getBoolean(2)),
      "listIndexes must report a fresh IVF_PQ index")

    // stage 1 scans the byte codes with the cell prune as a PARTITION
    // filter; stage 2 is a broadcast re-rank against the keyed store
    val probed = client.search("pq", vec(17).toArray, k = 5, nprobe = 2)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("pqcode"), "stage 1 must scan the PQ codes")
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("centroidId")),
      s"the cell prune must be a PARTITION filter on the codes scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "the exact re-rank fetch must be a broadcast join, not a shuffle")
    assert(probed.collect().head.getAs[String]("vector_key") == "k17")

    def l2(v: Seq[Float], q: Array[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    def exactTop(live: Map[String, Seq[Float]], q: Array[Float], k: Int): Seq[String] =
      live.toSeq.map { case (key, v) => (key, l2(v, q)) }
        .sortBy { case (key, d) => (d, key) }.take(k).map(_._1)

    val live0 = rows.map { case (k, v, _) => k -> v }.toMap
    for (qSeed <- Seq(3, 17, 42, 101)) {
      val q = vec(qSeed).toArray
      val got = client.search("pq", q, k = 10, nprobe = 4, refine = 8)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(got == exactTop(live0, q, 10),
        s"refined PQ at full probe must equal the exact answer (q=vec($qSeed))")
    }

    // metadata filter composes on the codes scan (pqcells keep meta)
    val evenFilter = element_at(col("meta"), "i").cast("int") % 2 === 0
    val filtered = client.search("pq", vec(17).toArray, k = 5,
      filter = Some(evenFilter), nprobe = 4, refine = 8)
    assert(filtered.collect().map(_.getAs[String]("vector_key")).toSeq
      .forall(k => k.drop(1).toInt % 2 == 0))

    // maintenance: moves, fresh inserts, deletes re-encode only touched
    // cells — the PQ path keeps serving, codes never go stale
    client.upsert("pq", Seq(
      ("fresh", vec(500), Map("i" -> "500")),
      ("k30", vec(170), Map("i" -> "30"))
    ).toDF("key", "vec", "meta"))
    client.deleteByKeys("pq", Seq("k17"))
    val live = live0 ++ Map("fresh" -> vec(500), "k30" -> vec(170)) - "k17"
    for (qSeed <- Seq(17, 170, 500)) {
      val q = vec(qSeed).toArray
      val df = client.search("pq", q, k = 8, nprobe = 4, refine = 8)
      assert(df.queryExecution.executedPlan.toString.contains("pqcode"),
        "maintenance commits must keep the PQ stage-1 path")
      val got = df.collect().map(_.getAs[String]("vector_key")).toSeq
      assert(got == exactTop(live, q, 8), s"q=vec($qSeed): $got")
    }
    // compact folds the delta segments into the base codes
    client.compact("pq")
    val pqOnDisk = spark.read.parquet(s"$dp-ivf/pqcells")
    assert(pqOnDisk.filter(col("key") === "k17").count() == 0,
      "deleted key lingers in the PQ cells")
    assert(pqOnDisk.filter(col("key") === "k30").count() == 1,
      "moved key must exist exactly once in the PQ cells")
    assert(pqOnDisk.filter(col("key") === "fresh").count() == 1)

    // recall estimator runs (batch path rides the FLAT cell prune)
    assert(client.estimateRecall("pq", k = 5, nprobe = 4) >= 0.99)
  }

  test("cosine IVF_PQ: normalized-space codes, exact cosine re-rank") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqc", dim = 8, metric = "cosine",
      indexType = "IVF_PQ", nlist = 4)
    val rows = (0 until 150).map(i => (s"c$i", vec(i), Map.empty[String, String]))
    client.upsert("pqc", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pqc", nlist = 4)
    def cos(a: Seq[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    for (qSeed <- Seq(5, 77)) {
      val q = vec(qSeed).toArray
      val got = client.search("pqc", q, k = 10, nprobe = 4, refine = 8)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      val want = rows.map { case (k, v, _) => (k, -cos(v, q)) }
        .sortBy { case (k, d) => (d, k) }.take(10).map(_._1)
      assert(got == want, s"cosine PQ q=vec($qSeed)")
    }
  }

  test("iterator drains an IVF_PQ collection completely via the ADC margin drain") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqi", dim = 8, indexType = "IVF_PQ", nlist = 4)
    val rows = (0 until 300).map(i => (s"i$i", vec(i), Map.empty[String, String]))
    client.upsert("pqi", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pqi", nlist = 4)
    // the build persists the per-cell reconstruction bounds the margin
    // drain holds back by
    val dp = client.describe("pqi").dataPath
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dp-ivf/pq_recon")),
      "IVF_PQ build must persist the pq_recon bounds")
    val q = vec(9).toArray
    GraftClient.resetMarginFamilies()
    val drained = client.searchIterator("pqi", q, batchSize = 40)
      .flatMap(_.map(_.getAs[String]("vector_key"))).toSeq
    assert(GraftClient.marginFamiliesSeen.contains("pq"),
      "the drain must ride the PQ quantized-keyset margin stream, not " +
        "silently fall back to the float-cell scan")
    assert(drained.size == 300, s"PQ drain must cover every row (got ${drained.size})")
    assert(drained.distinct.size == 300, "no duplicates across pages")
    // order parity with the exact ranking — the hold-back margin emits
    // in exact-distance order despite stage 1 ranking by ADC
    def l2d(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val want = rows.map { case (k, v, _) => (k, math.sqrt(l2d(v))) }
      .sortBy { case (k, d) => (d, k) }.map(_._1)
    assert(drained == want, "drain order must equal the exact-distance order")
  }

  test("pq_recon_error equals the Scala twin; pq_asym_distance == LUT ADC bit-for-bit") {
    import spark.implicits._
    val dim = 8; val m = 4; val dsub = dim / m
    val rows = (0 until 120).map(i => (i.toLong, vec(i, dim)))
    val df = rows.toDF("id", "v")
    val (indexed, quant) = IvfIndex.build(df, "v", nlist = 3)
    val pq = PqIndex.train(indexed, "v", quant.centers, m, ksub = 8)
    val centersBc = spark.sparkContext.broadcast(quant.centers)
    val booksBc = spark.sparkContext.broadcast(pq.codebooks)

    // recon error: per subspace the MIN distance² over codewords (what
    // encode's argmin achieves), summed, sqrt — computed per row
    def reconScala(v: Seq[Float], cell: Int): Double = {
      val ctr = quant.centers(cell)
      math.sqrt((0 until m).map { j =>
        (0 until pq.ksub).map { c =>
          val w = pq.codebooks(j)(c)
          (0 until dsub).map { t =>
            val i = j * dsub + t
            val d = v(i).toDouble - ctr(i) - w(t); d * d
          }.sum
        }.min
      }.sum)
    }
    val got = indexed.select(col("id"), col("centroidId"),
        PqFunctions.pq_recon_error(col("v"), col("centroidId"),
          centersBc, booksBc).as("err"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val byId = rows.toMap
    got.foreach { case (id, cell, err) =>
      assert(math.abs(err - reconScala(byId(id), cell)) < 1e-12,
        s"row $id: recon-error kernel differs from the Scala twin")
      assert(err >= 0.0)
    }

    // asym distance: bit-identical to the single-query LUT ADC — the
    // batch arm's stage-1 distances must equal the per-query path's
    val q = vec(7, dim)
    val luts = Array.fill[Array[Double]](quant.nlist)(null)
    (0 until quant.nlist).foreach(c => luts(c) = pq.lutFor(q.toArray, quant.centers(c)))
    val lutsBc = spark.sparkContext.broadcast(luts)
    val encoded = PqIndex.encode(indexed, "v", centersBc, booksBc)
    val pairs = encoded
      .withColumn("qv", typedLit(q))
      .select(col("id"),
        PqFunctions.pq_adc_distance(col("pqcode"), col("centroidId"),
          lutsBc, pq.ksub).as("lut"),
        PqFunctions.pq_asym_distance(col("qv"), col("pqcode"),
          col("centroidId"), centersBc, booksBc).as("asym"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"row ${r.getLong(0)}: asym ${r.getDouble(2)} != LUT ADC ${r.getDouble(1)}")
    }
  }

  test("PQ margin drain stays exact across maintenance commits (bound upkeep)") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqm", dim = 8, indexType = "IVF_PQ", nlist = 4)
    val rows = (0 until 250).map(i => (s"m$i", vec(i), Map.empty[String, String]))
    client.upsert("pqm", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pqm", nlist = 4)
    // churn: a move (k30 → far vector), fresh inserts, deletes — the
    // touched cells re-encode AND their reconstruction bounds recompute;
    // a stale (too-small) bound would let the drain emit out of order
    client.upsert("pqm", Seq(
      ("m30", vec(700), Map.empty[String, String]),
      ("extra1", vec(800), Map.empty[String, String]),
      ("extra2", vec(801), Map.empty[String, String])
    ).toDF("key", "vec", "meta"))
    client.deleteByKeys("pqm", Seq("m7", "m99"))
    val live = rows.map { case (k, v, _) => k -> v }.toMap ++
      Map("m30" -> vec(700), "extra1" -> vec(800), "extra2" -> vec(801)) -
      "m7" - "m99"
    val q = vec(13).toArray
    GraftClient.resetMarginFamilies()
    val drained = client.searchIterator("pqm", q, batchSize = 30)
      .flatMap(_.map(r => (r.getString(0), r.getDouble(1)))).toSeq
    assert(GraftClient.marginFamiliesSeen.contains("pq"),
      "post-maintenance drain must still ride the PQ margin stream")
    def l2d(v: Seq[Float]): Double =
      math.sqrt(v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum)
    val want = live.toSeq.map { case (k, v) => (k, l2d(v)) }
      .sortBy { case (k, d) => (d, k) }
    assert(drained.map(_._1) == want.map(_._1),
      "post-maintenance drain must equal the exact ranking, key for key")
    drained.zip(want).foreach { case ((_, d), (_, t)) =>
      assert(math.abs(d - t) < 1e-6) }
  }

  test("per-partition IVF_PQ: scoped search rides that partition's ADC index") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqp", dim = 8, indexType = "IVF_PQ", nlist = 2)
    client.createPartition("pqp", "pa")
    client.createPartition("pqp", "pb")
    val a = (0 until 80).map(i => (s"a$i", vec(i), Map.empty[String, String]))
    val b = (0 until 80).map(i => (s"b$i", vec(i + 500), Map.empty[String, String]))
    client.upsert("pqp", a.toDF("key", "vec", "meta"), partition = "pa")
    client.upsert("pqp", b.toDF("key", "vec", "meta"), partition = "pb")
    client.buildIndex("pqp", nlist = 2) // all partitions, like Milvus
    val q = vec(503).toArray
    val scoped = client.search("pqp", q, k = 5, nprobe = 2, refine = 16,
      partitions = Seq("pb"))
    assert(scoped.queryExecution.executedPlan.toString.contains("pqcode"),
      "the scoped partition's own PQ index must serve stage 1")
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (x, y) => val d = x.toDouble - y; d * d }.sum
    val want = b.map { case (k, v, _) => (k, l2(v)) }
      .sortBy { case (k, d) => (d, k) }.take(5).map(_._1)
    assert(scoped.collect().map(_.getAs[String]("vector_key")).toSeq == want,
      "scoped PQ search == that partition's exact answer at full probe")
    // the unscoped union sees both partitions' rows through their indexes
    assert(client.search("pqp", q, k = 160, nprobe = 2, refine = 32)
      .count() == 160)
  }

  test("partitioned IVF_PQ drain: one margin stream per partition, merged in exact order") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqpd", dim = 8, indexType = "IVF_PQ", nlist = 2)
    client.createPartition("pqpd", "pa")
    client.createPartition("pqpd", "pb")
    val a = (0 until 90).map(i => (s"a$i", vec(i), Map.empty[String, String]))
    val b = (0 until 90).map(i => (s"b$i", vec(i + 500), Map.empty[String, String]))
    client.upsert("pqpd", a.toDF("key", "vec", "meta"), partition = "pa")
    client.upsert("pqpd", b.toDF("key", "vec", "meta"), partition = "pb")
    client.buildIndex("pqpd", nlist = 2)
    val q = vec(42).toArray
    GraftClient.resetMarginFamilies()
    val drained = client.searchIterator("pqpd", q, batchSize = 25, nprobe = 2)
      .flatten.map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(GraftClient.marginFamiliesSeen.contains("pq"),
      "both partitions' streams must be PQ margin streams")
    def l2d(v: Seq[Float]): Double =
      math.sqrt(v.zip(q).map { case (x, y) => val d = x.toDouble - y; d * d }.sum)
    val want = (a ++ b).map { case (k, v, _) => (k, l2d(v)) }
      .sortBy { case (k, d) => (d, k) }
    assert(drained.length == 180, s"got ${drained.length} of 180")
    assert(drained.map(_._1) == want.map(_._1),
      "the driver-side merge of two PQ margin streams must emit the " +
        "globally exact (distance, key) order")
    // scoped drain touches only that partition's stream
    val scoped = client.searchIterator("pqpd", q, batchSize = 25, nprobe = 2,
      partitions = Seq("pb")).flatten.map(_.getString(0)).toSeq
    assert(scoped.length == 90 && scoped.forall(_.startsWith("b")))
  }

  test("searchBatch rides the PQ ADC codes: batch == per-query, pruned and exact") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqb", dim = 8, indexType = "IVF_PQ", nlist = 4)
    val rows = (0 until 200).map(i => (s"b$i", vec(i), Map("i" -> i.toString)))
    client.upsert("pqb", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pqb", nlist = 4)
    val qs = Seq((0L, vec(17)), (1L, vec(42)), (2L, vec(101)))
    val queries = qs.toDF("qid", "qvec")
    val batchDf = client.searchBatch("pqb", queries, k = 5, nprobe = 4, refine = 8)
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(plan.contains("pq_asym_distance"),
      "batch stage 1 must rank through the asymmetric-ADC kernel over the codes")
    assert(plan.contains("BroadcastHashJoin"),
      "the batch re-rank fetch must broadcast the candidate keys")
    def byQid(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getAs[String]("vector_key")).toSeq }
    val batch = byQid(batchDf)
    for ((qid, qv) <- qs) {
      val single = client.search("pqb", qv.toArray, k = 5, nprobe = 4, refine = 8)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(batch(qid) == single, s"PQ batch qid=$qid diverges from single-query")
    }
    // metadata filter composes on the codes scan in the batch path too
    val evenFilter = element_at(col("meta"), "i").cast("int") % 2 === 0
    val fBatch = byQid(client.searchBatch("pqb", queries, k = 5,
      filter = Some(evenFilter), nprobe = 4, refine = 8))
    for ((qid, qv) <- qs) {
      val single = client.search("pqb", qv.toArray, k = 5,
          filter = Some(evenFilter), nprobe = 4, refine = 8)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      assert(fBatch(qid) == single, s"filtered PQ batch qid=$qid diverges")
      assert(single.forall(k => k.drop(1).toInt % 2 == 0))
    }
    // a vec-referencing filter routes the batch off the codes frame —
    // same fallback contract as single-query search — and forceExact
    // bypasses the index entirely; both must agree with the ADC arm at
    // full probe + deep refine
    val vecBatch = byQid(client.searchBatch("pqb", queries, k = 5,
      filter = Some(size(col("vec")) === 8 && evenFilter), nprobe = 4, refine = 8))
    assert(vecBatch == fBatch,
      "vec-filter fallback must produce identical batch hits")
    val exact = byQid(client.searchBatch("pqb", queries, k = 5, forceExact = true))
    assert(exact == batch,
      "forceExact batch must equal the ADC batch at full probe + deep refine")
  }

  test("create-boundary validation: pqM must divide dim; pqM only with IVF_PQ") {
    val client = newClient()
    intercept[IllegalArgumentException](
      client.createCollection("bad1", dim = 10, indexType = "IVF_PQ", pqM = 3))
    intercept[IllegalArgumentException](
      client.createCollection("bad2", dim = 8, indexType = "FLAT", pqM = 2))
    assert(client.createCollection("ok", dim = 10, indexType = "IVF_PQ", pqM = 5))
    assert(client.describe("ok").pqM == 5)
    // Milvus `nbits`: [1, 8] with IVF_PQ only — 9+ would need a 2-byte
    // code layout and is refused, not clamped
    intercept[IllegalArgumentException](
      client.createCollection("bad3", dim = 8, indexType = "IVF_PQ", pqNbits = 9))
    intercept[IllegalArgumentException](
      client.createCollection("bad4", dim = 8, indexType = "IVF_PQ", pqNbits = 0))
    intercept[IllegalArgumentException](
      client.createCollection("bad5", dim = 8, indexType = "FLAT", pqNbits = 4))
    assert(client.createCollection("ok4", dim = 8, indexType = "IVF_PQ", pqNbits = 4))
    assert(client.describe("ok4").pqNbits == 4)
  }

  test("a filter referencing vec routes PQ search through the float cells") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pqv", dim = 8, indexType = "IVF_PQ", nlist = 2)
    val rows = (0 until 120).map(i => (s"v$i", vec(i), Map.empty[String, String]))
    client.upsert("pqv", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pqv", nlist = 2)
    val q = vec(7).toArray
    // the codes frame has no vec column — this filter resolves only on
    // the float cells, and the same call must behave identically across
    // index types (it does on FLAT and SQ8)
    val df = client.search("pqv", q, k = 5, nprobe = 2, refine = 24,
      filter = Some(size(col("vec")) === 8))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("pqcode"),
      "a vec-referencing filter must route off the codes frame")
    assert(plan.contains("centroidId"),
      "...but still ride the float-cell partition prune")
    def l2(v: Seq[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    val want = rows.map { case (k, v, _) => (k, l2(v)) }
      .sortBy { case (k, d) => (d, k) }.take(5).map(_._1)
    assert(df.collect().map(_.getAs[String]("vector_key")).toSeq == want)
  }

  test("nbits = 4 builds 16-codeword books and still recovers exact top-k refined") {
    import spark.implicits._
    val client = newClient()
    client.createCollection("pq4", dim = 8, indexType = "IVF_PQ",
      nlist = 2, pqNbits = 4)
    val rows = (0 until 160).map(i => (s"n$i", vec(i), Map.empty[String, String]))
    client.upsert("pq4", rows.toDF("key", "vec", "meta"))
    client.buildIndex("pq4", nlist = 2)
    val dp = client.describe("pq4").dataPath
    val books = spark.read.parquet(s"$dp-ivf/pq_codebooks")
    assert(books.groupBy("subspace").count().collect()
      .forall(_.getLong(1) == 16L), "nbits=4 ⇒ 2^4 codewords per subspace")
    def l2(v: Seq[Float], q: Array[Float]): Double =
      v.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
    for (qSeed <- Seq(11, 93)) {
      val q = vec(qSeed).toArray
      // coarser books need a deeper refine pool — that is nbits' trade
      val got = client.search("pq4", q, k = 10, nprobe = 2, refine = 16)
        .collect().map(_.getAs[String]("vector_key")).toSeq
      val want = rows.map { case (k, v, _) => (k, l2(v, q)) }
        .sortBy { case (k, d) => (d, k) }.take(10).map(_._1)
      assert(got == want, s"nbits=4 refined PQ at full probe, q=vec($qSeed)")
    }
  }
}
