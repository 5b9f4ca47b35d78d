package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions._

object SparkTestSession {
  /** A LIVE shared session — `def`, not `lazy val`: most suites in this
    * build stop the (single, JVM-wide) SparkContext in their afterAll,
    * so a cached session dies under any suite that runs after them. Each
    * call goes through getOrCreate, which skips stopped sessions and
    * builds a fresh one; builder confs are silently DROPPED when an
    * existing live session is returned, so the read confs are re-applied
    * on whatever session we actually got (the PlanQualitySpec pattern). */
  def spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 2.0f)),
    (2L, Array(0.0f, 3.0f, 4.0f)),
    (3L, Array(0.0f, 0.0f, 0.0f))
  ).toDF("id", "v")

  test("l2_distance: self-distance is 0, known values match") {
    val d = vecs.as("a").crossJoin(vecs.as("b"))
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        l2_distance($"a.v", $"b.v").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d((1L, 1L)) == 0.0)
    assert(math.abs(d((1L, 2L)) - math.sqrt(1 + 1 + 4)) < 1e-12)
    assert(d((3L, 3L)) == 0.0)
  }

  test("dot_product and vector_norm known values") {
    val r = vecs.filter($"id" === 1)
      .select(dot_product($"v", $"v").as("dp"), vector_norm($"v").as("n"))
      .head()
    assert(r.getDouble(0) == 9.0)
    assert(r.getDouble(1) == 3.0)
  }

  test("cosine_similarity: self ~1, orthogonal 0, zero-vector guarded") {
    val c = vecs.as("a").crossJoin(vecs.as("b"))
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        cosine_similarity($"a.v", $"b.v").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(c((1L, 1L)) - 1.0) < 1e-12)
    assert(c((1L, 3L)) == 0.0) // zero vector → 0, not NaN
  }

  test("l2_normalize: unit norm, zero vector passthrough, float32 kept") {
    val out = vecs.select($"id", l2_normalize($"v").as("u"))
      .select($"id", vector_norm($"u").as("n"), element_at($"u", 1).as("e1"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getFloat(2))).toMap
    assert(math.abs(out(1L)._1 - 1.0) < 1e-6)
    assert(out(3L)._1 == 0.0)
    assert(math.abs(out(1L)._2 - 1.0f / 3.0f) < 1e-7)
  }

  test("assert_dim passes on right dim, throws on wrong dim") {
    assert(vecs.select(assert_dim($"v", 3)).count() == 3)
    val e = intercept[Exception] {
      vecs.select(assert_dim($"v", 5)).collect()
    }
    // the DESIGNED diagnostic must appear somewhere in the cause chain —
    // "any exception with a cause" would accept an unrelated NPE too
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("dimension"), s"unexpected error: $msgs")
  }

  test("ngrams expression: shingles, short inputs, codegen + SQL parity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("x", "y")),          // shorter than n
      (3L, Seq.empty[String])
    ).toDF("id", "ws")
    val got = df.select($"id", graft.functions.TextFunctions.ngrams($"ws", 3).as("sh"))
      .orderBy("id").collect().map(_.getSeq[String](1))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty && got(2) == Seq.empty)
    graft.functions.TextFunctions.register(spark)
    df.createOrReplaceTempView("ngram_in")
    val sqlGot = spark.sql("SELECT ngrams(ws, 2) AS sh FROM ngram_in WHERE id = 1")
      .head().getSeq[String](0)
    assert(sqlGot == Seq("a b", "b c", "c d"))
    val err = intercept[Exception] { spark.sql("SELECT ngrams(ws) FROM ngram_in").collect() }
    assert(err.getMessage.contains("ngrams expects 2 arguments"))

    // null ELEMENTS fail loudly: concatWs would silently skip them and
    // emit shortened shingles that join against honest ones downstream
    val nullErr = intercept[Exception] {
      Seq((1L, Seq("a", null, "b"))).toDF("id", "ws")
        .repartition(2)
        .select(graft.functions.TextFunctions.ngrams($"ws", 2)).collect()
    }
    val nullMsgs = Iterator.iterate[Throwable](nullErr)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(nullMsgs.contains("null element"), s"unexpected: $nullMsgs")

    // the sibling text kernel registers too (same literal-arg pattern)
    val wf = spark.sql(
      "SELECT winnowed_fingerprint('the quick brown fox jumps over it', 8, 4) AS fp")
      .head().getSeq[Long](0)
    assert(wf.nonEmpty, "SQL-registered winnowed_fingerprint must produce fingerprints")
  }

  test("winnowed_fingerprint: shared-substring guarantee and edit locality") {
    import graft.functions.WinnowedFingerprint
    import org.apache.spark.unsafe.types.UTF8String
    def fp(s: String, w: Int = 8, k: Int = 4): Set[Long] =
      WinnowedFingerprint.compute(UTF8String.fromString(s), w, k)
        .toLongArray().toSet
    val shared = "a long shared passage that both documents contain verbatim"
    val a = "prefix one " + shared + " suffix alpha"
    val b = "totally different start " + shared + " other ending"
    // any shared substring >= w+k-1 bytes must yield a common fingerprint
    assert(fp(a).intersect(fp(b)).nonEmpty)
    // unrelated texts: no overlap expected at these sizes
    val c = "zzz qqq completely unrelated material 12345 with nothing in common!"
    assert(fp(a).intersect(fp(c)).isEmpty)
    // edit locality: one edit at the end keeps most fingerprints
    val edited = a.dropRight(1) + "?"
    val keep = fp(a).intersect(fp(edited)).size.toDouble / fp(a).size
    assert(keep > 0.7, s"kept $keep of fingerprints after a 1-char edit")
    // determinism + degenerate inputs
    assert(fp(a) == fp(a))
    assert(fp("short", 8, 4).isEmpty)
    // works through the Column API with codegen
    import spark.implicits._
    val viaCol = Seq(a).toDF("t")
      .select(graft.functions.TextFunctions.winnowed_fingerprint($"t", 8, 4))
      .head().getSeq[Long](0).toSet
    assert(viaCol == fp(a))
  }

  test("SQL registration works") {
    register(spark)
    vecs.createOrReplaceTempView("vt")
    val r = spark.sql(
      "SELECT id, l2_distance(v, v) d, vector_norm(v) n FROM vt ORDER BY id").collect()
    assert(r.forall(_.getDouble(1) == 0.0))
    assert(r(0).getDouble(2) == 3.0)
  }

  test("nearest_centroid: argmin semantics, tie to lowest id, codegen, dim guard") {
    val centers = Array(
      Array(0.0, 0.0, 0.0),
      Array(1.0, 2.0, 2.0),   // exactly vec 1
      Array(1.0, 2.0, 2.0))   // duplicate — tie must go to the LOWER id
    val bc = spark.sparkContext.broadcast(centers)
    // repartition blocks ConvertToLocalRelation from eagerly evaluating the
    // projection driver-side — the plan must show the real codegen'd kernel
    val assigned = vecs.repartition(2)
      .select($"id", nearest_centroid($"v", bc).as("cell"))
    val got = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 1, "exact match goes to its centroid, tie broken to lowest id")
    assert(got(3L) == 0, "zero vector is nearest the origin centroid")

    // the assign kernel must stay inside whole-stage codegen (it runs on
    // every merge-commit's index-maintenance path) — no boxed udf closure
    val plan = assigned.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(l =>
      l.contains("nearest_centroid") && l.contains("Project"))
    assert(line.isDefined, s"expression missing from plan:\n$plan")
    assert(line.get.contains("*("),
      s"nearest_centroid fell out of whole-stage codegen (no *(n) stage marker):\n$plan")
    assert(!plan.contains("UDF"), "assign path must not plan a udf")

    // interpreted (no-codegen) path computes the same assignment
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = vecs.repartition(2)
        .select($"id", nearest_centroid($"v", bc).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(interp == got, "interpreted eval diverges from codegen")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)

    // a vector whose dimension disagrees with the centroids fails loudly
    val badBc = spark.sparkContext.broadcast(Array(Array(0.0, 0.0)))
    val e = intercept[Exception] {
      vecs.select(nearest_centroid($"v", badBc)).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(messages.contains("dimension"), s"unexpected error: $messages")
  }

  test("nearest_centroids: matches CoarseQuantizer.probes incl. ties and cosine normalization") {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(50)(Array.fill(6)(rnd.nextDouble() * 2 - 1))
    centers(10) = centers(3).clone() // duplicated center: every query ties 3 vs 10
    val quant = graft.index.IvfIndex.CoarseQuantizer(centers)
    val bc = spark.sparkContext.broadcast(centers)
    val vs = (0 until 40).map(i => (i.toLong, Seq.fill(6)(rnd.nextFloat() * 2 - 1)))
    val df = vs.toDF("id", "v").repartition(3)
    for (normalize <- Seq(false, true); nprobe <- Seq(1, 4, 50, 64)) {
      val got = df.select($"id", nearest_centroids($"v", bc, nprobe, normalize).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val want = vs.map { case (id, v) =>
        var a = v.toArray
        if (normalize) {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
          val n = math.sqrt(s)
          if (n != 0.0) a = a.map(x => (x / n).toFloat)
        }
        id -> quant.probes(a, nprobe)
      }.toMap
      assert(got == want, s"normalize=$normalize nprobe=$nprobe")
    }
    // ties resolve to the lowest id: the duplicated center pair must appear
    // in id order whenever both are selected
    val full = df.select($"id", nearest_centroids($"v", bc, 50, false).as("cells"))
      .head().getSeq[Int](1)
    assert(full.indexOf(3) < full.indexOf(10),
      "equal-distance centroids must rank by ascending id")

    // dim mismatch fails loudly in BOTH directions (same guard as
    // nearest_centroid): a longer query must not silently rank cells by a
    // prefix distance, a shorter one must not die with a bare
    // ArrayIndexOutOfBoundsException. The kernel is shared by eval and
    // codegen, so one executed plan per direction covers both.
    for (badDim <- Seq(4, 8)) {
      val bad = Seq((1L, Seq.fill(badDim)(0.5f))).toDF("id", "v").repartition(2)
      val e = intercept[Exception] {
        bad.select(nearest_centroids($"v", bc, 4, false)).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(msgs.contains("dimension"),
        s"dim $badDim vs 6 centroids: unexpected error: $msgs")
    }
  }

  test("sq8_codes/sq8_qmax: encode arithmetic, zero vector, codegen round-trip") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("id", "v").repartition(2)
    val rows = df.select($"id", sq8_codes($"v").as("codes"), sq8_qmax($"v").as("qmax"))
      .collect().map(r => r.getLong(0) -> ((r.getAs[Array[Byte]]("codes").toSeq, r.getDouble(2)))).toMap
    // qmax = 1.0; codes = floor(x*127/1 + 0.5): 0.5→64, -1.0→-127, 0.25→32
    assert(rows(1L) == (Seq[Byte](64, -127, 32), 1.0))
    assert(rows(2L) == (Seq[Byte](0, 0, 0), 0.0), "all-zero vector: qmax 0, zero codes")
  }

  test("frozen-encoding kernels round double inputs through float32") {
    // The at-rest contract: a row's cell/codes must be re-derivable
    // bit-for-bit in float32 space whatever the input column's width —
    // a double-typed vector has to assign and encode exactly like its
    // float32 rounding (the pre-codegen udfs took Seq[Float] and got
    // this for free; maintenance re-derives cells from the stored rows).
    val d = Seq(0.1, 1.0 / 3.0, 0.7, -0.30000000000000004)
    val dfD = Seq((1L, d.toArray)).toDF("id", "v").repartition(2)
    val dfF = Seq((1L, d.map(_.toFloat).toArray)).toDF("id", "v").repartition(2)
    val gotD = dfD.select(sq8_codes($"v").as("c"), sq8_qmax($"v").as("q")).head()
    val gotF = dfF.select(sq8_codes($"v").as("c"), sq8_qmax($"v").as("q")).head()
    assert(gotD.getAs[Array[Byte]]("c").toSeq == gotF.getAs[Array[Byte]]("c").toSeq,
      "sq8 codes from a double vector must equal its float32 rounding's codes")
    assert(gotD.getDouble(1) == gotF.getDouble(1),
      "sq8 qmax must be computed over the float32-rounded elements")

    // cell assign near a tie the rounding decides: x = 0.5 + 1.5e-9 is
    // closer to center 1 (0.5 + 2e-9) in double space, but float32(x) is
    // exactly 0.5 → center 0. Both input widths must pick center 0.
    val centers = Array(Array(0.5), Array(0.5 + 2e-9))
    val bc = spark.sparkContext.broadcast(centers)
    val x = 0.5 + 1.5e-9
    val cellD = Seq((1L, Array(x))).toDF("id", "v").repartition(2)
      .select(nearest_centroid($"v", bc)).head().getInt(0)
    val cellF = Seq((1L, Array(x.toFloat))).toDF("id", "v").repartition(2)
      .select(nearest_centroid($"v", bc)).head().getInt(0)
    assert(cellF == 0, "float32 input: x rounds to 0.5, center 0 wins")
    assert(cellD == 0,
      "double input must assign like its float32 rounding, not full precision")
  }

  test("works over real embeddings parquet with codegen") {
    val df = spark.read.parquet(s"${SparkTestSession.sf}/embeddings.parquet")
    val q = df.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = df.crossJoin(broadcast(q))
      .select($"vec_id", l2_distance($"embedding", $"q").as("dist"))
      .orderBy($"dist", $"vec_id").limit(3)
      .collect()
    assert(top.length == 3)
    assert(top(0).getLong(0) == 0L && top(0).getDouble(1) == 0.0)
    assert(top(1).getDouble(1) > 0.0)
  }
}
