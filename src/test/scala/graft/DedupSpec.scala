package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** C8 scale path for embedding near-dup: random-hyperplane LSH bucketing
  * (sign-of-projection sketch). The declared `dedup_embedding_cosine`
  * query brute-forces a bounded window exactly; at 100 TB the candidate
  * generation is this bucket join — O(N) shuffle on short bit-signatures.
  *
  * The fixture's organic pairs top out at cosine ≈ 0.45 (≈ 63°), which no
  * LSH family separates from the ≈ 90° background — so the test PLANTS
  * true near-duplicates (perturbed twins, cosine ≈ 0.98) and checks that
  * bucketing finds them while pruning the pair space, which is the actual
  * production regime (copied/re-encoded documents, not vaguely-similar
  * ones). */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("dedup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("df-capped Jaccard candidate join equals the uncapped exact query") {
    val sf = "/root/testdata/sf0.01"
    val exact = graft.queries.DedupQueries.dedupJaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture must contain qualifying pairs")
    val uncapped = graft.queries.DedupQueries
      .dedupJaccardPairsCapped(spark, sf, dfCap = Int.MaxValue) // sanity: no cap
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped == exact, "uncapped candidate path must equal the inverted-index query")
    // This fixture window is 150 docs over a 31-token vocabulary with df
    // 10..125 (median 112) — there IS no rare-token regime, which is
    // exactly the adversarial case for df-capping. The minimum lossless
    // cap (max over qualifying pairs of the pair's min shared-token df)
    // is 108; cap 115 prunes the 6 heaviest tokens (df 117..125, the
    // biggest df² terms of the join) while keeping every pair reachable.
    val capped = graft.queries.DedupQueries.dedupJaccardPairsCapped(spark, sf, dfCap = 115)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == exact,
      "df-capped candidates must not lose any jac>=0.9 pair at a lossless cap")
  }

  test("dedupClusters' non-broadcast path (label table over the limit) agrees") {
    val sf = "/root/testdata/sf0.01"
    val hinted = graft.queries.DedupQueries.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hinted.nonEmpty)
    // limit 0 forces the shuffle-join path the helper takes on an unbounded
    // corpus, where broadcasting the label table would OOM the driver
    val unhinted = graft.queries.DedupQueries.dedupClusters(spark, sf, broadcastNodeLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unhinted == hinted, "join strategy must not change the clusters")
  }

  test("dfCap drops stopword-driven candidates but keeps every planted dup pair") {
    import spark.implicits._
    // 40 docs ALL sharing three corpus-wide stopwords; 5 planted identical
    // pairs with disjoint content vocabularies; the rest unique. The
    // stopwords dominate min-hashes often enough that uncapped banding
    // emits cross-group candidates (the mega-bucket pathology); capping at
    // df <= 10 removes only the stopwords (content df is 2 or 1).
    val docs = (0 until 40).map { i =>
      val content =
        if (i < 10) s"p${i / 2}a p${i / 2}b p${i / 2}c p${i / 2}d" // pairs 0..4
        else s"u${i}a u${i}b u${i}c u${i}d"
      (i.toLong, s"the of and $content")
    }.toDF("doc_id", "text")
    val planted = (0 until 5).map(p => (2L * p, 2L * p + 1)).toSet
    def pairs(dfCap: Option[Int]): Set[(Long, Long)] =
      graft.queries.DedupQueries.candidatePairs(docs, "doc_id", "text", dfCap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    val capped = pairs(Some(10))
    assert(capped == planted,
      s"capped candidates must be exactly the planted pairs, got $capped")
    assert(planted.subsetOf(uncapped),
      "the cap must not be needed for recall on this fixture")
    assert(uncapped.size > planted.size,
      "fixture must exhibit the stopword mega-bucket pathology uncapped " +
        s"(got ${uncapped.size} candidates)")
    // and the clusters downstream see the same effect end-to-end
    val clusters = graft.queries.DedupQueries
      .clustersOf(docs, "doc_id", "text", dfCap = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters.count(_._2 > 1) == 5 && clusters.forall(_._2 <= 2))
  }

  test("cluster-label cleanup frees only its own checkpoints, not foreign caches") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a foreign cached RDD on the same session — stands in for streaming
    // ingest's persist() or any concurrent caller's cache
    val foreign = sc.parallelize(1 to 100, 2).persist()
    foreign.count()
    val before = sc.getPersistentRDDs.keySet
    val docs = (0 until 40).map { i =>
      // 10 groups of 4 identical texts with DISJOINT per-group vocabularies
      // (inter-group Jaccard 0, so banding can't merge groups) → MinHash
      // candidate edges inside each group, several propagation rounds of
      // checkpoints
      val g = i / 4
      (i.toLong, (0 until 8).map(w => s"tok${g}w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val labels = graft.queries.DedupQueries.clusterLabelsOf(docs, "doc_id", "text")
    // the returned frame stays actionable: its OWN final checkpoint survived
    assert(labels.count() == 40)
    assert(labels.select(countDistinct(col("lbl"))).head().getLong(0) == 10)
    // the foreign cache was not unpersisted by the per-call cleanup
    assert(sc.getPersistentRDDs.contains(foreign.id),
      "cleanup unpersisted a cache block it does not own")
    // and superseded rounds WERE freed — only the final checkpoint remains
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 1,
      s"superseded round checkpoints must be freed, still cached: $added")
    foreign.unpersist()
  }

  test("concurrent cluster-label calls do not free each other's checkpoints") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    def docsFor(off: Long) = (0 until 60).map { i =>
      // disjoint per-group vocabularies, like the ownership test above
      val g = i / 3
      (off + i, (0 until 8).map(w => s"c${off}g${g}w$w").mkString(" "))
    }.toDF("doc_id", "text")
    // two interleaved calls on ONE session: a session-wide persistent-RDD
    // diff would let either call unpersist the other's round checkpoints
    // (or keep a foreign block while truncating its own final one)
    val futs = Seq(0L, 100000L).map(off => Future {
      val labels = graft.queries.DedupQueries.clusterLabelsOf(docsFor(off), "doc_id", "text")
      // act on the frame AFTER both cleanups have had a chance to run
      Thread.sleep(50)
      (labels.count(), labels.select(countDistinct(col("lbl"))).head().getLong(0))
    })
    val results = futs.map(Await.result(_, 5.minutes))
    assert(results.forall(_ == ((60L, 20L))),
      s"concurrent cluster labelings corrupted each other: $results")
  }

  test("random-hyperplane LSH finds planted near-dup twins at O(N) cost") {
    import spark.implicits._
    val dim = 64
    val nPlanes = 8
    val nBands = 8
    val rnd = new scala.util.Random(42)

    // 200 base vectors from the fixture + a perturbed twin for every 4th.
    val base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect()
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val twins = base.collect { case (id, v) if id % 4 == 0 =>
      val perturbed = normalize(v.map(_.toDouble + 0.05 * rnd.nextGaussian()).toArray)
      (id + 10000L, perturbed.toSeq)
    }
    val all = base.map { case (id, v) => (id, normalize(v.map(_.toDouble).toArray).toSeq) } ++ twins
    val plantedPairs = twins.map { case (tid, _) => (tid - 10000L, tid) }.toSet

    val planes: Array[Array[Array[Double]]] =
      Array.fill(nBands, nPlanes, dim)(rnd.nextGaussian())
    val bPlanes = spark.sparkContext.broadcast(planes)

    val buckets = all.toSeq.toDF("vec_id", "v").as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val ps = bPlanes.value
        (0 until nBands).map { b =>
          var sig = 0
          var p = 0
          while (p < nPlanes) {
            var dot = 0.0; var i = 0
            while (i < dim) { dot += ps(b)(p)(i) * v(i); i += 1 }
            if (dot >= 0) sig |= (1 << p)
            p += 1
          }
          (id, b, sig)
        }
      }.toDF("vec_id", "band", "sig")

    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val n = all.length
    val allPairs = n * (n - 1) / 2
    val recall = plantedPairs.count(cand.contains).toDouble / plantedPairs.size
    assert(plantedPairs.size == 50)
    assert(recall >= 0.9, s"LSH recall on planted twins: $recall")
    assert(cand.size < allPairs / 5,
      s"bucketing must prune the pair space (|cand|=${cand.size} of $allPairs)")
  }

  test("dedup_embedding_lsh raises on embeddings shorter than its 64 planes") {
    import spark.implicits._
    // a 32-dim corpus: each plane's 64 weights would zip against 32
    // nulls, whose bits silently read 0 — the query must refuse instead
    val dir = java.nio.file.Files.createTempDirectory("lsh-short").toString
    (0 until 20).map(i => (i.toLong, Seq.tabulate(32)(d => ((i * 7 + d) % 11).toFloat)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[Exception](
      graft.queries.DedupQueries.dedupEmbeddingLsh(spark, dir).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(
      "dedup_embedding_lsh needs embeddings of at least 64 dims")),
      s"expected the named short-embedding error, got: ${msgs.mkString(" | ")}")
  }
}
