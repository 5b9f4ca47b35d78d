package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.functions.VectorFunctions._

/** KNN / vector-search query surface (SURVEY §2 A12–A15, B1–B4).
  *
  * The reference issues top-K L2 searches against its backend
  * (`s3vectors-app/search.py:49-58`, `milvus-app/search.py:13-19`); we
  * evaluate the same semantics natively on Spark.
  *
  * Scale posture: every single-query KNN here plans as
  * `TakeOrderedAndProject(Project(dist, Scan))` — one fused codegen pass per
  * partition holding only k rows, then a k-way driver merge. No shuffle, no
  * full sort; this is exactly the plan you want on a 1000-executor scan of a
  * 100 TB index. The batched variant broadcasts the (small) query set and
  * partial-aggregates per-partition bounded top-k heaps (TopKByDistance
  * UDAF) before its only shuffle. At extreme scale the IVF path
  * (graft.index.IvfIndex) prunes the scanned partitions first.
  */
object VectorQueries {

  /** Query vector = embeddings row vec_id=0, joined in as a 1-row broadcast
    * (keeps the query self-contained and oracle-expressible). */
  private def withQueryVec(spark: SparkSession, dir: String, qid: Long = 0L): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
    emb.crossJoin(broadcast(q))
  }

  /** A12/A13/A14: exact top-10 by L2 distance + metadata projection. */
  def knnL2(spark: SparkSession, dir: String): DataFrame =
    withQueryVec(spark, dir)
      .select(col("vec_id"), l2_distance(col("embedding"), col("qvec")).as("dist"), col("label"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)

  /** B3: cosine-similarity top-10 (descending). */
  def knnCosine(spark: SparkSession, dir: String): DataFrame =
    withQueryVec(spark, dir)
      .select(col("vec_id"), cosine_similarity(col("embedding"), col("qvec")).as("sim"), col("label"))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(10)

  /** B3: inner-product top-10 (descending). */
  def knnDot(spark: SparkSession, dir: String): DataFrame =
    withQueryVec(spark, dir)
      .select(col("vec_id"), dot_product(col("embedding"), col("qvec")).as("ip"), col("label"))
      .orderBy(desc("ip"), col("vec_id"))
      .limit(10)

  /** B2: metadata pre-filter (label predicate) then top-5 by L2. The filter
    * sits below the distance projection so Catalyst pushes it to the scan. */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame =
    withQueryVec(spark, dir)
      .filter(col("label") % 2 === 0 && col("vec_id") =!= 0)
      .select(col("vec_id"), l2_distance(col("embedding"), col("qvec")).as("dist"), col("label"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(5)

  /** B4: batched multi-query search — 20 query vectors × index, per-query
    * top-3 via the bounded-heap UDAF (graft.functions.TopKByDistance).
    * Query side broadcast; the aggregate partial-reduces each partition to
    * ≤k rows per qid BEFORE the shuffle, so shuffle traffic is
    * k·partitions·Q rows — never the N×Q scored product (a rank window
    * here would shuffle the full product onto Q keys; see TopKByDistance). */
  def knnBatched(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // loud fixture invariant (r17): "the first 20 vectors as queries"
    // needs all 20 present — a smaller corpus would silently shrink
    // the batch under the oracle's replay
    require(queries.count() == 20,
      "knn_batched: expected query vectors vec_id 0..19 — the corpus " +
        "no longer holds all of them")
    val scored = emb.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        l2_distance(col("embedding"), col("qvec")).as("dist"))
    val topk = graft.functions.VectorAggregates.topKByDist(3)
    scored.groupBy(col("qid"))
      .agg(topk(col("dist"), col("vec_id")).as("tops"))
      .select(col("qid"), posexplode(col("tops")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.vec_id").as("vec_id"), col("hit.dist").as("dist"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** B2+ (Milvus range search, `radius`/`range_filter` params): every row
    * whose L2 distance to the query falls in the [0.5, 1.25) annulus —
    * the inner bound excludes the query's own row (dist 0) exactly the
    * way `range_filter` excludes already-ingested near-dupes in
    * production. Unlike nprobe top-k there is NO recall knob here: the
    * declared query is a distance-predicate scan, and the client-surface
    * form (`GraftClient.searchRange`) keeps it exact even through the
    * IVF prune, whose triangle-inequality cell bound is lossless. Plans
    * as Project(dist) → Filter → Sort: one scan pass, the filter sits on
    * the projected distance, no shuffle but the output sort. */
  def knnRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val banded = withQueryVec(spark, dir)
      .select(col("vec_id"), l2_distance(col("embedding"), col("qvec")).as("dist"), col("label"))
      .filter(col("dist") >= 0.5 && col("dist") < 1.25)
      .orderBy(col("dist"), col("vec_id"))
    // loud fixture invariant (r17): the [0.5, 1.25) annulus is a FIXED
    // band — a corpus whose distance distribution drifts off it would
    // return an empty (vacuously hash-matching) result silently
    require(banded.limit(1).count() == 1,
      "knn_range_search: the [0.5, 1.25) distance band is empty on this " +
        "corpus — the fixture's distance distribution changed")
    banded
  }

  /** B2+ (Milvus grouping search, `group_by_field`/`group_size`): the
    * top-4 labels ranked by their best hit, keeping the 2 nearest rows
    * per label — "k results from k DISTINCT groups" instead of k rows
    * that may all share one group. Scale shape mirrors
    * `GraftClient.searchGrouped`, window-free at ANY group cardinality:
    * pass 1 ranks groups with a map-side-combined `min` per group +
    * TakeOrdered(4) collected (4 rows, bounded by the API's k); pass 2
    * broadcast-joins the winners UNDER the bounded-heap top-2 UDAF (the
    * same kernel as `knn_batched` keyed by group instead of qid), so the
    * heap partial-aggregates only the winning groups' candidates before
    * its one shuffle. The ranking (ties on best distance break by group
    * value, every rank distinct) matches a dense_rank over the unique
    * (best, group) ordering exactly. */
  def knnGrouped(spark: SparkSession, dir: String): DataFrame = {
    val scored = withQueryVec(spark, dir)
      .select(col("label"), col("vec_id"),
        l2_distance(col("embedding"), col("qvec")).as("dist"))
    val bests = scored.groupBy(col("label"))
      .agg(min(col("dist")).as("grp_best"))
      .orderBy(col("grp_best"), col("label"))
      .limit(4)
      .collect()
    // loud fixture invariant (r17): "top-4 labels" is only the declared
    // semantics if the corpus HAS >= 4 distinct labels — fewer would
    // silently shrink the grouping instead of failing
    require(bests.length == 4,
      s"knn_grouped: the corpus holds only ${bests.length} distinct " +
        "labels — the top-4-groups semantics needs at least 4")
    import spark.implicits._
    val ranks = bests.zipWithIndex.toSeq
      .map { case (r, i) => (r.getInt(0), (i + 1).toLong) }
      .toDF("label", "grp_rank")
    val topk = graft.functions.VectorAggregates.topKByDist(2)
    scored.join(broadcast(ranks), Seq("label"))
      .groupBy(col("label"), col("grp_rank"))
      .agg(topk(col("dist"), col("vec_id")).as("tops"))
      .select(col("label"), col("grp_rank"),
        posexplode(col("tops")).as(Seq("pos", "hit")))
      .select(col("label"), col("grp_rank"),
        (col("pos") + 1).cast("long").as("rn"),
        col("hit.vec_id").as("vec_id"), col("hit.dist").as("dist"))
      .orderBy(col("grp_rank"), col("rn"))
  }

  /** B2+ (Milvus search `offset` — pagination): page 2 of the L2 ranking,
    * rows 11–20. The plan stays top-(offset+k)-pushed: a
    * TakeOrderedAndProject(20) bounds every partition BEFORE the
    * row-number window ranks the 20 survivors and drops the first page —
    * offset never degrades the scan into a full sort. */
  def knnPaged(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withQueryVec(spark, dir)
      .select(col("vec_id"), l2_distance(col("embedding"), col("qvec")).as("dist"), col("label"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(20)
      .withColumn("rn", row_number().over(Window.orderBy(col("dist"), col("vec_id"))))
      .filter(col("rn") > 10)
      .drop("rn")
      .orderBy(col("dist"), col("vec_id"))
  }

  /** A6/B3: per-label stats over vector norms (norm is sqrt — round(6)). */
  def vectorNormStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("label"), vector_norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .orderBy(col("label"))

  /** A6: l2_normalize yields unit vectors — check norms ≈ 1 (round 5 — the
    * float32-precision normalize leaves ~1e-7 error; 5 decimals absorbs it). */
  def l2NormalizeCheck(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        round(vector_norm(l2_normalize(col("embedding"))), 5).as("unit_norm"),
        round(lit(1.0) * element_at(col("embedding"), 1) / vector_norm(col("embedding")), 6)
          .as("first_component"))
      .orderBy(col("vec_id"))

  /** A15: deterministic catalog scan — first 10 rows by key. */
  def vectorScan(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), size(col("embedding")).cast("long").as("dim"))
      .orderBy(col("vec_id"))
      .limit(10)

  /** ANN scale path: int8 symmetric quantization error — per-vector
    * scale = 127 / max|x|, quantize with floor(x·scale + 0.5) (explicit
    * floor, NOT round: both engines floor identically, while round()
    * half-tie behavior is a cross-engine hash flip waiting to happen),
    * dequantize back to float32, and measure L2 reconstruction error.
    * This is the storage math for an IVF-SQ8-style index — 4× smaller
    * cells, error bounded by mx/254 per component; the declared query
    * checks the quantizer's exact arithmetic so a future SQ8 cell format
    * can trust it. */
  def embeddingQuantError(spark: SparkSession, dir: String): DataFrame = {
    val v = t(spark, dir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"),
        expr("CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE)").as("mx"))
      .filter(col("mx") > 0)
    val q = v.select(col("vec_id"), col("embedding"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) " +
        "* mx / 127.0 AS FLOAT))").as("deq"))
    q.select(col("vec_id"),
        round(l2_distance(col("embedding"), col("deq")), 6).as("l2_err"),
        round(l2_distance(col("embedding"), col("deq")) / vector_norm(col("embedding")), 6)
          .as("rel_err"))
      .orderBy(col("vec_id"))
  }

  /** C16 through the declared surface: exact per-label centroids for the
    * first 8 dimensions — the arithmetic the IVF centroid Aggregator runs,
    * here as posexplode → groupBy(label, dim) so the oracle can hash it
    * (the typed Aggregator itself is capability-tested). Partial avg is
    * map-side-combinable; the shuffle carries (label × dim) cells. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .filter(col("pos") < 8)
      .groupBy(col("label"), (col("pos") + lit(1)).cast("long").as("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .orderBy(col("label"), col("dim"))

  // One loaded client collection per (dir, process) — the sparseIdxFor
  // pattern: the embeddings table upserted through the FULL client write
  // path (bucket router, merge-commit, manifest swap), then pinned in
  // executor memory via loadCollection. Keys are zero-padded so the
  // client's (distance, vector_key-STRING) tie-break equals the oracle's
  // numeric (dist, vec_id) ordering.
  // cache only the ROOT PATH (the postingsFor/sparseIdxFor convention),
  // never the client: a client captures its SparkSession, and a later
  // session in the same JVM would inherit a stopped one. The loaded flag
  // and frame cache are JVM-global and path-keyed, so a per-call client
  // over the cached root serves from the same loaded state (a frame
  // bound to a stopped session is treated as a miss and rebuilt).
  private val loadedRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def loadedClientFor(spark: SparkSession, dir: String): graft.api.GraftClient = {
    val root = loadedRootCache.computeIfAbsent(dir, { d =>
      val r = java.nio.file.Files.createTempDirectory("graft-loaded").toString
      val c = new graft.api.GraftClient(spark, r)
      val emb = t(spark, d, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      c.createCollection("emb", dim = dim, buckets = 16)
      c.upsert("emb", emb.select(
        lpad(col("vec_id").cast("string"), 8, "0").as("key"),
        col("embedding").as("vec"),
        map(lit("label"), col("label").cast("string")).as("meta")))
      c.loadCollection("emb")
      // the declared query is only honest if the search actually rides
      // the load cache — a silent fall-through to parquet would return
      // identical values and the oracle could never see the regression
      val plan = c.search("emb", Array.fill(dim)(0f), k = 1)
        .queryExecution.executedPlan.toString
      require(plan.contains("InMemoryTableScan"),
        "knn_loaded_topk: loaded search did not ride the in-memory cache")
      r
    })
    new graft.api.GraftClient(spark, root)
  }

  /** A20/B6 + the load surface (Milvus `load_collection`) on the ORACLE
    * path: the embeddings corpus written through the client's full
    * upsert/commit pipeline, LOADED (every bucket dir pinned as a
    * persisted columnar frame — plan-asserted above), then searched
    * top-10 L2. Hash-equal to the brute-force DuckDB twin only if the
    * store round-trip (float32 at rest, bucket routing, manifest read)
    * and the loaded read path are all value-exact. */
  def knnLoaded(spark: SparkSession, dir: String): DataFrame = {
    val client = loadedClientFor(spark, dir)
    val q = t(spark, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    client.search("emb", q, k = 10)
      .select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  // One IVF_PQ collection per (dir, process) — the loadedRootCache
  // pattern (root path cached, never the client): the embeddings corpus
  // through the full write path, then an IVF_PQ build (coarse k-means +
  // per-subspace codebook training + m-bytes-per-vector encoded cells).
  private val pqRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def pqClientFor(spark: SparkSession, dir: String): graft.api.GraftClient = {
    val root = pqRootCache.computeIfAbsent(dir, { d =>
      val r = java.nio.file.Files.createTempDirectory("graft-pqq").toString
      val c = new graft.api.GraftClient(spark, r)
      val emb = t(spark, d, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      // pqM pinned (not the auto-pick): exactness never depends on the
      // codebooks here (the refine pool covers the corpus), and 16
      // subspaces keep the one-time 16×-k-means build cost flat across
      // default changes
      c.createCollection("embpq", dim = dim, indexType = "IVF_PQ",
        buckets = 16, pqM = 16)
      c.upsert("embpq", emb.select(
        lpad(col("vec_id").cast("string"), 8, "0").as("key"),
        col("embedding").as("vec"),
        map(lit("label"), col("label").cast("string")).as("meta")))
      c.buildIndex("embpq", nlist = 8)
      r
    })
    new graft.api.GraftClient(spark, root)
  }

  /** B5 (Milvus `IVF_PQ`) on the ORACLE path: top-10 L2 through the
    * client's PQ search — per-cell ADC lookup tables over the
    * m-bytes-per-vector codes rank stage 1, exact re-rank scores stage 2.
    * The refine pool is sized to COVER the corpus (`k·refine ≥ N`), so
    * the result is exactly brute force and hash-comparable: what the
    * oracle pins is the whole pipeline being value-exact — codebook
    * train/persist/reload, every row carrying decodable codes, the ADC
    * kernel scoring them without a dispatch hole, the re-rank join-back
    * and tie-break. Recall at production-sized refine (where ADC actually
    * prunes) is PqIndexSpec's domain — approximation quality has no
    * hash-equality oracle by construction. */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val client = pqClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val n = emb.count() // parquet-footer count — no scan
    val k = 10
    client.search("embpq", q, k = k, nprobe = 8,
        refine = ((n + k - 1) / k).toInt)
      .select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B5/B6 (r12): the IVF_PQ quantized-keyset MARGIN DRAIN on the
    * ORACLE path — `searchIterator` over the PQ collection pages stage 1
    * on the (adc, key) keyset over the m-bytes-per-vector codes and
    * holds re-ranked rows back by the measured per-cell reconstruction
    * bound (`pq_recon`), emitting in EXACT distance order. The first
    * 500 drained rows (5 pages) hash-compare against DuckDB's
    * brute-force ordering: a lost row, a duplicate, a too-small bound,
    * or a tie-break slip all shift the sequence and fail the hash. The
    * dispatch is asserted — a silent float-cell fallback would return
    * the same values, so value equality alone could never pin the
    * margin path. */
  def knnPqIter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val client = pqClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    graft.api.GraftClient.resetMarginFamilies()
    val rows = client.searchIterator("embpq", q, batchSize = 100, nprobe = 8)
      .take(5).flatten.toSeq
    require(graft.api.GraftClient.marginFamiliesSeen.contains("pq"),
      "knn_pq_iter: the drain did not dispatch the PQ margin stream")
    rows.map(r => (r.getString(0).toLong, r.getDouble(1)))
      .toDF("vec_id", "dist")
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B4×B5 (r12): batched multi-query search THROUGH the PQ codes on
    * the ORACLE path — stage 1 ranks every (query × probed cell) pair
    * with the executor-side asymmetric-ADC kernel (bit-identical to the
    * single-query LUT ADC), the bounded heap keeps k·refine keys per
    * query, stage 2 re-ranks exactly. The refine pool covers the corpus
    * so the batch is exactly brute force per query and hash-comparable;
    * the ADC plan is asserted so a fall-through to the float cells
    * cannot pass silently. */
  def knnPqBatched(spark: SparkSession, dir: String): DataFrame = {
    val client = pqClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val n = emb.count() // parquet-footer count — no scan
    val k = 10
    val df = client.searchBatch("embpq", queries, k = k, nprobe = 8,
      refine = ((n + k - 1) / k).toInt)
    require(df.queryExecution.executedPlan.toString.contains("pq_asym_distance"),
      "knn_pq_batched: batch stage 1 did not ride the ADC codes")
    df.select(col("qid"), col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"))
      .orderBy(col("qid"), col("dist"), col("vec_id"))
  }

  // One HNSW collection per (dir, process) — the pqRootCache pattern:
  // the embeddings corpus through the full write path, then an HNSW
  // build (per-shard navigable graphs, one blob row per store bucket).
  private val hnswRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hnswClientFor(spark: SparkSession, dir: String): graft.api.GraftClient = {
    val root = hnswRootCache.computeIfAbsent(dir, { d =>
      val r = java.nio.file.Files.createTempDirectory("graft-hnsw").toString
      val c = new graft.api.GraftClient(spark, r)
      val emb = t(spark, d, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      c.createCollection("embhnsw", dim = dim, indexType = "HNSW",
        buckets = 8)
      c.upsert("embhnsw", emb.select(
        lpad(col("vec_id").cast("string"), 8, "0").as("key"),
        col("embedding").as("vec"),
        map(lit("label"), col("label").cast("string")).as("meta")))
      c.buildIndex("embhnsw", nlist = 0) // HNSW takes no nlist — M and
                                         // efConstruction froze at create
      r
    })
    new graft.api.GraftClient(spark, root)
  }

  /** B5 (Milvus `HNSW` — what AUTOINDEX resolves to) on the ORACLE
    * path: top-10 L2 through the client's graph search — every shard's
    * navigable-graph blob deserialized and walked executor-side
    * (scatter-gather, plan-asserted below), one global TakeOrdered
    * merge, exact re-rank tail. `ef ≥ corpus` makes the walk provably
    * exhaustive (layer-0 connectivity is repaired at build) and the
    * refine pool covers the corpus, so the result is exactly brute
    * force and hash-comparable: the oracle pins the whole pipeline —
    * deterministic graph construction, blob serialization round-trip,
    * the walk's visit completeness, shard routing, the merge and
    * tie-breaks. Recall at production ef is HnswIndexSpec's domain. */
  def knnHnsw(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val n = emb.count() // parquet-footer count — no scan
    val k = 10
    val df = client.search("embhnsw", q, k = k, ef = n.toInt,
      refine = ((n + k - 1) / k).toInt)
    // dispatch honesty: the graph arm deserializes blobs through a typed
    // flatMap (MapPartitions); the exact fallback would return identical
    // values here, so value equality alone could never pin the graph path
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_topk: search did not ride the graph scatter-gather")
    df.select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B5 (r13): FILTERED HNSW search on the ORACLE path — the masked
    * walk (Milvus/hnswlib filtered-search semantics: the predicate's
    * passing keys resolve off the metadata columns, the walk traverses
    * non-passing nodes but never returns them). `ef ≥ corpus` keeps the
    * masked walk provably exhaustive over passing nodes and the refine
    * pool covers the corpus, so the result is exactly the filtered
    * brute force and hash-comparable. Dispatch honesty: the plan must
    * carry the graph scatter-gather (the pre-r13 behavior — and the
    * below-floor path — rank exactly without it, returning identical
    * values, so the plan assert is what pins the walk). */
  def knnHnswFiltered(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val n = emb.count() // parquet-footer count — no scan
    val k = 10
    val df = client.search("embhnsw", q, k = k, ef = n.toInt,
      refine = ((n + k - 1) / k).toInt,
      filter = Some(element_at(col("meta"), "label").isin("1", "3", "5")))
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_filtered: search did not ride the masked graph walk")
    df.select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B5×B6 (r14 — VERDICT r13's #2): Milvus grouping search on an HNSW
    * collection, on the ORACLE path. Before r14 this surface exact-
    * scanned the corpus (the plan the engine exists to avoid, on the
    * family AUTOINDEX picks); it now rides the graph walk with
    * group-aware over-fetch (walk depth k·groupSize) before the two-pass
    * winners-broadcast tail. `ef ≥ corpus` + a corpus-covering refine
    * pool make the walk provably exhaustive, so the result is exactly
    * the brute-force grouped ranking and DuckDB replays it with two
    * window ranks. Dispatch honesty: the graph arm's blob walk is a
    * typed flatMap (MapPartitions) — the exact scan would return
    * identical values here, so the plan assert is what pins the walk. */
  def knnHnswGrouped(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val n = emb.count().toInt // parquet-footer count — no scan
    val k = 3; val groupSize = 2
    val df = client.searchGrouped("embhnsw", q, k = k, groupByKey = "label",
      groupSize = groupSize, ef = n,
      refine = (n + k * groupSize - 1) / (k * groupSize))
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_grouped: grouping search did not ride the graph walk")
    df.select(col("group_value"), col("grp_rank"), col("rn"),
        col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"))
      .orderBy(col("grp_rank"), col("rn"))
  }

  /** B5×B6 (r15 — VERDICT r14's #4): Milvus `group_strict_size` on an
    * HNSW collection, on the ORACLE path. `groupSize` is data-derived
    * as (min label count) + 1, so ONE group can never fill — the
    * strict expansion provably fires every round (the fill check
    * counts groups with ≥ groupSize candidates, and that group never
    * has them) and runs until the walk pool covers the corpus
    * (k·gs·mult·refine ≥ served ends the loop with an exhaustive
    * beam at every scale factor: pool ≥ n ⇒ the walk is provably
    * exhaustive, the knn_hnsw_topk contract). The result is therefore
    * exactly the brute-force grouped ranking with SHORT-GROUP
    * semantics (the never-filling group returns all its members;
    * larger groups return their gs best) — DuckDB replays it with the
    * same data-derived gs. Pins the strict dial's expansion machinery
    * in the correctness gate, not just the spec. */
  def knnHnswGroupedStrict(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val gs = emb.groupBy(col("label")).count()
      .agg(min(col("count"))).head().getLong(0).toInt + 1
    val k = 3
    // the scaladoc's exhaustiveness claim rests on a DATA-SHAPE
    // invariant: the strict expansion is bounded to 2 quadruplings
    // (mult ≤ 16), so the walk pool provably covers the corpus only
    // while k·gs·16·refine ≥ served rows. Assert it HERE — at a larger
    // scale factor or label distribution where it stops holding, this
    // query must fail loudly at the invariant, not hash-mismatch the
    // oracle with a silently non-exhaustive beam.
    val n = emb.count()
    require(k.toLong * gs * 16 >= n,
      s"knn_hnsw_grouped_strict: k*gs*16 (${k.toLong * gs * 16}) no " +
        s"longer covers the corpus ($n rows) — the bounded strict " +
        "expansion cannot reach an exhaustive walk at this data shape; " +
        "raise k/groupSize in the query (and mirror the oracle)")
    val df = client.searchGrouped("embhnsw", q, k = k, groupByKey = "label",
      groupSize = gs, ef = k * gs, refine = 1, groupStrictSize = true)
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_grouped_strict: the strict grouped search did not ride " +
        "the graph walk")
    df.select(col("group_value"), col("grp_rank"), col("rn"),
        col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"))
      .orderBy(col("grp_rank"), col("rn"))
  }

  /** B6 (r14): Milvus offset paging on an HNSW collection, on the
    * ORACLE path — `search(offset = 10, k = 10)` pages THROUGH the
    * graph walk (walk depth = offset + k, the pool covers the page, the
    * global page drops the first `offset` rows). `ef ≥ corpus` + a
    * corpus-covering pool make the walk exhaustive, so the second page is exactly
    * brute-force rows 11–20 and hash-comparable. Plan-asserted: the
    * exact fallback would return identical values. */
  def knnHnswPaged(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val n = emb.count().toInt // parquet-footer count — no scan
    val k = 10; val offset = 10
    val df = client.search("embhnsw", q, k = k, offset = offset, ef = n,
      refine = (n + offset + k - 1) / (offset + k))
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_paged: the paged search did not ride the graph walk")
    df.select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B4×B5 (r14): batched multi-query search THROUGH the HNSW graphs on
    * the ORACLE path — stage 1 walks every (shard × query) pair with
    * the batched scatter-gather (each task deserializes its shard once
    * for the whole query batch), one bounded heap per query, exact
    * re-rank tail. `ef ≥ corpus` + corpus-covering pools make every
    * query's walk exhaustive, so the batch is exactly brute force per
    * query and hash-comparable; the graph plan is asserted so a silent
    * exact fallback cannot pass. */
  def knnHnswBatched(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val n = emb.count().toInt // parquet-footer count — no scan
    val k = 10
    val df = client.searchBatch("embhnsw", queries, k = k, ef = n,
      refine = (n + k - 1) / k)
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_batched: batch stage 1 did not ride the graph walk")
    df.select(col("qid"), col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"))
      .orderBy(col("qid"), col("dist"), col("vec_id"))
  }

  /** B6 (r14): range search on an HNSW collection, on the ORACLE path —
    * the surface is EXACT BY DESIGN there (key-hash graph shards span
    * the whole space, and a radius-bounded walk misses in-range nodes
    * whose only paths cross out-of-range ones; see the GraftClient
    * dispatch table), so the declared query pins the documented
    * exact-scan contract: the band answer must hash-equal DuckDB's
    * brute force, and the plan must NOT carry the graph walk — a future
    * "optimization" sneaking a recall-bounded walk in here would break
    * the soundness decision this query exists to guard. */
  def knnHnswRange(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val df = client.searchRange("embhnsw", q, radius = 1.25,
      rangeFilter = 0.5)
    // loud fixture invariant (r17): the fixed [0.5, 1.25) band must be
    // non-empty or the oracle match is vacuous (knn_range_search's note)
    require(df.limit(1).count() == 1,
      "knn_hnsw_range: the [0.5, 1.25) distance band is empty on this " +
        "corpus — the fixture's distance distribution changed")
    require(!df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_range: range search on HNSW must stay the exact scan " +
        "(a radius-bounded walk cannot meet the exact contract)")
    df.select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B6 (r14): `search_iterator` on an HNSW collection, on the ORACLE
    * path — the drain is the EXACT keyset scan BY DESIGN (a graph walk
    * emits only its beam, which has no keyset to resume a deep page
    * from; see the GraftClient dispatch table): two 50-row pages, the
    * second continuing from the first's strict (distance, key) cursor,
    * hash-compared against DuckDB's brute-force total ordering. The
    * dispatch is pinned: no margin stream may serve (those belong to
    * the quantized families), so the exact-drain decision cannot
    * silently flip. */
  def knnHnswIter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val client = hnswClientFor(spark, dir)
    val q = t(spark, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    graft.api.GraftClient.resetMarginFamilies()
    val rows = client.searchIterator("embhnsw", q, batchSize = 50)
      .take(2).flatten.toSeq
    require(graft.api.GraftClient.marginFamiliesSeen.isEmpty,
      "knn_hnsw_iter: the HNSW drain must be the exact keyset scan, " +
        "never a quantized margin stream")
    rows.map(r => (r.getString(0).toLong, r.getDouble(1)))
      .toDF("vec_id", "dist")
      .orderBy(col("dist"), col("vec_id"))
  }

  // HNSW growing-tail client: built like hnswClientFor, then TWO
  // post-build commits land (a new key carrying vec_id 1's embedding, a
  // delete of vec_id 2's key) WITHOUT folding — so searches must serve
  // graph arm ∪ tail arm to be exact.
  private val hnswTailRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hnswTailClientFor(spark: SparkSession, dir: String): graft.api.GraftClient = {
    val root = hnswTailRootCache.computeIfAbsent(dir, { d =>
      val r = java.nio.file.Files.createTempDirectory("graft-hnswtail").toString
      val c = new graft.api.GraftClient(spark, r)
      val emb = t(spark, d, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      c.createCollection("embht", dim = dim, indexType = "HNSW", buckets = 8)
      c.upsert("embht", emb.select(
        lpad(col("vec_id").cast("string"), 8, "0").as("key"),
        col("embedding").as("vec"),
        typedLit(Map.empty[String, String]).as("meta")))
      c.buildIndex("embht", nlist = 0)
      // the growing tail: a new key (vec 1's embedding under id
      // 88888888) and a delete — neither triggers the fold (2 rows vs
      // ~corpus-size graph rows), so the graphs now MISS a live row and
      // CARRY a dead one
      c.upsert("embht", emb.filter(col("vec_id") === 1L).select(
        lit("88888888").as("key"), col("embedding").as("vec"),
        typedLit(Map.empty[String, String]).as("meta")))
      c.deleteByKeys("embht", Seq("00000002"))
      r
    })
    new graft.api.GraftClient(spark, root)
  }

  /** B5/C15 (r12): the HNSW GROWING TAIL on the ORACLE path — after the
    * build, a new row and a delete committed WITHOUT a fold, so the
    * exact answer is only reachable as graph arm (live rows the build
    * covered) ∪ tail arm (the churned buckets' newer rows), with the
    * deleted key dropped by the live join. ef ≥ corpus + a
    * corpus-covering refine pool make both arms exhaustive, so the
    * result hash-compares against a DuckDB twin expressing the same
    * post-commit live set (UNION ALL the moved row, exclude the deleted
    * id). Dispatch honesty is asserted twice: the plan must carry the
    * graph scatter-gather, and the index stamp must LAG the store (a
    * silent fold or rebuild would turn this into a pure-graph query and
    * the tail arm would go untested). */
  def knnHnswTail(spark: SparkSession, dir: String): DataFrame = {
    val client = hnswTailClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val n = emb.count().toInt + 1
    val idx = client.listIndexes("embht").filter(col("kind") === "HNSW").head()
    require(idx.getBoolean(2) && idx.getLong(3) < idx.getLong(4),
      "knn_hnsw_tail: the tail must be PENDING (servable, stamp lagging " +
        "the store) — a fold here would leave the tail arm untested")
    val df = client.search("embht", q, k = 10, ef = n,
      refine = (n + 9) / 10)
    require(df.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "knn_hnsw_tail: search did not ride the graph scatter-gather")
    df.select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** B6/B8 (r11): the Milvus filtered count —
    * `client.query(filter=…, output_fields=["count(*)"])` — on the
    * ORACLE path, over the same client collection [[knnLoaded]] built
    * through the full write pipeline. Exercises the one-call envelope
    * (filter-string grammar → scalar read → count aggregate, limit-free)
    * against DuckDB's native count; the `count(*)` column re-aliases to
    * `cnt` only because parquet forbids parens/star in column names —
    * the envelope itself returns Milvus's exact shape. */
  def milvusCountFiltered(spark: SparkSession, dir: String): DataFrame = {
    val client = loadedClientFor(spark, dir)
    client.queryMilvus("emb", """label in ["1", "3", "5"]""",
        outputFields = Seq("count(*)"))
      .select(col("count(*)").as("cnt"))
  }

  // One collection.ttl.seconds=3600 collection per (dir, process): the
  // embeddings corpus through the full write path, an IVF_FLAT build,
  // and TWO EXPIRED decoys (backfilled via upsertAt at now−2h) carrying
  // the query's EXACT vector — distance 0, keys sorting BEFORE every
  // live key, so any leak ranks #1 and flips the oracle hash. Decoy
  // "!ttl0" is IN the build base (the cells layout holds it); "!ttl1"
  // lands AFTER the build through incremental cell maintenance — the
  // hash is right only if the read-time TTL mask binds on the INDEXED
  // arm for both placements.
  private val ttlRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ttlClientFor(spark: SparkSession, dir: String): graft.api.GraftClient = {
    val root = ttlRootCache.computeIfAbsent(dir, { d =>
      val r = java.nio.file.Files.createTempDirectory("graft-ttl").toString
      val c = new graft.api.GraftClient(spark, r)
      val emb = t(spark, d, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      c.createCollection("embttl", dim = dim, indexType = "IVF_FLAT",
        buckets = 8, ttlSeconds = 3600L)
      c.upsert("embttl", emb.select(
        lpad(col("vec_id").cast("string"), 8, "0").as("key"),
        col("embedding").as("vec"),
        map(lit("label"), col("label").cast("string")).as("meta")))
      val expired = new java.sql.Timestamp(
        System.currentTimeMillis() - 7200L * 1000L)
      def decoy(key: String) = emb.filter(col("vec_id") === 0L).select(
        lit(key).as("key"), col("embedding").as("vec"),
        map(lit("label"), lit("99")).as("meta"))
      c.upsertAt("embttl", decoy("!ttl0"), expired) // in the build base
      c.buildIndex("embttl", nlist = 4)
      c.upsertAt("embttl", decoy("!ttl1"), expired) // via cell maintenance
      r
    })
    new graft.api.GraftClient(spark, root)
  }

  /** B6 × Milvus `collection.ttl.seconds` on the ORACLE path: top-10 L2
    * over a TTL collection whose cells layout physically holds two
    * expired exact-match decoys (one from the build base, one from
    * incremental maintenance). nprobe = nlist ⇒ exact through the
    * index, so the DuckDB twin is the plain brute-force top-10 over the
    * raw parquet — hash-equal only if the read-time expiry mask binds
    * on the indexed search arm. The freshness require pins that the
    * INDEXED arm (not the exact fallback) is what the oracle graded. */
  def milvusTtlFiltered(spark: SparkSession, dir: String): DataFrame = {
    val client = ttlClientFor(spark, dir)
    require(client.listIndexes("embttl").collect().exists(_.getBoolean(2)),
      "milvus_ttl_filtered: the IVF index must be FRESH — the indexed " +
        "cells arm (where the expired decoys live) is what's under test")
    val q = t(spark, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    client.search("embttl", q, k = 10, nprobe = 4)
      .select(col("vector_key").cast("long").as("vec_id"),
        col("distance").as("dist"),
        element_at(col("metadata"), "label").cast("int").as("label"))
      .orderBy(col("dist"), col("vec_id"))
  }

  /** Per-JVM multi-vector collection (Milvus 2.4 multiple vector fields
    * — VERDICT r14's #1): the embeddings as the PRIMARY 64-dim field,
    * their first 32 dims as a second NAMED field `img_vec` (a second
    * ARRAY&lt;FLOAT&gt; column in the same keyed store row) carrying its
    * OWN IVF_FLAT index. The field-index MAINTENANCE is load-bearing
    * for the oracle hash: the first 16 keys are upserted with a WRONG
    * img_vec, the field index is built over that wrong base, and the
    * correction re-upsert (plus an upsert-then-delete decoy) must
    * evict/reinsert the touched cells — a refresh bug serves the stale
    * wrong vectors and hash-mismatches. */
  private val multiFieldRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def multiFieldClientFor(spark: SparkSession, dir: String): graft.api.GraftClient = {
    val root = multiFieldRootCache.computeIfAbsent(dir, { d =>
      val r = java.nio.file.Files.createTempDirectory("graft-multivec").toString
      val c = new graft.api.GraftClient(spark, r)
      val emb = t(spark, d, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      c.createCollection("embmulti", dim = dim, indexType = "FLAT",
        buckets = 8,
        vectorFields = Seq(graft.index.VecField("img_vec", 32, "l2", "IVF_FLAT")))
      def rowsOf(df: DataFrame, img: org.apache.spark.sql.Column) = df.select(
        lpad(col("vec_id").cast("string"), 8, "0").as("key"),
        col("embedding").as("vec"),
        img.as("img_vec"),
        map(lit("label"), col("label").cast("string")).as("meta"))
      val goodImg = slice(col("embedding"), 1, 32)
      // wrong base for the first 16 keys: negated field vectors
      c.upsert("embmulti", rowsOf(emb,
        when(col("vec_id") < 16, transform(goodImg, x => -x))
          .otherwise(goodImg)))
      c.buildIndex("embmulti", nlist = 4, field = "img_vec")
      // correction + decoy ride the per-commit field-index refresh
      c.upsert("embmulti", rowsOf(emb.filter(col("vec_id") < 16), goodImg))
      c.upsert("embmulti", rowsOf(emb.filter(col("vec_id") === 0)
        .withColumn("vec_id", lit(999999L)), goodImg))
      c.deleteByKeys("embmulti", Seq("00999999"))
      r
    })
    new graft.api.GraftClient(spark, root)
  }

  /** B6 × Milvus 2.4 multi-vector (r15 — VERDICT r14's #1) on the
    * ORACLE path: `hybrid_search` with two DENSE arms on two NAMED
    * vector fields of ONE collection — the primary 64-dim `vec` (exact
    * FLAT scan) and the 32-dim `img_vec` served through its own
    * IVF_FLAT index at FULL probe (nprobe = nlist ⇒ exact through the
    * index, and fresh only if the per-commit field refresh corrected
    * the wrong-base build) — fused by RRF. DuckDB replays both arms'
    * rank windows from the raw parquet (the field vector is a
    * deterministic slice) and the coalesced reciprocal-rank sum, so
    * the hash pins the field storage, the field index maintenance,
    * AnnRequest field targeting, and the fusion algebra at once. */
  def hybridMultiField(spark: SparkSession, dir: String): DataFrame = {
    import graft.api.AnnRequest
    val client = multiFieldClientFor(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val q0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val q1 = emb.filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).take(32).toArray
    val df = client.hybridSearchRequests("embmulti",
      Seq(AnnRequest.Dense(q0),
        AnnRequest.Dense(q1, field = "img_vec", nprobe = 4)),
      k = 10, armK = 15)
    df.select(col("key").cast("long").as("doc_id"),
        col("rank_0").as("vec_rank"), col("rank_1").as("img_rank"),
        col("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
  }

  /** A7: float32 at rest — dimension + element checks survive the cast. */
  def vectorDims(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(size(col("embedding")).cast("long").as("dim"))
      .groupBy(col("dim")).agg(count(lit(1)).as("n"))
      .orderBy(col("dim"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_l2_topk" -> knnL2 _,
    "knn_cosine_topk" -> knnCosine _,
    "knn_dot_topk" -> knnDot _,
    "knn_filtered" -> knnFiltered _,
    "knn_batched" -> knnBatched _,
    "knn_range_search" -> knnRangeSearch _,
    "knn_grouped" -> knnGrouped _,
    "knn_paged" -> knnPaged _,
    "knn_loaded_topk" -> knnLoaded _,
    "knn_pq_topk" -> knnPq _,
    "knn_pq_iter" -> knnPqIter _,
    "knn_pq_batched" -> knnPqBatched _,
    "knn_hnsw_topk" -> knnHnsw _,
    "knn_hnsw_filtered" -> knnHnswFiltered _,
    "knn_hnsw_grouped" -> knnHnswGrouped _,
    "knn_hnsw_grouped_strict" -> knnHnswGroupedStrict _,
    "knn_hnsw_paged" -> knnHnswPaged _,
    "knn_hnsw_range" -> knnHnswRange _,
    "knn_hnsw_iter" -> knnHnswIter _,
    "knn_hnsw_batched" -> knnHnswBatched _,
    "knn_hnsw_tail" -> knnHnswTail _,
    "hybrid_multi_field" -> hybridMultiField _,
    "milvus_count_filtered" -> milvusCountFiltered _,
    "milvus_ttl_filtered" -> milvusTtlFiltered _,
    "vector_norm_stats" -> vectorNormStats _,
    "l2_normalize_check" -> l2NormalizeCheck _,
    "vector_scan" -> vectorScan _,
    "vector_dims" -> vectorDims _,
    "embedding_quant_error" -> embeddingQuantError _,
    "label_centroids" -> labelCentroids _
  )

  // DuckDB parity notes: list_distance/list_inner_product over DOUBLE[] are
  // bit-identical to our double-precision kernels (verified empirically);
  // DuckDB's list_cosine_similarity uses sqrt(na*nb) so the oracle spells
  // out dot/(sqrt(na)*sqrt(nb)) explicitly to match our kernel bit-for-bit.
  private val qv = "(SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)"

  val oracleSql: Map[String, String] = Map(
    "knn_l2_topk" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10""",
    "knn_cosine_topk" ->
      s"""SELECT e.vec_id,
            list_inner_product(e.embedding::DOUBLE[], q.qvec)
              / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                 * sqrt(list_inner_product(q.qvec, q.qvec))) AS sim,
            e.label
          FROM embeddings e, $qv q ORDER BY sim DESC, vec_id LIMIT 10""",
    "knn_dot_topk" ->
      s"""SELECT e.vec_id, list_inner_product(e.embedding::DOUBLE[], q.qvec) AS ip, e.label
          FROM embeddings e, $qv q ORDER BY ip DESC, vec_id LIMIT 10""",
    "knn_filtered" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q WHERE e.label % 2 = 0 AND e.vec_id <> 0
          ORDER BY dist, vec_id LIMIT 5""",
    "knn_range_search" ->
      s"""SELECT vec_id, dist, label FROM (
            SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
            FROM embeddings e, $qv q)
          WHERE dist >= 0.5 AND dist < 1.25 ORDER BY dist, vec_id""",
    "knn_grouped" ->
      s"""WITH scored AS (
            SELECT e.label, e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist
            FROM embeddings e, $qv q),
          top2 AS (SELECT label, vec_id, dist, rn FROM (
            SELECT label, vec_id, dist,
                   ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rn
            FROM scored) WHERE rn <= 2),
          g AS (SELECT *, MIN(dist) OVER (PARTITION BY label) AS grp_best FROM top2),
          r AS (SELECT *, DENSE_RANK() OVER (ORDER BY grp_best, label) AS grp_rank FROM g)
          SELECT label, grp_rank, rn, vec_id, dist FROM r
          WHERE grp_rank <= 4 ORDER BY grp_rank, rn""",
    "knn_paged" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10 OFFSET 10""",
    "knn_loaded_topk" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10""",
    // the expired decoys are NOT in the raw parquet — the oracle is the
    // plain brute force; a TTL-mask leak surfaces a distance-0 row the
    // oracle never has
    "milvus_ttl_filtered" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10""",
    "knn_pq_topk" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10""",
    "knn_hnsw_topk" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10""",
    "knn_hnsw_filtered" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q WHERE e.label IN (1, 3, 5)
          ORDER BY dist, vec_id LIMIT 10""",
    "knn_hnsw_grouped" ->
      s"""WITH h AS (
            SELECT e.vec_id, CAST(e.label AS VARCHAR) AS group_value,
                   list_distance(e.embedding::DOUBLE[], q.qvec) AS dist
            FROM embeddings e, $qv q),
          b AS (SELECT group_value, min(dist) AS best FROM h GROUP BY 1),
          rk AS (SELECT group_value,
                   ROW_NUMBER() OVER (ORDER BY best, group_value) AS grp_rank
                 FROM b),
          r AS (SELECT h.group_value, rk.grp_rank, h.vec_id, h.dist,
                  ROW_NUMBER() OVER (PARTITION BY h.group_value
                    ORDER BY h.dist, h.vec_id) AS rn
                FROM h JOIN rk USING (group_value))
          SELECT group_value, grp_rank, rn, vec_id, dist FROM r
          WHERE grp_rank <= 3 AND rn <= 2
          ORDER BY grp_rank, rn""",
    "knn_hnsw_iter" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 100""",
    "knn_hnsw_range" ->
      s"""SELECT vec_id, dist, label FROM (
            SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
            FROM embeddings e, $qv q)
          WHERE dist >= 0.5 AND dist < 1.25 ORDER BY dist, vec_id""",
    "knn_hnsw_paged" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist, e.label
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 10 OFFSET 10""",
    "knn_hnsw_batched" ->
      """SELECT qid, vec_id, dist FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
                  list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS dist,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                    ORDER BY list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), e.vec_id) AS rn
           FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 3) q)
         WHERE rn <= 10 ORDER BY qid, dist, vec_id""",
    // both arms of the multi-field hybrid are exact (FLAT primary scan;
    // full-probe IVF on the field), so DuckDB replays each arm's rank
    // window from the raw parquet — the field vector is the
    // deterministic first-32-dims slice — and the RRF sum
    "knn_hnsw_grouped_strict" ->
      s"""WITH gs AS (SELECT min(cnt) + 1 AS g FROM
              (SELECT count(*) AS cnt FROM embeddings GROUP BY label)),
          h AS (SELECT CAST(e.label AS VARCHAR) AS group_value, e.vec_id,
                  list_distance(e.embedding::DOUBLE[], q.qvec) AS dist
                FROM embeddings e, $qv q),
          b AS (SELECT group_value, min(dist) AS best FROM h GROUP BY 1),
          rk AS (SELECT group_value,
                   ROW_NUMBER() OVER (ORDER BY best, group_value) AS grp_rank
                 FROM b),
          r AS (SELECT h.group_value, rk.grp_rank, h.vec_id, h.dist,
                  ROW_NUMBER() OVER (PARTITION BY h.group_value
                    ORDER BY h.dist, h.vec_id) AS rn
                FROM h JOIN rk USING (group_value))
          SELECT group_value, grp_rank, rn, vec_id, dist FROM r, gs
          WHERE grp_rank <= 3 AND rn <= gs.g
          ORDER BY grp_rank, rn""",
    "hybrid_multi_field" ->
      """WITH q0 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
           q1 AS (SELECT (embedding::DOUBLE[])[1:32] AS qv FROM embeddings WHERE vec_id = 1),
           a0 AS (SELECT e.vec_id AS doc_id,
                    list_distance(e.embedding::DOUBLE[], q0.qv) AS dist
                  FROM embeddings e, q0 ORDER BY dist, vec_id LIMIT 15),
           r0 AS (SELECT doc_id,
                    row_number() OVER (ORDER BY dist, doc_id) AS vec_rank FROM a0),
           a1 AS (SELECT e.vec_id AS doc_id,
                    list_distance((e.embedding::DOUBLE[])[1:32], q1.qv) AS dist
                  FROM embeddings e, q1 ORDER BY dist, vec_id LIMIT 15),
           r1 AS (SELECT doc_id,
                    row_number() OVER (ORDER BY dist, doc_id) AS img_rank FROM a1)
         SELECT doc_id, vec_rank, img_rank,
            round(coalesce(1.0 / (60 + vec_rank), 0)
              + coalesce(1.0 / (60 + img_rank), 0), 6) AS rrf
         FROM r0 FULL OUTER JOIN r1 USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    "knn_hnsw_tail" ->
      s"""WITH live AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 2
            UNION ALL
            SELECT 88888888 AS vec_id, embedding FROM embeddings WHERE vec_id = 1),
          q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
          SELECT l.vec_id, list_distance(l.embedding::DOUBLE[], q.qvec) AS dist
          FROM live l, q ORDER BY dist, vec_id LIMIT 10""",
    "knn_pq_iter" ->
      s"""SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.qvec) AS dist
          FROM embeddings e, $qv q ORDER BY dist, vec_id LIMIT 500""",
    "knn_pq_batched" ->
      """SELECT qid, vec_id, dist FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
                  list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS dist,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                    ORDER BY list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), e.vec_id) AS rn
           FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 3) q)
         WHERE rn <= 10 ORDER BY qid, dist, vec_id""",
    "milvus_count_filtered" ->
      "SELECT count(*) AS cnt FROM embeddings WHERE label IN (1, 3, 5)",
    "knn_batched" ->
      """SELECT qid, vec_id, dist, rn FROM (
           SELECT q.vec_id AS qid, e.vec_id AS vec_id,
                  list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS dist,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                    ORDER BY list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), e.vec_id) AS rn
           FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 20) q)
         WHERE rn <= 3 ORDER BY qid, rn""",
    "vector_norm_stats" ->
      """SELECT label, count(*) AS n,
            round(min(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
            round(max(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
         FROM embeddings GROUP BY label ORDER BY label""",
    "l2_normalize_check" ->
      """SELECT vec_id,
            round(sqrt(list_inner_product(nv::DOUBLE[], nv::DOUBLE[])), 5) AS unit_norm,
            round(embedding[1]::DOUBLE / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
              AS first_component
         FROM (SELECT vec_id, embedding, list_transform(embedding,
                 x -> CAST(x::DOUBLE / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS FLOAT)) AS nv
               FROM embeddings WHERE vec_id < 50)
         ORDER BY vec_id""",
    "vector_scan" ->
      "SELECT vec_id, label, len(embedding) AS dim FROM embeddings ORDER BY vec_id LIMIT 10",
    "vector_dims" ->
      "SELECT len(embedding) AS dim, count(*) AS n FROM embeddings GROUP BY dim ORDER BY dim",
    "embedding_quant_error" ->
      """WITH v AS (SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x)))::DOUBLE AS mx
             FROM embeddings WHERE vec_id < 50),
           q AS (SELECT vec_id, embedding,
               list_transform(embedding,
                 x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) * mx / 127.0 AS FLOAT)) AS deq
             FROM v WHERE mx > 0)
         SELECT vec_id,
            round(list_distance(embedding::DOUBLE[], deq::DOUBLE[]), 6) AS l2_err,
            round(list_distance(embedding::DOUBLE[], deq::DOUBLE[])
              / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS rel_err
         FROM q ORDER BY vec_id""",
    "label_centroids" ->
      """SELECT label, i AS dim, round(avg(embedding[i]::DOUBLE), 6) AS c
         FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
         WHERE i <= 8 GROUP BY 1, 2 ORDER BY label, dim"""
  )
}
