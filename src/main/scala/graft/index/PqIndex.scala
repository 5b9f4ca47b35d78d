package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PqFunctions, PqKernels}

/** IVF_PQ product-quantized cells — the third member of the reference
  * backend's `index_type` family (IVF_FLAT `milvus-app/
  * pythonvectordbceph_milvus.py:100-102`, IVF_SQ8 its 4× sibling, IVF_PQ
  * the m-bytes-per-vector one: dim 384 at the default m 64 is 24× smaller
  * at rest than float32; m 16 buys 96× for callers who spend refine).
  *
  * Construction is FAISS/Milvus's residual form: each row's vector minus
  * its coarse IVF centroid is split into `m` subvectors, and a
  * per-subspace codebook of `ksub ≤ 256` codewords (k-means, trained on
  * a sample of residuals) maps each subvector to one byte. Search is
  * two-stage like [[Sq8Index]]: stage 1 ranks the probed cells by ADC
  * (per-cell lookup tables over the codes — `m` adds per row), stage 2
  * re-ranks the top `k·refine` keys exactly against the primary keyed
  * store. PQ's approximation is coarser than SQ8's, so `refine` does
  * more work here — the at-rest win is what buys that: stage 1 reads
  * `m` bytes per row where SQ8 reads `dim`.
  *
  * Same layout/maintenance contract as the other index layouts: cells
  * partitioned by `centroidId` (directory-level probe prune), codebooks
  * FROZEN at build time so any row's codes are recomputable bit-for-bit
  * from its vector + cell (a commit appends its rows' codes as a delta
  * segment; a fold re-encodes only the cells it touches), all writers
  * serialized on the index dir's commit lock. */
object PqIndex {

  /** Trained codebooks: `codebooks(j)(c)` = codeword `c` of subspace `j`
    * (length `dsub`). Uniform `ksub` across subspaces — the flattened
    * ADC tables index as `j*ksub + c`. */
  case class ProductQuantizer(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty, "empty PQ codebooks")
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length
    def dim: Int = m * dsub

    /** The flattened ADC table for one probed cell: squared distances
      * from the ASSIGN-SPACE query's residual against `center` to every
      * codeword. Driver-side, O(ksub·dim) flops. */
    def lutFor(q: Array[Float], center: Array[Double]): Array[Double] = {
      require(q.length == dim && center.length == dim,
        s"query/center dim (${q.length}/${center.length}) != PQ dim $dim")
      val r = new Array[Double](dim)
      var i = 0
      while (i < dim) { r(i) = q(i) - center(i); i += 1 }
      PqKernels.lutFor(r, codebooks)
    }
  }

  /** Largest m ≤ `cap` with dim % m == 0 and dsub ≥ 2 — the auto-pick
    * when the caller gives no `m` (Milvus requires dim % m == 0 the same
    * way). More subspaces = finer quantization (better ADC ranking) AND
    * more bytes; the cap of 64 keeps dsub ≤ 6 at the reference's dim 384
    * (codes 0.042× of float32). The original cap of 16 put dim 384 at
    * dsub 24 — measured on adversarial iid-384 data, that coarse default
    * ranked near-randomly among concentrated distances (recall@10 0.1 at
    * refine 4 where finer books reach 1.0), so the default moved to the
    * FAISS-typical dsub 4–8 band; callers wanting maximum compression
    * pass `m` explicitly and spend `refine` instead. */
  def defaultM(dim: Int, cap: Int = 64): Int =
    (cap to 1 by -1).find(m => dim % m == 0 && dim / m >= 2).getOrElse(1)

  /** Train per-subspace codebooks on the RESIDUALS of `assigned` (frame
    * carrying `vecCol` in assign space + `centroidId`) against the
    * frozen coarse `centers`. `sampleFraction` bounds the k-means cost
    * at corpus scale exactly like [[IvfIndex.build]]; `ksub` clamps to
    * the sampled row count (k-means cannot place more centers than
    * points — a tiny collection just gets a smaller codebook, padded to
    * uniform width so the flat LUT layout holds). Residuals are computed
    * with BUILT-IN columns (broadcast centers join + `zip_with`) — this
    * runs once per build, not per commit, so no custom kernel needed. */
  def train(assigned: DataFrame, vecCol: String,
            centers: Array[Array[Double]], m: Int, ksub: Int = 256,
            seed: Long = 42L, sampleFraction: Double = 1.0): ProductQuantizer = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val dim = centers(0).length
    require(m >= 1 && dim % m == 0,
      s"PQ m=$m must divide the vector dimension $dim")
    val dsub = dim / m
    val centerDf = centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("centroidId", "__center")
    val base = if (sampleFraction >= 1.0) assigned else assigned.sample(sampleFraction, seed)
    val residuals = base
      .join(broadcast(centerDf), Seq("centroidId"))
      .select(zip_with(col(vecCol).cast("array<double>"), col("__center"),
        (x, y) => x - y).as("__res"))
      .persist() // m k-means fits re-read this
    try {
      val n = residuals.count()
      require(n > 0, "cannot train PQ codebooks on an empty collection")
      val kEff = math.min(ksub.toLong, n).toInt
      val books = (0 until m).map { j =>
        val sub = residuals.select(array_to_vector(
          slice(col("__res"), j * dsub + 1, dsub)).as("__features"))
        val model = new KMeans()
          .setK(kEff).setSeed(seed + j)
          .setFeaturesCol("__features").setPredictionCol("__pqc")
          .fit(sub)
        val got = model.clusterCenters.map(_.toArray)
        // k-means can return fewer centers than k on degenerate data —
        // pad to uniform ksub with copies of the first center (padded
        // codewords are duplicates: argmin never prefers them, LUT
        // entries for them are just redundant)
        if (got.length >= kEff) got.take(kEff)
        else got ++ Array.fill(kEff - got.length)(got(0).clone())
      }.toArray
      ProductQuantizer(books)
    } finally residuals.unpersist()
  }

  /** Replace `vecCol` with the `pqcode` byte column — run on an
    * IVF-assigned frame, keeping `centroidId` for pruning. The encode
    * kernel is the codegen'd [[graft.functions.PqEncode]] (this re-runs
    * on every commit's delta segment and every fold's touched-cell
    * re-encode). */
  def encode(indexed: DataFrame, vecCol: String,
             centersBc: Broadcast[Array[Array[Double]]],
             codebooksBc: Broadcast[Array[Array[Array[Double]]]]): DataFrame = {
    require(!indexed.columns.contains("pqcode"), "input already has a pqcode column")
    indexed
      .withColumn("pqcode", PqFunctions.pq_encode(
        col(vecCol), col("centroidId"), centersBc, codebooksBc))
      .drop(vecCol)
  }

  /** Persist encoded cells clustered by centroid — same partition-prune
    * contract as [[IvfIndex.writeIndexed]], `m` bytes per vector. */
  def writeEncoded(pq: DataFrame, path: String): Unit =
    pq.write.mode("overwrite").partitionBy("centroidId").parquet(path)

  def loadEncoded(spark: SparkSession, path: String,
                  schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.parquet(path)
  }

  /** Codebook persistence: one row per (subspace, code) — tiny
    * (`m·ksub` rows), read once per index version like the centroid
    * tables. */
  def writeCodebooks(pq: ProductQuantizer, path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    pq.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (w, c) => (j, c, w.toSeq) }
    }.toSeq.toDF("subspace", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readCodebooks(spark: SparkSession, path: String): ProductQuantizer = {
    val rows = spark.read.schema("subspace INT, code INT, center ARRAY<DOUBLE>")
      .parquet(path).collect()
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }.toArray
    ProductQuantizer(books)
  }
}
