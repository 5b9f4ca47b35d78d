package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.l2_distance

/** IVF_FLAT-style coarse index (SURVEY B5, §4.3) — the one physical-design
  * idea that makes KNN viable at 100 TB.
  *
  * Reference configuration: Milvus `IVF_FLAT`, `metric_type=L2`,
  * `nlist=16384` (`milvus-app/pythonvectordbceph_milvus.py:100-102`). Here:
  * MLlib KMeans learns `nlist` coarse centroids from a sample, every row is
  * assigned a `centroidId`, and the index is laid out partitioned by
  * `centroidId`. A query computes distances to the (tiny) centroid table on
  * the driver, picks the `nprobe` nearest cells, and scans only those — a
  * partition-pruning `centroidId IN (...)` filter that Catalyst pushes into
  * the Parquet scan, so the 100 TB scan touches nprobe/nlist of the data.
  * `nprobe = nlist` degrades to the exact scan (correctness fallback).
  */
object IvfIndex {

  /** Coarse quantizer: centroid vectors, row i = centroid id i. */
  case class CoarseQuantizer(centers: Array[Array[Double]]) {
    def nlist: Int = centers.length

    private def l2sq(a: Array[Double], q: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - q(i); s += d * d; i += 1 }
      s
    }

    /** The `nprobe` centroid ids nearest to `q` — driver-side, O(nlist·dim). */
    def probes(q: Array[Float], nprobe: Int): Seq[Int] =
      centers.indices
        .sortBy(i => (l2sq(centers(i), q), i))
        .take(math.min(nprobe, nlist))

    /** L2 distance from `q` to every center — driver-side, O(nlist·dim).
      * Range search's triangle-inequality cell prune compares these
      * against per-cell radii (`‖q−cᵢ‖ ≤ r + radiusᵢ` keeps cell i). */
    def distancesTo(q: Array[Float]): Array[Double] =
      centers.map(c => math.sqrt(l2sq(c, q)))
  }

  /** Assign every row to its nearest centroid under OUR deterministic
    * kernel (strict-less L2², ties to the lowest id). Both the initial
    * build and incremental maintenance go through this one function: a
    * row's cell must be recomputable bit-for-bit later (to find and evict
    * its old copy on upsert/delete), and MLlib's `model.transform` computes
    * distances with a different floating-point decomposition
    * (‖a‖²+‖b‖²−2a·b), so a near-tie row could land differently there. */
  def assignCells(df: DataFrame, vecCol: String, quant: CoarseQuantizer): DataFrame =
    assignCells(df, vecCol, df.sparkSession.sparkContext.broadcast(quant.centers))

  /** Broadcast-reusing overload: callers that assign repeatedly against the
    * same frozen quantizer (GraftClient's per-merge-commit maintenance)
    * pass a cached broadcast instead of re-shipping ~nlist×dim doubles per
    * call. The kernel is the codegen'd [[graft.functions.NearestCentroid]]
    * expression — a fused primitive argmin inside whole-stage codegen, no
    * boxed per-row closure. */
  def assignCells(df: DataFrame, vecCol: String,
      centersBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): DataFrame =
    df.withColumn("centroidId",
      graft.functions.VectorFunctions.nearest_centroid(col(vecCol), centersBc))

  /** Fit the coarse quantizer and assign `centroidId` to every row.
    * `sampleFraction` bounds the KMeans fit cost at corpus scale — fitting
    * on a sample and assigning everything is the standard IVF build.
    * KMeans only LEARNS the centers; assignment goes through
    * [[assignCells]] so incremental maintenance reproduces it exactly. */
  def build(df: DataFrame, vecCol: String, nlist: Int, seed: Long = 42L,
            sampleFraction: Double = 1.0): (DataFrame, CoarseQuantizer) = {
    val withFeatures = df.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val fitOn = if (sampleFraction >= 1.0) withFeatures
                else withFeatures.sample(sampleFraction, seed)
    val model = new KMeans()
      .setK(nlist).setSeed(seed)
      .setFeaturesCol("__features").setPredictionCol("__kmCell")
      .fit(fitOn)
    val quant = CoarseQuantizer(model.clusterCenters.map(_.toArray))
    val assigned = assignCells(df, vecCol, quant)
    // Cluster the layout by cell: at rest this is `partitionBy(centroidId)`
    // on the Parquet write; in-session, a repartition gives the same
    // pruning behavior for the scan that follows.
    (assigned.repartition(col("centroidId")), quant)
  }

  /** Incremental centroid refresh after upserts/deletes shift a cell's
    * population: one pass of the `VectorCentroid` typed Aggregator per
    * cell (partial sums map-side — members never collected). Cells that
    * lost all rows keep their old center so `probes` stays total. */
  def refreshCentroids(indexed: DataFrame, vecCol: String,
                       old: CoarseQuantizer): CoarseQuantizer = {
    val rows = indexed.groupBy(col("centroidId"))
      .agg(graft.functions.VectorAggregates.vectorCentroid(col(vecCol)).as("centroid"))
      .collect()
    val centers = old.centers.map(_.clone())
    rows.foreach { r =>
      val id = r.getInt(0)
      val c = r.getSeq[Float](1)
      if (c != null && id >= 0 && id < centers.length)
        centers(id) = c.map(_.toDouble).toArray
    }
    CoarseQuantizer(centers)
  }

  /** Persist the indexed collection clustered by cell. THIS is where the
    * pruning win comes from at scale: `partitionBy(centroidId)` makes the
    * probe filter a directory-level partition prune (zero IO for unprobed
    * cells). Searching the in-session DataFrame instead would re-evaluate
    * the KMeans assignment per row — correct, but a full scan. */
  def writeIndexed(indexed: DataFrame, path: String): Unit =
    indexed.write.mode("overwrite").partitionBy("centroidId").parquet(path)

  /** A caller-supplied `schema` skips parquet footer inference — one
    * Spark job of pure latency on every interactive search otherwise. */
  def loadIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.parquet(path)
  }

  /** Top-k L2 search probing only `nprobe` cells. Over the at-rest
    * parquet layout this plans as PartitionFilters: [centroidId IN probes]
    * → Project(dist) → TakeOrderedAndProject — the pruned-exact-scan
    * shape (§4.3): IO touches nprobe/nlist of the data. (A LOADED client
    * collection does not come through here: it selects the probed cells'
    * partitions of its cached cell layout — GraftClient.cellsFrame — so
    * the probe set never enters the plan.) */
  def searchL2(indexed: DataFrame, quantizer: CoarseQuantizer, vecCol: String,
               idCol: String, q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val cells = quantizer.probes(q, nprobe)
    indexed
      .filter(col("centroidId").isin(cells: _*))
      .select(col(idCol), l2_distance(col(vecCol), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }
}
