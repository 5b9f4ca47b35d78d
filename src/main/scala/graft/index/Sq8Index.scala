package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{l2_distance, sq8_l2_distance}

/** IVF-SQ8-style quantized cells: the at-rest layout that makes the IVF
  * index 4× smaller (1 byte per component instead of a float32), at the
  * cost of a bounded per-component error qmax/254.
  *
  * Standard two-stage search (what Milvus/FAISS IVF_SQ8 does, and the
  * reference's backend offers as the space-saving sibling of its IVF_FLAT
  * config at `milvus-app/pythonvectordbceph_milvus.py:101`):
  *
  *   1. approximate scan: probe `nprobe` cells, rank by SQ8 distance
  *      (fused dequantize-and-distance kernel, codegen'd — reads 1/4 the
  *      bytes of the float scan) and keep the top k·refine candidates;
  *   2. exact re-rank: fetch the candidates' full-precision vectors and
  *      re-rank by exact distance.
  *
  * At cluster scale step 2's fetch side is the PRIMARY keyed store, not
  * the index: the candidate set is k·refine rows (tiny — always
  * broadcast), and over a bucketed keyed layout the fetch touches only
  * the candidates' buckets. The ENCODE arithmetic here (floor(x·127/qmax
  * + 0.5)) is pinned by the declared `embedding_quant_error` oracle
  * query; the kernel's decode stays in pure double (the oracle query
  * materializes a float32 intermediate, so its distances differ from the
  * kernel's by sub-ulp float-rounding — same codes, same bound). */
object Sq8Index {

  /** Replace `vecCol` with SQ8 columns (`qvec` binary, `qmax` double) —
    * run on an IVF-assigned frame, keeping `centroidId` for pruning.
    * Encoding: `qmax = max|x|`, `code = floor(x·127/qmax + 0.5)` ∈
    * [-127, 127] — explicit floor(+0.5), not round(), matching the
    * declared oracle query's engine-stable form; an all-zero vector
    * encodes as qmax = 0 with zero codes. The kernels are the codegen'd
    * [[graft.functions.Sq8Codes]]/[[graft.functions.Sq8Qmax]]
    * expressions (fused primitive loops — this path re-runs on every
    * merge-commit's touched-cell re-quantize, so no boxed udf). */
  def quantize(indexed: DataFrame, vecCol: String): DataFrame = {
    require(Seq("qvec", "qmax").forall(!indexed.columns.contains(_)),
      "input already has qvec/qmax columns")
    indexed
      .withColumn("qvec", graft.functions.VectorFunctions.sq8_codes(col(vecCol)))
      .withColumn("qmax", graft.functions.VectorFunctions.sq8_qmax(col(vecCol)))
      .drop(vecCol)
  }

  /** Persist quantized cells clustered by centroid — same partition-prune
    * contract as [[IvfIndex.writeIndexed]], 1/4 the bytes. */
  def writeQuantized(sq8: DataFrame, path: String): Unit =
    sq8.write.mode("overwrite").partitionBy("centroidId").parquet(path)

  /** A caller-supplied `schema` skips parquet footer inference — one
    * Spark job of pure latency on every interactive search otherwise. */
  def loadQuantized(spark: SparkSession, path: String,
                    schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.parquet(path)
  }

  /** Stage 1: approximate top-k by SQ8 distance over `nprobe` probed
    * cells. Plan shape over the parquet layout: partition-prune → fused
    * sq8 kernel → TakeOrderedAndProject (same as the exact search,
    * smaller IO). A loaded client collection selects the probed cells'
    * partitions of its cached codes layout instead (GraftClient.cellsFrame),
    * with the same kernel and top-k above the scan. */
  def searchApproxL2(sq8: DataFrame, quant: IvfIndex.CoarseQuantizer,
                     idCol: String, q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val cells = quant.probes(q, nprobe)
    sq8.filter(col("centroidId").isin(cells: _*))
      .select(col(idCol), sq8_l2_distance(col("qvec"), col("qmax"), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Stage 1 + 2: SQ8 candidates re-ranked exactly. `exact` holds the
    * full-precision vectors keyed by `idCol` (the primary store); the
    * candidate set is broadcast, so the fetch is a broadcast semi-join —
    * over a bucketed keyed layout it touches only the candidates'
    * buckets. `refine` trades recall for fetch size (candidates =
    * k·refine). */
  def searchRefinedL2(sq8: DataFrame, quant: IvfIndex.CoarseQuantizer,
                      exact: DataFrame, vecCol: String, idCol: String,
                      q: Array[Float], k: Int, nprobe: Int,
                      refine: Int = 4): DataFrame = {
    val cand = searchApproxL2(sq8, quant, idCol, q, k * refine, nprobe)
      .select(col(idCol))
    exact.join(broadcast(cand), Seq(idCol))
      .select(col(idCol), l2_distance(col(vecCol), typedLit(q)).as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }
}
