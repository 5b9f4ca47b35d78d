package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core index-maintenance operators — the reference's actual purpose.
  *
  * The reference upserts one `(key, vector, metadata)` row per object event
  * (`s3vectors-app/pythonvectordbceph.py:194-206`, same key overwrites;
  * `milvus-app/pythonvectordbceph_milvus.py:154`), deletes by key on
  * `ObjectRemoved:Delete` (`s3vectors-app/pythonvectordbceph.py:138-147`) and
  * by predicate (`milvus-app/pythonvectordbceph_milvus.py:108-111`). Here the
  * same semantics are expressed as set-at-a-time Spark plans so they run as
  * one shuffle over the whole event batch instead of one RPC per object.
  *
  * Scale posture: `upsertLatest` is a single hash-shuffle on the key (the
  * same shuffle a groupBy would need — no way around it for global
  * last-write-wins) followed by a streaming rank filter; no per-key state
  * larger than the window frame. `deleteByKey` is a left-anti hash join —
  * broadcast when the delete set is small, shuffle otherwise; Catalyst/AQE
  * picks. Both preserve the index's partitioning-by-key downstream.
  */
object IngestOps {

  /** Last-write-wins per key: keep the newest row by `ts`, tiebreaking on
    * `tiebreak` (descending) so re-delivered same-timestamp events pick a
    * stable winner and oracle hashes never flap (SURVEY §7.4.1). */
  def upsertLatest(df: DataFrame, key: Column, ts: Column, tiebreak: Column): DataFrame =
    upsertLatest(df, Seq(key), ts, tiebreak)

  /** [[upsertLatest]] over a composite key. A frame already
    * hash-partitioned on a subset of `keys` keeps that partitioning (the
    * window needs no further shuffle), which is what lets a routed
    * commit cluster by (partition, bucket) once for both the resolve
    * and its partitioned write. */
  def upsertLatest(df: DataFrame, keys: Seq[Column], ts: Column,
                   tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(ts.desc, tiebreak.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Remove every index row whose key appears in `deletes` — the
    * `ObjectRemoved:Delete` path as a left-anti equi-join. */
  def deleteByKey(index: DataFrame, deletes: DataFrame, keyCol: String): DataFrame =
    index.join(deletes.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")

  /** Milvus-style `delete(filter = pred)`: retain rows NOT matching. */
  def deleteByPredicate(index: DataFrame, pred: Column): DataFrame =
    index.filter(!coalesce(pred, lit(false)))
}
