package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest scalar (metadata) index — the engine's analog of a Milvus
  * scalar index on a non-vector field (`create_index(field_name=<meta>,
  * index_type="INVERTED"/"BITMAP")`, the surface a migrating user of the
  * reference's `MilvusClient` reaches once filtered queries dominate:
  * the app's `filter=` argument at
  * `milvus-app/pythonvectordbceph_milvus.py:109-111` is exactly what
  * this accelerates).
  *
  * Layout, one directory per indexed field:
  * {{{
  *   <dir>/values/bucket=N/ (parquet)  — rows (value STRING); bucket is
  *                                       the KEYED STORE's hash bucket
  *   <dir>/zones/ (parquet)            — per-bucket value spans (the
  *                                       range prune's zone maps)
  *   <dir>/VERSION                     — stamped by the client, LAST
  * }}}
  *
  * Each row records "store bucket N contains at least one live row whose
  * indexed field equals `value`" — a distinct (value, bucket) posting
  * list, value-complete per bucket. A filter implying `field ∈ values`
  * then scans ONLY the buckets listed for those values: the prune is
  * lossless by construction (a live row with a wanted value must have a
  * posting for its bucket), and a value absent from the index proves no
  * live row carries it.
  *
  * Maintenance is APPEND-ONLY ([[appendPairs]] — batch-bounded, dead
  * pairs linger soundly) with threshold compaction ([[write]] — the
  * full rebuild). Partitioning by STORE bucket (not by value hash)
  * keeps each append's files bounded (clustered, ≤ one file per
  * touched bucket) and compaction's write aligned with the store's own
  * unit of change; lookups are a pushed `value IN` over the index
  * parquet either way — the index is distinct-values-sized, so those
  * footer reads are index-I/O, not corpus-I/O.
  *
  * Size bound: ≤ distinct(value, bucket) rows ≤ min(rows,
  * |values|·buckets). At 100 TB with thousands of buckets this is
  * gigabytes of parquet read with a pushed equality — index I/O is
  * proportional to the INDEX, never the corpus.
  */
object ScalarIndex {
  private val valuesSchema = "value STRING, bucket INT"
  private val zonesSchema =
    "bucket INT, nmin DOUBLE, nmax DOUBLE, smin STRING, smax STRING"

  private[graft] def valuesPath(dir: String) = s"$dir/values"
  private[graft] def zonesPath(dir: String) = s"$dir/zones"

  /** One conjunct a range prune can use — the zone-map counterpart of the
    * posting lists' equality/IN value sets. Numeric constraints compare
    * against the per-bucket [nmin, nmax] of `cast(value AS DOUBLE)`
    * (rows whose value does not cast contribute nothing — they cannot
    * satisfy a numeric predicate either, so excluding them is lossless);
    * string constraints against the raw-string [smin, smax]. */
  sealed trait ZoneCon
  /** op ∈ gt | ge | lt | le | eq over `cast(value AS DOUBLE)`. */
  final case class NumCmp(op: String, v: Double) extends ZoneCon
  /** Numeric IN: keep buckets whose span contains ANY of the values. */
  final case class NumIn(vs: Seq[Double]) extends ZoneCon
  /** op ∈ gt | ge | lt | le over the raw string value (lexical). */
  final case class StrCmp(op: String, v: String) extends ZoneCon

  /** Whether a scalar-index layout exists at `dir` (the client stamps
    * VERSION separately — existence is the layout, freshness the stamp). */
  def exists(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(valuesPath(dir)))

  /** Full build (and COMPACTION — the same operation): write the
    * complete distinct (value, bucket) posting set and reset the append
    * counter. `entries` must have (value STRING, bucket INT); null
    * values are the caller's to exclude (a row without the field has no
    * posting — a filter on the field rejects it anyway, so its bucket
    * need not be listed on the field's account). */
  def write(entries: DataFrame, dir: String): Unit = {
    entries.select(col("value").cast("string"), col("bucket").cast("int"))
      .distinct()
      // cluster by the partition column before the partitioned write:
      // without it every shuffle partition writes a sliver into every
      // bucket dir — buckets × shuffle-partitions tiny files whose
      // open/commit overhead dominates both this write and later reads.
      // Clustered, each bucket's rows land in one task → one file.
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(valuesPath(dir))
    // zone maps derive from the values parquet just written — an
    // INDEX-sized read, so compaction stays a single corpus pass (zones
    // from `entries` directly would re-run its corpus-sized lineage)
    zoneRows(entries.sparkSession.read.schema(valuesSchema)
        .parquet(valuesPath(dir)))
      .write.mode("overwrite").parquet(zonesPath(dir))
    resetAppends(dir)
  }

  // Per-bucket min/max of the numeric cast and of the raw string — one
  // row per bucket present in `pairs`. min/max skip nulls, so a bucket
  // with no castable value gets null nmin/nmax (which a numeric zone
  // predicate treats as prunable — such rows cannot satisfy a numeric
  // compare either).
  private def zoneRows(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("bucket").cast("int").as("bucket"))
      // try_cast, NOT cast: under ANSI (the default) a plain cast THROWS
      // on the first non-numeric value, and a text-valued field must
      // still be indexable — its buckets simply carry null numeric spans
      .agg(min(expr("try_cast(value AS DOUBLE)")).as("nmin"),
        max(expr("try_cast(value AS DOUBLE)")).as("nmax"),
        min(col("value").cast("string")).as("smin"),
        max(col("value").cast("string")).as("smax"))
      .coalesce(1)

  /** Per-commit maintenance: APPEND the batch's (value, bucket) pairs —
    * cost ∝ the batch, never the touched buckets' rows (the earlier
    * rewrite-touched-partitions scheme re-derived every touched bucket's
    * full posting set per commit, which for a per-row-unique field made
    * an all-buckets commit rewrite the whole index; BASELINE.md "Scalar
    * metadata index" records the measured tax). Append-only is MONOTONE,
    * which is also what keeps it sound with no coordination:
    *   - new rows' pairs are added before the stamp — the index stays
    *     value-complete for the new snapshot;
    *   - deleted/superseded rows' old pairs simply LINGER as dead
    *     postings: the prune scans their buckets and the filter finds
    *     nothing — extra I/O, never a wrong row. Dead weight and
    *     within-file duplicates fold away at the next [[write]]
    *     (compaction), which the client triggers automatically every
    *     `scalarCompactAt` appends (the counter below) and any
    *     createScalarIndex re-run performs explicitly.
    * Readers are append-tolerant by construction: a scan that misses
    * just-appended files sees the previous snapshot's complete posting
    * set, and the client's CURRENT-recheck falls back if the snapshot
    * moved. */
  def appendPairs(entries: DataFrame, dir: String): Unit = {
    val pairs = entries.select(col("value").cast("string"),
      col("bucket").cast("int"))
    // Zones append ONLY onto the zones dir [[write]] created: an append
    // that created it would publish spans covering just this batch, and
    // bucketsForRange would then PRUNE every bucket absent from the
    // batch. Zones go FIRST: a reader between the two appends then sees
    // zones covering values not yet listed (over-wide spans over-scan —
    // sound) instead of values outside every zone (a span that could
    // wrongly prune the new value's bucket). Both frames are
    // batch-bounded; the callers hand in a checkpointed batch, so the
    // double consumption is two cheap local scans, not two lineage
    // replays.
    Artifact.required(zonesPath(dir))(
      zoneRows(pairs).write.mode("append").parquet(zonesPath(dir)))
    pairs.distinct()
      .repartition(col("bucket")) // ≤ one file per bucket per append —
                                  // see the write() comment
      .write.mode("append").partitionBy("bucket")
      .parquet(valuesPath(dir))
  }

  // ---- change counter (drives auto-compaction) — the client ticks it
  // on EVERY commit it rolls the index through, pure deletes included:
  // deletes add no postings but they DO strand dead ones
  private def appendsPath(dir: String) = java.nio.file.Paths.get(dir, "APPENDS")

  def appendCount(dir: String): Int =
    if (!java.nio.file.Files.exists(appendsPath(dir))) 0
    else java.nio.file.Files.readString(appendsPath(dir)).trim.toInt

  /** Increment and return the post-tick change count. The new count
    * publishes through a temp file + ATOMIC_MOVE (the VERSION stamp's
    * pattern), so a reader — or a crash mid-write — sees the old count or
    * the new one, never an empty file that every later [[appendCount]]
    * would fail to parse. */
  def bumpAppends(dir: String): Int = {
    val n = appendCount(dir) + 1
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), ".appends-", "")
    java.nio.file.Files.writeString(tmp, n.toString)
    java.nio.file.Files.move(tmp, appendsPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    n
  }

  private def resetAppends(dir: String): Unit =
    java.nio.file.Files.deleteIfExists(appendsPath(dir))

  /** The store buckets that may contain a live row whose field value is
    * in `values` — the union of the values' posting lists (≤ buckets
    * ints, a driver-bounded collect). The read is a pushed `value IN`
    * over the index parquet: I/O ∝ index size, never corpus. */
  def bucketsFor(spark: SparkSession, dir: String,
                 values: Seq[String]): Set[Int] = {
    if (values.isEmpty) Set.empty
    else spark.read.schema(valuesSchema).parquet(valuesPath(dir))
      .filter(col("value").isin(values: _*))
      .select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
  }

  /** The store buckets that may contain a live row satisfying ALL of
    * `cons` (conjoined range/numeric constraints, at least one) per the
    * zone maps [[write]] builds. Appended zone rows ACCUMULATE
    * per bucket, so the per-bucket span is the min/max across all of a
    * bucket's rows — dead values only widen a span (over-scan, never a
    * wrong prune), exactly the posting lists' monotone story. The read
    * is bucket-count-sized parquet; the collect ≤ buckets ints. */
  def bucketsForRange(spark: SparkSession, dir: String,
                      cons: Seq[ZoneCon]): Set[Int] = {
    require(cons.nonEmpty, "bucketsForRange needs at least one constraint")
    val spans = zones(spark, dir)
      .groupBy(col("bucket"))
      .agg(min(col("nmin")).as("nmin"), max(col("nmax")).as("nmax"),
        min(col("smin")).as("smin"), max(col("smax")).as("smax"))
    // a span can only be KEPT by a non-null comparison: buckets whose
    // every value fails the numeric cast have null nmin/nmax and drop —
    // their rows cannot satisfy a numeric predicate either (null-compare)
    val keep = cons.map {
      case NumCmp("gt", v) => col("nmax") > v
      case NumCmp("ge", v) => col("nmax") >= v
      case NumCmp("lt", v) => col("nmin") < v
      case NumCmp("le", v) => col("nmin") <= v
      case NumCmp("eq", v) => col("nmin") <= v && col("nmax") >= v
      case NumCmp(op, _) =>
        throw new IllegalArgumentException(s"unknown zone op '$op'")
      case NumIn(vs) =>
        vs.map(v => col("nmin") <= v && col("nmax") >= v)
          .reduceOption(_ || _).getOrElse(lit(false))
      case StrCmp("gt", v) => col("smax") > v
      case StrCmp("ge", v) => col("smax") >= v
      case StrCmp("lt", v) => col("smin") < v
      case StrCmp("le", v) => col("smin") <= v
      case StrCmp(op, _) =>
        throw new IllegalArgumentException(s"unknown zone op '$op'")
    }.reduce(_ && _)
    spans.filter(keep).select("bucket")
      .collect().map(_.getInt(0)).toSet
  }

  private def zones(spark: SparkSession, dir: String): DataFrame =
    Artifact.required(zonesPath(dir))(
      spark.read.schema(zonesSchema).parquet(zonesPath(dir)))

  /** Observability: per-field index shape — distinct values, posting
    * rows, and the hottest values by bucket fan-out (a value present in
    * every bucket prunes nothing; the operator sees which predicates the
    * index can and cannot help). */
  def stats(spark: SparkSession, dir: String, topN: Int = 10): DataFrame =
    spark.read.schema(valuesSchema).parquet(valuesPath(dir))
      // count DISTINCT buckets: appended segments can repeat a (value,
      // bucket) pair (and dead pairs linger until compaction) — a plain
      // row count would overstate the fan-out
      .groupBy(col("value")).agg(count_distinct(col("bucket")).as("n_buckets"))
      .orderBy(desc("n_buckets"), col("value"))
      .limit(topN)

  /** Zone-map staleness observability: one row per bucket with
    * `zone_rows` (zone segments covering the bucket — appends accumulate
    * one per batch, compaction folds them back to 1) and the EFFECTIVE
    * span [[bucketsForRange]] prunes with (min/max across all of the
    * bucket's zone rows). Spans never TIGHTEN between compactions — a
    * bucket whose extreme value was deleted keeps its wide span (sound:
    * over-scan only) — so `zone_rows` is the drift gauge: high counts
    * mean the spans may be far wider than the live data and the next
    * compaction will both fold the rows and re-derive tight spans. */
  def zoneStats(spark: SparkSession, dir: String): DataFrame =
    zones(spark, dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("zone_rows"),
        min(col("nmin")).as("nmin"), max(col("nmax")).as("nmax"),
        min(col("smin")).as("smin"), max(col("smax")).as("smax"))
      .orderBy(col("bucket"))
}
