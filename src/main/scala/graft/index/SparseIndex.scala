package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SparseSearch

/** At-rest layout for sparse-vector postings — the sparse twin of
  * [[TextIndex]]'s treatment of BM25 postings (same bucket idea, same
  * segment-manifest maintenance contract): `SparseSearch` over a raw
  * postings frame scans the whole frame per query; at 100 TB the
  * postings must live partitioned by dimension so a query's I/O is
  * bounded by Σ df(query dim), not the corpus.
  *
  * Layout under `path/` — a SEGMENT LIST (Lucene's design, re-expressed
  * as parquet + an atomic manifest), so incremental corpus changes
  * append a delta segment instead of rebuilding the whole postings set:
  *   - `postings-<g>/bucket=N/` — parquet (id, dim, w) partitioned by
  *     `bucket = pmod(xxhash64(dim), buckets)`. A query computes its
  *     dims' buckets driver-side ([[dimBucket]] reuses Catalyst's own
  *     XxHash64 so the two sides cannot drift), so each segment scan is
  *     a parquet PARTITION prune to ≤|query dims| buckets plus a pushed
  *     `dim IN (...)` filter within them.
  *   - `norms-<g>/` — (id, nrm): per-vector L2 norms of the docs this
  *     segment wrote. Cosine needs ALL of a vector's dims — computing
  *     norms from a dim-pruned scan would silently under-count — and
  *     the table doubles as the segment's DOC MANIFEST: appends
  *     tombstone superseded docs through it without touching postings
  *     (which scatter a doc over every dim bucket). Dot queries never
  *     read it.
  *   - `tombstones-<g>/` — (id) of docs SUPERSEDED by this segment
  *     (re-upserted or deleted). A row in segment i is live iff its id
  *     is in no tombstone of a LATER segment j > i — the exact
  *     [[TextIndex]] masking rule.
  *   - `META` — bucket count, id column name, the live segment list in
  *     commit order, and the stored postings schema; swapped atomically
  *     (temp file + ATOMIC_MOVE), so readers only ever see complete
  *     segments.
  *
  * Score parity: the scoring path is [[SparseSearch]]'s own dot kernel
  * over the pruned live postings — the dim prune is LOSSLESS for both
  * metrics (a posting outside the query's dims contributes zero to
  * every dot) and the tombstone mask only removes superseded rows, so
  * riding the index (one segment or many) never changes a result, only the
  * bytes read. Query cost per live segment is one pruned scan plus a
  * churn-sized anti-join; [[append]] auto-compacts past its thresholds
  * (an index-sized parquet merge — postings are the source of truth, so
  * compaction never needs the original vectors).
  */
object SparseIndex {

  /** `pmod(xxhash64(dim), buckets)` evaluated driver-side — MUST match
    * the executor-side partition expression in [[build]] bit-for-bit
    * (the shared [[graft.core.CatalystHash]] kernel guarantees it). */
  private[graft] def dimBucket(dim: Long, buckets: Int): Int =
    graft.core.CatalystHash.pmodXxhash64(dim,
      org.apache.spark.sql.types.LongType, buckets)

  private def metaPath(path: String) = java.nio.file.Paths.get(path, "META")

  /** Write the bucketed layout as one fresh segment. `postings` needs
    * (idCol, dim, w) — the COMPLETE posting set, one row per nonzero
    * (doc, dim). Serialized on the path's commit lock like every other
    * writer; the atomic META swap means a crash mid-build strands an
    * unreferenced segment (swept by the next publish) and leaves any
    * previous index serving. */
  def build(postings: DataFrame, path: String, buckets: Int = 64,
            idCol: String = "id"): Unit = {
    require(buckets >= 1, s"buckets must be >= 1 (got $buckets)")
    graft.streaming.BucketedKeyedCollection.withCommitLock(
        java.nio.file.Paths.get(path)) {
      val gen = java.util.UUID.randomUUID.toString.take(8)
      val ddl = writeSegment(postings, path, gen, buckets, idCol)
      publishMeta(path, buckets, idCol, Seq(gen), ddl)
    }
  }

  // One segment's postings + norms. The caller's frame is consumed
  // twice (postings write + norms aggregate) — appends hand in a
  // delta-sized batch, builds a one-time corpus pass, same stance as
  // TextIndex.build's persist-free stats pass would cost more than the
  // double scan for the usual parquet-backed input.
  private def writeSegment(postings: DataFrame, path: String, gen: String,
                           buckets: Int, idCol: String): String = {
    val proj = postings
      .select(col(idCol), col("dim").cast("long").as("dim"),
        col("w").cast("double").as("w"))
      .withColumn("bucket",
        pmod(xxhash64(col("dim")), lit(buckets.toLong)).cast("int"))
    proj
      // cluster by the partition column — the ScalarIndex.write rationale:
      // unclustered, every shuffle partition writes a sliver per bucket
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings-$gen")
    postings.groupBy(col(idCol))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .write.mode("overwrite").parquet(s"$path/norms-$gen")
    proj.schema.toDDL
  }

  // Atomically publish META naming `gens` live, then sweep everything
  // the list no longer references — superseded/crash-stranded segment
  // dirs and .meta- temps. Callers hold the commit lock.
  private def publishMeta(path: String, buckets: Int, idCol: String,
                          gens: Seq[String], schemaDdl: String): Unit = {
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, ".meta-", "")
    java.nio.file.Files.write(tmp,
      s"$buckets\n$idCol\n${gens.mkString(",")}\n$schemaDdl".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, metaPath(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val live = gens.toSet
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString)
        .filter { n =>
          val seg = Seq("postings-", "norms-", "tombstones-")
            .find(n.startsWith).map(p => n.drop(p.length))
          seg.exists(!live.contains(_)) || n.startsWith(".meta-")
        }
        .toSeq
        .foreach(n => graft.streaming.BucketedKeyedCollection.deleteTree(
          dir.resolve(n)))
    } finally listing.close()
  }

  // (buckets, idCol, live segment list, stored postings schema) — every
  // publishMeta writes all four. The explicit schema is what keeps an
  // EMPTY segment readable: a pure-delete append's partitioned postings
  // write emits no part files, so inference has no footer.
  private def readMeta(path: String)
      : (Int, String, Seq[String], org.apache.spark.sql.types.StructType) = {
    require(java.nio.file.Files.exists(metaPath(path)),
      s"no sparse index at $path — build first")
    val lines = java.nio.file.Files.readString(metaPath(path)).split("\n")
    if (lines.length < 4 || lines(2).trim.isEmpty || lines(3).trim.isEmpty)
      throw Artifact.missing(s"${metaPath(path)} segment list and schema")
    (lines(0).trim.toInt, lines(1).trim,
      lines(2).trim.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      org.apache.spark.sql.types.StructType.fromDDL(lines(3).trim))
  }

  // the norms/tombstones side-table schemas derive from the postings
  // schema's id field — nothing here may hardcode the id type
  private def normsSchema(ps: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(Seq(ps.fields.head,
      org.apache.spark.sql.types.StructField("nrm",
        org.apache.spark.sql.types.DoubleType)))
  private def idSchema(ps: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(Seq(ps.fields.head))

  /** Whether a sparse-index layout exists at `path` (version stamping
    * is the CLIENT's concern, exactly like [[TextIndex.exists]]). */
  def exists(path: String): Boolean =
    java.nio.file.Files.exists(metaPath(path))

  /** Number of live segments — the auto-compaction trigger [[append]]
    * checks (1 for a fresh build). */
  def segmentCount(path: String): Int = readMeta(path)._3.size

  /** Fraction of physically-stored doc rows that are DEAD (tombstoned
    * prior versions) — [[append]]'s second compaction trigger, for
    * re-upsert/delete-heavy churn that keeps the segment count small
    * while per-query dead weight grows. Footer-only parquet counts. */
  def tombstoneRatio(spark: SparkSession, path: String): Double = {
    val (_, _, gens, _) = readMeta(path)
    def rows(prefix: String): Long = gens.map { g =>
      val p = java.nio.file.Paths.get(path, s"$prefix-$g")
      if (java.nio.file.Files.exists(p))
        spark.read.parquet(p.toString).count()
      else 0L
    }.sum
    val total = rows("norms")
    if (total == 0L) 0.0 else rows("tombstones").toDouble / total
  }

  /** Append a DELTA segment: `postingsDelta` carries the COMPLETE
    * posting set of each new or re-upserted doc (idCol, dim, w — a
    * partial posting set would leave the doc's old dims serving beside
    * the new ones); `deletedIds` (1-column frame, disjoint from the
    * delta's ids) are removals. Cost scales with the DELTA plus one
    * narrow id join against the per-segment norms tables — never a
    * postings rebuild; the exact [[TextIndex.append]] contract.
    *
    * Auto-compacts when the live segment list exceeds `compactAt` or
    * the dead-row fraction exceeds `tombstoneRatioAt` — each segment
    * taxes every query with a pruned scan + anti-join, and churn
    * accumulates dead postings the prune re-reads forever otherwise. */
  def append(postingsDelta: DataFrame, path: String,
             deletedIds: Option[DataFrame] = None,
             compactAt: Int = 8, tombstoneRatioAt: Double = 0.5): Unit = {
    require(compactAt >= 1, s"compactAt must be >= 1 (got $compactAt)")
    require(tombstoneRatioAt > 0.0 && tombstoneRatioAt <= 1.0,
      s"tombstoneRatioAt must be in (0, 1] (got $tombstoneRatioAt)")
    graft.streaming.BucketedKeyedCollection.withCommitLock(
        java.nio.file.Paths.get(path)) {
      val spark = postingsDelta.sparkSession
      val (buckets, idCol, gens, schema) = readMeta(path)
      val gen = java.util.UUID.randomUUID.toString.take(8)
      // prior LIVE versions of every id this delta touches, via the
      // norms doc manifests — a narrow (id) join, no postings scan
      val touched = deletedIds.foldLeft(
        postingsDelta.select(col(idCol)).distinct())(
        (t, d) => t.union(d.toDF(idCol)).distinct())
      val prior = liveNorms(spark, path, gens, idCol, schema)
        .select(col(idCol))
        .join(touched, Seq(idCol), "left_semi")
      writeSegment(postingsDelta, path, gen, buckets, idCol)
      prior.write.mode("overwrite").parquet(s"$path/tombstones-$gen")
      // keep the FIRST recorded schema: the id type is the index's
      // contract and a delta must conform to it, not redefine it
      publishMeta(path, buckets, idCol, gens :+ gen, schema.toDDL)
      if (segmentCount(path) > compactAt ||
          tombstoneRatio(spark, path) > tombstoneRatioAt)
        compact(spark, path)
    }
  }

  /** Merge all live segments into ONE — from the postings themselves
    * (mask + union + rewrite): index-sized parquet I/O, never a corpus
    * re-derivation. */
  def compact(spark: SparkSession, path: String): Unit = {
    graft.streaming.BucketedKeyedCollection.withCommitLock(
        java.nio.file.Paths.get(path)) {
      val (buckets, idCol, gens, schema) = readMeta(path)
      if (gens.size > 1) {
        val gen = java.util.UUID.randomUUID.toString.take(8)
        val compacted = livePostings(spark, path, gens, idCol, None, schema)
          // drop the old segment's physical bucket column before the
          // rewrite re-derives it (dim hashing is stable, but deriving
          // fresh keeps one code path for both write sites)
          .select(col(idCol), col("dim"), col("w"))
          .withColumn("bucket",
            pmod(xxhash64(col("dim")), lit(buckets.toLong)).cast("int"))
        compacted
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/postings-$gen")
        liveNorms(spark, path, gens, idCol, schema).write.mode("overwrite")
          .parquet(s"$path/norms-$gen")
        // the stored schema carries over, never a re-read: an all-dead
        // compaction writes an EMPTY partitioned dir (no footers), the
        // exact case the stored schema exists for
        publishMeta(path, buckets, idCol, Seq(gen), schema.toDDL)
      }
    }
  }

  // The segment-masking core (TextIndex.maskedUnion's rule): a row of
  // segment i is live iff its id is in no tombstone of a later segment.
  private def maskedUnion(spark: SparkSession, path: String,
                          gens: Seq[String], idCol: String,
                          postingsSchema: org.apache.spark.sql.types.StructType,
                          read: String => DataFrame): DataFrame = {
    // a build or compaction segment supersedes nothing and has no
    // tombstones dir; only appended segments write one
    val tombs = gens.map(g =>
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(path, s"tombstones-$g")))
        Some(spark.read.schema(idSchema(postingsSchema))
          .parquet(s"$path/tombstones-$g").select(col(idCol)))
      else None)
    gens.indices.map { i =>
      val later = tombs.drop(i + 1).flatten
      val seg = read(gens(i))
      if (later.isEmpty) seg
      else seg.join(later.reduce(_ union _), Seq(idCol), "left_anti")
    }.reduce(_ unionByName _)
  }

  private def livePostings(spark: SparkSession, path: String,
                           gens: Seq[String], idCol: String,
                           prune: Option[org.apache.spark.sql.Column],
                           schema: org.apache.spark.sql.types.StructType): DataFrame =
    maskedUnion(spark, path, gens, idCol, schema, { g =>
      val seg = spark.read.schema(schema).parquet(s"$path/postings-$g")
      prune.fold(seg)(seg.filter)
    })

  private def liveNorms(spark: SparkSession, path: String,
                        gens: Seq[String], idCol: String,
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    maskedUnion(spark, path, gens, idCol, schema,
      g => spark.read.schema(normsSchema(schema)).parquet(s"$path/norms-$g"))

  /** The dim-pruned LIVE postings scan shared by [[topK]] and
    * [[topKBatch]]: per segment, partition prune to the dims' buckets +
    * pushed `dim IN` filter, then the tombstone mask. */
  private def prunedPostings(spark: SparkSession, path: String,
      dims: Seq[Long], buckets: Int, idCol: String,
      gens: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val qBuckets = dims.map(dimBucket(_, buckets)).distinct
    val prune = col("bucket").isin(qBuckets: _*) && col("dim").isin(dims: _*)
    livePostings(spark, path, gens, idCol, Some(prune), schema)
      .select(col(idCol), col("dim"), col("w"))
  }

  /** Top-k against one query through the pruned layout. Same results as
    * `SparseSearch.topK` over the full live postings (prune is
    * lossless); I/O is the queried buckets only. */
  def topK(spark: SparkSession, path: String, query: Seq[(Long, Double)],
           k: Int, metric: String = "dot"): DataFrame = {
    val (buckets, idCol, gens, schema) = readMeta(path)
    require(query.nonEmpty, "query sparse vector has no nonzero dimensions")
    val live = query.filter(_._2 != 0.0)
    val pruned = prunedPostings(spark, path, live.map(_._1), buckets, idCol,
      gens, schema)
    metric match {
      case "dot" => SparseSearch.topK(pruned, live, k, "dot", idCol)
      case "cosine" =>
        // dots from the pruned scan; norms from the side table (NEVER
        // from the pruned frame — it lacks the un-queried dims)
        val qn = math.sqrt(live.map(t => t._2 * t._2).sum)
        require(qn > 0.0, "query vector has zero norm")
        val dots = SparseSearch.dotScores(pruned, live, idCol)
        val norms = liveNorms(spark, path, gens, idCol, schema)
        dots.join(norms, Seq(idCol))
          .select(col(idCol), (col("__dot") / (col("nrm") * lit(qn))).as("score"))
          .orderBy(desc("score"), col(idCol))
          .limit(k)
      case other =>
        throw new IllegalArgumentException(s"metric must be dot or cosine (got '$other')")
    }
  }

  /** EVERY overlapping doc's score, unordered and uncapped — the range
    * search's candidate set ([[topK]]'s bounded heap would cap it; a
    * band filter belongs BEFORE any ordering). Work is still
    * Σ df(query dim): a doc sharing no dim never appears (its score is
    * identically 0 — the inverted index's membership rule). */
  def scores(spark: SparkSession, path: String, query: Seq[(Long, Double)],
             metric: String = "dot"): DataFrame = {
    val (buckets, idCol, gens, schema) = readMeta(path)
    require(query.nonEmpty, "query sparse vector has no nonzero dimensions")
    val live = query.filter(_._2 != 0.0)
    val pruned = prunedPostings(spark, path, live.map(_._1), buckets, idCol,
      gens, schema)
    val dots = SparseSearch.dotScores(pruned, live, idCol)
    metric match {
      case "dot" => dots.select(col(idCol), col("__dot").as("score"))
      case "cosine" =>
        val qn = math.sqrt(live.map(t => t._2 * t._2).sum)
        require(qn > 0.0, "query vector has zero norm")
        val norms = liveNorms(spark, path, gens, idCol, schema)
        dots.join(norms, Seq(idCol))
          .select(col(idCol), (col("__dot") / (col("nrm") * lit(qn))).as("score"))
      case other =>
        throw new IllegalArgumentException(s"metric must be dot or cosine (got '$other')")
    }
  }

  /** Batched top-k through the pruned layout: the scan covers the UNION
    * of all queries' dims (collected driver-side — queries are sparse by
    * definition, so the union is query-batch-sized, not corpus-sized). */
  def topKBatch(spark: SparkSession, path: String, queryPostings: DataFrame,
                k: Int, metric: String = "dot"): DataFrame = {
    val (buckets, idCol, gens, schema) = readMeta(path)
    val dims = queryPostings.select(col("dim").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    require(dims.nonEmpty, "query batch has no nonzero dimensions")
    val pruned = prunedPostings(spark, path, dims, buckets, idCol, gens,
      schema)
    metric match {
      case "dot" => SparseSearch.topKBatch(pruned, queryPostings, k, "dot", idCol)
      case "cosine" =>
        // per-(qid, id) dots over the pruned scan, then the side-table
        // norms; the bounded heap still caps rows per (partition, qid).
        // Zero-weight query postings dropped like SparseSearch.topKBatch:
        // an all-zero qid must match nothing, not emit NaN scores.
        val norms = liveNorms(spark, path, gens, idCol, schema)
        val liveQ = queryPostings.filter(col("w") =!= 0.0)
        val q0 = liveQ.select(col("qid"), col("dim"), col("w").as("__qw"))
        val qnorms = liveQ.groupBy(col("qid"))
          .agg(sqrt(sum(col("w") * col("w"))).as("__qnrm"))
        val dots = pruned.join(broadcast(q0), Seq("dim"))
          .groupBy(col("qid"), col(idCol))
          .agg(sum(col("w") * col("__qw")).as("__dot"))
        val scored = dots.join(norms, Seq(idCol)).join(broadcast(qnorms), Seq("qid"))
          .select(col("qid"), col(idCol),
            (col("__dot") / (col("nrm") * col("__qnrm"))).as("score"))
        SparseSearch.rankPerQuery(scored, k, idCol)
      case other =>
        throw new IllegalArgumentException(s"metric must be dot or cosine (got '$other')")
    }
  }
}
