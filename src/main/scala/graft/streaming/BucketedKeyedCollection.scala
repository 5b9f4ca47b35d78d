package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The keyed vector store at 100 TB shape — the at-rest form of the
  * reference's vector store (one row per live key, same-key overwrite,
  * `s3vectors-app/pythonvectordbceph.py:194-206`): rows hash-bucketed by
  * key, one parquet directory per (bucket, version), and a manifest
  * mapping each bucket to its live version. A commit rewrites ONLY the
  * buckets a batch touches — a 1000-row micro-batch against a 100 TB
  * index rewrites ~`touched/numBuckets` of the data instead of all of
  * it, which is the difference between an ingest path that works at
  * scale and one that recopies the world per batch.
  *
  * The manifest id is the snapshot version, published by an atomic
  * pointer swap (`CURRENT`), so a reader always sees a complete,
  * consistent set of bucket directories (A20). The manifest also carries
  * the seq high-water mark, so allocating new upsert sequence numbers
  * needs no index scan. On a real cluster this layout IS a table
  * format's manifest + data files (Delta/Iceberg); the merge plan
  * feeding it is identical.
  *
  * `numBuckets` is immutable for the collection's lifetime — bucket
  * assignment is `pmod(xxhash64(key), numBuckets)`, so changing it would
  * strand existing rows in buckets the merge no longer reads (it is
  * persisted in the catalog's CollectionMeta for exactly that reason).
  *
  * Reader validity: a lazy DataFrame from `read`/`readBuckets` stays
  * valid for `retain - 1` further commits.
  * Writers: commits serialize on a per-collection lock, and a caller
  * passing its merge's base version gets compare-and-swap semantics — a
  * concurrent interleaving commit raises instead of being clobbered
  * (see [[commitBuckets]]).
  */
class BucketedKeyedCollection(root: String, schema: StructType, keyCol: String,
                              numBuckets: Int, retain: Int = 2) {
  require(numBuckets >= 1 && retain >= 1)
  private val dir: Path = Paths.get(root)
  Files.createDirectories(dir)
  private val pointer = dir.resolve("CURRENT")

  /** Latest committed version id (manifest id), if any commit happened. */
  def currentVersion: Option[Long] =
    if (Files.exists(pointer)) Some(new String(Files.readAllBytes(pointer)).trim.toLong)
    else None

  /** Deterministic bucket of the key column. */
  def bucketExpr: Column = pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int")

  // Manifest file: line 1 "maxseq <n>", then one "<bucket> <relativeDir>"
  // line per non-empty bucket.
  private case class Manifest(maxSeq: Long, buckets: Map[Int, String])

  private def manifestPath(v: Long) = dir.resolve(f"manifest-$v%08d")

  private def readManifest(v: Long): Manifest = {
    if (!Files.exists(manifestPath(v)))
      throw new IllegalStateException(
        f"$root: CURRENT points at version $v but manifest-$v%08d is " +
          "missing — the collection directory is corrupt")
    val lines = Files.readAllLines(manifestPath(v)).asScala.toSeq
    val maxSeq = lines.head.stripPrefix("maxseq ").trim.toLong
    val buckets = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(b, rel) = l.split(" ", 2)
      b.toInt -> rel
    }.toMap
    Manifest(maxSeq, buckets)
  }

  private def current: Option[Manifest] = currentVersion.map(readManifest)

  /** Seq high-water mark of the latest snapshot — no index scan needed. */
  def maxSeq: Long = current.map(_.maxSeq).getOrElse(0L)

  /** Seq high-water mark of the snapshot at `version` — what an index
    * build pins so later readers can split rows into "covered by the
    * build" (seq ≤ this) vs "committed after it" (the growing tail).
    * Requires the version's manifest to still exist (retained or
    * current). */
  def maxSeqAt(version: Long): Long = readManifest(version).maxSeq

  /** Buckets whose CURRENT dir was written by a commit AFTER
    * `sinceVersion` — parsed off the write-once `b<bucket>-v<version>`
    * dir names in the CURRENT manifest alone, so the answer needs no
    * retained history however far back `sinceVersion` is. This bounds
    * "rows changed since" scans to the churned buckets' directories.
    * (A bucket EMPTIED since then is absent from the manifest and not
    * listed — it has no rows to scan.) */
  def bucketsChangedSince(sinceVersion: Long): Seq[Int] =
    current.map(_.buckets.collect {
      case (b, rel) if rel.substring(rel.lastIndexOf("-v") + 2).toLong > sinceVersion => b
    }.toSeq.sorted).getOrElse(Nil)

  private def emptyDf(spark: SparkSession): DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def rootKey: String = dir.toAbsolutePath.normalize.toString

  /** True when [[load]] pinned this store and [[release]] hasn't run. */
  def isLoaded: Boolean = BucketedKeyedCollection.rootLoaded(rootKey)

  /** Milvus `load_collection` for this store: mark it loaded and
    * materialize the CURRENT snapshot as ONE persisted columnar frame
    * (see the companion's granularity/invalidation argument). Returns
    * the rows materialized, like Milvus's load waiting for full load.
    * Stays loaded across later commits: the first post-commit read
    * swaps the frame for the new snapshot (one re-scan), and the steady
    * state is memory-resident again. */
  def load(spark: SparkSession): Long = {
    BucketedKeyedCollection.markLoaded(rootKey)
    snapshotEntryFor(spark,
      current.map(_.buckets.values.toSeq.distinct).getOrElse(Nil))
      .map(_.df.count()).getOrElse(0L)
  }

  /** Milvus `release_collection`: unpin and free every cached entry. */
  def release(): Unit = BucketedKeyedCollection.evictUnder(rootKey)

  // Build-or-swap the root's snapshot cache entry for exactly `rels`
  // (the CURRENT manifest's bucket dirs): ONE multi-path parquet
  // relation, persisted. One relation deliberately — measured at 64
  // buckets / 500k rows, top-k over this frame runs 0.12 s vs 1.07 s
  // cold parquet, while the two rejected shapes are SLOWER than cold: a
  // per-READ union of per-dir cached frames 4.6 s, and a cached
  // union-of-dirs frame 1.6 s (the cached RDD's lineage then carries all
  // N arms, and every task re-deserializes that closure — a tax that
  // GROWS with bucket count, exactly wrong at scale).
  private def snapshotEntryFor(spark: SparkSession, rels: Seq[String])
      : Option[BucketedKeyedCollection.SnapshotCache] =
    if (rels.isEmpty) None
    else BucketedKeyedCollection.snapshotCacheFor(rootKey, rels, () =>
      spark.read.schema(schema)
        .parquet(rels.map(dir.resolve(_).toString): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def readPaths(spark: SparkSession, rels: Seq[String]): DataFrame =
    if (rels.isEmpty) emptyDf(spark)
    else if (isLoaded) {
      // serve from the snapshot frame only for FULL-snapshot reads (dir
      // names are write-once, so set equality ⇒ identical bytes). The
      // common path costs no manifest read: the entry usually exists and
      // matches. On a miss, rebuild for the CURRENT manifest (the
      // post-commit re-warm — one corpus re-scan, then memory-resident
      // again). Anything else — a bucket-pruned subset read (already
      // index-narrowed to a few dirs) or a time-travel read of
      // superseded dirs — reads parquet directly: small by construction,
      // and caching subsets would duplicate the snapshot's rows.
      val want = rels.toSet
      BucketedKeyedCollection.snapshotEntry(rootKey)
        .filter(e => e.rels == want && BucketedKeyedCollection.sessionAlive(e.df))
        .orElse {
          val cur = current.map(_.buckets.values.toSeq.distinct).getOrElse(Nil)
          if (cur.toSet == want) snapshotEntryFor(spark, cur) else None
        } match {
        case Some(e) => e.df
        case None =>
          spark.read.schema(schema).parquet(rels.map(dir.resolve(_).toString): _*)
      }
    }
    else spark.read.schema(schema).parquet(rels.map(dir.resolve(_).toString): _*)

  /** Latest full snapshot. */
  def read(spark: SparkSession): DataFrame =
    readPaths(spark, current.map(_.buckets.values.toSeq).getOrElse(Nil))

  /** Snapshot versions still readable (oldest first): manifests `prune`
    * has kept, capped at CURRENT — a manifest above the pointer is a
    * commit that crashed before its pointer swap, not a published
    * snapshot — and floored at prune's own window (`cur - retain + 1`):
    * prune deletes bucket dirs BEFORE manifests, so a crash between the
    * two sweeps can strand a below-window manifest whose data is already
    * vacuumed; listing it would promise a read that fails downstream.
    * At most `retain` entries. */
  def retainedVersions: Seq[Long] = currentVersion match {
    case None => Nil
    case Some(cur) => listDir()
      .filter(_.matches("manifest-\\d{8,}"))
      .map(_.stripPrefix("manifest-").toLong)
      .filter(v => v <= cur && v >= cur - retain + 1).sorted
  }

  /** Time-travel read: the full snapshot AS OF `version`. The version must
    * still be retained (`retain` manifests are kept; older bucket dirs are
    * vacuumed on commit), so this is the bounded-window time travel a
    * table format gives you — pin a version, and every read of it is
    * byte-identical regardless of later commits, which is what makes a
    * training-data export reproducible while ingest keeps running. */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val live = retainedVersions
    require(live.contains(version),
      s"$root: version $version is not retained (retained: " +
        s"${live.mkString(", ")}) — older snapshots are vacuumed after " +
        s"$retain commits; create the collection with a larger retain to " +
        "widen the time-travel window")
    readPaths(spark, readManifest(version).buckets.values.toSeq)
  }

  /** Latest snapshot restricted to `buckets` — what a merge reads. */
  def readBuckets(spark: SparkSession, buckets: Seq[Int]): DataFrame = {
    val live = current.map(_.buckets).getOrElse(Map.empty)
    readPaths(spark, buckets.distinct.flatMap(live.get))
  }

  /** [[readBuckets]] pinned to an explicit snapshot `version` — for
    * callers that derived `buckets` from version-stamped metadata (the
    * scalar indexes) and must not mix that bucket list with a LATER
    * snapshot a racing commit just published. Same reader-validity
    * window as [[readVersion]]: the version must still be retained. */
  def readBucketsAt(spark: SparkSession, version: Long,
                    buckets: Seq[Int]): DataFrame = {
    val live = readManifest(version).buckets
    readPaths(spark, buckets.distinct.flatMap(live.get))
  }

  /** Commit `rows` as the complete new contents of the `touched` buckets
    * (every row of `rows` must hash into `touched`); all other buckets
    * carry over untouched. A touched bucket with no surviving rows is
    * dropped from the manifest. The commit is [[stage]]-then-
    * [[publishStaged]] under one hold of the commit lock.
    *
    * Multi-writer contract: commits SERIALIZE on a per-collection lock
    * (in-process mutex + OS file lock, so two clients in one JVM and two
    * separate processes are both covered; the OS lock releases on crash).
    * A caller that computed its merge against snapshot `expectedBase`
    * passes it here — if another writer committed in between, the CAS
    * fails with ConcurrentModificationException INSTEAD of silently
    * clobbering that writer's rows with a merge that never saw them
    * (writes are read-merge-write, so the lost update would be real data
    * loss, not just a version-stamp oddity). On an object store the same
    * contract is a compare-and-swap on the CURRENT pointer. */
  def commitBuckets(touched: Seq[Int], rows: DataFrame, newMaxSeq: Long,
                    expectedBase: Option[Long] = None): Long =
    BucketedKeyedCollection.withCommitLock(dir) {
    val next = requireBase(expectedBase) + 1
    // a stale `.stage-*` dir is a commit that crashed before its publish;
    // the lock is held, so none of them is live
    listDir().filter(_.startsWith(".stage-"))
      .foreach(n => deleteRecursively(dir.resolve(n)))
    val staging = dir.resolve(f".stage-$next%08d")
    val staged = stage(rows, staging)
    try publishStaged(touched, staged, newMaxSeq, expectedBase)
    finally deleteRecursively(staging) // leftover _SUCCESS markers
    }

  /** The CAS half of a commit: the current version, or
    * ConcurrentModificationException when it is not `expectedBase` (no
    * expectation = no check). Callers hold the commit lock, so a check
    * that passes stays true until they release it. */
  private[graft] def requireBase(expectedBase: Option[Long]): Long =
    BucketedKeyedCollection.withCommitLock(dir) {
    val curV = currentVersion.getOrElse(-1L)
    expectedBase.filter(_ != curV).foreach { e =>
      throw new java.util.ConcurrentModificationException(
        s"$root: concurrent commit detected — this merge was computed " +
          s"against snapshot $e but the collection is now at $curV; " +
          "retry the write against the current snapshot")
    }
    curV
    }

  /** Write `rows` into `staging` as one `__b=<bucket>` directory per
    * bucket they hash into, and return those directories — the staged
    * half of [[commitBuckets]]. Nothing is published. */
  private def stage(rows: DataFrame, staging: Path): Map[Int, Path] = {
    rows.withColumn("__b", bucketExpr)
      .write.partitionBy("__b").mode("overwrite").parquet(staging.toString)
    BucketedKeyedCollection.stagedDirs(staging, "__b")
  }

  /** Publish already-written bucket directories (`staged`: bucket → a
    * directory of parquet files on this store's filesystem, each holding
    * the bucket's complete new rows) as the next snapshot version: CAS
    * on `expectedBase`, move each directory into place, write the
    * manifest, swap the pointer, vacuum. Touched buckets absent from
    * `staged` are emptied. [[commitBuckets]] stages into the store
    * itself; a routed commit stages every partition store's buckets in
    * one Spark write elsewhere and publishes each store through here,
    * under locks it already holds.
    *
    * Retry safety: a publish that crashed after some bucket-dir moves
    * but before the pointer swap leaves orphan `b*-v<next>` dirs (the
    * retried publish recomputes the same `next`, and Files.move without
    * REPLACE_EXISTING would throw FileAlreadyExistsException, wedging all
    * future commits). Anything versioned >= `next` is dead under the
    * lock, so it is cleaned first. `.ptr-` temps are strandable by a
    * crash between createTempFile and the atomic move below — harmless
    * individually, an unbounded leak across crash-retry cycles. */
  private[graft] def publishStaged(touched: Seq[Int], staged: Map[Int, Path],
                                   newMaxSeq: Long,
                                   expectedBase: Option[Long]): Long =
    BucketedKeyedCollection.withCommitLock(dir) {
    val next = requireBase(expectedBase) + 1
    listDir().filter(n => n.startsWith(".ptr-") ||
        bucketDirVersion(n).exists(_ >= next))
      .foreach(n => deleteRecursively(dir.resolve(n)))
    val stray = staged.keySet -- touched.toSet
    require(stray.isEmpty,
      s"commitBuckets: rows hash into undeclared buckets $stray — the merge " +
        "would silently duplicate their keys")
    val moved = staged.map { case (b, src) =>
      val rel = f"b$b%05d-v$next%08d"
      Files.move(src, dir.resolve(rel))
      b -> rel
    }
    val updated = (current.map(_.buckets).getOrElse(Map.empty) -- touched) ++ moved
    val body = (s"maxseq $newMaxSeq" +:
      updated.toSeq.sortBy(_._1).map { case (b, rel) => s"$b $rel" }).mkString("\n")
    Files.write(manifestPath(next), body.getBytes(StandardCharsets.UTF_8))
    val tmp = Files.createTempFile(dir, ".ptr-", "")
    Files.write(tmp, next.toString.getBytes)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    prune(next)
    next
    }

  /** Version of a bucket-dir name, ONLY for names this class wrote
    * (`bNNNNN-vNNNNNNNN`). Cleanup paths gate on this so a stray file a
    * user drops in the directory (e.g. `backup-v2.txt`) is neither parsed
    * (NumberFormatException would wedge every later commit) nor deleted. */
  private def bucketDirVersion(n: String): Option[Long] =
    if (n.matches("b\\d{5,}-v\\d{8,}")) Some(n.substring(n.indexOf("-v") + 2).toLong)
    else None

  /** Keep the last `retain` manifests; drop bucket dirs none of them
    * references (see class doc for the reader-validity window). Only
    * names matching this class's own naming are touched — stray files
    * survive untouched instead of throwing or being deleted. */
  private def prune(latest: Long): Unit = {
    val keepManifests = (math.max(0L, latest - retain + 1) to latest)
      .filter(v => Files.exists(manifestPath(v)))
    val referenced = keepManifests.flatMap(v => readManifest(v).buckets.values).toSet
    val entries = listDir()
    entries.filter(n => bucketDirVersion(n).isDefined && !referenced(n))
      .foreach { n =>
        // deleteRecursively → deleteTree evicts the root's snapshot
        // frame before the dir's files go, so a loaded store never
        // serves a frame whose backing files were vacuumed
        deleteRecursively(dir.resolve(n))
      }
    entries.filter(_.matches("manifest-\\d{8,}"))
      .filter(_.stripPrefix("manifest-").toLong <= latest - retain)
      .foreach(n => Files.deleteIfExists(dir.resolve(n)))
  }

  private def listDir(): Seq[String] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.map(_.getFileName.toString).toSeq
    finally listing.close()
  }

  private def deleteRecursively(p: Path): Unit =
    BucketedKeyedCollection.deleteTree(p)

  /** The collection's commit lock, for admin operations (e.g. rebucket)
    * whose multi-step swaps must exclude concurrent commits — see the
    * companion's withCommitLock. */
  private[graft] def withWriteLock[T](f: => T): T =
    BucketedKeyedCollection.withCommitLock(dir)(f)
}

object BucketedKeyedCollection {
  /** Recursive delete shared by the store's vacuum and the client's
    * layout destructors (drop/rebucket) — one walk-reverse-delete to
    * maintain instead of two. Evicts any loaded-cache entries under the
    * deleted tree FIRST: a cached block whose backing files vanished
    * would serve stale data until executor eviction, then fail on
    * recompute. */
  private[graft] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    // internal temp names (".stage-", ".ptr-", ".meta-", ".ver-") are
    // deleted on EVERY commit and never cached — evicting on them would
    // needlessly drop a loaded root's snapshot frame mid-commit (the
    // superseding swap is the version change, which the next read's
    // set-equality check already handles)
    if (!p.getFileName.toString.startsWith("."))
      evictUnder(p.toAbsolutePath.normalize.toString)
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** The `<column>=<int>` subdirectories of a Spark partitioned write
    * at `staged` (none when the write produced no rows and no dir). */
  private[graft] def stagedDirs(staged: Path, column: String): Map[Int, Path] =
    if (!Files.isDirectory(staged)) Map.empty
    else {
      val listing = Files.list(staged)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"$column="))
        .map(p => p.getFileName.toString.stripPrefix(s"$column=").toInt -> p)
        .toMap
      finally listing.close()
    }

  // ---- load/release cache (Milvus load_collection, A20-compatible) ----
  //
  // Store roots (canonical paths) whose reads should be served from a
  // persisted SNAPSHOT frame. Keyed JVM-globally, not per instance:
  // GraftClient constructs a fresh BucketedKeyedCollection per call, so
  // the loaded state must outlive any one instance.
  //
  // Granularity: ONE persisted frame per root covering the whole CURRENT
  // snapshot, built as a single multi-path parquet relation. Per-dir
  // persisted frames were the first design and are invalidation-free,
  // but a read then plans a union of N InMemoryRelations and the
  // per-task closure carries all N arms — measured 4–6× slower than the
  // COLD parquet scan at 64 buckets and growing with bucket count. The
  // snapshot frame keeps reads one flat InMemoryTableScan at any bucket
  // count (0.12 s vs 1.07 s cold at 64 buckets / 500k rows); pruned
  // subset reads fall back to parquet (index-narrowed to few dirs —
  // small by construction).
  //
  // Invalidation: the frame covers an immutable set of write-once dirs
  // (commitBuckets moves each staged dir into place exactly once), so it
  // can never serve stale bytes. A commit publishes a NEW manifest whose
  // dir set differs; the first loaded read after it rebuilds the frame
  // for the new snapshot (one corpus re-scan — the honest cost of
  // snapshot granularity; a collection under continuous ingest re-pays
  // it per commit, which BASELINE.md records) and the superseded frame
  // is unpersisted. deleteTree (drop/rebucket/vacuum) evicts through
  // evictUnder, so no cached frame outlives its files. Frames are
  // MEMORY_AND_DISK — an oversized load spills instead of OOMing.
  //
  // Index layouts of a loaded root are cached beside the snapshot
  // frames, under the same loaded flag, eviction and release-race rules:
  // the centroid-partitioned layouts as CellLayouts (one cell per RDD
  // partition, probed by partition pruning), keyed by layout path + the
  // version of their BASE cells, and the HNSW graph blobs as persisted
  // frames (indexFrame) keyed by their VERSION stamp. A commit appends a
  // delta segment and leaves the base cells alone, so the base layout
  // survives commits and the first search after one reads no parquet; a
  // fold rewrites the base and moves the key, and the first search after
  // it re-reads and re-partitions the layout.
  private val loadedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[streaming] final case class SnapshotCache(
      rels: Set[String], df: DataFrame)

  private val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotCache]()

  private[streaming] def rootLoaded(rootKey: String): Boolean =
    loadedRoots.contains(rootKey)

  private[streaming] def markLoaded(rootKey: String): Unit =
    loadedRoots.add(rootKey)

  private[streaming] def snapshotEntry(rootKey: String): Option[SnapshotCache] =
    Option(snapshotCache.get(rootKey))

  /** A cached frame is servable only while its owning session lives — the
    * caches are JVM-global, so they outlive any one SparkSession, and a
    * frame bound to a stopped session would fail every read of a root
    * that stays flagged loaded across a session restart. A dead entry is
    * treated as a miss and rebuilt under the calling session. */
  private[streaming] def sessionAlive(df: DataFrame): Boolean =
    !df.sparkSession.sparkContext.isStopped

  private def quietUnpersist(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case _: Throwable => () } // a stopped session can't unpersist

  /** A cached index-layout entry for one index VERSION stamp. */
  private[graft] sealed trait Versioned {
    def version: Long
    def alive: Boolean
    def pin(): Unit
    def drop(): Unit
  }

  private[graft] final case class VersionedFrame(version: Long, df: DataFrame)
      extends Versioned {
    def alive: Boolean = sessionAlive(df)
    def pin(): Unit = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def drop(): Unit = quietUnpersist(df)
  }

  // Loaded frames for the index layouts that are NOT split by centroid
  // (HNSW graph blobs), keyed by canonical path + the index VERSION
  // stamp. Unlike bucket dirs these layouts are maintained IN PLACE, so
  // the stamp is the only safe cache key: a refresh stamps a new version
  // (swap on next read), in-place deletes evict through deleteTree
  // above, and rebuild-at-unchanged-version sites evict explicitly
  // (GraftClient.buildIndex).
  //
  // Every version of one path reads the same parquet relation, and
  // Spark's CacheManager keys cached data by PLAN, not by DataFrame: a
  // superseded frame and its successor are ONE cache entry. So the
  // superseded frame is unpersisted BEFORE the successor is persisted
  // (the other order would uncache the successor too), and a build that
  // lost the race is never persisted at all (unpersisting it would
  // uncache the winner).
  private val indexFrameCache =
    new java.util.concurrent.ConcurrentHashMap[String, VersionedFrame]()

  /** The persisted frame for index layout `path` at `version`, building
    * (and unpersisting the superseded frame) when the stamp moved or the
    * cached frame's session stopped. `mk` runs OUTSIDE the map bin lock —
    * constructing a parquet relation over a many-dir layout launches a
    * parallel file-listing job past
    * spark.sql.sources.parallelPartitionDiscovery.threshold, and a Spark
    * job must never run under a lock that eviction sweeps also take.
    * `stillLoaded` is re-checked under the lock so a release racing the
    * build cannot resurrect a pinned frame (loadState=NotLoaded with
    * corpus-sized memory held). */
  private[graft] def indexFrame(path: String, version: Long,
      mk: () => DataFrame, stillLoaded: () => Boolean): Option[DataFrame] =
    versioned(indexFrameCache, path, version, mk, stillLoaded)(
      (_, v, df) => VersionedFrame(v, df)).map(_.df)

  /** A loaded centroid-partitioned index layout (IVF_FLAT and
    * BIN_IVF_FLAT cells, SQ8 and PQ codes) whose base is at `version`: ONE
    * persisted RDD whose partition `i` holds every row of cell
    * `cells(i)`, and nothing else. A probe selects partitions
    * ([[select]]) instead of filtering rows, so the search plan is the
    * same for every probe set — no per-query generated code — and a
    * job over `n` probed cells runs `n` tasks and reads no other cell. */
  private[graft] final case class CellLayout(version: Long,
      rows: RDD[InternalRow], schema: StructType, cells: IndexedSeq[Int])
      extends Versioned {
    def alive: Boolean = !rows.sparkContext.isStopped
    def pin(): Unit = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def drop(): Unit =
      try rows.unpersist(blocking = false)
      catch { case _: Throwable => () }

    /** The layout's rows of the cells `keep` accepts, as a frame —
      * without the rows whose key is in `superseded`, and with every row
      * of `extra` dealt round-robin over the chosen partitions, so they
      * ride the same tasks (a probe still runs one task per chosen cell,
      * and the rows ship once per broadcast, not once per task). */
    def select(spark: SparkSession, keep: Int => Boolean,
        superseded: Option[Broadcast[Set[UTF8String]]] = None,
        extra: Option[Broadcast[Array[InternalRow]]] = None): DataFrame = {
      val picked = cells.indices.filter(i => keep(cells(i))).toSet
      val pruned =
        if (picked.size == cells.size) rows
        else PartitionPruningRDD.create(rows, picked)
      val n = pruned.getNumPartitions
      val at = schema.fieldIndex("key")
      val rdd =
        if (superseded.isEmpty && extra.isEmpty) pruned
        else if (n == 0) extra.fold(pruned)(x =>
          spark.sparkContext.parallelize(Seq(0), 1).mapPartitions(_ => x.value.iterator))
        else pruned.mapPartitionsWithIndex({ (i, it) =>
          val kept = superseded.fold(it)(keys =>
            it.filter(r => !keys.value.contains(r.getUTF8String(at))))
          extra.fold(kept)(x => kept ++ Iterator.range(i, x.value.length, n).map(x.value(_)))
        }, preservesPartitioning = true)
      GraftShim.internalCreateDataFrame(spark, rdd, schema)
    }
  }

  private object CellLayout {
    private val CellDir = "/centroidId=(-?\\d+)/".r

    /** Re-partition the parquet layout `df` (a `partitionBy(centroidId)`
      * write at `pathKey`) one cell per partition. The cell ids come from
      * the file listing `df` already holds — no job. */
    def build(pathKey: String, version: Long, df: DataFrame): CellLayout = {
      val schema = df.schema
      val cells = df.inputFiles.toSeq
        .flatMap(f => CellDir.findFirstMatchIn(f).map(_.group(1).toInt))
        .distinct.sorted.toIndexedSeq
      val slot = cells.zipWithIndex.toMap
      val at = schema.fieldIndex("centroidId")
      val rows: RDD[InternalRow] =
        if (cells.isEmpty) df.sparkSession.sparkContext.emptyRDD[InternalRow]
        else df.queryExecution.toRdd.mapPartitions { it =>
          val toUnsafe = UnsafeProjection.create(schema)
          it.map(r => (slot(r.getInt(at)), toUnsafe(r).copy(): InternalRow))
        }.partitionBy(new CellPartitioner(cells.size)).values
      CellLayout(version, rows.setName(s"$pathKey@v$version"), schema, cells)
    }
  }

  /** Keys are already partition indexes. */
  private final class CellPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  // Loaded cell layouts, keyed by canonical path + base version and
  // invalidated like indexFrameCache. Unlike a frame, each RDD is its own
  // cache entry, so versions of one path never alias.
  private val cellLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, CellLayout]()

  /** The loaded [[CellLayout]] for `path` at `version` — [[indexFrame]]'s
    * contract (build outside the lock, loaded flag re-checked under it,
    * superseded layout unpersisted) for the centroid-partitioned
    * layouts. `mk` reads the parquet layout; building re-reads and
    * re-partitions it lazily, on the first job over the new layout. */
  private[graft] def cellLayout(path: String, version: Long,
      mk: () => DataFrame, stillLoaded: () => Boolean): Option[CellLayout] =
    versioned(cellLayoutCache, path, version, mk, stillLoaded)(CellLayout.build)

  /** The build-or-swap shared by [[indexFrame]] and [[cellLayout]]. */
  private def versioned[V <: Versioned](
      cache: java.util.concurrent.ConcurrentHashMap[String, V], path: String,
      version: Long, mk: () => DataFrame, stillLoaded: () => Boolean)(
      build: (String, Long, DataFrame) => V): Option[V] = {
    val pathKey = Paths.get(path).toAbsolutePath.normalize.toString
    def current(v: V) = v != null && v.version == version && v.alive
    val hit = Option(cache.get(pathKey)).filter(current)
    if (hit.isDefined) return hit
    val fresh = build(pathKey, version, mk())
    Option(cache.compute(pathKey, (_, old) => {
      if (!stillLoaded()) {
        if (old != null) old.drop()
        null.asInstanceOf[V]
      } else if (current(old)) old // lost the build race: fresh never pinned
      else {
        if (old != null) old.drop()
        fresh.pin()
        fresh
      }
    }))
  }

  /** The root's snapshot entry for exactly `rels`, building (and
    * unpersisting the superseded frame) when the cached dir set differs
    * or the cached frame's session stopped. `mk` runs OUTSIDE the map
    * bin lock (multi-path parquet construction launches a parallel
    * listing job past the discovery threshold — see [[indexFrame]]);
    * the loaded flag is re-checked under the lock so a
    * [[evictUnder]]-racing build cannot re-pin a released root. None ⇔
    * the root is no longer loaded — the caller reads parquet. */
  private[streaming] def snapshotCacheFor(rootKey: String, rels: Seq[String],
      mk: () => DataFrame): Option[SnapshotCache] = {
    val want = rels.toSet
    val hit = Option(snapshotCache.get(rootKey))
      .filter(e => e.rels == want && sessionAlive(e.df))
    if (hit.isDefined) return hit
    val fresh = SnapshotCache(want, mk())
    Option(snapshotCache.compute(rootKey, (_, old) => {
      if (!rootLoaded(rootKey)) {
        if (old != null) quietUnpersist(old.df)
        quietUnpersist(fresh.df)
        null
      } else if (old != null && old.rels == want && sessionAlive(old.df)) {
        quietUnpersist(fresh.df) // lost the build race
        old
      } else {
        if (old != null) quietUnpersist(old.df)
        fresh
      }
    }))
  }

  /** Drop the loaded flag of roots at/under `prefix`, and every cached
    * frame it could affect: frames under a destroyed tree (drop/rebucket)
    * AND the frame above a vacuumed/deleted subdirectory (its content may
    * reference the dir; over-evicting just re-warms on the next read). */
  private[graft] def evictUnder(rawPrefix: String): Unit = {
    // normalize HERE, not at call sites — a duplicate un-normalized key
    // would otherwise survive every eviction and pin its frame forever
    val prefix = Paths.get(rawPrefix).toAbsolutePath.normalize.toString
    val slash = prefix + java.io.File.separator
    loadedRoots.removeIf(r => r == prefix || r.startsWith(slash))
    def sweep[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
        drop: V => Unit): Unit = {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        if (k == prefix || k.startsWith(slash) ||
            prefix.startsWith(k + java.io.File.separator)) {
          drop(e.getValue)
          it.remove()
        }
      }
    }
    sweep(snapshotCache, (v: SnapshotCache) => quietUnpersist(v.df))
    sweep(indexFrameCache, (v: VersionedFrame) => v.drop())
    sweep(cellLayoutCache, (l: CellLayout) => l.drop())
  }

  // Per-collection commit mutexes, keyed by canonical root. The JVM-level
  // lock serializes same-process writers ACROSS threads (two GraftClient
  // instances construct separate collection objects for one root) so the
  // file lock below only ever arbitrates BETWEEN processes —
  // FileChannel.lock throws OverlappingFileLockException, not blocks,
  // when the same JVM already holds a region. Same-THREAD reentry is
  // handled separately (heldByThread below): a ReentrantLock would
  // re-enter and then trip exactly that exception on the file lock.
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  // Paths whose commit lock the CURRENT THREAD already holds. The JVM
  // ReentrantLock re-enters fine, but FileChannel.lock would then throw
  // OverlappingFileLockException (same JVM already holds the region), so
  // true reentrancy — a locked op composing another locked op on the same
  // dir, e.g. commitBuckets calling publishStaged — must skip BOTH acquisitions
  // when the outer frame owns them.
  private val heldByThread = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  /** Run `f` holding the collection's commit lock: in-process mutex, then
    * an OS file lock on `<root>/COMMIT_LOCK` (blocks until the competing
    * PROCESS releases; the OS frees it on crash, so no stale-lock
    * recovery dance). The lock covers the whole commit — staging write,
    * dir moves, manifest, pointer swap, vacuum — so commits from any
    * number of writers serialize and the pre-existing crash-cleanup logic
    * keeps its single-writer-at-a-time assumption. Also taken (via
    * [[BucketedKeyedCollection.withWriteLock]]) by admin operations that
    * must exclude commits across a multi-step swap (rebucket's
    * check→catalog-swap→delete) and by text-index builds sharing a
    * layout directory. `dir` is created if absent — callers lock paths
    * that may not exist yet. */
  private[graft] def withCommitLock[T](dir: Path)(f: => T): T = {
    Files.createDirectories(dir)
    val key = dir.toAbsolutePath.normalize.toString
    if (heldByThread.get.contains(key)) return f // reentrant: outer frame owns both locks
    val jvmLock = commitLocks.computeIfAbsent(
      key, _ => new java.util.concurrent.locks.ReentrantLock())
    jvmLock.lock()
    heldByThread.get += key
    try {
      val ch = java.nio.channels.FileChannel.open(dir.resolve("COMMIT_LOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try f finally fl.release()
      } finally ch.close()
    } finally {
      heldByThread.get -= key
      jvmLock.unlock()
    }
  }
}
