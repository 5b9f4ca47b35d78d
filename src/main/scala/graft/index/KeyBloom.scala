package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, udf}
import org.apache.spark.util.sketch.BloomFilter

/** Per-store live-KEY Bloom sidecar — the membership summary that lets a
  * partitioned collection's delete fan-out skip partitions that provably
  * hold none of the batch's keys (Milvus keeps segment-level Bloom
  * filters for exactly this delete-filtering job; the reference's
  * backend inherits them via `client.delete`/upsert's delete-by-PK
  * phase, `milvus-app/pythonvectordbceph_milvus.py:108-111`).
  *
  * The routed-ingest shape that needs it: every micro-batch fans its put
  * keys as DELETES to every non-target partition (the pk-move
  * contract), and an explicit delete fans to all partitions because the
  * event carries only the key. Without a summary, each foreign
  * partition pays a keys'-buckets resolve scan per batch — I/O ∝
  * partitions × batch buckets, all of it to discover "not here".
  * [[narrow]] filters the delete batch through the partition's Bloom
  * first ([[narrowParts]] does it for every partition store at once,
  * with the partition as a column), so a partition holding none of the
  * keys resolves an EMPTY frame and reads zero buckets. A false
  * positive only re-pays the scan; a false NEGATIVE would lose a
  * delete, so the file's one invariant is SUPERSET: it contains every
  * key ever committed live to the store since the file existed
  * (deletes never shrink it — they only widen false positives until an
  * overflow rebuild re-tightens).
  *
  * Maintenance contract (enforced by GraftClient's two commit paths,
  * the single-store `mergeCommitOnce` and the routed commit plan): on
  * every put commit, [[addKeys]] / [[addCollectedKeys]] merges the
  * batch's keys BEFORE the store's pointer swap — a crash between the
  * two leaves the Bloom a superset (safe); the reverse
  * order would publish rows invisible to the Bloom (lost deletes). All
  * file mutations run under the store's own commit lock, so concurrent
  * writers cannot interleave read-merge-write and drop each other's
  * keys.
  *
  * File format: `[version][count][capacity]` (longs) + Spark
  * `BloomFilter` bytes, written to a temp file and ATOMIC_MOVE'd. The
  * embedded VERSION (not mtime — second-granularity stamps can alias
  * same-second rewrites) keys the reader cache: [[narrow]] and
  * [[narrowParts]] re-read 24 header bytes per store and reload +
  * re-broadcast the ~bloom only when the version moved, so steady-state
  * cost per commit is one tiny header read per store. When `count`
  * would exceed `capacity`, the file is rebuilt from the store's LIVE
  * keys at doubled capacity — an overflow-triggered compaction that also
  * folds deleted keys' bits.
  *
  * Scale posture: the Bloom is ~1.2 bytes/key at 3% fpp (4M keys ≈
  * 3.5 MB), read per put-commit and broadcast per version change — I/O
  * ∝ live keys / 8, never the corpus. */
object KeyBloom {
  // Capacity is ADAPTIVE: files start small (64k keys ≈ 56 KB at fpp
  // 0.03 — a per-batch read+rewrite+re-broadcast that costs nothing) and
  // double from the live-key count on overflow, so a store only ever
  // pays for the bloom its cardinality needs. The r11 first cut started
  // every file at 4M capacity (3.5 MB); with 8 partition stores that put
  // ~56 MB of sidecar I/O plus a 4M-sized distributed bloom build on
  // EVERY routed micro-batch and cut routed ingest throughput by a
  // third — measured, which is why this is a constant worth a comment.
  val DefaultCapacity = 1L << 16 // 64k keys ≈ 56 KB at fpp 0.03
  val Fpp = 0.03
  // batches up to this many keys merge driver-side (putString into the
  // already-loaded filter — zero Spark jobs); bigger batches take the
  // distributed treeAggregate path. 256k keys × ~24 B ≈ 6 MB transient.
  val DriverMergeMax = 1L << 18

  private def bloomPath(storeDir: String): Path =
    Paths.get(storeDir, "KEYBLOOM")

  def exists(storeDir: String): Boolean = Files.exists(bloomPath(storeDir))

  private final case class Loaded(version: Long, count: Long,
                                  capacity: Long, bloom: BloomFilter)

  private def readFile(p: Path): Loaded = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(p)))
    try {
      val version = in.readLong(); val count = in.readLong()
      val capacity = in.readLong()
      Loaded(version, count, capacity, BloomFilter.readFrom(in))
    } finally in.close()
  }

  private def readHeaderVersion(p: Path): Long = {
    val in = new java.io.DataInputStream(Files.newInputStream(p))
    try in.readLong() finally in.close()
  }

  private def writeFile(storeDir: String, l: Loaded): Unit = {
    val dir = Paths.get(storeDir)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".bloom-", "")
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp)))
    try {
      out.writeLong(l.version); out.writeLong(l.count)
      out.writeLong(l.capacity)
      l.bloom.writeTo(out)
    } finally out.close()
    Files.move(tmp, bloomPath(storeDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // distributed build: per-partition blooms of IDENTICAL (capacity, fpp)
  // parameters merge associatively — no key ever reaches the driver
  private def bloomOf(keys: DataFrame, capacity: Long): BloomFilter =
    keys.stat.bloomFilter("key", capacity, Fpp)

  /** Merge `keys` (a batch's put keys, column `key`) into the store's
    * Bloom, creating it from `live() ∪ keys` when absent and rebuilding
    * it from `live()` at doubled capacity on overflow. MUST be called
    * under the store's commit lock and BEFORE the commit's pointer swap
    * (see the object doc). Batches of at most [[DriverMergeMax]] keys
    * are collected and merged on the driver ([[addCollectedKeys]]);
    * bigger ones take the distributed treeAggregate. */
  def addKeys(storeDir: String, keys: DataFrame,
              live: () => DataFrame,
              defaultCapacity: Long = DefaultCapacity): Unit = {
    val k = keys.select(col("key"))
    if (!exists(storeDir))
      writeFresh(storeDir, None, live().select(col("key")).unionByName(k), defaultCapacity)
    else {
      val n = k.count() // callers pass a persisted batch — footer-cheap
      if (n <= DriverMergeMax)
        addCollectedKeys(storeDir, k.collect().map(_.getString(0)).toSeq,
          Some(live), defaultCapacity)
      else {
        val cur = readFile(bloomPath(storeDir))
        if (cur.count + n > cur.capacity)
          writeFresh(storeDir, Some(cur),
            live().select(col("key")).unionByName(k), defaultCapacity)
        else {
          cur.bloom.mergeInPlace(bloomOf(k, cur.capacity))
          writeFile(storeDir, cur.copy(version = cur.version + 1, count = cur.count + n))
        }
      }
    }
  }

  /** [[addKeys]] for a key set the caller already holds on the driver
    * (at most [[DriverMergeMax]] keys). The common per-commit path folds
    * them into the already-deserialized filter: no Spark job, no
    * capacity-sized per-task blooms shuffled back. Only creating the
    * file, or rebuilding it on overflow, reads `live` — and `live = None`
    * states the store holds no rows yet, so even that stays on the
    * driver (the batch IS the live set). Same locking and ordering
    * contract as [[addKeys]]. */
  def addCollectedKeys(storeDir: String, keys: Seq[String],
                       live: Option[() => DataFrame],
                       defaultCapacity: Long = DefaultCapacity): Unit = {
    require(keys.size <= DriverMergeMax,
      s"${keys.size} keys exceed the driver-side merge bound $DriverMergeMax")
    val prev = if (exists(storeDir)) Some(readFile(bloomPath(storeDir))) else None
    prev.filter(c => c.count + keys.size <= c.capacity) match {
      case Some(cur) =>
        keys.foreach(k => if (k != null) cur.bloom.putString(k))
        writeFile(storeDir,
          cur.copy(version = cur.version + 1, count = cur.count + keys.size))
      case None => live match {
        case Some(l) =>
          val liveKeys = l().select(col("key"))
          val spark = liveKeys.sparkSession
          import spark.implicits._
          writeFresh(storeDir, prev, liveKeys.unionByName(keys.toDF("key")),
            defaultCapacity)
        case None =>
          val cap = math.max(defaultCapacity, 2L * keys.size)
          val b = BloomFilter.create(cap, Fpp)
          keys.foreach(k => if (k != null) b.putString(k))
          writeFile(storeDir, Loaded(nextVersion(prev), keys.size, cap, b))
      }
    }
  }

  /** (Re)build the file from `all` — the store's LIVE keys plus the
    * batch — sized to it at 2× headroom. On a first build this sizes the
    * file for the keys it must actually hold, not just the batch (a
    * bloom built over 1M live keys at a batch-sized capacity would be
    * all ones: sound, but it prunes nothing). On overflow it rebuilds
    * from live keys only (folding deleted keys' bits back out), NOT
    * doubled from the old capacity: `count` accrues per put (re-upserts
    * included), so a stable key set under churn overflows periodically,
    * and doubling from capacity would grow the file with CUMULATIVE
    * writes forever — the rebuild re-tightens to live cardinality, and
    * the next overflow is a live-set away. */
  private def writeFresh(storeDir: String, prev: Option[Loaded], all: DataFrame,
                         defaultCapacity: Long): Unit = {
    val n = all.count()
    val cap = math.max(defaultCapacity, 2 * n)
    writeFile(storeDir, Loaded(nextVersion(prev), n, cap, bloomOf(all, cap)))
  }

  /** The version a rewrite stamps: the previous file's + 1, or for a new
    * file a random epoch, NOT 1 — a dropped-and-recreated store reuses
    * its directory path, and a fresh file restarting at 1 would alias
    * the reader cache's entry for the old incarnation: narrow would
    * serve the STALE broadcast and lose deletes of the new store's keys
    * (KeyBloomSpec pins the recreate case). Versions stay monotone
    * within a file's lifetime; a cross-incarnation collision needs two
    * random 62-bit starts to land on the same value, which we accept. */
  private def nextVersion(prev: Option[Loaded]): Long =
    prev.fold(java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(1L, Long.MaxValue / 2))(_.version + 1)

  // (storeDir → (version, broadcast)) — the broadcast is reused until the
  // file's embedded version moves; the superseded broadcast is destroyed
  // (blocking = false) to free executor memory
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Broadcast[BloomFilter])]()

  /** Evict reader-cache entries for a dropped store (and everything
    * under it — a collection drop takes its partition stores along).
    * Without this a long-lived session churning partition-key
    * collections pins one multi-MB broadcast bloom per DEAD store path
    * forever: the cache only replaces an entry when the same path's
    * file version moves, which never happens after a drop. */
  def evictUnder(pathPrefix: String): Unit = {
    val p = Paths.get(pathPrefix).toAbsolutePath.normalize.toString
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // exact store, anything nested under it, or its partition stores
      // ("<dataPath>-parts/..."); a SIBLING collection whose name merely
      // extends this one ("x" vs "xy") matches neither form
      if (e.getKey == p || e.getKey.startsWith(p + "/") ||
          e.getKey.startsWith(p + "-parts/")) {
        try e.getValue._2.unpersist(false) catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  /** Filter `keys` to those the store's Bloom cannot rule out — the
    * delete-batch narrowing. Identity when no Bloom exists (unknown =
    * must resolve, today's behavior). Sound by the superset invariant:
    * a dropped key is PROVEN absent from the store, so deleting it is a
    * no-op by definition. */
  def narrow(spark: SparkSession, storeDir: String, keys: DataFrame): DataFrame =
    broadcastOf(spark, storeDir) match {
      case None => keys
      case Some(bc) =>
        val might = udf((k: String) => k != null && bc.value.mightContainString(k))
        keys.filter(might(col("key")))
    }

  /** [[narrow]] over several stores at once, with the store as a column:
    * one `(key, <partCol>)` row per key and per store in `stores`
    * (partition id → store dir) whose Bloom cannot rule the key out. A
    * store without a readable Bloom keeps every key. Same soundness
    * argument as [[narrow]], store by store. */
  def narrowParts(spark: SparkSession, stores: Seq[(Int, String)],
                  keys: DataFrame, partCol: String): DataFrame = {
    val filters = stores.map { case (p, d) => (p, broadcastOf(spark, d)) }.toArray
    val might = udf((k: String) =>
      if (k == null) Array.empty[Int]
      else filters.collect {
        case (p, bc) if bc.forall(_.value.mightContainString(k)) => p
      })
    keys.withColumn(partCol, explode(might(col("key"))))
  }

  /** The store's Bloom as a broadcast, reused until the file's version
    * moves; None when there is no file or it cannot be read (a torn or
    * racing file: skip the prune). */
  private def broadcastOf(spark: SparkSession,
                          storeDir: String): Option[Broadcast[BloomFilter]] = {
    val p = bloomPath(storeDir)
    if (!Files.exists(p)) return None
    val version =
      try readHeaderVersion(p)
      catch { case _: java.io.IOException => return None }
    val key = Paths.get(storeDir).toAbsolutePath.normalize.toString
    Some(cache.compute(key, (_, old) => {
      if (old != null && old._1 == version) old
      else {
        // unpersist, never destroy: an in-flight narrow on another
        // thread may still evaluate against the old broadcast — dropping
        // executor copies is safe (they re-fetch), destroying is not
        if (old != null)
          try old._2.unpersist(false) catch { case _: Throwable => () }
        (version, spark.sparkContext.broadcast(readFile(p).bloom))
      }
    })._2)
  }
}
