package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.GraftClient
import graft.core.Tables

/** End-to-end streaming-ingest benchmark — the number BASELINE.md's
  * streaming row comes from (the per-query bench can't time ingest: it
  * writes state and spans micro-batches).
  *
  * The whole event-driven service runs at fixture scale: the sf `events`
  * table (100k rows at sf0.1) becomes S3 bucket-notification JSON in
  * landing files — the shape the reference's Flask handler receives one
  * RPC at a time (`s3vectors-app/pythonvectordbceph.py:121-147`) —
  * and `startIngest` drains them under `Trigger.AvailableNow` with
  * `maxFilesPerTrigger` sizing the micro-batches: parse → per-key
  * last-write-wins resolve → object join → embed (dim 384) → bucketed
  * merge-commit, one atomic snapshot per batch.
  *
  * `graft.Bench` runs it once per arm and reports events/s end-to-end,
  * per-micro-batch commit cost, and the final live-key count (a correctness cross-check — the
  * same resolve the oracle-checked `upsert_last_write_wins` verifies).
  */
object IngestScaleBench {

  /** One measured ingest of the sf `events` fixture. Returns
    * (wall seconds, events, per-batch trigger seconds, live keys). */
  case class Result(wallSec: Double, events: Long, batchSec: Seq[Double],
                    liveKeys: Long, liveKeysHash: Long) {
    def eventsPerSec: Long = (events / wallSec).round
    // Locale.ROOT: the f interpolator uses the JVM default locale, and a
    // comma-decimal locale would print 12,34 — malformed JSON the driver
    // archive can't parse (build.sbt pins no -Duser.language)
    private def s2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def json: String = jsonPrefixed("ingest")
    /** Same fields under another key prefix — the routed arm reports as
      * `streaming_ingest_routed_sec` etc. beside the default-store run. */
    def jsonPrefixed(p: String): String =
      s""""streaming_${p}_sec":${s2(wallSec)},""" +
        s""""${p}_events_per_sec":$eventsPerSec,""" +
        s""""${p}_batch_sec":[${batchSec.map(s2).mkString(",")}],""" +
        s""""${p}_live_keys":$liveKeys"""
    /** Order-free fingerprint of the live KEY SET (bit_xor of per-key
      * xxhash64) — what the routed cross-check compares: a count alone
      * would pass when errors offset (one key doubled, one lost); the
      * xor differs by h(doubled)⊕h(lost) ≠ 0. XOR, not SUM: a long sum
      * of ~16k uniform hashes overflows almost surely and ANSI mode
      * (Spark 4's default) THROWS on long overflow rather than
      * wrapping — the sum form crashed the whole bench at sf0.1. XOR's
      * own blind spot (a key live an even number of times cancels) is
      * unreachable here: each store resolves a key to one live row, so
      * the realistic failure is one extra/missing partition copy. */
    def sameLiveSet(o: Result): Boolean =
      liveKeys == o.liveKeys && liveKeysHash == o.liveKeysHash
  }

  /** With a `partitionKey`, the SAME landing files drain into a
    * partition-key collection instead — each micro-batch fans through
    * the pk router (puts to their hash partitions, deletes to all).
    * The routing tag (`tenant`) is STABLE per key, so the live key set
    * must equal the default-store run's — the cross-check Bench makes. */
  def run(spark: SparkSession, sfDir: String, partitionKey: String = "",
          numPartitions: Int = 0): Result = {
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-bench").toString
    val landing = s"$root/landing"

    // events → notification JSON; ~5% deletes (the fixture's "error" type).
    // ~5 events/key keeps real re-put churn at every sf (20k keys at sf0.1).
    val events = Tables.events(spark, sfDir)
    val nEvents = events.count()
    val nKeys = math.max(nEvents / 5, 100L)
    val nDocs = Tables.t(spark, sfDir, "documents").count()
    val s3 = struct(
      struct(lit("bench").as("name")).as("bucket"),
      struct(
        concat(lit("obj-"), pmod(col("event_id"), lit(nKeys))).as("key"),
        col("event_id").as("size"),
        // tenant is a STABLE function of the KEY (not of the event):
        // the routed arm must never move a key between partitions, the
        // Milvus don't-change-the-partition-key contract
        map(lit("category"), col("event_type"),
          lit("tenant"),
          pmod(pmod(col("event_id"), lit(nKeys)), lit(8L)).cast("string"))
          .as("tags")).as("object"))
    val record = struct(
      lit("2.2").as("eventVersion"),
      lit("ceph:s3").as("eventSource"),
      when(col("event_type") === "error", "ObjectRemoved:Delete")
        .otherwise("ObjectCreated:Put").as("eventName"),
      s3.as("s3"))
    val notifs = events.orderBy("event_id")
      .select(to_json(struct(array(record).as("Records"))).as("value"))
    // 20 landing files → maxFilesPerTrigger=4 → 5 micro-batches of ~20k
    notifs.repartition(20).write.mode("overwrite").text(landing)
    // Deterministic arrival order across runs: the files are written
    // near-simultaneously, so their real mtimes tie unpredictably at the
    // filesystem's stamp resolution — and arrival order (mtime, then
    // path) decides per-key last-write-wins, which would make live_keys
    // drift run to run. Stamp strictly increasing mtimes in path order.
    val parts = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(landing))
      try l.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
      finally l.close()
    }
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }

    // the object store: each key's body is a fixture document (~300 chars)
    val objects = spark.range(nKeys)
      .select(concat(lit("obj-"), col("id")).as("key"),
        pmod(col("id"), lit(nDocs)).as("doc_id"))
      .join(Tables.t(spark, sfDir, "documents").select("doc_id", "text"), Seq("doc_id"))
      .drop("doc_id")

    val client = new GraftClient(spark, s"$root/store")
    if (partitionKey.isEmpty)
      client.createCollection("bench", dim = 384, buckets = 64)
    else
      // the same TOTAL bucket budget as the plain arm, split across the
      // partition stores (r17, guide §6): per-partition buckets=64 gave
      // the routed collection 8× the plain arm's file count for the same
      // rows, and every one of the 8 concurrent per-batch commits paid
      // 64-path listings + up-to-64 sub-batch-sized bucket rewrites —
      // job attribution put ~85% of routed batch time in those two
      // phases. Partition count × per-partition buckets is the layout
      // knob production sizes the same way.
      client.createCollection("bench", dim = 384,
        buckets = math.max(64 / math.max(numPartitions, 1), 1),
        partitionKey = partitionKey, numPartitions = numPartitions)

    val t0 = System.nanoTime()
    val q = client.startIngest("bench", landing, objects, maxFilesPerTrigger = Some(4))
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val batches = q.recentProgress.filter(_.numInputRows > 0)
    val perBatchSec = batches.map(_.durationMs.get("triggerExecution").toDouble / 1e3).toSeq
    client.registerSqlViews()
    val liveRow = spark.sql(
      "SELECT count(*), coalesce(bit_xor(xxhash64(key)), 0) FROM bench").head()
    val live = liveRow.getLong(0)
    val liveHash = liveRow.getLong(1)
    // scratch store + landing files are per-run throwaways — on a shared
    // box, per-round leftovers would accumulate until /tmp pressure
    // fails later Spark writes
    graft.streaming.BucketedKeyedCollection.deleteTree(
      java.nio.file.Paths.get(root))
    Result(wallSec, nEvents, perBatchSec, live, liveHash)
  }
}
