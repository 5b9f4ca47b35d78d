package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.StreamingIngest

/** Streaming capability tests (SURVEY A1, A20, C15): MemoryStream event
  * ingest, foreachBatch upsert with batch-equivalence, watermark late-drop,
  * streaming dedup, AvailableNow strong-read drain. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** One notification JSON, shaped like FIXTURES.md §2.1. */
  private def notif(eventName: String, key: String, size: Long = 1): String =
    TestDirs.notif(eventName, key, size)

  // (json, event_ts, seq)
  private val eventLog: Seq[(String, Timestamp, Long)] = Seq(
    (notif("ObjectCreated:Put", "a.txt"), ts("2024-01-01 10:00:00"), 1L),
    (notif("ObjectCreated:Put", "b.txt"), ts("2024-01-01 10:00:01"), 2L),
    (notif("ObjectCreated:Put", "a.txt", size = 2), ts("2024-01-01 10:00:05"), 3L), // overwrite a
    (notif("ObjectRemoved:Delete", "b.txt"), ts("2024-01-01 10:00:06"), 4L),        // delete b
    (notif("ObjectCreated:Put", "c.txt"), ts("2024-01-01 10:00:07"), 5L),
    (notif("ObjectRemoved:Delete", "c.txt"), ts("2024-01-01 10:00:08"), 6L),
    (notif("ObjectCreated:Put", "c.txt", size = 3), ts("2024-01-01 10:00:09"), 7L)  // resurrect c
  )

  private def emptyIndex: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Map[String, String], Timestamp, Long)]
      .toDF("key", "bucket", "tags", "event_ts", "seq")
  }

  test("parseEvents extracts the reference's fields from notification JSON") {
    import spark.implicits._
    val raw = Seq(notif("ObjectCreated:Put", "docs/intro.md", 2048)).toDF("value")
    val parsed = StreamingIngest.parseEvents(raw).head()
    assert(parsed.getAs[String]("event_name") == "ObjectCreated:Put")
    assert(parsed.getAs[String]("bucket") == "bkt-0001")
    assert(parsed.getAs[String]("key") == "docs/intro.md")
    assert(parsed.getAs[Long]("size") == 2048L)
    assert(parsed.getAs[Map[String, String]]("tags") == Map("category" -> "docs"))
  }

  test("parseEvents unwraps a CloudEvents envelope; bare and wrapped can mix") {
    import spark.implicits._
    val bare = notif("ObjectCreated:Put", "plain.txt", 7)
    val wrapped =
      """{"specversion":"1.0","id":"evt-1","source":"/rgw/notifications",""" +
        """"type":"dev.knative.channel.event","datacontenttype":"application/json",""" +
        s""""data":${notif("ObjectRemoved:Delete", "via-channel.txt", 9)}}"""
    val rows = StreamingIngest.parseEvents(Seq(bare, wrapped).toDF("value"))
      .select("event_name", "key", "size").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("ObjectCreated:Put", "plain.txt", 7L),
      ("ObjectRemoved:Delete", "via-channel.txt", 9L)),
      "the channel-delivered (enveloped) and direct (bare) shapes must parse identically")
  }

  test("parseEvents yields one row per record for batched notifications") {
    import spark.implicits._
    val record =
      """{"eventVersion":"2.2","eventSource":"ceph:s3","eventName":"ObjectCreated:Put",""" +
        """"s3":{"bucket":{"name":"bkt-0001"},"object":{"key":"%s","size":1,"tags":{}}}}"""
    val batched = s"""{"Records":[${record.format("a.txt")},${record.format("b.txt")}]}"""
    val rows = StreamingIngest.parseEvents(Seq(batched).toDF("value")).collect()
    assert(rows.map(_.getAs[String]("key")).toSeq.sorted == Seq("a.txt", "b.txt"),
      "a multi-record notification must not drop records beyond Records[0]")
  }

  /** The batch-path ground truth for the event log. */
  private def batchResult(events: Seq[(String, Timestamp, Long)]): Set[(String, Long)] = {
    import spark.implicits._
    val parsed = StreamingIngest.parseEvents(
      events.toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
    StreamingIngest.mergeBatch(emptyIndex, parsed)
      .select("key", "seq").collect().map(r => (r.getString(0), r.getLong(1))).toSet
  }

  test("batch merge semantics: overwrite, delete, resurrect") {
    assert(batchResult(eventLog) == Set(("a.txt", 3L), ("c.txt", 7L)))
  }

  test("streaming foreachBatch upsert == batch pipeline (any micro-batch split)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val expected = batchResult(eventLog)

    for (splitAt <- Seq(1, 3, 5)) {
      val stream = MemoryStream[(String, Timestamp, Long)]
      var index = emptyIndex.collect().toSeq // materialized state between batches
      val parsedStream = StreamingIngest.parseEvents(
        stream.toDF().toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
      val q = parsedStream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val idxDf = spark.createDataFrame(
            spark.sparkContext.parallelize(index), emptyIndex.schema)
          index = StreamingIngest.mergeBatch(idxDf, batch)
            .select("key", "bucket", "tags", "event_ts", "seq").collect().toSeq
          ()
        }
        .start()
      stream.addData(eventLog.take(splitAt))
      q.processAllAvailable()
      stream.addData(eventLog.drop(splitAt))
      q.processAllAvailable()
      q.stop()
      val got = index.map(r => (r.getString(0), r.getLong(4))).toSet
      assert(got == expected, s"split at $splitAt")
    }
  }

  test("tumbling window + watermark drops late data past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Long)]
    val parsed = StreamingIngest.parseEvents(
      stream.toDF().toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
    val counts = StreamingIngest.tumblingCounts(parsed, "event_ts", "10 seconds", "1 minute")
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("win_counts").start()

    // Window 10:00 gets 2 puts; advance event time past watermark; then a
    // straggler way before the watermark must be dropped.
    stream.addData((notif("ObjectCreated:Put", "a"), ts("2024-01-01 10:00:01"), 1L))
    stream.addData((notif("ObjectCreated:Put", "b"), ts("2024-01-01 10:00:59"), 2L))
    q.processAllAvailable()
    stream.addData((notif("ObjectCreated:Put", "c"), ts("2024-01-01 10:05:00"), 3L))
    q.processAllAvailable()
    stream.addData((notif("ObjectCreated:Put", "late"), ts("2024-01-01 10:00:30"), 4L)) // late!
    q.processAllAvailable()
    stream.addData((notif("ObjectCreated:Put", "d"), ts("2024-01-01 10:10:00"), 5L))
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table("win_counts")
      .select(col("win_start").cast("string"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // exactly ONE emission per window FIRST — a .toMap alone could mask a
    // duplicate re-emission of the closed window (collect order decides
    // which pair survives), which is the very regression under test
    val dupes = emitted.groupBy(_._1).filter(_._2.length > 1).keys
    assert(dupes.isEmpty, s"closed windows re-emitted: $dupes in ${emitted.toSeq}")
    val rows = emitted.toMap
    assert(rows("2024-01-01 10:00:00") == 2L,
      s"late straggler must NOT bump the closed 10:00 window: $rows")
  }

  test("dropDuplicatesWithinWatermark dedups redelivered events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Long)]
    val parsed = StreamingIngest.parseEvents(
      stream.toDF().toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
      .withWatermark("event_ts", "1 minute")
      .dropDuplicatesWithinWatermark("key", "event_name")
    val q = parsed.writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    stream.addData(eventLog.head, eventLog.head, eventLog.head) // redelivered 3×
    stream.addData(eventLog(1))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("deduped").count() == 2)
  }

  test("stream-static join: events enrich against a dimension table (C15)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = Seq(("bkt-0001", "eu-west"), ("bkt-0002", "us-east"))
      .toDF("bucket", "region") // static side
    val stream = MemoryStream[(String, Timestamp, Long)]
    val parsed = StreamingIngest.parseEvents(
      stream.toDF().toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
    val enriched = parsed.join(dims, Seq("bucket"), "left_outer")
      .select(col("key"), col("bucket"), col("region"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    stream.addData((notif("ObjectCreated:Put", "x.txt"), ts("2024-01-01 10:00:00"), 1L))
    q.processAllAvailable()
    q.stop()
    val row = spark.table("enriched").head()
    assert(row.getAs[String]("region") == "eu-west")
  }

  test("stream-stream interval join: reads attribute to the preceding put (C15)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two live streams joined with an event-time bound — the "which reads
    // hit a freshly-written object" attribution; both sides watermarked
    // so the join state is bounded (the 100 TB posture: state size is
    // watermark-window-bounded, not stream-length-bounded)
    val puts = MemoryStream[(String, Timestamp)]
    val reads = MemoryStream[(String, Timestamp)]
    val putsDf = puts.toDF().toDF("key", "put_ts").withWatermark("put_ts", "1 minute")
    val readsDf = reads.toDF().toDF("rkey", "read_ts").withWatermark("read_ts", "1 minute")
    val joined = putsDf.join(readsDf,
      col("key") === col("rkey") &&
        col("read_ts") >= col("put_ts") &&
        col("read_ts") <= col("put_ts") + expr("interval 2 minutes"))
      .select(col("key"), col("read_ts").cast("string").as("read_at"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    puts.addData(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:00:10")))
    reads.addData(
      ("a", ts("2024-01-01 10:01:00")), // within 2 min of a's put → match
      ("a", ts("2024-01-01 10:05:00")), // outside the bound → dropped
      ("c", ts("2024-01-01 10:01:00"))) // no matching put → dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("a", "2024-01-01 10:01:00")),
      s"only the in-window read of a put key attributes: $rows")
  }

  test("session windows group events separated by inactivity gaps (C15)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Timestamp, Long)]
    val parsed = StreamingIngest.parseEvents(
      stream.toDF().toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
    val sessions = parsed
      .withWatermark("event_ts", "10 seconds")
      .groupBy(session_window(col("event_ts"), "30 seconds"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").cast("string").as("sess_start"), col("n"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    // burst of 3 within 30s gaps, then 2 after a 5-minute silence
    stream.addData(
      (notif("ObjectCreated:Put", "a"), ts("2024-01-01 10:00:00"), 1L),
      (notif("ObjectCreated:Put", "b"), ts("2024-01-01 10:00:20"), 2L),
      (notif("ObjectCreated:Put", "c"), ts("2024-01-01 10:00:40"), 3L),
      (notif("ObjectCreated:Put", "d"), ts("2024-01-01 10:05:00"), 4L),
      (notif("ObjectCreated:Put", "e"), ts("2024-01-01 10:05:10"), 5L))
    q.processAllAvailable()
    // advance watermark far enough to close both sessions
    stream.addData((notif("ObjectCreated:Put", "z"), ts("2024-01-01 10:30:00"), 6L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("2024-01-01 10:00:00") == 3L, s"first session: $rows")
    assert(rows("2024-01-01 10:05:00") == 2L, s"second session: $rows")
  }

  test("typed Dataset[VectorRecord] round-trips through the encoder (SURVEY §1.2)") {
    import spark.implicits._
    val rec = graft.core.VectorRecord("k1", "http://rgw/b/k1", "b",
      Array(0.1f, 0.2f), Map("category" -> "docs"), ts("2024-01-01 10:00:00"))
    val ds = Seq(rec).toDS()
    assert(ds.schema.fieldNames.toSeq ==
      Seq("key", "url", "bucket", "vec", "meta", "ingestTs"))
    val back = ds.filter(_.key == "k1").head()
    assert(back.vec.toSeq == Seq(0.1f, 0.2f) && back.meta("category") == "docs")
  }

  test("flatMapGroupsWithState: per-key latest-event state equals the upsert window (C15)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext

    // state per object key: (seq, event_name) of the newest event seen;
    // emit the updated winner whenever it changes — the stateful-streaming
    // form of IngestOps.upsertLatest.
    def updateState(key: String, events: Iterator[(String, Long, String)],
                    state: GroupState[(Long, String)]): Iterator[(String, Long, String)] = {
      val incoming = events.toSeq
      if (incoming.isEmpty) Iterator.empty
      else {
        val newest = incoming.maxBy(_._2)
        val better = state.getOption.forall(_._1 < newest._2)
        if (better) {
          state.update((newest._2, newest._3))
          Iterator((key, newest._2, newest._3))
        } else Iterator.empty
      }
    }

    val stream = MemoryStream[(String, Timestamp, Long)]
    val parsed = StreamingIngest.parseEvents(
      stream.toDF().toDF("value", "event_ts", "seq"), tsCol = Some("event_ts"))
      .select(col("key"), col("seq"), col("event_name"))
      .as[(String, Long, String)]
    val updates = parsed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateState)
      .toDF("key", "seq", "event_name")
    val q = updates.writeStream.outputMode("append")
      .format("memory").queryName("state_updates").start()
    stream.addData(eventLog.take(4))
    q.processAllAvailable()
    stream.addData(eventLog.drop(4))
    q.processAllAvailable()
    q.stop()

    // the LAST emitted update per key must equal the batch upsert window
    val emitted = spark.table("state_updates").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val lastPerKey = emitted.groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    val batch = graft.ingest.IngestOps.upsertLatest(
        StreamingIngest.parseEvents(
          eventLog.toDF("value", "event_ts", "seq"), tsCol = Some("event_ts")),
        col("key"), col("event_ts"), col("seq"))
      .select("key", "seq", "event_name").collect()
      .map(r => r.getString(0) -> ((r.getString(0), r.getLong(1), r.getString(2)))).toMap
    assert(lastPerKey == batch, s"stateful stream $lastPerKey vs batch $batch")
  }

  test("Trigger.AvailableNow drains all pending events before answering (A20)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    eventLog.map(_._1).toDF("value").coalesce(1)
      .write.mode("overwrite").text(s"$dir/landing")
    val raw = spark.readStream.schema("value STRING").text(s"$dir/landing")
    val parsed = StreamingIngest.parseEvents(raw)
    val q = parsed.writeStream
      .outputMode("append").format("memory").queryName("drained")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // strong read: every event already published is visible, exactly once
    assert(spark.table("drained").count() == eventLog.length.toLong)
  }
}
