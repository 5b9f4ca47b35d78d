package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.api.GraftClient
import graft.ingest.Embedder
import graft.streaming.StreamingIngest

/** `ingest`: a backlog of S3 notifications lands in files whose arrival
  * order the benchmark fixes; `startIngest` drains it (AvailableNow, fixed
  * `maxFilesPerTrigger`) into a plain collection, then the same files into
  * an 8-partition partition-key collection. After both drains the plain
  * collection is probed with searches for ingested objects, so an event is
  * checked to be searchable once its micro-batch committed. */
object IngestWorkload {
  val Events = 3000
  val DeleteShare = 0.05
  // one file per micro-batch in both arms; two micro-batches per arm,
  // because a routed micro-batch costs about 6 s and a run is kept near a
  // minute
  val LandingFiles = 2
  val FilesPerTrigger = 1
  val Dim = 384
  val Buckets = 8
  val Partitions = 8
  // every other probe filtered: the filtered median rests on 30 samples
  val Probes = 60
  // untimed searches after set-up, half of them filtered, so the search
  // path is compiled before the timed probes
  val WarmSearches = 60
  val PrimeEvents = Events / LandingFiles

  def run(ctx: Ctx, traced: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = Gen.events(ctx.seed, Events, DeleteShare)
    val prime = Gen.events(ctx.seed ^ 0x5bd1e995L, PrimeEvents, DeleteShare)
    val objects: DataFrame = (gen.texts ++ prime.texts).toSeq.toDF("key", "text")
    val model = Gen.liveAfter(gen.events)
    val live: Map[String, Live] = model.map { case (k, e) =>
      k -> Live(Embedder.text.embedText(gen.texts(k)),
        Map("category" -> e.category, "tenant" -> e.tenant))
    }
    val liveUserBytes = live.map { case (k, l) => Ctx.userBytes(k, Dim, l.meta) }.sum
    // what an arm's micro-batches hand the store: per batch, the last
    // event per key among its files, when that event is a put
    val perFile = (gen.events.size + LandingFiles - 1) / LandingFiles
    val armUserBytes = 2 * gen.events.grouped(perFile * FilesPerTrigger).map { evs =>
      Gen.liveAfter(evs).map { case (k, e) =>
        Ctx.userBytes(k, Dim, Map("category" -> e.category, "tenant" -> e.tenant))
      }.sum
    }.sum

    def landing(dir: Path, evs: Seq[Gen.Event], files: Int): Path = {
      Files.createDirectories(dir)
      val per = (evs.size + files - 1) / files
      evs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        val f = dir.resolve(f"n$i%04d.json")
        Files.write(f, chunk.map(Gen.notificationJson).mkString("", "\n", "\n").getBytes("UTF-8"))
        // strictly increasing stamps: the file source orders a backlog by
        // modification time, and so decides last-write-wins per key
        Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
      }
      dir
    }

    def createArms(client: GraftClient): Unit = {
      client.createCollection("plain", Dim, buckets = Buckets)
      // the plain arm's bucket budget split across the partition stores, so
      // the arms differ in routing, not in how many buckets they hold
      client.createCollection("routed", Dim, buckets = math.max(Buckets / Partitions, 1),
        partitionKey = "tenant", numPartitions = Partitions)
    }

    def drain(client: GraftClient, name: String, from: Path, ckpt: Path): (Double, Seq[StreamingQueryProgress]) = {
      val t0 = Ctx.nowNs
      val q = client.startIngest(name, from.toString, objects,
        maxFilesPerTrigger = Some(FilesPerTrigger), checkpointDir = Some(ckpt.toString))
      q.awaitTermination()
      (Ctx.secSince(t0), q.recentProgress.filter(_.numInputRows > 0).toSeq)
    }

    // set-up: land the backlog, create both collections, and let the
    // service drain a scratch file of one micro-batch's size into scratch
    // collections of both layouts, so the measured drains do not pay the
    // JVM's cold start on either path
    val setupDir = ctx.work.resolve("ingest")
    val t0 = Ctx.nowNs
    val land = landing(setupDir.resolve("landing"), gen.events, LandingFiles)
    val primeLand = landing(setupDir.resolve("prime-landing"), prime.events, 1)
    val firstClient = new GraftClient(spark, setupDir.resolve("store").toString)
    createArms(firstClient)
    val primeClient = new GraftClient(spark, setupDir.resolve("prime-store").toString)
    createArms(primeClient)
    Seq("plain", "routed").foreach(arm => drain(primeClient, arm, primeLand, setupDir.resolve(s"prime-ckpt/$arm")))
    val setupSec = Ctx.secSince(t0)

    // warm-up, untimed: searches into the plain scratch collection,
    // checked like any other
    val primeLive: Map[String, Live] = Gen.liveAfter(prime.events).map { case (k, e) =>
      k -> Live(Embedder.text.embedText(prime.texts(k)), Map("category" -> e.category, "tenant" -> e.tenant))
    }
    val primeKeys = primeLive.keys.toIndexedSeq.sorted
    val warm = new Reads(ctx, "plain")
    val warmRng = new scala.util.Random(ctx.seed)
    (0 until WarmSearches).foreach { i =>
      val k = primeKeys(warmRng.nextInt(primeKeys.size))
      val filter = if (i % 2 == 1) Some("category" -> primeLive(k).meta("category")) else None
      warm.search(primeClient, Query(primeLive(k).vec, filter, Some(k)), primeLive, firstAfterCommit = false)
    }

    /** The figures of one pass over the workload. A traced pass runs its
      * operations under `tracer`. */
    final class Pass(tracer: Option[Tracer]) {
      val reads = new Reads(ctx, "plain")
      val drainSec = ArrayBuffer.empty[Double]
      val batches = ArrayBuffer.empty[(String, StreamingQueryProgress)]
      val filesWritten = ArrayBuffer.empty[Long]
      val bytesWritten = ArrayBuffer.empty[Long]
      var storeRatio = 0.0
      var rounds = 0
      val opSec = ArrayBuffer.empty[Double]
      var gcMs = 0L

      def apply(op: => Unit): Unit = tracer.fold(op)(t => ctx.tracing(t) {
        val gc0 = ctx.gcMs
        try op finally gcMs += ctx.gcMs - gc0
      })
    }

    val liveKeys = live.keys.toIndexedSeq.sorted
    var roundNo = 0

    /** A round of each pass: fresh collections, one drain of each arm, the
      * answer checks and the probes; rounds with the same `probeSeed` probe
      * the same keys. The passes take each operation in turn, and the one
      * that goes first alternates from one operation to the next, so paired
      * operations run side by side as the JVM warms up. */
    def round(passes: Seq[Pass], probeSeed: Long): Unit = {
      val rng = new scala.util.Random(ctx.seed * 31 + probeSeed)
      val stores = passes.map { p =>
        val root =
          if (roundNo == 0) setupDir.resolve("store")
          else ctx.work.resolve(s"ingest-round-$roundNo/store")
        val client = if (roundNo == 0) firstClient else {
          val c = new GraftClient(spark, root.toString); createArms(c); c
        }
        roundNo += 1
        (p, root, client)
      }
      var ops = 0
      def each(op: (Pass, Path, GraftClient) => Unit): Unit = {
        (if (ops % 2 == 0) stores else stores.reverse).foreach { case (p, root, c) => p(op(p, root, c)) }
        ops += 1
      }
      Seq("plain", "routed").foreach { arm =>
        each { (p, root, client) =>
          val before = if (ctx.traced) Ctx.tree(root) else Map.empty[String, (Long, Long)]
          val (sec, progress) = drain(client, arm, land, root.resolveSibling("ckpt").resolve(arm))
          p.drainSec += sec
          p.opSec += sec
          progress.foreach { b =>
            p.batches += arm -> b
            ctx.record(true)
            ctx.tracer.foreach(_.batch(s"streaming.batch $arm",
              java.time.Instant.parse(b.timestamp).toEpochMilli, b.durationMs.get("triggerExecution")))
          }
          if (ctx.traced) {
            val (f, by) = Ctx.written(before, Ctx.tree(root))
            p.filesWritten += f
            p.bytesWritten += by
          }
        }
      }
      // answer checks: last write wins under the fixed arrival order, and
      // both layouts hold the same live rows
      stores.foreach { case (_, _, client) =>
        client.registerSqlViews()
        def keys(view: String) = spark.table(view).select("key").collect().map(_.getString(0)).toSet
        val plainKeys = keys("plain")
        val routedKeys = keys("routed")
        ctx.record(ctx.check(plainKeys == live.keySet,
          s"plain arm live keys differ from last-write-wins: ${(plainKeys -- live.keySet).take(5)} extra, " +
            s"${(live.keySet -- plainKeys).take(5)} missing"))
        ctx.record(ctx.check(routedKeys == plainKeys,
          s"routed arm live keys differ from the plain arm: ${(routedKeys -- plainKeys).take(5)} extra, " +
            s"${(plainKeys -- routedKeys).take(5)} missing"))
        ctx.record(ctx.check(client.count("plain") == live.size && client.count("routed") == live.size,
          s"live counts ${client.count("plain")} / ${client.count("routed")} != ${live.size}"))
      }
      // probes: an ingested object's own embedding comes back first
      (0 until Probes).foreach { i =>
        val k = liveKeys(rng.nextInt(liveKeys.size))
        val filter = if (i % 2 == 1) Some("category" -> live(k).meta("category")) else None
        each { (p, _, client) =>
          p.opSec += p.reads.search(client, Query(live(k).vec, filter, Some(k)), live,
            firstAfterCommit = i == 0) / 1e3
        }
      }
      stores.foreach { case (p, root, _) =>
        p.storeRatio = Ctx.treeBytes(root).toDouble / (2 * liveUserBytes)
        p.rounds += 1
      }
    }

    def endToEnd(p: Pass): Map[String, Double] = {
      val lat = p.reads.latMs.toSeq
      require(Stats.tailPercentile(lat.size).exists(_ >= 75.0),
        s"${lat.size} probes cannot support a p75")
      Map(
        "setup_s" -> setupSec,
        "write_rows_per_s" -> 2.0 * Events * p.rounds / p.drainSec.sum,
        "write_p50_s" -> Stats.median(p.batches.collect {
          case ("plain", b) => b.durationMs.get("triggerExecution") / 1e3 }.toSeq),
        "read_p50_ms" -> Stats.median(lat),
        "read_p75_ms" -> Stats.percentile(lat, 75.0),
        "read_filtered_p50_ms" -> Stats.median(p.reads.filteredMs.toSeq),
        "recall_at_10" -> p.reads.recalls.sum / p.reads.recalls.size,
        "store_bytes_per_user_byte" -> p.storeRatio)
    }

    if (!traced) {
      val p = new Pass(None)
      val t0 = Ctx.nowNs
      round(Seq(p), 0)
      while (Ctx.secSince(t0) < ctx.seconds) round(Seq(p), p.rounds)
      endToEnd(p)
    } else {
      // an untraced and a traced pass take the same operations side by
      // side; their operation times, paired one by one, give the tracing
      // overhead
      val tracer = new Tracer(spark)
      tracer.pause()
      val plain = new Pass(None)
      val p = new Pass(Some(tracer))
      val t0 = Ctx.nowNs
      round(Seq(plain, p), 0)
      while (Ctx.secSince(t0) < 2 * ctx.seconds) round(Seq(plain, p), p.rounds)
      // stand-alone layer probes over the same inputs
      val t1 = Ctx.nowNs
      val parsed = StreamingIngest.parseEvents(spark.read.schema("value STRING").text(land.toString)).count()
      val parseSec = Ctx.secSince(t1)
      ctx.record(ctx.check(parsed == Events, s"parseEvents saw $parsed events, landed $Events"))
      val bodies = gen.texts.values.toSeq
      val t2 = Ctx.nowNs
      bodies.foreach(Embedder.text.embedText)
      val embedPerSec = bodies.size / Ctx.secSince(t2)
      val scanMs = Reads.l2Scan(ctx, "plain", live, liveKeys, new scala.util.Random(ctx.seed))
      val all = tracer.allSpans()
      val byRoot = tracer.jobsByRoot()
      tracer.close()
      val roots = all.filter(_.parent == 0L)
      val batchRoots = roots.filter(_.layer == "streaming")
      def durMean(keys: String*) = p.batches.map { case (_, b) =>
        keys.map(k => Option(b.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3
      }.sum / p.batches.size
      def armRate(arm: String) = Events.toDouble * p.rounds /
        p.drainSec.zipWithIndex.filter(_._2 % 2 == (if (arm == "plain") 0 else 1)).map(_._1).sum
      val reads = p.reads
      tracer.write(ctx.traceFile, all, s""""workload":"ingest","seed":${ctx.seed}""")
      Layers.commit(batchRoots, byRoot) ++
        Layers.search(roots.filter(_.name == "api.search"), byRoot) ++
        Layers.self(all) ++ Map(
        "streaming.parse_s" -> parseSec,
        "ingest.embed_docs_per_s" -> embedPerSec,
        "streaming.trigger.add_batch_s" -> durMean("addBatch"),
        "streaming.trigger.planning_s" -> durMean("queryPlanning"),
        "streaming.trigger.offsets_s" -> durMean("latestOffset", "getBatch"),
        "streaming.trigger.wal_s" -> durMean("walCommit", "commitOffsets"),
        "streaming.plain_events_per_s" -> armRate("plain"),
        "streaming.routed_events_per_s" -> armRate("routed"),
        "store.files_written_per_commit" -> p.filesWritten.sum.toDouble / p.batches.size,
        "store.bytes_written_per_user_byte" -> p.bytesWritten.sum.toDouble / (armUserBytes * p.rounds),
        "api.search.plan_ms" -> Stats.median(reads.planMs.toSeq),
        "api.search.exec_ms" -> Stats.median(reads.execMs.toSeq),
        "api.search.first_after_commit_ms" -> Stats.median(reads.firstAfterCommitMs.toSeq),
        "api.search.steady_ms" -> Stats.median(reads.steadyMs.toSeq),
        "functions.l2_scan_ms" -> scanMs,
        "index.fresh_ratio" -> reads.freshSeen.toDouble / math.max(reads.freshChecked, 1),
        // no upsert, index build or load in this workload
        "api.upsert_s" -> 0.0,
        "index.build_s" -> 0.0,
        "api.load_s" -> 0.0,
        "jvm.gc_ms" -> p.gcMs.toDouble,
        "jvm.storage_mb" -> ctx.storageMb,
        "trace.overhead_pct" -> Stats.overheadPct(plain.opSec.toSeq, p.opSec.toSeq))
    }
  }
}
