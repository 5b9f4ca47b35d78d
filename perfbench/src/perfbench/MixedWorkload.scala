package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import graft.api.GraftClient

/** `mixed`: a loaded IVF_FLAT collection of clustered unit vectors. A
  * delete of a few keys, then rounds of one upsert batch (new keys and
  * overwrites) followed by searches — the first for a just-upserted or
  * just-overwritten vector, the rest perturbed corpus vectors, every third
  * with a tag filter of 1/8 selectivity. The same search code runs beside
  * writes, through the post-commit index refresh and the loaded-frame
  * cache. */
object MixedWorkload {
  val Rows = 1000
  val Dim = 384
  val Clusters = 16
  val Spread = 1.0
  val NList = 8
  val Buckets = 4
  val Tags = 8
  val NewPerRound = 20
  val OverwritesPerRound = 10
  // one delete per pass: each commit costs seconds, and the run's time is
  // better spent on upserts, whose median is a reported metric
  val Deletes = 5
  // four short rounds rather than two long ones: the upsert median then
  // rests on four calls, and 60 searches support a p75 with the four
  // first-after-commit searches well inside its tail
  val SearchesPerRound = 15
  val MinRounds = 4
  val WarmUpRounds = 2
  val QueryNoise = 0.01
  val Name = "mixed"

  /** One collection, set up from the seed, with the benchmark's model of
    * it and the figures of its pass. Two arms of one seed receive the same
    * operations, so a traced arm can be compared with an untraced one. */
  private final class Arm(ctx: Ctx, dir: String) {
    private val spark = ctx.spark
    import spark.implicits._
    private val gen = new Gen.Clustered(ctx.seed, Dim, Clusters, Spread)
    private val rng = gen.rng
    private var nextKey = 0
    private def freshKey(): String = { nextKey += 1; f"m-${ctx.seed}%x-$nextKey%07d" }
    private def tag(): Map[String, String] = Map("tag" -> rng.nextInt(Tags).toString)
    private def frame(rows: Seq[(String, Live)]) =
      rows.map { case (k, l) => (k, l.vec, l.meta) }.toDF("key", "vec", "meta")
    private val userBytesOf = (k: String, l: Live) => Ctx.userBytes(k, Dim, l.meta)

    private val initial = IndexedSeq.fill(Rows)(freshKey() -> Live(gen.next(), tag()))
    val model = LinkedHashMap.from(initial)

    // set-up: create, bulk upsert, build the index, load
    val store = ctx.work.resolve("mixed").resolve(dir)
    val client = new GraftClient(spark, store.toString)
    private val t0 = Ctx.nowNs
    client.createCollection(Name, Dim, indexType = "IVF_FLAT", nlist = NList, buckets = Buckets)
    val setupUpsertSec = timed(client.upsert(Name, frame(initial)))
    val setupBuildSec = timed(client.buildIndex(Name, nlist = NList))
    val setupLoadSec = timed(client.loadCollection(Name))
    val setupSec = Ctx.secSince(t0)

    var reads = new Reads(ctx, Name)
    val upsertSec = ArrayBuffer.empty[Double]
    val deleteSec = ArrayBuffer.empty[Double]
    var rowsWritten = 0L
    val filesWritten = ArrayBuffer.empty[Long]
    val bytesWritten = ArrayBuffer.empty[Long]
    var userBytesWritten = 0L
    val opSec = ArrayBuffer.empty[Double]

    /** Rounds whose figures are dropped, so the timed rounds run on a
      * compiled commit and search path. Their answers are checked. */
    def warmUp(): Unit = {
      (0 until WarmUpRounds).foreach(_ => round())
      reads = new Reads(ctx, Name)
      Seq(upsertSec, deleteSec, opSec).foreach(_.clear())
      Seq(filesWritten, bytesWritten).foreach(_.clear())
      rowsWritten = 0L
      userBytesWritten = 0L
    }

    private def timed(f: => Unit): Double = { val t = Ctx.nowNs; f; Ctx.secSince(t) }

    private def write(name: String, rows: Long, userBytes: Long)(f: => Unit): Unit = {
      val before = if (ctx.traced) Ctx.tree(store) else Map.empty[String, (Long, Long)]
      val sec = timed(ctx.call(name, "api")(_ => f))
      (if (name == "api.upsert") upsertSec else deleteSec) += sec
      rowsWritten += rows
      opSec += sec
      ctx.record(true)
      if (ctx.traced) {
        val (files, bytes) = Ctx.written(before, Ctx.tree(store))
        filesWritten += files
        bytesWritten += bytes
        userBytesWritten += userBytes
      }
    }

    def delete(): Unit = {
      val doomed = rng.shuffle(model.keys.toIndexedSeq).take(Deletes)
      write("api.delete", doomed.size, 0L)(client.deleteByKeys(Name, doomed))
      model --= doomed
    }

    def round(): Unit = {
      val overwritten = rng.shuffle(model.keys.toIndexedSeq).take(OverwritesPerRound)
      val batch = (IndexedSeq.fill(NewPerRound)(freshKey()) ++ overwritten).map(k => k -> Live(gen.next(), tag()))
      write("api.upsert", batch.size, batch.map(userBytesOf.tupled).sum) {
        client.upsert(Name, frame(batch))
      }
      model ++= batch
      val liveKeys = model.keys.toIndexedSeq
      (0 until SearchesPerRound).foreach { i =>
        val q =
          if (i == 0) { val (k, l) = batch(rng.nextInt(batch.size)); Query(l.vec, expectTop = Some(k)) }
          else {
            val v = gen.perturb(model(liveKeys(rng.nextInt(liveKeys.size))).vec, QueryNoise)
            Query(v, filter = if (i % 3 == 2) Some("tag" -> rng.nextInt(Tags).toString) else None)
          }
        opSec += reads.search(client, q, model, firstAfterCommit = i == 0) / 1e3
      }
      // the index with every cell probed must give the exact answer
      reads.fullProbe(client,
        Query(gen.perturb(model(liveKeys(rng.nextInt(liveKeys.size))).vec, QueryNoise), nprobe = Some(NList)),
        model)
    }

    def checkCount(): Unit =
      ctx.record(ctx.check(client.count(Name) == model.size,
        s"count ${client.count(Name)} != the model's ${model.size} live rows ($dir)"))

    def endToEnd: Map[String, Double] = {
      val lat = reads.latMs.toSeq
      require(Stats.tailPercentile(lat.size).exists(_ >= 75.0),
        s"${lat.size} searches cannot support a p75")
      Map(
        "setup_s" -> setupSec,
        "write_rows_per_s" -> rowsWritten / (upsertSec.sum + deleteSec.sum),
        "write_p50_s" -> Stats.median(upsertSec.toSeq),
        "read_p50_ms" -> Stats.median(lat),
        "read_p75_ms" -> Stats.percentile(lat, 75.0),
        "read_filtered_p50_ms" -> Stats.median(reads.filteredMs.toSeq),
        "recall_at_10" -> reads.recalls.sum / reads.recalls.size,
        "store_bytes_per_user_byte" ->
          Ctx.treeBytes(store).toDouble / model.map(userBytesOf.tupled).sum)
    }
  }

  def run(ctx: Ctx, traced: Boolean): Map[String, Double] =
    if (!traced) {
      val a = new Arm(ctx, "store")
      a.warmUp()
      val t0 = Ctx.nowNs
      a.delete()
      var rounds = 0
      while (rounds < MinRounds || Ctx.secSince(t0) < ctx.seconds) { a.round(); rounds += 1 }
      a.checkCount()
      a.endToEnd
    } else {
      // an untraced and a traced arm take the same operations, a round of
      // each in turn, the first of a pair alternating so neither arm is
      // always the one the JVM warmed up for; their operation times, paired
      // one by one, give the tracing overhead
      val plain = new Arm(ctx, "untraced")
      val arm = new Arm(ctx, "traced")
      val tracer = new Tracer(ctx.spark)
      tracer.pause()
      Seq(plain, arm).foreach(_.warmUp())
      var gcMs = 0L
      def step(a: Arm)(f: Arm => Unit): Unit =
        if (a eq plain) f(a)
        else ctx.tracing(tracer) {
          val gc0 = ctx.gcMs
          f(a)
          gcMs += ctx.gcMs - gc0
        }
      val t0 = Ctx.nowNs
      Seq(plain, arm).foreach(step(_)(_.delete()))
      var rounds = 0
      while (rounds < MinRounds || Ctx.secSince(t0) < 2 * ctx.seconds) {
        (if (rounds % 2 == 0) Seq(plain, arm) else Seq(arm, plain)).foreach(step(_)(_.round()))
        rounds += 1
      }
      Seq(plain, arm).foreach(_.checkCount())
      plain.client.releaseCollection(Name) // jvm.storage_mb counts the traced arm's cache only
      arm.client.registerSqlViews()
      val scanMs = Reads.l2Scan(ctx, Name, arm.model, arm.model.keys.toIndexedSeq,
        new scala.util.Random(ctx.seed))
      val all = tracer.allSpans()
      val byRoot = tracer.jobsByRoot()
      tracer.close()
      val rootSpans = all.filter(_.parent == 0L)
      val reads = arm.reads
      tracer.write(ctx.traceFile, all, s""""workload":"mixed","seed":${ctx.seed}""")
      Layers.commit(rootSpans.filter(s => s.name == "api.upsert" || s.name == "api.delete"), byRoot) ++
        Layers.search(rootSpans.filter(_.name == "api.search"), byRoot) ++
        Layers.self(all) ++ Map(
        // no streaming ingest or embedding in this workload
        "streaming.parse_s" -> 0.0,
        "ingest.embed_docs_per_s" -> 0.0,
        "streaming.trigger.add_batch_s" -> 0.0,
        "streaming.trigger.planning_s" -> 0.0,
        "streaming.trigger.offsets_s" -> 0.0,
        "streaming.trigger.wal_s" -> 0.0,
        "streaming.plain_events_per_s" -> 0.0,
        "streaming.routed_events_per_s" -> 0.0,
        "store.files_written_per_commit" -> arm.filesWritten.sum.toDouble / arm.filesWritten.size,
        "store.bytes_written_per_user_byte" -> arm.bytesWritten.sum.toDouble / arm.userBytesWritten,
        "api.search.plan_ms" -> Stats.median(reads.planMs.toSeq),
        "api.search.exec_ms" -> Stats.median(reads.execMs.toSeq),
        "api.search.first_after_commit_ms" -> Stats.median(reads.firstAfterCommitMs.toSeq),
        "api.search.steady_ms" -> Stats.median(reads.steadyMs.toSeq),
        "functions.l2_scan_ms" -> scanMs,
        "index.fresh_ratio" -> reads.freshSeen.toDouble / math.max(reads.freshChecked, 1),
        "api.upsert_s" -> plain.setupUpsertSec,
        "index.build_s" -> plain.setupBuildSec,
        "api.load_s" -> plain.setupLoadSec,
        "jvm.gc_ms" -> gcMs.toDouble,
        "jvm.storage_mb" -> ctx.storageMb,
        "trace.overhead_pct" -> Stats.overheadPct(plain.opSec.toSeq, arm.opSec.toSeq))
    }
}
