package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval on the `System.nanoTime` clock. `parent` 0 marks a
  * root: one client operation or one streaming micro-batch. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** What the listener saw of one Spark job. `op` is the `perfbench.op`
  * local property it carried, 0 if none. */
final case class JobRec(jobId: Int, startNs: Long, endNs: Long, label: String,
                        op: Long, tasks: Int, shuffleBytes: Long, inputBytes: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded from the benchmark's own code around its calls into the
  * program, plus the Spark jobs each call launched. Everything stays in
  * memory until [[write]]. */
class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val listener = new Tracer.JobListener
  sc.addSparkListener(listener)

  private def add(s: Span): Unit = synchronized { spans += s }

  /** Runs `f` as a root span; jobs launched from this thread carry its id. */
  def op[T](name: String, layer: String)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.OpProp)
    sc.setLocalProperty(Tracer.OpProp, id.toString)
    val t0 = System.nanoTime()
    try f(id) finally {
      add(Span(id, 0L, name, layer, t0, System.nanoTime()))
      sc.setLocalProperty(Tracer.OpProp, prev)
    }
  }

  def child[T](parent: Long, name: String, layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(Span(ids.incrementAndGet(), parent, name, layer, t0, System.nanoTime()))
  }

  /** A root span for a streaming micro-batch, timed from its progress
    * report (wall-clock milliseconds). */
  def batch(name: String, startWallMs: Long, durMs: Long): Unit =
    add(Span(ids.incrementAndGet(), 0L, name, "streaming",
      Tracer.wallMsToNano(startWallMs), Tracer.wallMsToNano(startWallMs + durMs)))

  /** Every finished job, after the listener bus has drained. */
  def jobs(): Seq[JobRec] = {
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    listener.finished()
  }

  /** Jobs by the root span they ran under. A job's `perfbench.op`
    * property names its root when that root was open at the job's start;
    * otherwise the root open at its start wins. The time rule is what
    * ties micro-batch jobs to their batch: the routed fan-out runs its
    * commits on pooled threads whose inherited local properties (batch id
    * included) date from the batch that created the pool. One client
    * issues one operation at a time, so roots never overlap. */
  def jobsByRoot(): Map[Long, Seq[JobRec]] = {
    val roots = synchronized(spans.filter(_.parent == 0L).toSeq)
    val slack = 2000000L // listener times have millisecond resolution
    def open(s: Span, j: JobRec) = s.startNs - slack <= j.startNs && j.startNs <= s.endNs + slack
    jobs().flatMap { j =>
      roots.find(s => s.id == j.op && open(s, j)).orElse(roots.find(open(_, j)))
        .map(_.id -> j)
    }.groupBy(_._1).map { case (r, js) => r -> js.map(_._2) }
  }

  /** Recorded spans plus one span per attributed job, placed under the
    * root's child that was open when the job started. */
  def allSpans(): Seq[Span] = {
    val byRoot = jobsByRoot()
    val base = synchronized(spans.toSeq)
    val kids = base.filter(_.parent != 0L).groupBy(_.parent)
    base ++ byRoot.toSeq.flatMap { case (root, js) =>
      js.map { j =>
        val inner = kids.getOrElse(root, Nil).find(s => s.startNs <= j.startNs && j.startNs < s.endNs)
        Span(ids.incrementAndGet(), inner.map(_.id).getOrElse(root),
          s"job ${j.jobId}: ${j.label}", Tracer.layerOf(j.label), j.startNs, j.endNs)
      }
    }
  }

  def write(path: java.nio.file.Path, all: Seq[Span], header: String): Unit = {
    val self = Tracer.selfTime(all).toSeq.sortBy(_._1)
      .map { case (l, s) => s""""$l":${Json.num(s)}""" }.mkString(",")
    val body = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString(",\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      s"""{$header,"self_s":{$self},"spans":[\n$body]}\n""".getBytes("UTF-8"))
  }

  private var attached = true

  /** Stops recording jobs once every job so far is in: operations run
    * while paused are untraced. */
  def pause(): Unit = if (attached) {
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    sc.removeSparkListener(listener)
    attached = false
  }

  def resume(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  def close(): Unit = pause()
}

object Tracer {
  val OpProp = "perfbench.op"

  /** The layer a job belongs to, from the job descriptions the program
    * sets on its merge-commit phases; other jobs are plain Spark work. */
  def layerOf(label: String): String =
    if (label.startsWith("graft: resolve")) "commit.resolve"
    else if (label.startsWith("graft: key-bloom")) "commit.bloom"
    else if (label.startsWith("graft: store commit")) "commit.store_write"
    else if (label.contains("ivf refresh")) "commit.ivf_refresh"
    else "spark"

  /** A span's self time is its duration minus the part its children
    * cover, overlapping children counted once. Seconds per layer. */
  def selfTime(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.coveredLength(
          kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
        (s.durNs - covered).toDouble / 1e9
      }.sum
    }
  }

  // listener and progress times are wall-clock milliseconds
  private val nanoMinusMilli = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def wallMsToNano(ms: Long): Long = ms * 1000000L + nanoMinusMilli

  private final class JobListener extends SparkListener {
    private final class Open(val startMs: Long, val label: String, val op: Long) {
      var tasks = 0; var shuffle = 0L; var input = 0L
    }
    private val open = scala.collection.mutable.Map.empty[Int, Open]
    private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    private val done = ArrayBuffer.empty[JobRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      open(e.jobId) = new Open(e.time, prop("spark.job.description").getOrElse(""),
        prop(OpProp).map(_.toLong).getOrElse(0L))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); o <- open.get(j)) {
        o.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          o.shuffle += m.shuffleWriteMetrics.bytesWritten
          o.input += m.inputMetrics.bytesRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { o =>
        done += JobRec(e.jobId, wallMsToNano(o.startMs), wallMsToNano(e.time),
          o.label, o.op, o.tasks, o.shuffle, o.input)
      }
    }
    def finished(): Seq[JobRec] = synchronized(done.toSeq)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A finite double as JSON, every digit kept. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    java.lang.Double.toString(d)
  }
}
