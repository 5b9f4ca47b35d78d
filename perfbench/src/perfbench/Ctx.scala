package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Attempted and failed operations. An operation fails when its call
  * throws or any of its answer checks fails. */
final class Counts {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def record(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
  }

  /** An answer check: a false `cond` keeps `what` for the report. */
  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond && failures.size < 50) failures += what
    cond
  }

  def failedRatio: Double = Stats.failedRatio(attempted, failed)
}

/** State shared by a run: the session, the scratch directory, the
  * operation counts and, in a traced pass, the tracer. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val traceFile: Path) {
  var tracer: Option[Tracer] = None
  val counts = new Counts

  def traced: Boolean = tracer.isDefined

  /** A client call as a root span (traced pass) or just the call. */
  def call[T](name: String, layer: String)(f: Long => T): T =
    tracer.fold(f(0L))(_.op(name, layer)(f))

  def child[T](parent: Long, name: String, layer: String)(f: => T): T =
    tracer.fold(f)(_.child(parent, name, layer)(f))

  /** Runs `f` traced by `t`; what runs outside such a call is untraced. */
  def tracing[T](t: Tracer)(f: => T): T = {
    t.resume()
    tracer = Some(t)
    try f finally {
      tracer = None
      t.pause()
    }
  }

  def record(ok: Boolean): Unit = counts.record(ok)
  def check(cond: Boolean, what: => String): Boolean = counts.check(cond, what)

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Block-manager storage in use, in MB. */
  def storageMb: Double = spark.sparkContext.getExecutorMemoryStatus.values
    .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)
}

object Ctx {
  def nowNs: Long = System.nanoTime()
  def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Every regular file under `root` with its size and modification time. */
  def tree(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally st.close()
    }

  def treeBytes(root: Path): Long = tree(root).values.map(_._1).sum

  /** Files and bytes `after` holds that `before` did not, or held changed. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val w = after.filter { case (p, v) => !before.get(p).contains(v) }
    (w.size.toLong, w.values.map(_._1).sum)
  }

  /** Raw bytes a user handed over for one row: key, float32 vector, and
    * the metadata's keys and values as UTF-8. */
  def userBytes(key: String, dim: Int, meta: Map[String, String]): Long =
    key.getBytes("UTF-8").length.toLong + 4L * dim +
      meta.iterator.map { case (k, v) => k.getBytes("UTF-8").length + v.getBytes("UTF-8").length }.sum
}
