package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `perfbench.Main --workload <ingest|mixed> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir> --trace-out <file>`, or `--selftest`.
  * Prints a `PERFBENCH_INFO` line and, last, a `PERFBENCH_RESULT` line:
  * every end-to-end metric by name (`--trace 0`) or every per-layer
  * metric (`--trace 1`), with the attempted and failed operation counts.
  * Exits 1 when any operation failed. */
object Main {
  val Workloads: Map[String, (Ctx, Boolean) => Map[String, Double]] = Map(
    "ingest" -> IngestWorkload.run,
    "mixed" -> MixedWorkload.run)

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--selftest"))) {
      println(s"selftest ok: ${SelfTest.run()} checks")
      return
    }
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, throw new IllegalArgumentException(
      s"unknown workload '$workload' (have ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1 (got $t)")
    }
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors
    val loadavg = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sizes = workload match {
      case "ingest" => import IngestWorkload._
        s""""events":$Events,"keys":${Events / 5},"delete_share":$DeleteShare,"files":$LandingFiles,""" +
          s""""max_files_per_trigger":$FilesPerTrigger,""" +
          s""""dim":$Dim,"buckets":$Buckets,""" +
          s""""partitions":$Partitions,"probes_per_round":$Probes,"prime_events":$PrimeEvents,""" +
          s""""warm_searches":$WarmSearches"""
      case _ => import MixedWorkload._
        s""""rows":$Rows,"dim":$Dim,"clusters":$Clusters,"nlist":$NList,"buckets":$Buckets,""" +
          s""""new_per_round":$NewPerRound,"overwrites_per_round":$OverwritesPerRound,""" +
          s""""deletes":$Deletes,"searches_per_round":$SearchesPerRound,""" +
          s""""min_rounds":$MinRounds,"warm_up_rounds":$WarmUpRounds"""
    }
    println(s"""PERFBENCH_INFO {"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
      s""""trace":${if (traced) 1 else 0},"nproc":$nproc,"loadavg_start":${Json.num(loadavg)},""" +
      s""""spark":"${spark.version}","java":"${System.getProperty("java.version")}",$sizes}""")

    val ctx = new Ctx(spark, work, seed, seconds, Paths.get(need("trace-out")).toAbsolutePath)
    val metrics =
      try Some(run(ctx, traced))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.record(ctx.check(false, s"run aborted: $e"))
          None
      }
    spark.stop()
    val c = ctx.counts
    c.failures.foreach(f => System.err.println(s"FAILED CHECK: $f"))
    val body = metrics.getOrElse(Map.empty).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    val correct = c.failed == 0 && metrics.isDefined
    System.err.println(s"ops_failed_ratio ${c.failedRatio} (${c.failed} of ${c.attempted})")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":${c.attempted},""" +
      s""""failed":${c.failed},"metrics":{$body}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
