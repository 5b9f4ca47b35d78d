package perfbench

/** Per-layer figures of a traced pass, from its spans and jobs. */
object Layers {

  /** Commit-path figures, per commit: `roots` are the root spans of the
    * calls or micro-batches that commit. */
  def commit(roots: Seq[Span], byRoot: Map[Long, Seq[JobRec]]): Map[String, Double] = {
    val n = math.max(roots.size, 1).toDouble
    val js = roots.flatMap(r => byRoot.getOrElse(r.id, Nil))
    def phase(layer: String) = js.filter(j => Tracer.layerOf(j.label) == layer).map(_.durNs).sum / 1e9 / n
    val residue = roots.map { r =>
      r.durNs - Stats.coveredLength(byRoot.getOrElse(r.id, Nil).map(j => (j.startNs, j.endNs)),
        r.startNs, r.endNs)
    }.sum / 1e9 / n
    Map(
      "commit.resolve_s" -> phase("commit.resolve"),
      "commit.bloom_s" -> phase("commit.bloom"),
      "commit.store_write_s" -> phase("commit.store_write"),
      "commit.ivf_refresh_s" -> phase("commit.ivf_refresh"),
      "commit.driver_residue_s" -> residue,
      "spark.jobs_per_commit" -> js.size / n,
      "spark.tasks_per_commit" -> js.map(_.tasks).sum / n,
      "spark.shuffle_bytes_per_commit" -> js.map(_.shuffleBytes).sum / n)
  }

  /** Spark work per search call. */
  def search(roots: Seq[Span], byRoot: Map[Long, Seq[JobRec]]): Map[String, Double] = {
    val n = math.max(roots.size, 1).toDouble
    val js = roots.flatMap(r => byRoot.getOrElse(r.id, Nil))
    Map(
      "spark.jobs_per_search" -> js.size / n,
      "spark.tasks_per_search" -> js.map(_.tasks).sum / n,
      "search.input_bytes_per_search" -> js.map(_.inputBytes).sum / n)
  }

  /** Self time per layer of the pass, as `self.<layer>_s`. Every layer a
    * span can carry is listed, so each traced run reports all of them. */
  val SpanLayers: Seq[String] = Seq("api", "streaming", "commit.resolve", "commit.bloom",
    "commit.store_write", "commit.ivf_refresh", "spark")

  def self(all: Seq[Span]): Map[String, Double] = {
    val s = Tracer.selfTime(all)
    SpanLayers.map(l => s"self.${l}_s" -> s.getOrElse(l, 0.0)).toMap
  }
}
