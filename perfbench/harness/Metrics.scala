package graftbench

/** End-to-end metrics: every workload reports all of them (an operation is
  * one bulk build, one increment batch, or one service request).
  * `latency_p50_ms` is the median latency of each kind of operation,
  * geometrically averaged over the kinds: a kg workload has one kind, so it
  * is the median batch latency. The service mix's kinds differ up to
  * threefold in latency, and a median over all requests would fall in the
  * gap between two kinds' clusters, where a few requests more or less on
  * either side move it by a fifth. */
object EndToEnd {
  def metrics(setupS: Double, latenciesMs: Map[String, Seq[Double]], opsPerS: Double,
              triplesPerS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("latency_p50_ms", math.exp(Stats.mean(latenciesMs.values.map(l => math.log(Stats.median(l))).toSeq)), "ms"),
    ("ops_per_s", opsPerS, "1/s"),
    ("triples_per_s", triplesPerS, "1/s"))
}

/** Per-layer metrics of the traced run, all per operation. A layer that a
  * workload does not reach reports 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "kg.wall_s" -> "s",
    "kg.facts_s" -> "s", "kg.facts_call_s" -> "s", "kg.facts_rows" -> "count",
    "kg.surfaces_s" -> "s", "kg.surfaces_rows" -> "count",
    "kg.links_s" -> "s", "kg.links_call_s" -> "s", "kg.links_jobs" -> "count",
    "kg.links_shuffle_mb" -> "MB", "kg.links_rows" -> "count",
    "kg.triples_s" -> "s", "kg.triples_rows" -> "count", "kg.triples_shuffle_mb" -> "MB",
    "kg.render_s" -> "s", "kg.other_s" -> "s",
    "kg.checkpoint_mb" -> "MB", "kg.checkpoint_files" -> "count",
    "shacl.validate_s" -> "s", "shacl.plan_ms" -> "ms", "shacl.eval_ms" -> "ms",
    "shacl.saturation_ms" -> "ms", "shacl.fixpoint_rounds" -> "count",
    "shacl.queries" -> "count", "shacl.jobs" -> "count", "shacl.shuffle_mb" -> "MB",
    "shacl.parse_ms" -> "ms", "rdf.load_ms" -> "ms",
    "service.render_ms" -> "ms", "service.render_jobs" -> "count",
    "service.solo_p50_ms" -> "ms", "service.jobs_per_req" -> "count",
    "service.wait_ms" -> "ms", "service.lubm_ms" -> "ms", "service.lubm_jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.job_ms_p50" -> "ms",
    "jvm.peak_rss_mb" -> "MB", "jvm.heap_live_mb" -> "MB", "trace.ops" -> "count", "trace.overhead_pct" -> "%")

  def complete(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.toSeq.sorted.mkString(", ")}")
    all.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  def medians(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> Stats.median(maps.flatMap(_.get(k)))).toMap

  /** Engine counters of the given jobs, divided over `ops` operations. */
  def engine(jobs: Seq[JobRecord], ops: Double = 1.0): Map[String, Double] = {
    val MB = 1024.0 * 1024.0
    def per(f: JobRecord => Double) = jobs.map(f).sum / ops
    Map("spark.jobs" -> jobs.size / ops, "spark.stages" -> per(_.stages),
      "spark.tasks" -> per(_.tasks), "spark.task_s" -> per(_.taskMs / 1e3),
      "spark.cpu_s" -> per(_.cpuNs / 1e9), "spark.gc_s" -> per(_.gcMs / 1e3),
      "spark.shuffle_write_mb" -> per(_.shuffleWriteBytes / MB),
      "spark.spill_mb" -> per(_.spillBytes / MB),
      "spark.job_ms_p50" -> (if (jobs.isEmpty) 0.0 else Stats.median(jobs.map(_.durationMs.toDouble))))
  }
}
