package graft.bench

/** The per-layer metric names of the traced run and how spans reduce to
  * them. Every traced run reports every name; a layer the workload does not
  * call reports 0.
  */
object Layers {

  /** Spans of the layer-by-layer `Pipeline.run` composition. */
  val pipelineSpans: Seq[String] = Seq("parse.mine", "parse.match", "enrich.labels",
    "route.fan_out", "windows.session", "agg.count_vectors", "agg.salted_count")

  /** Spans of the grouping -> featurize -> evaluate step. */
  val windowSpans: Seq[String] = Seq("windows.fixed", "windows.time", "windows.history",
    "agg.topk", "agg.window_tfidf")

  val measures: Seq[(String, String)] = Seq("wall_s" -> "s", "cpu_s" -> "s",
    "rows_out" -> "rows", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")

  /** The operator queries `operator_queries` times: six of the 52
    * `graft.Bench` times, covering the parse kernel (q_tfidf evaluates it
    * twice a row), text kernels, dedup and ann. All 52 take about 37 s a
    * pass on a 4-vCPU host, more than one run's share of the time budget.
    */
  val queries: Seq[String] = Seq("q_parse_structured", "q_tfidf", "q_repetition",
    "q_langid_profiles", "q_dedup_exact", "q_ann_brute")

  val counts: Seq[(String, String)] = Seq(
    "windows.fixed.amplification" -> "x", "windows.time.amplification" -> "x",
    "route.files" -> "files", "route.files_per_sink" -> "files",
    "pipeline.jobs" -> "jobs", "jvm.heap_growth_mb" -> "MB")

  /** Every per-layer name with its unit, in report order. */
  val names: Seq[(String, String)] =
    (pipelineSpans ++ windowSpans).flatMap(s => measures.map { case (m, u) => s"$s.$m" -> u }) ++
      queries.map(q => s"query.$q.wall_s" -> "s") ++ counts

  private def measure(s: Span, m: String): Double = m match {
    case "wall_s" => s.wallS
    case "cpu_s" => s.sums.cpuNs / 1e9
    case "rows_out" => (if (s.rowsOut >= 0) s.rowsOut else s.sums.recordsWritten).toDouble
    case "shuffle_write_mb" => s.sums.shuffleWriteBytes / 1048576.0
    case "spill_mb" => s.sums.spillBytes / 1048576.0
  }

  /** Medians over the passes of each span's measures, plus `extra`. */
  def metrics(spans: Seq[Span], extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name)
    val countNames = counts.map(_._1).toSet
    names.map { case (n, unit) =>
      val v =
        if (countNames(n)) extra.getOrElse(n, 0.0)
        else {
          val cut = n.lastIndexOf('.')
          val span = n.substring(0, cut)
          Probe.median(byName.getOrElse(span, Nil).map(measure(_, n.substring(cut + 1))))
        }
      (n, v, unit)
    }
  }
}
