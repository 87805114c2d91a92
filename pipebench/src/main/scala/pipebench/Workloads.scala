package pipebench

/** The workload registry, the metric names every run reports, and the
  * per-layer metrics read off a traced run's spans and listeners. */
object Workloads {

  val all: Map[String, Ctx => Outcome] = Map(
    "live_minutes" -> LiveMinutes.run,
    "operator_mix" -> OperatorMix.run)

  /** Metrics of an untraced run (BENCHMARK.json `end_to_end`). */
  val endToEnd: Seq[(String, String)] = Seq(
    "latency_p50_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB",
    "live_heap_mb" -> "MB")

  /** Metrics of a traced run (BENCHMARK.json `per_layer`); a layer the
    * workload does not reach reports 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "graft_session.start_s" -> "s",
    "avro_wire.decode_s" -> "s", "avro_wire.records_per_s" -> "1/s",
    "ingest.trigger_ms" -> "ms", "ingest.add_batch_ms" -> "ms",
    "ingest.query_planning_ms" -> "ms", "ingest.get_batch_ms" -> "ms",
    "ingest.latest_offset_ms" -> "ms", "ingest.wal_commit_ms" -> "ms",
    "ingest.commit_offsets_ms" -> "ms", "ingest.batches" -> "count",
    "ingest.input_rows" -> "count", "ingest.pickup_wait_s" -> "s",
    "warehouse.read_minute_s" -> "s", "warehouse.files_listed" -> "count",
    "warehouse.files_scanned" -> "count", "warehouse.prune_ratio" -> "ratio",
    "warehouse.write_report_s" -> "s",
    "minute_report.analyze_s" -> "s", "minute_report.to_json_s" -> "s",
    "minute_report.rows" -> "count",
    "pipeline.minutely_report_s" -> "s", "pipeline.glue_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "feeder.lag_max_s" -> "s", "feeder.minutes_released" -> "count",
    "freshness.tail_s" -> "s", "freshness.tail_pct" -> "%",
    "freshness.samples" -> "count",
    "operators.ref_minute_report_s" -> "s", "operators.q7_nation_volume_s" -> "s",
    "operators.quality_agreement_kappa_s" -> "s", "operators.join_set_similarity_s" -> "s",
    "operators.dedup_ngram_jaccard_s" -> "s", "operators.sim_knn_lsh_indexed_s" -> "s",
    "operators.wh_restore_snapshot_s" -> "s", "operators.agg_kll_report_grain_s" -> "s",
    "operators.audit_dependency_entropy_s" -> "s",
    "trace.wall_s" -> "s", "trace.layers_self_s" -> "s",
    "trace.remainder_s" -> "s", "trace.overlap_s" -> "s",
    "trace.latency_p50_s" -> "s")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-call medians of the report path's spans under the measured
    * window `root`, its listing/pruning counts and the facade's glue. */
  def reportLayers(c: Ctx, root: Span): Unit = {
    val t = c.tracer
    val inWindow = t.descendants(root)
    def p50(name: String) = med(inWindow.filter(_.name == name).map(_.seconds))
    c.layer("warehouse.read_minute_s") = p50("warehouse.read_minute")
    c.layer("minute_report.analyze_s") = p50("minute_report.analyze")
    c.layer("minute_report.to_json_s") = p50("minute_report.to_json")
    c.layer("warehouse.write_report_s") = p50("warehouse.write_report")
    c.layer("pipeline.minutely_report_s") = p50("pipeline.minutely_report")
    val reports = inWindow.filter(_.name == "pipeline.minutely_report")
    val kids = inWindow.groupBy(_.parent)
    c.layer("pipeline.glue_s") = med(reports.map { r =>
      Stats.selfTime(r.startNs, r.endNs,
        kids.getOrElse(r.id, Nil).map(k => (k.startNs, k.endNs))) / 1e9
    })
    c.engine.foreach { e =>
      org.apache.spark.PipebenchBus.drain(c.spark.sparkContext)
      val scanned = reports.map(r => e.filesRead(kids.getOrElse(r.id, Nil).map(_.id).toSet).toDouble)
      val listed = med(c.samples("warehouse.files_listed"))
      c.layer("warehouse.files_scanned") = med(scanned)
      c.layer("warehouse.files_listed") = listed
      c.layer("warehouse.prune_ratio") = if (listed > 0) med(scanned) / listed else 0.0
    }
    c.layer("minute_report.rows") = med(c.samples("minute_report.rows"))
  }

  /** Engine totals over the measured window, from the SparkListener. */
  def engineLayers(c: Ctx, before: Option[EngineCounters#Counts]): Unit =
    for (b <- before; a <- c.engineTotals()) {
      c.layer("spark.jobs") = (a.jobs - b.jobs).toDouble
      c.layer("spark.tasks") = (a.tasks - b.tasks).toDouble
      c.layer("spark.shuffle_write_bytes") = (a.shuffleWriteBytes - b.shuffleWriteBytes).toDouble
      c.layer("spark.executor_cpu_s") = (a.cpuNs - b.cpuNs) / 1e9
      c.layer("spark.gc_s") = (a.gcMs - b.gcMs) / 1e3
    }
}
