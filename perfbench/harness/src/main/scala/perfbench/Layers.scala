package perfbench

/** The per-layer metrics, by layer, with their units. Every traced run
  * reports all of them, in this order; a layer a workload does not
  * exercise reads 0.
  */
object Layers {
  val Names: Seq[String] = Seq("sources", "raster", "geo", "etl", "sinks", "queries")

  val PerLayer: Seq[(String, String)] = Seq(
    "raster.parse_s_per_mb" -> "s/MB",
    "raster.clip_s_per_pair" -> "s",
    "raster.cells_tested_per_pair" -> "count",
    "raster.clip_keep_ratio" -> "ratio",
    "raster.stats_s_per_pair" -> "s",
    "raster.write_s_per_pair" -> "s",
    "raster.geotiff_s_per_pair" -> "s",
    "etl.cache_peak_mb" -> "MB",
    "etl.spill_mb" -> "MB",
    "etl.jobs" -> "count",
    "etl.stages" -> "count",
    "etl.tasks" -> "count",
    "etl.task_run_s" -> "s",
    "etl.task_cpu_s" -> "s",
    "etl.task_gc_s" -> "s",
    "etl.task_wait_s" -> "s",
    "etl.core_busy_ratio" -> "ratio",
    "etl.task_skew" -> "ratio",
    "geo.wkt_parse_s_per_region" -> "s",
    "geo.reproject_s_per_product" -> "s",
    "sources.files_listed" -> "count",
    "sources.read_mb" -> "MB",
    "sources.scan_s" -> "s",
    "sinks.zip_job_s" -> "s",
    "sinks.json_job_s" -> "s",
    "sinks.catalog_job_s" -> "s",
    "sinks.files_written" -> "count",
    "sinks.mb_written" -> "MB",
    "sinks.zip_s_per_product" -> "s",
    "queries.build_s" -> "s",
    "queries.plan_s" -> "s",
    "queries.exec_s" -> "s",
    "queries.release_s" -> "s",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.shuffle_mb" -> "MB",
    "queries.spill_mb" -> "MB",
    "queries.task_cpu_s" -> "s",
    "queries.task_gc_s" -> "s") ++
    Names.map(n => s"$n.self_s" -> "s") ++ Seq(
    "trace.overhead_s" -> "s",
    "trace.spans" -> "count")

  /** All per-layer metrics in order: the measured ones, each layer's
    * self time from the spans, and 0 for the rest.
    */
  def fill(t: Tracer, measured: Map[String, Double]): Seq[(String, Double, String)] = {
    val self = t.selfSecondsByLayer.map { case (l, v) => s"$l.self_s" -> v }
    val all = measured ++ self + ("trace.spans" -> t.spans.size.toDouble)
    require(all.keySet.subsetOf(PerLayer.map(_._1).toSet),
      s"unlisted per-layer metrics: ${all.keySet -- PerLayer.map(_._1)}")
    PerLayer.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
  }
}
