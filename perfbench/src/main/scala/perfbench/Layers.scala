package perfbench

/** The per-layer metrics of a traced run. Every traced run reports all
  * of them; a layer a workload does not exercise reads 0. Times are per
  * pass (weather_nc: one pipeline pass; registry: one pass over the
  * query set plus one store-churn op), as the median over the run. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "sources.nc_decode_s" -> "s", "sources.nc_mb_per_s" -> "MB/s",
    "sources.h5_write_s" -> "s", "sources.h5_files" -> "count", "sources.submit_bytes" -> "B",
    "ops.sequences_s" -> "s", "ops.valid_starts" -> "count", "ops.static_join_s" -> "s",
    "functions.transforms_s" -> "s", "ops.fold_s" -> "s", "ops.ensemble_s" -> "s",
    "queries.construct_s" -> "s", "catalyst.plan_s" -> "s", "catalyst.aqe_replans" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.tasks_per_job" -> "count",
    "spark.busy_s" -> "s", "spark.gap_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_gc_s" -> "s") ++
    Registry.Families.flatMap(f => Seq(s"registry.$f.construct_s" -> "s",
      s"registry.$f.busy_s" -> "s", s"registry.$f.gap_s" -> "s")) ++ Seq(
    "registry.split_err_max" -> "ratio",
    "caches.release_s" -> "s", "caches.persisted_rdds" -> "count",
    "ops.dedup_index.keep_s" -> "s", "ops.dedup_index.append_s" -> "s",
    "ops.ann_index.append_s" -> "s", "ops.ann_index.search_s" -> "s",
    "ops.store.compact_s" -> "s", "store.files_per_table" -> "count",
    "store.kept_ratio" -> "ratio", "store.bytes_per_row" -> "B",
    "trace.overhead_ratio" -> "ratio")

  def spark(w: LayerWindow): Map[String, Double] = Map(
    "spark.jobs" -> w.jobs.toDouble, "spark.tasks" -> w.tasks.toDouble,
    "spark.tasks_per_job" -> (if (w.jobs > 0) w.tasks.toDouble / w.jobs else 0.0),
    "spark.busy_s" -> w.busyS, "spark.gap_s" -> w.idleS,
    "spark.shuffle_write_mb" -> w.shuffleWriteMb, "spark.spill_mb" -> w.spillMb,
    "spark.task_gc_s" -> w.taskGcS, "catalyst.plan_s" -> w.planS,
    "catalyst.aqe_replans" -> w.replans.toDouble)

  /** Per-pass rows to metrics: the median of each layer over the passes,
    * `fixed` overriding, 0 for layers the workload never touched. */
  def fromRows(rows: Seq[Map[String, Double]], fixed: Map[String, Double]): Seq[Metric] =
    Names.map { case (n, u) =>
      val v = fixed.getOrElse(n, {
        val xs = rows.flatMap(_.get(n))
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      })
      Metric(n, v, u)
    }
}
