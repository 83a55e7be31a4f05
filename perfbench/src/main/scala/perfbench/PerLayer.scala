package perfbench

/** The per-layer metrics of the traced run, in BENCHMARK.json order.
  * A traced run reports every one of them; a metric of a layer the
  * workload does not exercise reads 0. */
object PerLayer {
  private val Models = graft.engine.InsurancePipeline.models().map(_.name)
  val CdcLayers: Seq[String] = Seq("engine.cdc_ingest", "engine.incremental_gold",
    "streaming.maintainer", "streaming.state_store", "sources.clustered_sink")

  /** (name, unit, better) */
  val Spec: Seq[(String, String, String)] =
    Seq("bronze", "silver", "gold").flatMap { l => Seq(
      (s"engine.$l.wall_s", "s", "lower"),
      (s"engine.$l.task_s", "s", "lower"),
      (s"engine.$l.shuffle_mb", "MB", "lower"),
      (s"engine.$l.spill_mb", "MB", "lower"),
      (s"engine.$l.jobs", "count", "lower"))
    } ++ Models.map(m => (s"engine.model.$m.wall_s", "s", "lower")) ++ Seq(
      ("engine.bronze.input_mb", "MB", "lower"),
      ("engine.sink.output_mb", "MB", "lower"),
      ("engine.sink.files", "count", "lower"),
      ("engine.dag.audit_jobs", "count", "lower"),
      ("engine.dag.audit_s", "s", "lower"),
      ("engine.dag.barrier_wait_s", "s", "lower"),
      ("engine.dag.driver_gap_s", "s", "lower"),
      ("engine.dag.cpu_util", "ratio", "higher"),
      ("streaming.maintainer.fold_s", "s", "lower")) ++
    Seq("exec", "perf", "c360", "ops").map(m =>
      (s"streaming.mart.$m.read_s", "s", "lower")) ++
    CdcLayers.flatMap { l => Seq(
      (s"$l.jobs", "count", "lower"),
      (s"$l.task_s", "s", "lower"),
      (s"$l.shuffle_mb", "MB", "lower"),
      (s"$l.input_mb", "MB", "lower"),
      (s"$l.output_mb", "MB", "lower"))
    } ++ Seq(
      ("streaming.state_store.compactions", "count", "lower"),
      ("streaming.state_store.compact_batch_s", "s", "lower"),
      ("streaming.state_store.delta_batch_s", "s", "lower"),
      ("streaming.state_store.write_amp", "ratio", "lower"),
      ("streaming.state_store.files_per_batch", "count", "lower"),
      ("streaming.state_store.probe_read_ratio", "ratio", "lower"),
      ("cdc.driver_gap_s", "s", "lower"),
      ("cdc.cpu_util", "ratio", "higher"),
      ("trace.overhead_pct", "%", "lower"))

  /** Every per-layer metric with its unit; absent ones read 0. */
  def all(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- Spec.map(_._1)
    require(unknown.isEmpty, s"metrics missing from PerLayer.Spec: $unknown")
    Spec.map { case (n, u, _) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** Mean of each metric over the traced operations. */
  def average(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map(k =>
      k -> Stats.mean(samples.flatMap(_.get(k)))).toMap
}
