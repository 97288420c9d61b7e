package perfbench

/** The metric names the benchmark reports, with their units. Every run
  * reports all of one kind: untraced runs the end-to-end metrics, traced
  * runs the per-layer metrics. A layer a workload does not exercise
  * reports 0 (the engine layers on `board`, the query modules on
  * `warehouse`). */
object Metrics {

  type M = (String, Double, String)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "write_s" -> "s", "read_s" -> "s")

  def endToEnd(setupS: Double, passS: Double, writeS: Double, readS: Double): Seq[M] =
    EndToEnd.zip(Seq(setupS, passS, writeS, readS)).map { case ((n, u), v) => (n, v, u) }

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("ratio") || name.endsWith("write_amp")) "ratio"
    else "count"

  def perLayerNames: Seq[(String, String)] = {
    val engine = Warehouse.Phases.flatMap(p => Warehouse.modelNames.map(m => s"engine.node.$m.${p}_s")) ++
      Warehouse.Phases.map(p => s"engine.${p}_build_s") ++ Seq("engine.mart_read_s") ++
      Seq("materialize_jobs", "other_jobs", "checks_s", "checks_jobs").flatMap(k =>
        Warehouse.Phases.map(p => s"engine.$k.$p")) ++
      Seq("engine.ref_s", "engine.ref_jobs",
        "storage.warehouse_bytes", "storage.files", "storage.write_amp")
    val queries = Board.Modules.map(_._1).flatMap(m =>
      Seq(s"queries.$m.construct_s", s"queries.$m.action_s", s"queries.$m.jobs")) ++
      Seq("queries.p50_s", "queries.tail_s", "queries.samples")
    val rest = Seq("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.busy_ratio",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.output_bytes", "spark.result_bytes",
      "jvm.gc_s", "jvm.heap_peak_mb", "host.control_s",
      "ops.fail_ratio", "trace.pass_s", "trace.overhead_s", "trace.spans")
    (engine ++ queries ++ rest).map(n => n -> (if (n.startsWith("engine.checks_s")) "s" else unitOf(n)))
  }

  def perLayer(engine: Seq[(String, Double)], queries: Seq[(String, Double)],
      spark: Seq[(String, Double)], gcS: Double, heapMb: Double, controlS: Double,
      tracePassS: Double, spans: Int): Seq[M] = {
    val values = (engine ++ queries ++ spark ++ Seq(
      "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapMb, "host.control_s" -> controlS,
      "trace.pass_s" -> tracePassS, "trace.spans" -> spans.toDouble)).toMap
    perLayerNames.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
