package perfbench

/** The metrics the benchmark reports, and the result line. The names and
  * units here must match `BENCHMARK.json` (a test checks both directions).
  */
object Report {

  final case class Metric(name: String, unit: String)

  /** Printed by the timed run (`--trace 0`), on every workload. */
  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("pass_s", "s"),
    Metric("op_geomean_s", "s"),
    Metric("heap_peak_mb", "MiB"))

  val EtlStages: Seq[String] = Seq("bronze", "silver", "gold", "validate")
  val IoTables: Seq[String] = Seq("bronze", "silver") ++ Medallion.GoldTables

  /** Printed by the traced run (`--trace 1`), on every workload; a layer a
    * workload does not exercise reads 0.
    */
  val PerLayer: Seq[Metric] = {
    def m(n: String, u: String) = Metric(n, u)
    Seq(m("ingest.stations_s", "s"), m("ingest.extract_s", "s"),
      m("ingest.members_kept_ratio", "ratio"), m("ingest.lines_kept_ratio", "ratio")) ++
      EtlStages.map(s => m(s"etl.${s}_s", "s")) ++
      EtlStages.flatMap(s => Seq(
        m(s"etl.$s.jobs", "count"), m(s"etl.$s.tasks", "count"),
        m(s"etl.$s.executor_cpu_s", "s"), m(s"etl.$s.task_busy_ratio", "ratio"),
        m(s"etl.$s.shuffle_write_bytes", "B"), m(s"etl.$s.spill_bytes", "B"),
        m(s"etl.$s.gc_s", "s"), m(s"etl.$s.plan_s", "s"))) ++
      IoTables.flatMap(t => Seq(
        m(s"io.$t.write_s", "s"), m(s"io.$t.bytes", "B"), m(s"io.$t.files", "count"))) ++
      Seq(m("io.read_bytes", "B"), m("io.stored_bytes_per_input_byte", "ratio"),
        m("queries.build_s", "s"), m("queries.action_s", "s"),
        m("operators.eager_jobs", "count")) ++
      Queries.All.map(q => m(s"op.$q.s", "s")) ++
      Seq(m("action.executor_cpu_s", "s"), m("action.task_busy_ratio", "ratio"),
        m("spark.jobs", "count"), m("spark.stages", "count"),
        m("spark.stages_skipped_ratio", "ratio"), m("spark.tasks", "count"),
        m("spark.task_failures", "count"), m("spark.shuffle_read_bytes", "B"),
        m("spark.shuffle_write_bytes", "B"), m("spark.spill_bytes", "B"),
        m("spark.gc_s", "s"), m("spark.plan_s", "s"),
        m("spark.broadcast_joins", "count"), m("spark.sort_merge_joins", "count"),
        m("cache.peak_bytes", "B"),
        m("host.calibration_shuffle_s", "s"), m("host.calibration_cpu_s", "s"),
        m("trace.overhead_s", "s"))
  }

  /** The result line: every metric of the run's kind, 0 where not measured. */
  def line(trace: Boolean, values: Map[String, Double], attempted: Int,
           failed: Int): String = {
    val metrics = (if (trace) PerLayer else EndToEnd).map { m =>
      val v = values.getOrElse(m.name, 0.0)
      s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}"""
  }

  /** A JSON number with every digit the double carries. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
