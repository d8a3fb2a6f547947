package perfbench

import java.nio.file.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point; `perfbench/run.py` builds the classpath and calls
  * it. One JVM, one client thread, `local[nproc]`, and the session conf of
  * `graft.Bench`.
  *
  *  - Set-up runs [[Setups]] times: a fresh session, the inputs staged, and
  *    one warm-up pass. `setup_s` is the median. The first warm-up pass also
  *    checks every query output against its pin; it is the slowest set-up
  *    anyway (cold JVM), so the check does not move the median. Medallion
  *    outputs are checked after every pass.
  *  - The timed window then runs whole passes until `--seconds` have gone
  *    (at least [[MinPasses]]). With `--trace 1`, passes alternate between
  *    untraced and traced; only traced passes register the listeners.
  */
object Main {

  val Setups = 3
  val MinPasses = 4
  val MinTracedPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, tmp: Path, data: Path,
                        traceOut: Option[Path])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("tmp")), Path.of(need("data")),
      kv.get("trace-out").map(Path.of(_)))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(dir: Path, cores: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(dir.resolve("checkpoint").toString)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    HeapPeak.install()
    val w = Workload(a.workload, a.seed, a.data)
    val spans = new Spans
    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0

    def runPass(spark: SparkSession, p: Int, verify: Boolean): Unit = {
      failures ++= spans("pass", "pass", p)(w.pass(spark, spans, p, verify))
      attempted += w.opNames.size
    }

    // Set-up, repeated; warm-up passes are numbered -1, -2, ...
    var spark: SparkSession = null
    val setupTimes = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      val dir = a.tmp.resolve(s"setup-$i")
      spark = session(dir)
      w.stage(spark, dir)
      runPass(spark, -i, verify = i == 1)
      val seconds = (System.nanoTime() - t0) / 1e9
      failures ++= w.check(-i)
      seconds
    }
    val sc = spark.sparkContext

    // Timed window.
    val counts = new SparkCounts
    val tracedPasses = mutable.ArrayBuffer.empty[Int]
    val cachePeaks = mutable.HashMap.empty[Int, Long]
    val heapPeaks = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    var p = 0
    def more = p < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds ||
      (a.trace && tracedPasses.size < MinTracedPasses)
    while (more) {
      // Every timed pass starts from a collected heap, so neither its time
      // nor its heap peak depends on garbage left by the pass before.
      System.gc()
      HeapPeak.reset()
      val traced = a.trace && p % 2 == 1
      if (traced) {
        ListenerBusDrain(sc)
        sc.addSparkListener(counts)
        spark.listenerManager.register(counts)
        spans.sc = Some(sc)
        counts.resetCache()
      }
      runPass(spark, p, verify = false)
      if (traced) {
        spans.sc = None
        ListenerBusDrain(sc)
        spark.listenerManager.unregister(counts)
        sc.removeSparkListener(counts)
        cachePeaks(p) = counts.cachePeak
        tracedPasses += p
      }
      heapPeaks += HeapPeak.bytes
      failures ++= w.check(p)
      p += 1
    }

    val all = spans.all
    val passSpans = all.filter(s => s.kind == "pass" && s.pass >= 0)
    def opMedian(name: String, passes: Set[Int]): Double =
      median(all.filter(s => s.kind == "op" && s.name == name && passes(s.pass)).map(_.seconds))

    val values: Map[String, Double] =
      if (!a.trace) {
        val measured = passSpans.map(_.pass).toSet
        val opMedians = w.opNames.map(opMedian(_, measured))
        Map(
          "setup_s" -> median(setupTimes),
          "pass_s" -> median(passSpans.map(_.seconds)),
          "op_geomean_s" -> math.exp(opMedians.map(math.log).sum / opMedians.size),
          "heap_peak_mb" -> median(heapPeaks.map(_.toDouble).toSeq) / 1048576.0)
      } else {
        val layer = new Layers(w, all, counts, tracedPasses.toSeq, cachePeaks.toMap, cores)
        val untraced = passSpans.filterNot(s => tracedPasses.contains(s.pass))
        val traced = passSpans.filter(s => tracedPasses.contains(s.pass))
        layer.values ++ Calibration.run(spark) ++ Map(
          "trace.overhead_s" ->
            (median(traced.map(_.seconds)) - median(untraced.map(_.seconds))))
      }
    val unattributed = counts.unattributed

    a.traceOut.foreach(TraceFile.write(_, a, all, counts, failures.toSeq))
    spark.stop()

    val out = System.out
    out.println(s"workload ${w.name} seed ${a.seed} on local[$cores]: ${w.inputs}")
    out.println(f"set-ups ${setupTimes.map(t => f"$t%.3f").mkString(" ")} s; " +
      s"timed passes ${passSpans.map(s => f"${s.seconds}%.3f").mkString(" ")} s " +
      s"(${tracedPasses.size} traced); heap peaks " +
      heapPeaks.map(b => f"${b / 1048576.0}%.0f").mkString(" ") + " MiB")
    if (a.trace && unattributed > 0)
      out.println(s"note: $unattributed SQL executions had no span")
    failures.foreach(f => out.println(s"FAILED ${f.op} pass ${f.pass}: ${f.what}"))
    val failedOps = failures.map(f => (f.op, f.pass)).distinct.size
    // Shown for reading, not gated: failed_ratio is 0 on a correct run, and
    // only the medallion workload stores tables.
    val extra = if (a.trace) Nil else Seq(
      "failed_ratio" -> (failedOps.toDouble / attempted, "ratio")) ++ (w match {
      case m: Medallion => Seq("stored_bytes_per_input_byte" -> (Layers.storedRatio(m), "ratio"))
      case _            => Nil
    })
    val shown = (if (a.trace) Report.PerLayer else Report.EndToEnd)
      .map(m => m.name -> (values.getOrElse(m.name, 0.0), m.unit)) ++ extra
    shown.foreach { case (n, (v, u)) => out.println(f"  $n%-40s ${Report.num(v)} $u") }
    out.println(Report.line(a.trace, values, attempted, failedOps))
    out.flush()
  }
}
