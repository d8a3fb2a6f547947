package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: medians over the traced passes of the
  * spans' own times and of the Spark work attributed to them.
  */
final class Layers(w: Workload, spans: Seq[Span], counts: SparkCounts,
                   traced: Seq[Int], cachePeaks: Map[Int, Long], cores: Int) {
  import Main.median

  private val perSpan = counts.perSpan
  private val writes = counts.writes
  private val below = {
    val children = spans.groupBy(_.parent)
    def ids(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => ids(c.id))
    spans.map(s => s.id -> ids(s.id)).toMap
  }
  private def work(s: Span): Counts =
    below(s.id).flatMap(perSpan.get).foldLeft(Counts())(_ + _)
  private def inPass(p: Int, kind: String): Seq[Span] =
    spans.filter(s => s.pass == p && s.kind == kind)
  private def op(p: Int, name: String): Option[Span] =
    inPass(p, "op").find(_.name == name)
  private def med(f: Int => Double): Double = median(traced.map(f))

  private def etl: Map[String, Double] = Report.EtlStages.flatMap { st =>
    val name = s"etl.$st"
    def stat(f: (Span, Counts) => Double): Double =
      med(p => op(p, name).map(s => f(s, work(s))).getOrElse(0.0))
    Seq(
      s"etl.${st}_s" -> stat((s, _) => s.seconds),
      s"etl.$st.jobs" -> stat((_, c) => c.jobs.toDouble),
      s"etl.$st.tasks" -> stat((_, c) => c.tasks.toDouble),
      s"etl.$st.executor_cpu_s" -> stat((_, c) => c.cpuNs / 1e9),
      s"etl.$st.task_busy_ratio" -> stat((s, c) => c.runMs / 1e3 / (s.seconds * cores)),
      s"etl.$st.shuffle_write_bytes" -> stat((_, c) => c.shuffleWrite.toDouble),
      s"etl.$st.spill_bytes" -> stat((_, c) => c.spill.toDouble),
      s"etl.$st.gc_s" -> stat((_, c) => c.gcMs / 1e3),
      s"etl.$st.plan_s" -> stat((_, c) => c.planMs / 1e3))
  }.toMap

  private def ingest: Map[String, Double] = w match {
    case m: Medallion => Map(
      "ingest.stations_s" -> med(p => op(p, "ingest.stations").map(_.seconds).getOrElse(0.0)),
      "ingest.extract_s" -> med(p => op(p, "ingest.extract").map(_.seconds).getOrElse(0.0)),
      "ingest.members_kept_ratio" ->
        m.extractedFiles.toDouble / m.expected.membersSeen,
      "ingest.lines_kept_ratio" -> m.extractedLines.toDouble / m.expected.linesSeen)
    case _ => Map.empty
  }

  private def io: Map[String, Double] = {
    val pathTables = w match {
      case m: Medallion => m.tables.map { case (t, path) => Path.of(path).toAbsolutePath.normalize -> t }
      case _            => Nil
    }
    def tableOf(path: String): Option[String] = {
      val p = Path.of(new java.net.URI(path).getPath).normalize
      pathTables.collectFirst { case (tp, t) if tp == p => t }
    }
    val perTable = Report.IoTables.flatMap { t =>
      def stat(f: Write => Double): Double = med { p =>
        inPass(p, "pass").flatMap(s => below(s.id)).flatMap(writes.getOrElse(_, Nil))
          .filter(x => tableOf(x.path).contains(t)).map(f).sum
      }
      Seq(s"io.$t.write_s" -> stat(_.seconds), s"io.$t.bytes" -> stat(_.bytes.toDouble),
        s"io.$t.files" -> stat(_.files.toDouble))
    }
    val stored = w match {
      case m: Medallion => Map("io.stored_bytes_per_input_byte" -> Layers.storedRatio(m))
      case _            => Map.empty
    }
    perTable.toMap ++ stored
  }

  private def queries: Map[String, Double] = w match {
    case q: Queries =>
      def sum(p: Int, kind: String, f: (Span, Counts) => Double): Double =
        inPass(p, kind).map(s => f(s, work(s))).sum
      Map(
        "queries.build_s" -> med(p => sum(p, "build", (s, _) => s.seconds)),
        "queries.action_s" -> med(p => sum(p, "action", (s, _) => s.seconds)),
        "operators.eager_jobs" -> med(p => sum(p, "build", (_, c) => c.jobs.toDouble)),
        "action.executor_cpu_s" -> med(p => sum(p, "action", (_, c) => c.cpuNs / 1e9)),
        "action.task_busy_ratio" -> med(p =>
          sum(p, "action", (_, c) => c.runMs / 1e3) /
            (sum(p, "action", (s, _) => s.seconds) * cores))) ++
        q.opNames.map(n => s"op.$n.s" -> med(p => op(p, n).map(_.seconds).getOrElse(0.0)))
    case _ => Map.empty
  }

  private def spark: Map[String, Double] = {
    def stat(f: Counts => Double): Double =
      med(p => inPass(p, "pass").map(s => f(work(s))).sum)
    Map(
      "spark.jobs" -> stat(_.jobs.toDouble),
      "spark.stages" -> stat(_.stagesRun.toDouble),
      "spark.stages_skipped_ratio" -> stat(c =>
        if (c.stagesDeclared == 0) 0.0
        else (c.stagesDeclared - c.stagesRun).toDouble / c.stagesDeclared),
      "spark.tasks" -> stat(_.tasks.toDouble),
      "spark.task_failures" -> stat(_.taskFailures.toDouble),
      "spark.shuffle_read_bytes" -> stat(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> stat(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> stat(_.spill.toDouble),
      "spark.gc_s" -> stat(_.gcMs / 1e3),
      "spark.plan_s" -> stat(_.planMs / 1e3),
      "spark.broadcast_joins" -> stat(_.broadcastJoins.toDouble),
      "spark.sort_merge_joins" -> stat(_.sortMergeJoins.toDouble),
      "io.read_bytes" -> stat(_.inputBytes.toDouble),
      "cache.peak_bytes" -> med(p => cachePeaks.getOrElse(p, 0L).toDouble))
  }

  def values: Map[String, Double] = etl ++ ingest ++ io ++ queries ++ spark
}

object Layers {

  /** Bytes on disk of bronze, silver and the four gold tables, per input
    * `.dly` byte.
    */
  def storedRatio(m: Medallion): Double = {
    val bytes = m.tables.map { case (_, path) =>
      val files = Files.walk(Path.of(path))
      try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally files.close()
    }.sum
    bytes.toDouble / m.dlyBytes
  }
}

/** The host probes of `graft.Bench` (a forced 8M-row shuffle and a
  * single-task 16M-row hash), best of three, taken after the timed passes.
  * They explain drift between hosts; no end-to-end metric depends on them.
  */
object Calibration {
  private def best(f: => Unit): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }.min

  def run(spark: SparkSession): Map[String, Double] = Map(
    "host.calibration_shuffle_s" -> best {
      spark.range(8000000L).repartition(8).selectExpr("sum(id)").collect(); ()
    },
    "host.calibration_cpu_s" -> best {
      spark.range(0L, 16000000L, 1L, 1).selectExpr("bit_xor(xxhash64(id))").collect(); ()
    })
}

/** Writes the run's spans, the Spark work attributed to each, and its
  * failures as one JSON document.
  */
object TraceFile {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def write(path: Path, a: Main.Args, spans: Seq[Span], counts: SparkCounts,
            failures: Seq[Failure]): Unit = {
    val perSpan = counts.perSpan
    val spanJson = spans.sortBy(_.id).map { s =>
      val c = perSpan.get(s.id).map { c =>
        s""", "jobs": ${c.jobs}, "stages": ${c.stagesRun}, "tasks": ${c.tasks}, """ +
          s""""executor_cpu_s": ${c.cpuNs / 1e9}, "executor_run_s": ${c.runMs / 1e3}, """ +
          s""""shuffle_read_bytes": ${c.shuffleRead}, "shuffle_write_bytes": ${c.shuffleWrite}, """ +
          s""""spill_bytes": ${c.spill}, "gc_s": ${c.gcMs / 1e3}, "plan_s": ${c.planMs / 1e3}, """ +
          s""""broadcast_joins": ${c.broadcastJoins}, "sort_merge_joins": ${c.sortMergeJoins}"""
      }.getOrElse("")
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "kind": "${s.kind}", "parent": ${s.parent}, """ +
        s""""pass": ${s.pass}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}$c}"""
    }
    val failJson = failures.map(f =>
      s"""{"op": ${str(f.op)}, "pass": ${f.pass}, "what": ${str(f.what)}}""")
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path,
      s"""{"workload": ${str(a.workload)}, "seed": ${a.seed}, "trace": ${a.trace},\n""" +
        s""" "spans": [\n  ${spanJson.mkString(",\n  ")}\n ],\n""" +
        s""" "failures": [${failJson.mkString(", ")}]}\n""")
  }
}
