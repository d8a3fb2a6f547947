package perfbench

import graft.GhcnPipeline
import graft.core.{GhcnConfig, StoragePaths}
import graft.ingest.GhcnIngest
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

/** A failed op: an exception or an output that does not match its model. */
final case class Failure(op: String, pass: Int, what: String)

/** One benchmark workload: what it stages in set-up and what one pass runs.
  * A pass is a closed loop: one client thread, one op at a time.
  */
trait Workload {
  def name: String
  /** Op names, in a fixed order, for per-op metrics. */
  def opNames: Seq[String]
  /** Generates or locates the inputs; called once per set-up. */
  def stage(spark: SparkSession, dir: Path): Unit
  /** Runs the ops of pass `pass`; with `verify`, query ops also check
    * their output against the pinned one (inside the op).
    */
  def pass(spark: SparkSession, spans: Spans, pass: Int, verify: Boolean): Seq[Failure]
  /** Checks the outputs of the last pass, outside its timed spans. */
  def check(pass: Int): Seq[Failure] = Nil
  /** Input size, for the report. */
  def inputs: String
}

object Workload {

  /** Runs `f` as op `name`; an exception becomes a [[Failure]]. */
  def op(spans: Spans, name: String, pass: Int)(f: => Seq[Failure]): Seq[Failure] =
    try spans(name, "op", pass)(f)
    catch {
      case NonFatal(e) => Seq(Failure(name, pass, s"${e.getClass.getName}: ${e.getMessage}"))
    }

  def apply(name: String, seed: Long, dataDir: Path): Workload = name match {
    case "medallion"   => new Medallion(seed)
    case "graph_dedup" => new Queries("graph_dedup", Queries.All, seed, dataDir)
    case other         => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("medallion", "graph_dedup")
}

/** The paper's workload: a batch medallion refresh over a seeded GA-style
  * corpus, through the public ingest and pipeline entry points.
  */
final class Medallion(seed: Long, gaStations: Int = Medallion.GaStations)
    extends Workload {
  import Medallion._
  val name = "medallion"
  val opNames: Seq[String] = Seq("ingest.stations", "ingest.extract",
    "etl.bronze", "etl.silver", "etl.gold", "etl.validate")

  private var staged: Corpus.Staged = _
  private var cfg: GhcnConfig = _

  def stage(spark: SparkSession, dir: Path): Unit = {
    staged = Corpus.stage(seed, gaStations, dir.resolve("input"))
    val out = dir.resolve("lake").toString
    cfg = GhcnConfig(startYear = Corpus.StartYear, endYear = Corpus.EndYear,
      storage = StoragePaths(
      basePath = out, rawPath = s"$out/raw/ghcnd_all", stationsPath = s"$out/raw",
      bronzePath = s"$out/bronze", silverPath = s"$out/silver", goldPath = s"$out/gold"))
  }

  def expected: Corpus.Expected = staged.expected
  def dlyBytes: Long = staged.dlyBytes

  /** Paths of the six persisted tables, by table name. */
  def tables: Seq[(String, String)] =
    Seq("bronze" -> cfg.storage.bronzePath, "silver" -> cfg.storage.silverPath) ++
      GoldTables.map(t => t -> s"${cfg.storage.goldPath}/$t")

  def inputs: String =
    s"${staged.expected.membersSeen} tar members, ${staged.expected.linesSeen} .dly lines, " +
      s"${staged.dlyBytes} .dly bytes (${Files.size(staged.tarGz)} gzipped); " +
      s"${staged.expected.bronzeRows} bronze rows, ${staged.expected.silverRows} silver rows"

  /** Files and lines written by the last extract, for the ingest ratios. */
  var extractedLines = 0L
  var extractedFiles = 0

  private var ids = Set.empty[String]
  private var files = Seq.empty[String]
  private var report = Map.empty[String, Any]
  private var gold = Map.empty[String, DataFrame]

  def pass(spark: SparkSession, spans: Spans, p: Int, verify: Boolean): Seq[Failure] = {
    val pipeline = new GhcnPipeline(spark, cfg)
    val stationsFile = staged.stationsFile.toString
    ids = Set.empty; files = Nil; report = Map.empty; gold = Map.empty
    Seq(
      Workload.op(spans, "ingest.stations", p) {
        ids = GhcnIngest.stationIdsForState(spark, stationsFile, cfg.targetState)
        Nil
      },
      Workload.op(spans, "ingest.extract", p) {
        files = GhcnIngest.extractStationFiles(staged.tarGz.toString,
          cfg.storage.rawPath, ids, cfg.startYear, cfg.endYear)
        Nil
      },
      Workload.op(spans, "etl.bronze", p) { pipeline.runBronze(files); Nil },
      Workload.op(spans, "etl.silver", p) { pipeline.runSilver(stationsFile); Nil },
      Workload.op(spans, "etl.gold", p) { gold = pipeline.runGold(); Nil },
      Workload.op(spans, "etl.validate", p) { report = pipeline.validationReport(); Nil }
    ).flatten
  }

  /** Every count the corpus model predicts, each charged to the op whose
    * output it checks. Ops that failed outright are already counted.
    */
  override def check(p: Int): Seq[Failure] = {
    val e = staged.expected
    extractedFiles = files.size
    extractedLines = files.map { f =>
      val lines = Files.lines(Path.of(f))
      try lines.count() finally lines.close()
    }.sum
    def section(k: String): Map[String, Any] =
      report.get(k).map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    def dq(k: String): () => Long = () => section("data_quality")(k).asInstanceOf[Long]
    def lineage(k: String): () => Long = () => section("lineage")(k).asInstanceOf[Long]
    def rows(t: String): () => Long = () => gold(t).count()
    val checks: Seq[(String, String, () => Long, Long)] = Seq(
      ("ingest.stations", "GA station ids", () => ids.size.toLong, e.gaStations.toLong),
      ("ingest.extract", "extracted files", () => files.size.toLong, e.membersKept.toLong),
      ("ingest.extract", "extracted lines", () => extractedLines, e.linesKept),
      ("etl.bronze", "bronze rows", dq("bronze_records"), e.bronzeRows),
      ("etl.bronze", "bronze stations", dq("bronze_stations"), e.bronzeStations),
      ("etl.silver", "silver rows", dq("silver_records"), e.silverRows),
      ("etl.silver", "silver stations", dq("silver_stations"), e.silverStations),
      ("etl.validate", "expected silver rows", lineage("expected_silver_records"),
        e.bronzeStationDays),
      ("etl.validate", "stations dropped bronze->silver",
        lineage("stations_lost_bronze_to_silver"), e.stationsDropped),
      ("etl.gold", "monthly_climate rows", dq("monthly_records"), e.monthlyRows),
      ("etl.gold", "yearly_climate rows", rows("yearly_climate"), e.yearlyRows),
      ("etl.gold", "climate_summaries rows", rows("climate_summaries"), e.summaryRows),
      ("etl.gold", "ml_features rows", rows("ml_features"), e.mlFeatureRows))
    checks.flatMap { case (op, what, got, want) =>
      scala.util.Try(got()).toEither match {
        case Right(v) if v == want => None
        case Right(v) => Some(Failure(op, p, s"$what: got $v, expected $want"))
        case Left(err) => Some(Failure(op, p, s"$what: ${err.getClass.getName}: ${err.getMessage}"))
      }
    }
  }
}

object Medallion {
  /** GA stations in the corpus (the reference's extract has 913). A pass at
    * this size is bound by per-job and per-partition overhead, so the count
    * sets the data volume more than the run length.
    */
  val GaStations = 40
  val GoldTables: Seq[String] =
    Seq("monthly_climate", "yearly_climate", "climate_summaries", "ml_features")
}

/** A fixed list of `SparkEntry.queries` over the sf0.1 tables kept in the
  * benchmark's data directory. An op is one query: the query-function call
  * (build) and then `Bench.measure` (action), inside one cache scope as
  * `graft.Bench` runs it. The seed sets the query order of every pass.
  */
final class Queries(val name: String, val opNames: Seq[String], seed: Long,
                    dataDir: Path) extends Workload {
  private val fns = opNames.map(q => q -> graft.SparkEntry.queries(q)).toMap
  private val pinned = Queries.pinned(dataDir)
  private val order = new Random(seed)
  private val dir = dataDir.toString
  private var inputDesc = ""

  def stage(spark: SparkSession, tmp: Path): Unit = {
    val tables = Files.list(dataDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val rows = tables.map(t => spark.read.parquet(t.toString).count()).sum
    inputDesc = s"${tables.size} sf0.1 tables, $rows rows, ${tables.map(Files.size).sum} bytes"
  }

  def inputs: String = inputDesc

  def pass(spark: SparkSession, spans: Spans, p: Int, verify: Boolean): Seq[Failure] =
    order.shuffle(opNames).flatMap { q =>
      Workload.op(spans, q, p) {
        graft.operators.CacheScope.scoped {
          val df = spans("build", "build", p)(fns(q)(spark, dir))
          spans("action", "action", p)(graft.Bench.measure(q, df))
          if (verify) Queries.check(q, df, pinned.get(q), p) else Nil
        }
      }
    }
}

object Queries {

  /** Graph-operator tier, trimmed to the run length: the KCore fixpoint
    * (per-round count jobs and the size-gated broadcast rule) and
    * incremental connected components.
    */
  val Graph: Seq[String] = Seq("q108_kcore", "q273_incr_cc")

  /** Near-duplicate and media tier, trimmed to the run length: simhash text
    * dedup, image payloads with their decode kernels, and audio payloads
    * with the union-find dedup tail.
    */
  val DedupMedia: Seq[String] = Seq(
    "q25_dedup_simhash", "q349_image_dedup_pipeline", "q375_incremental_audio_dedup")

  val All: Seq[String] = Graph ++ DedupMedia

  /** Pinned output of one query at sf0.1: row count, and the xor of
    * per-row xxhash64 over all columns where the output is deterministic.
    */
  final case class Pin(rows: Long, checksum: Option[Long])

  val PinFile = "pinned.tsv"

  def pinned(dataDir: Path): Map[String, Pin] = {
    val f = dataDir.resolve(PinFile)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filterNot(l => l.isBlank || l.startsWith("#"))
      .map(_.split('\t')).map(a =>
        a(0) -> Pin(a(1).toLong, if (a(2) == "-") None else Some(a(2).toLong))).toMap
  }

  /** Row count and checksum of `df` in one action; no checksum when a
    * column type cannot be hashed.
    */
  def measureOutput(df: DataFrame): (Long, Option[Long]) = {
    val cols = df.columns.toIndexedSeq.map(c => col(s"`$c`"))
    scala.util.Try(df.select(xxhash64(cols: _*).as("__h"))).toOption
      .filter(_ => cols.nonEmpty) match {
      case Some(h) =>
        val r = h.agg(count(lit(1)), expr("bit_xor(__h)")).collect()(0)
        (r.getLong(0), Some(if (r.isNullAt(1)) 0L else r.getLong(1)))
      case None => (df.count(), None)
    }
  }

  def check(q: String, df: DataFrame, pin: Option[Pin], p: Int): Seq[Failure] =
    pin match {
      case None => Seq(Failure(q, p, "no pinned output"))
      case Some(want) =>
        val (rows, sum) = measureOutput(df)
        if (rows != want.rows) Seq(Failure(q, p, s"rows: got $rows, pinned ${want.rows}"))
        else if (want.checksum.exists(c => !sum.contains(c)))
          Seq(Failure(q, p, s"checksum: got ${sum.getOrElse("none")}, pinned ${want.checksum.get}"))
        else Nil
    }
}
