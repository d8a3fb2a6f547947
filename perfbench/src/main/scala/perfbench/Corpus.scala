package perfbench

import java.io.{BufferedOutputStream, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.zip.GZIPOutputStream
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import scala.collection.mutable
import scala.util.Random

/** Seeded synthetic GHCN-Daily input for the `medallion` workload: a
  * `ghcnd_all.tar.gz` of `.dly` members plus a `ghcnd-stations.txt`, shaped
  * after the reference's Georgia extract, and a plain-Scala model of what
  * the medallion pipeline must produce from it.
  *
  * The model is computed while the slots are drawn and shares no code with
  * the library: it applies the pipeline's documented semantics (ingest
  * state/year filters, -9999 and invalid-calendar culls, required-element
  * filter, pivot to one row per station-day, gold group keys) to the values
  * it generated.
  *
  * Properties the pipeline's branches depend on:
  *  - required-element completeness per station-day near the reference's
  *    (PRCP 92%, SNOW 55%, TMAX/TMIN 28%, SNWD 18.5%);
  *  - TOBS and WT** elements, including station-days that carry nothing
  *    else (they reach bronze but not silver);
  *  - -9999 runs, M/Q/S flags, values silver nulls out, and real values in
  *    invalid calendar slots (Feb 30, Apr 31);
  *  - lines dated before the configured years and non-GA members, which
  *    ingest drops;
  *  - one GA station reporting only non-required elements (dropped between
  *    bronze and silver), one GA member whose lines are all out of range
  *    (left empty, not extracted), one GA station with no member, one
  *    member absent from the stations file, and one non-`.dly` member.
  */
object Corpus {

  val Required: Seq[String] = Seq("TMAX", "TMIN", "PRCP", "SNOW", "SNWD")
  val State = "GA"
  /** One in-range year: at this size a pass is bound by the per-partition
    * and per-job overhead of the year/month layout, so each extra year adds
    * twelve partitions per table and about a second per pass.
    */
  val StartYear = 2025
  val EndYear = 2025
  /** Years written before the configured range; ingest drops their lines. */
  val EarlyYears: Seq[Int] = Seq(2024)

  /** What the pipeline must produce; every field is checked on every pass. */
  final case class Expected(
      gaStations: Int,
      membersSeen: Int,
      membersKept: Int,
      linesSeen: Long,
      linesKept: Long,
      bronzeRows: Long,
      bronzeStations: Long,
      bronzeStationDays: Long,
      silverRows: Long,
      silverStations: Long,
      stationsDropped: Long,
      monthlyRows: Long,
      yearlyRows: Long,
      summaryRows: Long,
      mlFeatureRows: Long)

  final case class Staged(tarGz: Path, stationsFile: Path, dlyBytes: Long,
                          expected: Expected)

  private final case class StationSpec(id: String, state: String,
                                       inStationsFile: Boolean,
                                       hasMember: Boolean,
                                       elements: Seq[String],
                                       years: Seq[Int])

  private val Others = Seq("TOBS", "WT01", "WT03")

  private def stationSpecs(gaStations: Int): Seq[StationSpec] = {
    val all = Required ++ Others
    val years = EarlyYears ++ (StartYear to EndYear)
    val ga = (0 until gaStations).map(i =>
      StationSpec(f"USC0009$i%04d", State, inStationsFile = true,
        hasMember = true, all, years))
    // a quarter as many neighbouring-state members as GA ones
    val neighbours = (0 until math.max(1, gaStations / 4)).map { i =>
      val (st, pre) = if (i % 2 == 0) ("FL", "USC0008") else ("AL", "USC0001")
      StationSpec(f"$pre$i%04d", st, inStationsFile = true, hasMember = true,
        all, years)
    }
    ga ++ neighbours ++ Seq(
      StationSpec("USW00098001", State, inStationsFile = true, hasMember = true,
        Others, years),
      StationSpec("USW00098002", State, inStationsFile = true, hasMember = true,
        all, EarlyYears),
      StationSpec("USW00098003", State, inStationsFile = true,
        hasMember = false, all, years),
      StationSpec("USW00098004", State, inStationsFile = false,
        hasMember = true, all, years))
  }

  /** Generates the corpus for `seed` into `dir` and returns its model. */
  def stage(seed: Long, gaStations: Int, dir: Path): Staged = {
    Files.createDirectories(dir)
    val specs = stationSpecs(gaStations)
    val rnd = new Random(seed)

    val stationsFile = dir.resolve("ghcnd-stations.txt")
    val sw = Files.newBufferedWriter(stationsFile, UTF_8)
    try specs.filter(_.inStationsFile).foreach(s => writeStation(sw, s, rnd))
    finally sw.close()

    val gaIds = specs.filter(s => s.inStationsFile && s.state == State)
      .map(_.id).toSet
    val bronzeDays = mutable.HashSet.empty[Long]
    val silverDays = mutable.HashSet.empty[Long]
    val monthly = mutable.HashSet.empty[Long]
    val yearly = mutable.HashSet.empty[Long]
    val summaries = mutable.HashSet.empty[Long]
    val bronzeStations = mutable.HashSet.empty[Int]
    val silverStations = mutable.HashSet.empty[Int]
    var membersSeen, membersKept = 0
    var linesSeen, linesKept, bronzeRows, dlyBytes = 0L

    val tarGz = dir.resolve("ghcnd_all.tar.gz")
    val tar = new TarArchiveOutputStream(new GZIPOutputStream(
      new BufferedOutputStream(Files.newOutputStream(tarGz), 1 << 16)))
    def addMember(name: String, body: Array[Byte]): Unit = {
      val e = new TarArchiveEntry(name)
      e.setSize(body.length.toLong)
      tar.putArchiveEntry(e)
      tar.write(body)
      tar.closeArchiveEntry()
      membersSeen += 1
    }
    try {
      addMember("ghcnd_all/readme.txt", "GHCN-Daily synthetic extract\n".getBytes(UTF_8))
      specs.zipWithIndex.filter(_._1.hasMember).foreach { case (s, si) =>
        val kept = gaIds.contains(s.id)
        val sb = new java.lang.StringBuilder(1 << 16)
        var memberLinesKept = 0L
        for (year <- s.years; month <- 1 to 12) {
          val inRange = year >= StartYear && year <= EndYear
          val dim = LocalDate.of(year, month, 1).lengthOfMonth()
          val present = drawMonth(rnd, s.elements, dim)
          s.elements.foreach { el =>
            val slots = present(el)
            if (slots.exists(identity) || rnd.nextDouble() < 0.01) {
              writeLine(sb, s.id, year, month, el, slots, rnd)
              linesSeen += 1
              if (kept && inRange) {
                memberLinesKept += 1
                (1 to dim).foreach { d =>
                  if (slots(d - 1)) {
                    val day = LocalDate.of(year, month, d).toEpochDay
                    val key = si.toLong << 32 | day
                    bronzeRows += 1
                    bronzeDays += key
                    bronzeStations += si
                    if (Required.contains(el)) {
                      silverDays += key
                      silverStations += si
                      monthly += (si.toLong << 32 | year * 100L + month)
                      yearly += (si.toLong << 32 | year.toLong)
                      summaries += (si.toLong << 32 | month.toLong)
                    }
                  }
                }
              }
            }
          }
        }
        val body = sb.toString.getBytes(UTF_8)
        dlyBytes += body.length
        addMember(s"ghcnd_all/${s.id}.dly", body)
        if (memberLinesKept > 0) { membersKept += 1; linesKept += memberLinesKept }
      }
    } finally tar.close()

    Staged(tarGz, stationsFile, dlyBytes, Expected(
      gaStations = gaIds.size,
      membersSeen = membersSeen,
      membersKept = membersKept,
      linesSeen = linesSeen,
      linesKept = linesKept,
      bronzeRows = bronzeRows,
      bronzeStations = bronzeStations.size.toLong,
      bronzeStationDays = bronzeDays.size.toLong,
      silverRows = silverDays.size.toLong,
      silverStations = silverStations.size.toLong,
      stationsDropped = (bronzeStations -- silverStations).size.toLong,
      monthlyRows = monthly.size.toLong,
      yearlyRows = yearly.size.toLong,
      summaryRows = summaries.size.toLong,
      mlFeatureRows = silverDays.size.toLong))
  }

  /** Which of the 31 slots hold a value, per element, for one station-month.
    * Presence is drawn per station-day so the required elements co-occur the
    * way the reference's completeness figures imply (TMAX and TMIN together);
    * a -9999 run then blanks a stretch of one element, and a few invalid
    * calendar slots (day > month length) get a real value that bronze culls.
    */
  private def drawMonth(rnd: Random, elements: Seq[String],
                        dim: Int): Map[String, Array[Boolean]] = {
    val out = elements.map(_ -> new Array[Boolean](31)).toMap
    def set(el: String, d: Int): Unit = out.get(el).foreach(_(d) = true)
    (0 until 31).foreach { d =>
      if (d < dim) {
        if (rnd.nextDouble() < 0.92) set("PRCP", d)
        if (rnd.nextDouble() < 0.55) set("SNOW", d)
        if (rnd.nextDouble() < 0.28) { set("TMAX", d); set("TMIN", d) }
        if (rnd.nextDouble() < 0.185) set("SNWD", d)
        if (rnd.nextDouble() < 0.25) set("TOBS", d)
        if (rnd.nextDouble() < 0.10) set("WT01", d)
        if (rnd.nextDouble() < 0.05) set("WT03", d)
      } else if (rnd.nextDouble() < 0.05) {
        set(elements(rnd.nextInt(elements.size)), d)
      }
    }
    out.values.foreach { slots =>
      if (rnd.nextDouble() < 0.08) {
        val from = rnd.nextInt(31)
        (from until math.min(31, from + 3 + rnd.nextInt(8))).foreach(slots(_) = false)
      }
    }
    out
  }

  /** One fixed-width `.dly` line: ID(11) YEAR(4) MONTH(2) ELEMENT(4), then
    * 31 x (VALUE(5) MFLAG QFLAG SFLAG). Values are in tenths; a few fall
    * outside the ranges silver keeps (60.0 C, 250 mm, negative rain).
    */
  private def writeLine(sb: java.lang.StringBuilder, id: String, year: Int,
                        month: Int, el: String, slots: Array[Boolean],
                        rnd: Random): Unit = {
    sb.append(id).append(year).append(f"$month%02d").append(el)
    val season = math.cos((month - 7) * math.Pi / 6)
    (0 until 31).foreach { d =>
      if (!slots(d)) sb.append("-9999   ")
      else {
        val odd = rnd.nextDouble() < 0.002
        val v = el match {
          case "TMAX" => if (odd) 600 else (220 + 110 * season).toInt + rnd.nextInt(60)
          case "TMIN" => if (odd) -520 else (90 + 110 * season).toInt + rnd.nextInt(60)
          case "PRCP" =>
            if (odd) (if (rnd.nextBoolean()) 2500 else -3)
            else if (rnd.nextDouble() < 0.6) 0 else rnd.nextInt(400)
          case "SNOW" => if (rnd.nextDouble() < 0.9) 0 else rnd.nextInt(80)
          case "SNWD" => if (rnd.nextDouble() < 0.85) 0 else rnd.nextInt(200)
          case "TOBS" => (150 + 100 * season).toInt + rnd.nextInt(50)
          case _      => 1
        }
        val m = if (rnd.nextDouble() < 0.03) 'T' else ' '
        val q = if (rnd.nextDouble() < 0.01) 'I' else ' '
        val s = if (rnd.nextDouble() < 0.7) '7' else 'N'
        sb.append(String.format("%5d", Integer.valueOf(v))).append(m).append(q).append(s)
      }
    }
    sb.append('\n')
  }

  /** ghcnd-stations.txt: ID(1-11) LAT(13-20) LON(22-30) ELEV(32-37)
    * STATE(39-40) NAME(42-71), then GSN/HCN/WMO fields to column 85.
    */
  private def writeStation(w: Writer, s: StationSpec, rnd: Random): Unit = {
    val lat = 30.5 + rnd.nextDouble() * 4.5
    val lon = -85.5 + rnd.nextDouble() * 4.5
    val elev = rnd.nextDouble() * 1200
    val name = s"${s.state} STATION ${s.id.takeRight(4)}"
    w.write(f"${s.id}%-11s $lat%8.4f $lon%9.4f $elev%6.1f ${s.state}%-2s $name%-30s ${""}%-3s ${""}%-3s ${""}%5s")
    w.write('\n')
  }
}
