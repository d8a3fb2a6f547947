package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Regenerates `data/sf0.1/pinned.tsv`, the outputs the query workloads are
  * checked against: each query runs under local[2], local[4] and local[8]
  * (shuffle partitions alike); the row count must agree across all three,
  * and the checksum is pinned only where it does too, so a pin does not
  * depend on the host's core count. Run with `python3 perfbench/run.py --pin`.
  */
object Pin {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val tmp = Path.of(kv("tmp"))
    val data = Path.of(kv("data"))
    val names = Queries.All
    val seen = mutable.LinkedHashMap.empty[String, Seq[(Long, Option[Long])]]
    Seq(2, 4, 8).foreach { n =>
      val spark = Main.session(tmp.resolve(s"pin-$n"), n)
      try names.foreach { q =>
        val t0 = System.nanoTime()
        val out = graft.operators.CacheScope.scoped(
          Queries.measureOutput(graft.SparkEntry.queries(q)(spark, data.toString)))
        seen(q) = seen.getOrElse(q, Nil) :+ out
        System.err.println(f"[pin] local[$n] $q $out ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } finally spark.stop()
    }
    val lines = seen.map { case (q, outs) =>
      val rows = outs.map(_._1).distinct
      require(rows.size == 1, s"$q: row count differs across session shapes: $rows")
      val sums = outs.map(_._2).distinct
      val sum = if (sums.size == 1) sums.head.map(_.toString).getOrElse("-") else "-"
      s"$q\t${rows.head}\t$sum"
    }
    Files.writeString(data.resolve(Queries.PinFile),
      "# query\trows\tchecksum (xor of xxhash64 over all columns; - where not deterministic)\n" +
        lines.mkString("", "\n", "\n"))
  }
}
