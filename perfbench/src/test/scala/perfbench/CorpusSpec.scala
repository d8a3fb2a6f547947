package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  test("the corpus model's expected counts equal the pipeline's on a tiny corpus") {
    val dir = Files.createTempDirectory("perfbench-corpus-")
    val spark = Main.session(dir, 2)
    try {
      val w = new Medallion(seed = 7, gaStations = 2)
      w.stage(spark, dir)
      val e = w.expected
      // the corpus exercises every filter the model accounts for
      assert(e.membersKept < e.membersSeen)
      assert(e.linesKept < e.linesSeen)
      assert(e.stationsDropped == 1)
      assert(e.silverRows < e.bronzeStationDays)
      val spans = new Spans
      val failures = w.pass(spark, spans, 0, verify = true) ++ w.check(0)
      assert(failures.isEmpty, failures.mkString("\n"))
      assert(spans.all.count(_.kind == "op") == w.opNames.size)
    } finally {
      spark.stop()
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  test("the same seed stages the same corpus") {
    def staged(seed: Long) = {
      val dir = Files.createTempDirectory("perfbench-seed-")
      val s = Corpus.stage(seed, 1, dir)
      val bytes = Files.readAllBytes(s.stationsFile).toSeq
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      (s.expected, s.dlyBytes, bytes)
    }
    assert(staged(3) == staged(3))
    assert(staged(3)._1 != staged(4)._1)
  }
}
