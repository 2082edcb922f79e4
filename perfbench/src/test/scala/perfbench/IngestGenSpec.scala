package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IngestGenSpec extends AnyFunSuite {
  private def bytes(d: IngestGen.Day) = d.files.map(_.text).mkString("\u0000")

  test("the same seed gives byte-identical files; another seed does not") {
    val a = IngestGen.day(7, 0, 120, 20, 1000)
    assert(bytes(a) == bytes(IngestGen.day(7, 0, 120, 20, 1000)))
    assert(bytes(a) != bytes(IngestGen.day(8, 0, 120, 20, 1000)))
  }

  test("the files carry the shapes the ingest path must handle") {
    val d = IngestGen.day(3, 0, 300, 30, 1000)
    val lines = d.files.flatMap(_.text.split("\n"))
    assert(lines.size == d.lines)
    assert(d.valid == d.crumbs.values.map(_.size.toLong).sum)
    assert(lines.exists(_.contains("\"EVENT_NO_TRIP\":null")))
    assert(lines.exists(l => !l.endsWith("}")))
    assert(d.crumbs.values.flatten.exists(_.act > 86400), "no trip runs past midnight")
    assert(d.split.nonEmpty, "no late records")
    assert(d.split.forall(t => d.files.count(_.trips(t)) == 2))
    assert(IngestGen.opdDate(7) == "01JAN2023:00:00:00")
  }

  test("expected speeds: first record backfills from the second") {
    val cs = IndexedSeq(IngestGen.Crumb(1, 100, 0), IngestGen.Crumb(1, 110, 50), IngestGen.Crumb(1, 120, 70))
    assert(IngestGen.expectedSpeeds(cs) == IndexedSeq(Some(5.0), Some(5.0), Some(2.0)))
    assert(IngestGen.expectedSpeeds(cs.take(1)) == IndexedSeq(None))
  }
}
