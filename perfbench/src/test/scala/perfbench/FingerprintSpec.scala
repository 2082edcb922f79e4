package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val rows = Seq(Row(-0.0, "x"), Row(Double.NaN, null), Row(1.5, "y\nz"))

  test("matches the DuckDB-side canonical form (fingerprints.py golden value)") {
    assert(Fingerprint.of(Seq("b", "a"), rows) == Fingerprint.Result(3,
      "84d53e54c3c986c5b21329fce6e864624e4ca62fe0e26ec386fe0ed2f68c5fe4"))
  }

  test("-0.0 and +0.0 agree, every NaN agrees") {
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000abcL)
    assert(otherNaN.isNaN)
    assert(Fingerprint.of(Seq("b", "a"), Seq(Row(0.0, "x"), Row(otherNaN, null), Row(1.5, "y\nz"))) ==
      Fingerprint.of(Seq("b", "a"), rows))
    assert(Fingerprint.value(-0.0f) == Fingerprint.value(0.0))
  }

  test("column order and row order do not matter") {
    val swapped = Seq(Row("y\nz", 1.5), Row("x", -0.0), Row(null, Double.NaN))
    assert(Fingerprint.of(Seq("a", "b"), swapped) == Fingerprint.of(Seq("b", "a"), rows))
  }

  test("a changed value, column name or row count changes it") {
    val base = Fingerprint.of(Seq("b", "a"), rows)
    assert(Fingerprint.of(Seq("b", "a"), rows.updated(2, Row(1.5000000000000002, "y\nz"))) != base)
    assert(Fingerprint.of(Seq("c", "a"), rows) != base)
    assert(Fingerprint.of(Seq("b", "a"), rows :+ rows.head) != base)
  }

  test("typed values render canonically") {
    assert(Fingerprint.value(java.sql.Date.valueOf("2022-12-25")) == "2022-12-25")
    assert(Fingerprint.value(java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T00:00:01.000002Z"))) == "1000002")
    assert(Fingerprint.value(new java.math.BigDecimal("1.500")) == "1.5")
    assert(Fingerprint.value(Seq(1L, null)) == "[1,\\N]")
  }
}
