package graft

import graft.queries.OracleSql
import org.scalatest.funsuite.AnyFunSuite

/** Contracts on the oracle TEXT itself, no SparkSession: the sf10 sweep's
  * prefix stripping (`scripts/check_oracle.py --frag`) needs the calibrated
  * family to open with a shared calibrated prefix verbatim, and a folded
  * fragment must not lose its `s` interpolator or its `.stripMargin`. */
class OracleSqlSpec extends AnyFunSuite {
  private val oracles = SparkEntry.oracleSql

  test("the calibrated-family oracles open with a shared calibrated prefix") {
    // A floor: more oracles may join the family.
    val family = Seq("q53", "q65", "q75", "q101", "q107", "q111", "q114", "q119",
      "q124", "q171", "q173", "q175")
    val prefixes = Seq("WITH " + OracleSql.calibratedPairsCtes, OracleSql.calibratedCompsPrefix)
    family.foreach { q =>
      val names = oracles.keys.filter(_.startsWith(q + "_")).toSeq
      assert(names.size === 1, s"$q: expected one oracle, got $names")
      assert(prefixes.exists(oracles(names.head).startsWith), s"${names.head} lost the prefix")
    }
  }

  test("no oracle holds an uninterpolated ${ or a line left with its margin") {
    // A lone leading `|` is a lost .stripMargin; `||` concatenation is SQL.
    val margin = """(?m)^\s*\|(?!\|)""".r
    val bad = oracles.toSeq.sortBy(_._1).collect {
      case (name, sql) if sql.contains("${") => s"$name: uninterpolated $${"
      case (name, sql) if margin.findFirstIn(sql).nonEmpty => s"$name: margin line"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
