package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's failure contract: a thrown query must never leave an earlier
  * run's dump behind for the oracle check to pass as stale, and must be
  * listed in failures.json; an argument Verify would not use is refused. */
class VerifySpec extends SparkSpec {

  test("a throwing query leaves no dump dir and one failures.json entry") {
    val out = Files.createTempDirectory("verify-spec")
    // Stale dump of the failing query from an "earlier run".
    val stale = out.resolve("q_bad")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_bad" -> ((s, _) => s.range(3).selectExpr("assert_true(id < 0) AS x")),
      "q_ok" -> ((s, _) => s.range(3).toDF("id")))

    val failures = Verify.dump(spark, "unused", out.toString, queries)
    assert(failures.keySet === Set("q_bad"))
    assert(!Files.exists(stale), "stale dump of a failed query survived")
    assert(Files.isDirectory(out.resolve("q_ok")))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(out.resolve("failures.json")))
    assert(json.size() === 1)
    assert(json.get("q_bad").asText().contains("Exception"))

    // A clean re-run clears the previous run's failure list.
    assert(Verify.dump(spark, "unused", out.toString, queries - "q_bad").isEmpty)
    assert(!Files.exists(out.resolve("failures.json")))
    deleteTree(out)
  }

  test("both modes refuse a surplus positional argument and name it") {
    assert(Verify.positionals(Seq("sf", "out")) === Right(("sf", "out", None)))
    assert(Verify.positionals(Seq("sf", "out", "q1,q2")) === Right(("sf", "out", Some("q1,q2"))))
    // `--invariance <sf> <out> q1 q2 q3` once checked q1 alone and passed.
    val surplus = Verify.positionals(Seq("sf", "out", "q1", "q2", "q3"))
    assert(surplus.isLeft)
    assert(surplus.swap.toOption.get.contains("q2 q3"))
    assert(Verify.positionals(Seq("sf")).isLeft)
  }

  private def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}
