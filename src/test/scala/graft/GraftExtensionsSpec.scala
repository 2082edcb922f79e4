package graft

import graft.engine.Engine
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession

/** Both registration paths serve the one function table: every row of
  * [[GraftFunctions.table]] must resolve by name through `spark.sql` in a
  * session built with `SparkSessionExtensions` injection (the contract a
  * cluster-wide session config relies on) and in a session prepared at
  * runtime by `Engine.ensureInitialized`. Both paths also bring in the
  * optimizer rules and the planner strategies their nodes need, so a small
  * root sort plans as one gathered task on either; a repeated
  * `ensureInitialized` adds nothing twice. */
class GraftExtensionsSpec extends SparkSpec {

  /** One call per table row: its SQL arguments and the value it must give. */
  private val samples: Map[String, (String, Any)] = Map(
    GraftFunctions.VecDotName -> ("array(1d, 2d), array(3d, 4d)", 11.0),
    GraftFunctions.PolyHashName -> ("'abc'", ('a' * 31L + 'b') * 31L + 'c'),
    GraftFunctions.SubwordEncodeName -> ("'ab', array('a', 'b')", Seq("a", "b")),
    GraftFunctions.BoundedLevenshteinName -> ("'abc', 'abd', 2", 1),
    GraftFunctions.NfcNormalizeName -> ("'a\u0301'", "\u00e1"),
    // empty filter: nothing probes true
    GraftFunctions.BloomContainsName -> ("'x', unhex(repeat('00', 16)), 5", false),
    GraftFunctions.DoubleBitsName -> ("1.5d", java.lang.Double.doubleToRawLongBits(1.5)))

  private def names: Seq[String] = GraftFunctions.table.map(_._1.funcName)

  /** A small root sort plans through `GatherStrategy` as a `GatherExec`. */
  private def assertSmallSortGathers(s: SparkSession): Unit = {
    val df = s.range(0, 100, 1, 4).orderBy(org.apache.spark.sql.functions.desc("id")).as[Long](s.implicits.newLongEncoder)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Gather") && !plan.contains("rangepartitioning"), plan)
    assert(df.collect().toSeq.map(_.longValue) === (99L to 0L by -1L))
  }

  private def assertEveryFunctionResolves(s: SparkSession): Unit = {
    assert(samples.keySet === names.toSet, "every table row needs exactly one sample")
    names.foreach { name =>
      val (args, want) = samples(name)
      assert(s.sql(s"SELECT $name($args)").head.get(0) === want, name)
    }
  }

  test("every function of the table resolves via SparkSessionExtensions injection") {
    val base = spark // force the shared session (and its SparkContext) first
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // withExtensions, not spark.sql.extensions: the conf form is a
      // STATIC conf read from the SparkContext at context creation, so it
      // cannot apply to a session built over this suite's existing
      // context — the programmatic hook exercises the same apply().
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base, "expected a fresh session for the extensions path")
      assertEveryFunctionResolves(s2)
      assert(GraftFunctions.strategies.forall(
        s2.sessionState.planner.extraPlanningStrategies.contains))
      assertSmallSortGathers(s2)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("every function of the table resolves in a session Engine.ensureInitialized prepared") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    assert(GraftFunctions.table.forall(f => !reg.functionExists(f._1)),
      "a fresh session must not already hold graft's functions")
    Engine.ensureInitialized(s)
    assertEveryFunctionResolves(s)
    assert(GraftFunctions.rules.forall(s.experimental.extraOptimizations.contains))
    assert(GraftFunctions.strategies.forall(s.experimental.extraStrategies.contains))
    assertSmallSortGathers(s)
  }

  test("a second Engine.ensureInitialized adds neither a rule nor a strategy twice") {
    val s = spark.newSession()
    Engine.ensureInitialized(s)
    Engine.ensureInitialized(s)
    GraftFunctions.rules.foreach(r =>
      assert(s.experimental.extraOptimizations.count(_ == r) === 1, r.ruleName))
    GraftFunctions.strategies.foreach(st =>
      assert(s.experimental.extraStrategies.count(_ == st) === 1, st.toString))
  }
}
