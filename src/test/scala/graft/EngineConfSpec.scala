package graft

import graft.engine.Engine

/** The r16 knob-pairing contract (r15 verdict "what's wrong" #1): the 64k
  * AQE coalescing floor and the 1m task-page pin were measured to only be
  * safe TOGETHER (floor alone under auto-derived ~16m pages made the minhash
  * family 3-4× worse), so Engine must arm the floor only for sessions that
  * pinned the pages small.
  */
class EngineConfSpec extends SparkSpec {

  test("floor engages only when pageSize is pinned small") {
    // In-repo builders: 1m pages → paired floor.
    assert(Engine.aqeFloorFor(Some("1m")).contains("64k"))
    assert(Engine.aqeFloorFor(Some("4m")).contains("64k"))
    // Auto-derived or large pages → Spark's default floor stays.
    assert(Engine.aqeFloorFor(None).isEmpty)
    assert(Engine.aqeFloorFor(Some("16m")).isEmpty)
  }

  test("unpinned session keeps Spark's default floor after init") {
    Engine.ensureInitialized(spark)
    // The shared test session pins no pageSize, so ensureInitialized must
    // NOT have lowered the coalescing floor (1m default in Spark 4).
    val floor = spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    assert(floor != "64k",
      "engine floor leaked into a session without the page-size pin")
  }

  test("every in-repo session runs one conf set, sized by cpus") {
    for (cpus <- Seq(4, 7)) {
      val c = Engine.sessionConf(cpus)
      assert(c("spark.master") === s"local[$cpus]")
      assert(c("spark.sql.shuffle.partitions") === cpus.toString)
      assert(c("spark.buffer.pageSize") === "1m")
      assert(c("spark.sql.codegen.cache.maxEntries") === "5000")
      assert(c("spark.sql.session.timeZone") === "UTC")
      assert(c("spark.ui.enabled") === "false")
      // The page pin is what arms the paired AQE floor.
      assert(Engine.aqeFloorFor(c.get("spark.buffer.pageSize")).contains("64k"))
    }
  }
}
