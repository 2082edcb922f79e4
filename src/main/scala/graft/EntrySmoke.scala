package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Engine.session()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, false)
    spark.stop()
  }
}
