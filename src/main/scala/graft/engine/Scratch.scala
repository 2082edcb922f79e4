package graft.engine

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Session-scoped scratch directories for queries that must round-trip
  * through a filesystem format (q44 CSV, q51 ORC). All paths live under
  * `java.io.tmpdir/graft-scratch/<applicationId>/`, and the first allocation
  * per application registers ONE JVM shutdown hook that deletes the whole
  * application root recursively — so repeated Bench/Verify/Diag
  * sessions stop accumulating `/tmp/graft_*` litter (each session cleans up
  * after itself on exit; keying by applicationId still keeps concurrent
  * sessions from overwriting each other mid-read). */
object Scratch {

  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A per-application scratch path for `tag`, cleaned up on JVM exit. */
  def dir(spark: SparkSession, tag: String): String = {
    val root = Paths.get(System.getProperty("java.io.tmpdir", "/tmp"),
      "graft-scratch", spark.sparkContext.applicationId)
    if (hooked.add(root.toString)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))
    }
    root.resolve(tag).toString
  }

  private[engine] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
