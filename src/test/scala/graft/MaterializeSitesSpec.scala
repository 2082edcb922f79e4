package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The materialization policy has one home, checked on the source text,
  * no SparkSession: outside comments and string literals, only
  * `engine/Materialize.scala` may call `localCheckpoint`, `checkpoint`,
  * `persist`, `cache` or `unpersist` in `src/main`, with no exemptions,
  * and only it may name `LogicalRDD`, so "is this input materialized?"
  * has one definition. */
class MaterializeSitesSpec extends AnyFunSuite {
  private val root = new File("src/main/scala")
  private val home = "graft/engine/Materialize.scala"
  private val direct =
    """localCheckpoint\(|(?<!Materialize)\.checkpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(""".r

  /** `src` with comments and string/char literal bodies blanked to spaces,
    * newlines kept so offsets map to the same lines. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    def blank(c: Char) = out.append(if (c == '\n') '\n' else ' ')
    var i = 0
    var depth = 0 // nested block comments
    while (i < src.length) {
      val c = src(i)
      if (depth > 0) {
        if (src.startsWith("*/", i)) { depth -= 1; out.append("  "); i += 2 }
        else if (src.startsWith("/*", i)) { depth += 1; out.append("  "); i += 2 }
        else { blank(c); i += 1 }
      } else if (src.startsWith("/*", i)) { depth = 1; out.append("  "); i += 2 }
      else if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') { out.append(' '); i += 1 }
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out.append("\"\"\""); (i + 3 until stop - 3).foreach(j => blank(src(j)))
        if (end >= 0) out.append("\"\"\""); i = stop
      } else if (c == '"') {
        out.append('"'); i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') { out.append(' '); i += 1 }
          if (i < src.length) { blank(src(i)); i += 1 }
        }
        if (i < src.length && src(i) == '"') { out.append('"'); i += 1 }
      } else if (c == '\'' && src.startsWith("'", i + 2)) { out.append("' '"); i += 3 }
      else if (c == '\'' && src.startsWith("\\", i + 1) && src.startsWith("'", i + 3)) {
        out.append("'  '"); i += 4
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private lazy val sources: Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath} missing")
    walk(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try root.toURI.relativize(f.toURI).getPath -> codeOnly(src.mkString) finally src.close()
    }
  }

  private def hits(code: String, re: scala.util.matching.Regex): Seq[Int] =
    re.findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq

  test("the scanner drops comments and literals and keeps code") {
    val src = "// df.cache()\n/* a /* nested */ x.persist() */ val u = \"hdfs://h\"; y.persist()\n" +
      "val q = '\"'; \"\"\"z.unpersist(\n\"\"\" ; w.localCheckpoint(true)"
    val code = codeOnly(src)
    assert(code.length === src.length && code.count(_ == '\n') === src.count(_ == '\n'))
    assert(hits(code, direct) === Seq(2, 4))
  }

  test("only engine/Materialize.scala materializes or frees in src/main") {
    val strays = for {
      (path, code) <- sources if path != home
      line <- hits(code, direct)
    } yield s"$path:$line"
    assert(strays.isEmpty, s"direct materialization outside graft.engine.Materialize: $strays")
    val own = sources.collectFirst { case (p, c) if p == home => hits(c, direct) }
    assert(own.exists(_.size >= 4), "the scan no longer sees Materialize's own calls")
  }

  test("LogicalRDD is named only by Materialize; the cap asks Materialize.isMaterialized") {
    val naming = sources.collect { case (p, c) if c.contains("LogicalRDD") => p }
    assert(naming === Seq(home))
    val dedup = sources.collectFirst { case (p, c) if p == "graft/operators/DedupOps.scala" => c }
    val cap = dedup.map(c => c.substring(c.indexOf("def capShingleDfQuantile(")))
      .map(c => c.substring(0, c.indexOf("\n  def ")))
    assert(cap.exists(_.contains("if (Materialize.isMaterialized(shingles))")), cap)
  }
}
