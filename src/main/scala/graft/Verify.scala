package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Engine
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Second mode — `--invariance` (round-12 verdict #3, promoted from the
  * `run_verify_cpus.sh` + `compare_runs.py` shell ad-hocery into the
  * verified surface): re-dump the same queries under TWO different
  * parallelisms and compare the dumps BITWISE, one JSON row per query.
  * This is the load-bearing check for tiers where the DuckDB oracle CTE is
  * not payable on one box (sf10's 243 M-row dumps): a result that is
  * bit-identical under different shuffle partitionings cannot depend on
  * task scheduling, addition order across partitions, or limit
  * nondeterminism. Float columns compare by IEEE-754 BIT PATTERN
  * ([[graft.functions.GraftFunctions.doubleBits]]), so a
  * partition-dependent −0.0/+0.0 flip FAILS — the hole the round-12 advice
  * found in the old >200 k-row EXCEPT ALL path. NaNs canonicalize to one
  * pattern (doubleToLongBits), which is what a determinism check wants.
  *
  * {{{
  * graft.Verify <sfDir> <outDir> [q1,q2,...]              — oracle dump;
  *   a query that throws is listed in <outDir>/failures.json and the run
  *   exits nonzero (after oracle_sql.json is written)
  * graft.Verify --invariance <sfDir> <outBase> [q1,q2,...] — A/B re-dump +
  *   bitwise compare; parallelisms from SPARK_GRAFT_CPUS_AB (default
  *   "<cpus>,<cpus-1>"), record at <outBase>/invariance.json
  * }}}
  * Several queries are ONE comma-separated argument; a further argument is
  * refused with an error naming it (exit 2), never ignored.
  */
object Verify {

  /** JSON string-body escape: backslash, quote, and ALL control chars
    * (<0x20) — a stray control char in builder-authored SQL or an exception
    * message would otherwise make the driver's json.load fail (oracle mode)
    * or corrupt invariance.json (r13 advice: the error path escaped only
    * \n\r\t). Shared by both emitters. */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Code-point-safe prefix: `String.take(n)` can split a surrogate pair
    * mid-astral-char, leaving a lone surrogate that survives [[jsonEscape]]
    * unescaped and turns into '?' at UTF-8 encode time (r14 advice).
    * Truncating on code-point boundaries keeps every emitted char a
    * complete, escapable code point. */
  private def takeCodePoints(s: String, n: Int): String = {
    val cps = s.codePoints().limit(n).toArray
    new String(cps, 0, cps.length)
  }

  /** True when any leaf of `dt` is Float/Double — the nested types the
    * bitwise projection cannot yet reach element-wise. */
  private[graft] def containsFloat(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case DoubleType | FloatType => true
      case ArrayType(e, _) => containsFloat(e)
      case MapType(k, v, _) => containsFloat(k) || containsFloat(v)
      case s: StructType => s.fields.exists(f => containsFloat(f.dataType))
      case _ => false
    }

  /** Dump each selected query's result to `outDir/<name>` as parquet.
    * Shared across the oracle mode and both invariance passes so the
    * invariance dumps are byte-for-byte the oracle-mode pipeline.
    *
    * A query that throws leaves NO `outDir/<name>`: a dump from an earlier
    * run would otherwise pass the oracle check as a stale PASS. Its
    * exception is returned (name → "class: message") and written to
    * `outDir/failures.json`; a run without failures leaves no such file. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failuresFile = Paths.get(s"$outDir/failures.json")
    Files.deleteIfExists(failuresFile)
    val failures = queries.toSeq.flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
          Some(name -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}")
        }
      // Between-query hygiene (see Bench): 117 queries in one session
      // otherwise accumulate checkpoint blocks until the run degrades.
      // Shared pipeline materializations are pinned and survive.
      graft.engine.Hygiene.sweep(spark)
      failure
    }.toMap
    if (failures.nonEmpty)
      Files.writeString(failuresFile, failures.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${jsonEscape(k)}": "${jsonEscape(v)}"""" }
        .mkString("{", ",\n", "}\n"))
    failures
  }

  /** Every float-typed leaf projected through its IEEE-754 bit pattern
    * (arrays element-wise); other columns pass through. Struct/map-typed
    * outputs would need recursion — no query emits one (the schema check
    * below fails loudly if that ever changes rather than weakening the
    * compare silently). */
  private[graft] def bitwise(df: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.doubleBits
    val cols: Seq[Column] = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType => doubleBits(col(f.name)).as(f.name)
        case FloatType => doubleBits(col(f.name).cast(DoubleType)).as(f.name)
        case ArrayType(DoubleType, _) =>
          transform(col(f.name), x => doubleBits(x)).as(f.name)
        case ArrayType(FloatType, _) =>
          transform(col(f.name), x => doubleBits(x.cast(DoubleType))).as(f.name)
        // FLOAT-BEARING nesting (struct/map/array-of-array with a float
        // leaf) would pass through UNPROJECTED and let Spark's set-op float
        // normalization treat -0.0 == +0.0 inside the nesting — refuse
        // rather than silently weaken the gate (r13 advice). Float-free
        // nesting (e.g. array<array<string>>) is bit-exact under plain
        // equality and passes through, matching check_oracle.py's
        // nested-FLOAT refusal rule (r14 advice).
        case dt @ (_: StructType | _: MapType | ArrayType(_: ArrayType, _) |
            ArrayType(_: StructType, _) | ArrayType(_: MapType, _))
            if containsFloat(dt) =>
          throw new IllegalArgumentException(
            s"invariance compare: column ${f.name} has float-bearing nested " +
              s"type ${f.dataType.simpleString} — extend bitwise() before " +
              "trusting it")
        case _ => col(f.name)
      }
    }.toSeq
    df.select(cols: _*)
  }

  private def invariance(sfDir: String, outBase: String, only: Set[String],
      cpusA: Int, cpusB: Int): Unit = {
    require(cpusA != cpusB, s"invariance needs two DIFFERENT parallelisms, got $cpusA,$cpusB")
    val (dirA, dirB) = (s"$outBase/cpus$cpusA", s"$outBase/cpus$cpusB")
    // Two dumps in two fresh sessions: partitioning differences must come
    // from the engine configuration, never from leftover session state.
    val selected = SparkEntry.queries.filter(kv => only(kv._1))
    val sa = Engine.session(cpusA)
    dump(sa, sfDir, dirA, selected); sa.stop()
    val sb = Engine.session(cpusB)
    dump(sb, sfDir, dirB, selected); sb.stop()
    val spark = Engine.session(math.max(cpusA, cpusB))
    val rows = only.toSeq.sorted.map { name =>
      val t0 = System.nanoTime()
      val row = try {
        val a = spark.read.parquet(s"$dirA/$name")
        val b = spark.read.parquet(s"$dirB/$name")
        val colsA = a.schema.fields.map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
        val colsB = b.schema.fields.map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
        if (!colsA.sameElements(colsB))
          s""""cols_match":false,"cols_a":"${colsA.mkString(";")}","cols_b":"${colsB.mkString(";")}""""
        else {
          val (na, nb) = (a.count(), b.count())
          if (na != nb) s""""cols_match":true,"rows_a":$na,"rows_b":$nb,"bitwise_match":false"""
          else {
            // Multiset equality, bitwise floats: equal counts + empty
            // symmetric EXCEPT ALL. Column order aligned by name so a
            // writer-side field reorder can't alias two columns.
            val names = a.columns.sorted
            val ba = bitwise(a.select(names.map(col): _*))
            val bb = bitwise(b.select(names.map(col): _*))
            val diff = ba.exceptAll(bb).count() + bb.exceptAll(ba).count()
            s""""cols_match":true,"rows_a":$na,"rows_b":$nb,""" +
              s""""diff_rows":$diff,"bitwise_match":${diff == 0L}"""
          }
        }
      } catch { case e: Throwable =>
        s""""error":"${jsonEscape(takeCodePoints(
          Option(e.getMessage).getOrElse(e.getClass.getName), 300))}""""
      }
      val sec = math.rint((System.nanoTime() - t0) / 1e9 * 10) / 10
      val line = s"""{"query":"$name",$row,"sec":$sec}"""
      println(line)
      line
    }
    val ok = rows.count(_.contains("\"bitwise_match\":true"))
    val record = s"""{"metric":"invariance","sf":"$sfDir","cpus":[$cpusA,$cpusB],""" +
      s""""pass":$ok,"total":${rows.size},"queries":[${rows.mkString(",")}]}"""
    Files.writeString(Paths.get(s"$outBase/invariance.json"), record)
    println(s"""{"metric":"invariance","pass":$ok,"total":${rows.size},""" +
      s""""record":"$outBase/invariance.json"}""")
    spark.stop()
    if (ok != rows.size) sys.exit(1)
  }

  /** The queries a comma-separated name list selects; all when absent. */
  private def queryList(csv: Option[String]): Set[String] =
    csv.map(a => SparkEntry.knownQueries(a.split(",").toSet, "the query list"))
      .getOrElse(SparkEntry.queries.keySet)

  private val usage = "usage: graft.Verify [--invariance] <sfDir> <outDir> [q1,q2,...]"

  /** Both modes' positional arguments: sfDir, outDir and at most ONE
    * comma-separated query list. A surplus argument (a second query name
    * given space-separated) is an error naming it, never dropped. */
  private[graft] def positionals(args: Seq[String]): Either[String, (String, String, Option[String])] =
    args match {
      case Seq(sfDir, outDir) => Right((sfDir, outDir, None))
      case Seq(sfDir, outDir, names) => Right((sfDir, outDir, Some(names)))
      case Seq(_, _, _, surplus @ _*) => Left(s"surplus argument(s) ${surplus.mkString(" ")}; " +
        "name several queries as ONE comma-separated argument")
      case _ => Left("missing <sfDir> or <outDir>")
    }

  def main(args: Array[String]): Unit = {
    val invarianceMode = args.headOption.contains("--invariance")
    val (sfDir, outDir, names) =
      positionals(args.toSeq.drop(if (invarianceMode) 1 else 0)) match {
        case Right(p) => p
        case Left(error) =>
          System.err.println(s"[verify] $error\n$usage")
          sys.exit(2)
      }
    val only = queryList(names)
    if (invarianceMode) {
      // Default: this box's cores and one fewer — always two different,
      // coprime partition counts.
      val cpus = math.max(2, Engine.defaultCpus)
      val ab = sys.env.getOrElse("SPARK_GRAFT_CPUS_AB", s"$cpus,${cpus - 1}")
        .split(",").map(_.trim.toInt)
      require(ab.length == 2, "SPARK_GRAFT_CPUS_AB must be 'A,B'")
      invariance(sfDir, outDir, only, ab(0), ab(1))
      return
    }
    val spark = Engine.session()
    val failures = dump(spark, sfDir, outDir, SparkEntry.queries.filter(kv => only(kv._1)))
    def q(s: String): String = "\"" + jsonEscape(s) + "\""
    // Only the queries dumped THIS run go into oracle_sql.json — otherwise a
    // subset run into a reused outDir would let check_oracle validate STALE
    // parquet from an earlier dump as PASS.
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} query(ies) failed: " +
        s"${failures.keys.toSeq.sorted.mkString(", ")} (see $outDir/failures.json)")
      sys.exit(1)
    }
  }
}
