package graft.functions

import graft.plans.{GatherSmallSorts, GatherStrategy, SargableTimestampRules}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import scala.reflect.{ClassTag, classTag}

/** Native Catalyst expression for the embedding dot product.
  *
  * The higher-order `aggregate(zip_with(a,b,_*_), 0d, _+_)` fold is a
  * CodegenFallback expression: every evaluation allocates lambda variables
  * and interprets the tree per element, and any operator it feeds drops out
  * of WholeStageCodegen. For the similarity/near-dup queries that is the
  * per-PAIR hot path (SURVEY §2.10 X3), so this is the one place the
  * built-ins genuinely can't express the semantics efficiently — preference
  * order (b) from the builder prompt: a custom `Expression` with
  * `doGenCode`, a tight `while` loop over the two `ArrayData`.
  *
  * Accumulation order is left-to-right, identical to the HOF fold and to
  * DuckDB's `list_dot_product`, so oracle results agree bit-for-bit.
  * Null ARRAYS propagate null (BinaryExpression's default); null ELEMENTS
  * are not supported (embeddings are dense — enforced upstream by the
  * `cast("array<double>")` of a non-null float vector). Mismatched lengths
  * RAISE (same behavior as DuckDB's list_dot_product) — silently truncating
  * to the shorter array would mask ragged-embedding data errors and diverge
  * from the oracle.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // No ExpectsInputTypes (AbstractDataType is private[sql]) → no implicit
  // coercion: callers pass array<double> exactly (cast upstream).
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<double> arguments, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = GraftFunctions.VecDotName

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) VecDot.lengthMismatch(n, y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  graft.functions.VecDot.lengthMismatch($n, $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Shared by interpreted eval and generated code (static call keeps the
    * generated method small and JIT-friendly). */
  def lengthMismatch(a: Int, b: Int): Nothing =
    throw new IllegalArgumentException(
      s"graft_vec_dot: array length mismatch ($a vs $b) — embeddings must be dense and equal-dimension")
}

/** Polynomial rolling hash of a string (Rabin–Karp class): fold over the
  * string's Unicode code points of `h ← (h·31 + cp) mod 1e9+7`, h₀ = 0.
  * The document-fingerprinting primitive from the builder prompt — applied
  * to whole documents for near-exact dedup keys, or to shingle rows for
  * rolling window fingerprints. Engine-neutral: DuckDB reproduces it as
  * `list_reduce(list_prepend(0, list_transform(string_split_regex(s,''),
  * c -> ascii(c))), (h,c) -> (h*31+c) % 1000000007)`.
  *
  * Codegen emits a static call to [[StringPolyHash.hash]] — one virtual-free
  * invocation per row, no CodegenFallback. */
case class StringPolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.PolyHashName

  override protected def nullSafeEval(s: Any): Any =
    StringPolyHash.hash(s.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringPolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): StringPolyHash =
    copy(child = newChild)
}

object StringPolyHash {
  final val B = 31L
  final val M = 1000000007L

  /** Static hash core shared by interpreted eval and generated code. */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * B + cp) % M
      i += Character.charCount(cp)
    }
    h
  }
}

/** Raw IEEE-754 bit pattern of a double as a long (`java.lang.Double
  * .doubleToLongBits`) — the BITWISE-equality projection the partition-
  * invariance gate compares float columns through. Value equality would
  * let a partition-dependent −0.0/+0.0 flip pass silently (round-12
  * advice: the >200 k-row EXCEPT ALL path had exactly that hole); bit
  * patterns distinguish the zeros and canonicalize every NaN to the single
  * 0x7ff8000000000000 pattern, which is what a determinism check wants.
  * Verification surface, but codegen'd anyway — it projects 100 M-row
  * dumps. */
case class DoubleBits(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.DoubleBitsName

  override protected def nullSafeEval(d: Any): Any =
    java.lang.Double.doubleToLongBits(d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToLongBits($c)")

  override protected def withNewChildInternal(newChild: Expression): DoubleBits =
    copy(child = newChild)
}

/** Greedy longest-match subword tokenizer over a LITERAL vocabulary — the
  * deterministic core of a WordPiece/SentencePiece-style encoder (the
  * inference half of BPE: merges already folded into the vocab). Per word
  * (space-delimited, matching `string_split(text, ' ')`), repeatedly take
  * the LONGEST vocab entry prefixing the remaining suffix; if none matches,
  * emit the single next character (char fallback, so tokenization is total
  * — no UNK). Returns the subword array; `size(...)` is the real token
  * count the curation chain (packing q92, fertility q93) runs on instead
  * of whitespace counts.
  *
  * Engine-neutral by construction: greedy longest-match is expressible in
  * ANSI SQL as a per-position max-match-length table + a recursive-CTE walk
  * (the q91/q92/q93 oracles inline the identical vocab), so results are
  * hash-checkable cross-engine — the same literal discipline as the LSH
  * planes.
  *
  * The vocab must be a foldable array<string> with no entry containing a
  * space (entries can't cross the word boundary the oracle's split
  * imposes) and no empty/null entries. It compiles ONCE per plan into a
  * character trie ([[SubwordEncode.buildTrie]]); each row then costs one
  * trie walk per character — O(text · max_entry_len) worst case,
  * independent of vocabulary size. Codegen emits a call on the expression
  * object (via addReferenceObj), keeping consumers inside
  * WholeStageCodegen — no CodegenFallback, no per-row vocab scan.
  *
  * Unit of trie matching is the UTF-16 code unit (build and walk agree, so
  * vocab matches are exact for all of Unicode); char fallback consumes a
  * full CODE POINT, so a supplementary-plane character (emoji, CJK-ext)
  * stays one intact token — never a lone surrogate. The SQL oracle's
  * substr/len arithmetic counts code points, matching the fallback; only a
  * vocab ENTRY that splits a surrogate pair could diverge, and entries are
  * required to be well-formed text. */
case class SubwordEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a foldable (literal) vocabulary")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, array<string>), got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = GraftFunctions.SubwordEncodeName

  @transient private lazy val trie: SubwordEncode.Node = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val entries = (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i), s"$prettyName: vocabulary entries must not be null")
      arr.getUTF8String(i).toString
    }
    SubwordEncode.buildTrie(entries)
  }

  /** Row kernel shared by interpreted eval and generated code. */
  def encode(text: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    SubwordEncode.encode(trie, text.toString)

  override protected def nullSafeEval(t: Any, v: Any): Any =
    encode(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subwordEncode", this, classOf[SubwordEncode].getName)
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = $ref.encode($t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SubwordEncode =
    copy(left = newLeft, right = newRight)
}

object SubwordEncode {
  /** Character-trie node; `terminal` marks a vocab entry's end. */
  final class Node {
    val children = new java.util.HashMap[Character, Node]()
    var terminal: Boolean = false
  }

  def buildTrie(vocab: Iterable[String]): Node = {
    val root = new Node
    vocab.foreach { entry =>
      require(entry.nonEmpty, "subword vocabulary entries must be non-empty")
      require(!entry.contains(' '),
        s"subword vocabulary entry '$entry' contains a space — entries cannot cross word boundaries")
      var node = root
      entry.foreach { ch =>
        var next = node.children.get(ch)
        if (next == null) { next = new Node; node.children.put(ch, next) }
        node = next
      }
      node.terminal = true
    }
    root
  }

  /** Greedy longest-match walk. Spaces separate words and are never
    * emitted; vocab entries contain no spaces, so a match cannot cross a
    * word boundary — identical semantics to per-word matching over
    * `string_split(text, ' ')`. */
  def encode(trie: Node, text: String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.unsafe.types.UTF8String]
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.charAt(i) == ' ') { i += 1 }
      else {
        var node = trie
        var j = i
        var lastEnd = -1
        var walking = true
        while (walking && j < n) {
          val next = node.children.get(text.charAt(j))
          if (next == null) walking = false
          else {
            node = next
            j += 1
            if (node.terminal) lastEnd = j
          }
        }
        // char fallback consumes a full code point — a supplementary-plane
        // character must stay one intact token, never a lone surrogate
        val end = if (lastEnd > i) lastEnd
          else i + Character.charCount(text.codePointAt(i))
        out += org.apache.spark.unsafe.types.UTF8String.fromString(text.substring(i, end))
        i = end
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }
}

/** Threshold-bounded Levenshtein distance, tuned for the near-dup verify
  * hot path: returns the exact edit distance when it is ≤ `threshold`,
  * else -1 — the same contract as Spark's 3-arg `levenshtein`, which this
  * replaces because the built-in decodes UTF-8 byte sequences inside the
  * O(m·n) inner loop (~35 ms/pair measured on 300-char documents at sf1 —
  * 123k candidate pairs made the verify stage a 135 s job). This kernel
  * decodes each string to a code-point array ONCE (O(m+n)), strips the
  * common prefix/suffix (near-dup pairs differ by small edit regions, so
  * the DP usually runs on a fraction of the text), and then runs an
  * Ukkonen-banded two-row DP over primitive ints with per-row early exit
  * — O(min(m,n)·threshold) worst case, ~100× the built-in's throughput on
  * this workload, identical results.
  *
  * Semantics parity (spec-checked against the built-in on random Unicode
  * strings): unit insert/delete/substitute costs over Unicode CODE POINTS
  * (surrogate pairs are one edit unit, matching both the built-in and
  * DuckDB's `levenshtein`), null if either string is null, -1 iff
  * distance > threshold. Threshold must be ≥ 0 (enforced). */
case class BoundedLevenshtein(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, string, int), got " +
            s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
            s"${third.dataType.simpleString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = GraftFunctions.BoundedLevenshteinName

  override protected def nullSafeEval(a: Any, b: Any, t: Any): Any =
    BoundedLevenshtein.distance(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      t.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, t) =>
      s"graft.functions.BoundedLevenshtein.distance($a, $b, $t)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BoundedLevenshtein =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BoundedLevenshtein {

  /** Decode once to code points; `String.codePoints` handles surrogate
    * pairs, so each supplementary-plane character is one DP unit. */
  private def codePoints(s: org.apache.spark.unsafe.types.UTF8String): Array[Int] =
    s.toString.codePoints().toArray

  /** Static kernel shared by interpreted eval and generated code. */
  def distance(ls: org.apache.spark.unsafe.types.UTF8String,
      rs: org.apache.spark.unsafe.types.UTF8String, t: Int): Int = {
    require(t >= 0, s"graft_levenshtein_bounded: threshold must be >= 0, got $t")
    val a = codePoints(ls)
    val b = codePoints(rs)
    // Strip the common prefix and suffix — edit distance is invariant, and
    // near-identical pairs (the verify stage's common case) collapse to a
    // DP over just the differing core.
    var lo = 0
    val maxLo = math.min(a.length, b.length)
    while (lo < maxLo && a(lo) == b(lo)) lo += 1
    var aHi = a.length
    var bHi = b.length
    while (aHi > lo && bHi > lo && a(aHi - 1) == b(bHi - 1)) { aHi -= 1; bHi -= 1 }
    val m = aHi - lo
    val n = bHi - lo
    if (m == 0) return if (n <= t) n else -1
    if (n == 0) return if (m <= t) m else -1
    if (math.abs(m - n) > t) return -1 // length gap lower-bounds the distance
    val INF = Int.MaxValue / 2
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    java.util.Arrays.fill(prev, INF)
    var j = 0
    val hi0 = math.min(n, t)
    while (j <= hi0) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(cur, INF)
      cur(0) = if (i <= t) i else INF
      var rowMin = cur(0)
      val ai = a(lo + i - 1)
      var jj = math.max(1, i - t)
      val to = math.min(n, i + t)
      while (jj <= to) {
        val cost = if (ai == b(lo + jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        if (prev(jj) + 1 < v) v = prev(jj) + 1
        if (cur(jj - 1) + 1 < v) v = cur(jj - 1) + 1
        cur(jj) = v
        if (v < rowMin) rowMin = v
        jj += 1
      }
      if (rowMin > t) return -1 // every band cell already exceeds t
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(n) <= t) prev(n) else -1
  }
}

/** Unicode NFC normalization of a string column — the canonicalization
  * pass a dedup pipeline must run BEFORE fingerprinting: the same visible
  * text can arrive precomposed (U+00E1 "á") from one crawl source and
  * decomposed (U+0061 U+0301 "a"+combining acute) from another, and a
  * byte-level hash treats them as distinct documents. Normalizing to NFC
  * makes the fingerprint canonical-equivalence-invariant (Unicode UAX #15;
  * DuckDB exposes the identical transform as `nfc_normalize`, which the
  * oracle uses).
  *
  * Spark ships no normalization builtin, and a Scala UDF would box every
  * row and break WholeStageCodegen on the fingerprint hot path — so this is
  * preference order (b): a native unary `Expression` whose codegen emits
  * one static call. The kernel fast-paths the dominant case:
  * `Normalizer.isNormalized` is a scan with no allocation, and ASCII (the
  * overwhelming majority of crawl text) is always NFC-normalized, so
  * already-normal strings return the INPUT UTF8String untouched — zero
  * copies, zero garbage. Only strings containing a composition candidate
  * pay the JDK normalize + re-encode.
  *
  * Stateless narrow map — a 100 TB normalization pass shuffles nothing. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = GraftFunctions.NfcNormalizeName

  override protected def nullSafeEval(s: Any): Any =
    NfcNormalize.normalize(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  import java.text.Normalizer

  /** Static kernel shared by interpreted eval and generated code. Returns
    * the input object unchanged when already NFC. All-ASCII input (the
    * dominant crawl case) is detected with a raw byte scan and returns
    * with NO allocation at all; only strings containing a non-ASCII byte
    * pay the String decode, and only non-NFC ones pay the normalize. */
  def normalize(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n && s.getByte(i) >= 0) i += 1
    if (i == n) return s // pure ASCII is always NFC
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** The one table of graft's native Catalyst functions plus their Column-API
  * surface. Each function is declared once, as a (name, builder) row of
  * [[table]]; both registration paths iterate it: [[register]] at runtime
  * (from `Engine.ensureInitialized`, for sessions graft does not build) and
  * [[graft.GraftExtensions]] at builder time. [[rules]] lists the optimizer
  * rules beside it and [[strategies]] the planner strategies those rules
  * need.
  *
  * One of the rules is an optimizer contract, not a rewrite of equal
  * plans: [[graft.plans.GatherSmallSorts]] sorts a result whose estimated
  * input is at most `spark.sql.autoBroadcastJoinThreshold` in one task (no
  * range-sampling job); its `Gather` node plans only through
  * [[graft.plans.GatherStrategy]], so the two always register together. */
object GraftFunctions {

  val VecDotName = "graft_vec_dot"
  val PolyHashName = "graft_poly_hash"
  val BloomContainsName = "graft_bloom_contains"
  val SubwordEncodeName = "graft_subword_encode"
  val BoundedLevenshteinName = "graft_levenshtein_bounded"
  val NfcNormalizeName = "graft_nfc_normalize"
  val DoubleBitsName = "graft_double_bits"

  /** A function as `SparkSessionExtensions.injectFunction` takes it. */
  private[graft] type Native = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def native[E <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => E): Native =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[E].runtimeClass.getName, name), build)

  /** Every native function graft adds to a session. */
  private[graft] val table: Seq[Native] = Seq(
    native(VecDotName)(e => VecDot(e(0), e(1))),
    native(PolyHashName)(e => StringPolyHash(e(0))),
    native(BloomContainsName)(e => BloomMightContain(e(0), e(1), e(2))),
    native(SubwordEncodeName)(e => SubwordEncode(e(0), e(1))),
    native(BoundedLevenshteinName)(e => BoundedLevenshtein(e(0), e(1), e(2))),
    native(NfcNormalizeName)(e => NfcNormalize(e(0))),
    native(DoubleBitsName)(e => DoubleBits(e(0))))

  /** The optimizer rules graft adds beside its functions. */
  private[graft] val rules: Seq[Rule[LogicalPlan]] = Seq(SargableTimestampRules, GatherSmallSorts)

  /** The planner strategies for the logical nodes [[rules]] insert. */
  private[graft] val strategies: Seq[SparkStrategy] = Seq(GatherStrategy)

  private val byName: Map[String, Native] = table.map(f => f._1.funcName -> f).toMap

  /** Registers every function of [[table]] in `spark`; idempotent. */
  def register(spark: SparkSession): Unit = table.foreach(ensure(spark, _))

  // Each function guards on ITS OWN existence (a session where one exists
  // but not another — partial/external registration — still gets the
  // missing one); the guard only exists to avoid per-query "replaced a
  // previously registered function" WARN spam.
  private def ensure(spark: SparkSession, f: Native): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(f._1)) reg.registerFunction(f._1, f._2, f._3)
  }

  /** `name` applied to `args`. The function is registered in the active
    * session first (idempotent), so any driver-owned session resolves it
    * without setup. */
  private def call(name: String, args: Column*): Column = {
    SparkSession.getActiveSession.foreach(ensure(_, byName(name)))
    call_function(name, args: _*)
  }

  /** Codegen'd dot product of two array<double> columns. */
  def vecDot(a: Column, b: Column): Column = call(VecDotName, a, b)

  /** Codegen'd polynomial rolling hash of a string column (long). */
  def polyHash(s: Column): Column = call(PolyHashName, s)

  /** Codegen'd greedy longest-match subword tokenization of a string column
    * against a literal vocabulary (see [[SubwordEncode]]). Returns
    * array<string>; `size(...)` of it is the subword token count. */
  def subwordEncode(text: Column, vocab: Seq[String]): Column =
    call(SubwordEncodeName, text, typedlit(vocab))

  /** Codegen'd threshold-bounded Levenshtein distance (int; -1 above the
    * threshold) — drop-in for 3-arg `levenshtein` on the near-dup verify
    * hot path (see [[BoundedLevenshtein]]). */
  def levenshteinBounded(a: Column, b: Column, threshold: Int): Column =
    call(BoundedLevenshteinName, a, b, lit(threshold))

  /** Codegen'd Unicode NFC normalization of a string column (see
    * [[NfcNormalize]]) — run before fingerprinting so canonically-equivalent
    * byte encodings hash identically. Oracle equivalent: DuckDB
    * `nfc_normalize`. */
  def nfcNormalize(s: Column): Column = call(NfcNormalizeName, s)

  /** Codegen'd IEEE-754 bit pattern of a double column as a long (see
    * [[DoubleBits]]) — the bitwise-float projection for invariance
    * comparison; floats cast to double first (exact, sign-of-zero
    * preserving). */
  def doubleBits(d: Column): Column = call(DoubleBitsName, d)

  /** Codegen'd Bloom membership probe of a string column against a collected
    * bloom sketch (see [[BloomUtil]]). The sketch rides the plan as a binary
    * literal — broadcast-by-literal, no join, no shuffle. */
  def bloomContains(s: Column, bloom: Array[Byte], k: Int): Column =
    call(BloomContainsName, s, lit(bloom), lit(k))
}
