package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot scalar kernels.
  *
  * The expression-level formulations (aggregate/zip_with lambdas) are
  * correct but interpreted per element — a lambda dispatch per character /
  * per vector component. These expressions generate a tight Java loop via
  * a static kernel call inside whole-stage codegen (no CodegenFallback, so
  * the surrounding stage keeps codegen), producing IDENTICAL values to the
  * lambda formulations (same fold order, same arithmetic).
  */
object Kernels {

  /** weakHash kernel — must stay value-identical to TextOps.weakHash and
    * the DuckDB oracle rendering: 7·len + 31·first + 17·last + Σ chars
    * (char-code based; corpus is ASCII so bytes == chars == code points).
    * One hash loop exists ([[weakHashChars]]) — this is the UTF8String
    * entry point, so the arithmetic cannot drift between the per-row
    * kernel and the window/chunk kernels that hash char buffers. */
  def weakHash(s: UTF8String): Long =
    if (s == null) 0L else weakHashChars(s.toString)

  /** Distinct 3-word shingles of a space-tokenized string, one pass.
    * Must match: split(' ') (Java semantics: trailing empties dropped,
    * consecutive spaces yield empty tokens), 3-grams joined by ' ',
    * first-occurrence dedup. */
  def shingles3(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.toString.split(" ", -1) match {
      // Java split(regex) drops trailing empties; split(x, -1) keeps them —
      // use the same semantics as Spark's split(col, " "): keep limit -1
      case w => w
    }
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < words.length) {
      seen.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode NFC normalization (canonical composition) — Spark has no
    * built-in for it. Fast path: `isNormalized` is a cheap scan that is
    * always true for ASCII, so the common case allocates nothing. Kernel
    * semantics match DuckDB's `nfc_normalize` (both implement UAX #15). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private def md5Hex(s: CharSequence): UTF8String = {
    val d = md5Local.get().digest(
      s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new Array[Byte](32)
    val digits = "0123456789abcdef"
    var i = 0
    while (i < 16) {
      hex(2 * i) = digits.charAt((d(i) >> 4) & 0xf).toByte
      hex(2 * i + 1) = digits.charAt(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** [[weakHash]] over a char sequence without materializing a UTF8String
    * — same arithmetic (UTF-16 code units, as charAt reads). */
  private[functions] def weakHashChars(s: CharSequence): Long = {
    val n = s.length
    if (n == 0) return 0L
    var sum = 0L
    var i = 0
    while (i < n) { sum += s.charAt(i).toLong; i += 1 }
    7L * n + 31L * s.charAt(0) + 17L * s.charAt(n - 1) + sum
  }

  /** CDC chunk keys of a token array, one pass: rolling [[weakHash]] over
    * every `wk`-token window (window string = tokens joined by ' ', the
    * concat_ws semantics), a hash ≡ 0 (mod `mod`) STARTS a new chunk, and
    * each chunk's key is the md5 hex of its in-order hash values joined
    * by '_' (the `Long.toString`/CAST-to-string rendering). Key-identical
    * to the relational formulation it replaces (explode → doc-partitioned
    * running-sum window → regroup — a full exchange + sort of the corpus
    * token stream) and to the HOF fold reference the specs keep
    * (`References.cdcChunkSetsLambda`, pinned in QueriesSpec); the DuckDB
    * oracle recomputes the same keys in SQL. Docs shorter than the window
    * have no chunks (empty array). */
  def cdcChunkKeys(words: ArrayData, wk: Int, mod: Long): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = words.numElements()
    if (n < wk) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val toks = tokenStrings(words)
    val out = new java.util.ArrayList[Any]()
    val cur = new java.lang.StringBuilder()
    val win = new java.lang.StringBuilder()
    var w = 0
    while (w <= n - wk) {
      win.setLength(0)
      appendWindow(win, toks, w, wk)
      val hv = weakHashChars(win)
      if (hv % mod == 0) { // hv ≥ 0 by construction, so % == pmod
        if (cur.length > 0) out.add(md5Hex(cur))
        cur.setLength(0)
      }
      if (cur.length > 0) cur.append('_')
      cur.append(java.lang.Long.toString(hv))
      w += 1
    }
    if (cur.length > 0) out.add(md5Hex(cur))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Sign-projection simhash of a token array, one pass — per-token
    * [[weakHash]], then for each bit j the ±1 sign of
    * ((a_j·hv + b_j) mod 1000003)·2 > 1000003 accumulates over ALL token
    * occurrences (duplicates count, as the relational groupBy-sum did);
    * bit j sets iff its sum is positive. The (a_j, b_j) family is
    * TextOps.simhashParams verbatim (a = 104729·(j+1) mod M,
    * b = 15485863·(j+7) mod M) — the spec pins kernel ≡ the exploded
    * groupBy formulation, and the DuckDB oracle recomputes the same
    * integer math. nBits ≤ 60 keeps the signature positive in int64.
    * No overflow: hv ≤ ~7·10⁵ for sane tokens and a < 10⁶ keeps a·hv+b
    * far inside int64 (same arithmetic domain as the Catalyst twin). */
  def simhashSig(words: ArrayData, nBits: Int): Long = {
    val M = 1000003L
    val n = words.numElements()
    // projection params hoisted out of the token loop (they are a pure
    // function of the bit index; recomputing them per token paid two
    // mod-multiplications per token per bit in the hot kernel)
    val as = new Array[Long](nBits)
    val bs = new Array[Long](nBits)
    var j = 0
    while (j < nBits) {
      as(j) = 104729L * (j + 1) % M
      bs(j) = 15485863L * (j + 7) % M
      j += 1
    }
    val sums = new Array[Long](nBits)
    var i = 0
    while (i < n) {
      val u = words.getUTF8String(i)
      if (u == null) {
        // relational-twin parity: a null token's hv is NULL, the sign
        // condition is NULL, and when(...).otherwise(-1) contributes -1
        j = 0
        while (j < nBits) { sums(j) -= 1; j += 1 }
      } else {
        val hv = weakHashChars(u.toString)
        j = 0
        while (j < nBits) {
          if (((as(j) * hv + bs(j)) % M) * 2 > M) sums(j) += 1
          else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    j = 0
    while (j < nBits) { if (sums(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** Token array materialized to Strings once per call — each token joins
    * up to window-width windows, so reading through ArrayData per window
    * would re-decode UTF-8 window-width times. Null elements stay null
    * (the window builders skip them with concat_ws semantics). */
  private def tokenStrings(words: ArrayData): Array[String] = {
    val n = words.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = words.getUTF8String(i)
      toks(i) = if (u == null) null else u.toString
      i += 1
    }
    toks
  }

  /** Append tokens [from, from+k) to `win` joined by ' ', skipping null
    * elements — exactly concat_ws(" ", slice(...)) semantics, which the
    * relational twins (and therefore the oracle) use. */
  private def appendWindow(win: java.lang.StringBuilder,
      toks: Array[String], from: Int, k: Int): Unit = {
    var j = 0
    var first = true
    while (j < k) {
      val t = toks(from + j)
      if (t != null) {
        if (!first) win.append(' ')
        win.append(t)
        first = false
      }
      j += 1
    }
  }

  /** Every `k`-token window of a token array as its joined string, in
    * position order — one pass, byte-identical to
    * transform(sequence(1, n−k+1), i => concat_ws(' ', slice(w, i, k))).
    * Shorter docs yield an empty array. The n-gram builder for the
    * cosine/LM bigram paths, whose HOF formulation paid five interpreted
    * lambda evaluations per window (measured: the cosine index
    * materialization was the single heaviest CPU stage of the bench at
    * 36.5 task-seconds, dominated by this expression). */
  def windowStrings(words: ArrayData, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = words.numElements()
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val toks = tokenStrings(words)
    val out = new Array[Any](n - k + 1)
    val win = new java.lang.StringBuilder()
    var i = 0
    while (i <= n - k) {
      win.setLength(0)
      appendWindow(win, toks, i, k)
      out(i) = UTF8String.fromString(win.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** md5-hex key of every `k`-token window of a token array, in position
    * order (window string = tokens joined by ' ', the concat_ws
    * semantics) — one pass, byte-identical to
    * explode(transform(sequence…, i => md5(concat_ws(' ', slice(w,i,k))))).
    * Shorter docs yield an empty array. Shared by the substring-span and
    * containment index builders (position via posexplode downstream). */
  def windowHashes(words: ArrayData, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = words.numElements()
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val toks = tokenStrings(words)
    val out = new Array[Any](n - k + 1)
    val win = new java.lang.StringBuilder()
    var i = 0
    while (i <= n - k) {
      win.setLength(0)
      appendWindow(win, toks, i, k)
      out(i) = md5Hex(win)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Σ aᵢ·bᵢ over two float arrays in double, index order — identical to
    * aggregate(zip_with(a, b, _*_), 0.0, _+_) on equal-length inputs. */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = Math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    sum
  }
}

/** shingles(text) → array<string>: distinct 3-word shingles in one pass
  * (vs split + transform + slice + concat_ws + array_distinct — five
  * interpreted HOF evaluations). Set-identical to the specs' HOF-chain
  * reference (`References.shinglesLambda`) and the oracle's list
  * comprehension; first-occurrence order preserved. */
case class ShinglesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.shingles3(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingles3($c)")
  override protected def withNewChildInternal(c: Expression): ShinglesExpr = copy(c)
}

/** js_number_string(double) → string: JS String(number) rendering
  * (plain positional in [1e-6, 1e21), integral without decimal point) —
  * full-range parity with JsValues.jsNumberString. */
case class JsNumberStringExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(JsValues.jsNumberString(v.asInstanceOf[Double]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.JsValues.jsNumberString($c))")
  override protected def withNewChildInternal(c: Expression): JsNumberStringExpr =
    copy(c)
}

/** json_escape(string) → string: the body of JSON.stringify(s) — the
  * one JSON string escaper ([[JsValues.jsonEscape]]), codegen'd as a
  * static kernel call. */
case class JsonEscapeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    JsValues.jsonEscape(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.JsValues.jsonEscape($c)")
  override protected def withNewChildInternal(c: Expression): JsonEscapeExpr =
    copy(c)
}

/** nfc_norm(string) → string: Unicode NFC canonical composition,
  * codegen'd; ASCII input passes through without allocation. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    Kernels.nfc(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.nfc($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalizeExpr =
    copy(c)
}

/** weak_hash(string) → long, codegen'd via a static kernel call. */
case class WeakHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Kernels.weakHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.weakHash($c)")
  override protected def withNewChildInternal(c: Expression): WeakHashExpr = copy(c)
}

/** cdc_chunk_keys(array<string>) → array<string>: the whole CDC chunker
  * (rolling window hash → boundary split → per-chunk md5 key) as ONE
  * codegen'd pass over the token array — chunking is doc-local, so no
  * relational machinery (explode / window / regroup) belongs in it. */
case class CdcChunkKeysExpr(child: Expression, windowTokens: Int,
    boundaryMod: Long) extends UnaryExpression {
  require(windowTokens > 0, s"windowTokens must be positive (got $windowTokens)")
  require(boundaryMod > 0, s"boundaryMod must be positive (got $boundaryMod)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.cdcChunkKeys(v.asInstanceOf[ArrayData], windowTokens, boundaryMod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.cdcChunkKeys($c, $windowTokens, ${boundaryMod}L)")
  override protected def withNewChildInternal(c: Expression): CdcChunkKeysExpr =
    copy(child = c)
}

/** simhash_sig(array<string>, nBits) → long: the whole sign-projection
  * signature in one codegen'd pass over the token array — the relational
  * formulation paid 60 interpreted conditional evaluations per TOKEN ROW
  * plus an explode + per-doc aggregation for a value that is a pure
  * function of the document. */
case class SimhashSigExpr(child: Expression, nBits: Int)
    extends UnaryExpression {
  // lower bound too: a non-positive literal (reachable via SQL) would
  // otherwise surface as a per-row NegativeArraySizeException at
  // execution instead of a named error at plan time (round-10 ADVICE)
  require(nBits > 0 && nBits <= 60,
    s"nBits must be in [1, 60] — the signature must stay positive in " +
      s"int64 (got $nBits)")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Kernels.simhashSig(v.asInstanceOf[ArrayData], nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhashSig($c, $nBits)")
  override protected def withNewChildInternal(c: Expression): SimhashSigExpr =
    copy(child = c)
}

/** window_strings(array<string>, k) → array<string>: the joined string of
  * every k-token window, one codegen'd pass (vs an interpreted
  * transform + sequence + slice + concat_ws lambda chain per window) —
  * the n-gram (bigram) builder for the cosine index and the LM tables. */
case class WindowStringsExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, s"window width must be positive (got $k)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.windowStrings(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.windowStrings($c, $k)")
  override protected def withNewChildInternal(c: Expression): WindowStringsExpr =
    copy(child = c)
}

/** window_hashes(array<string>, k) → array<string>: md5 key per k-token
  * window, one codegen'd pass (vs an interpreted md5 + concat_ws + slice
  * lambda per window). */
case class WindowHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, s"window width must be positive (got $k)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.windowHashes(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.windowHashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): WindowHashesExpr =
    copy(child = c)
}

/** dot_ff(array<float>, array<float>) → double, codegen'd. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dotFF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
}

object NativeFunctions {
  import org.apache.spark.sql.graft.ColumnBridge

  def weak_hash(c: Column): Column =
    ColumnBridge.column(WeakHashExpr(ColumnBridge.expression(c)))
  def nfc_norm(c: Column): Column =
    ColumnBridge.column(NfcNormalizeExpr(ColumnBridge.expression(c)))
  def dot_ff(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** SQL-side integer parameter of a kernel expression — the kernels take
    * Scala construction parameters (band width, window size, modulus), so
    * their SQL forms require foldable integer literals. Long-typed
    * literals are accepted for Int parameters only when they fit (a
    * silent toInt would wrap a >32-bit value into a wrong — or zero —
    * parameter). */
  private def longLit(e: Expression, fn: String, arg: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = {
    val v = longLit(e, fn, arg)
    require(v >= Int.MinValue && v <= Int.MaxValue,
      s"$fn: $arg must fit in a 32-bit integer literal, got $v")
    v.toInt
  }

  /** Arity guard for the SQL builders: a short argument list must fail
    * with the function name and expected signature, not a raw
    * IndexOutOfBoundsException from exprs(i) (round-10 ADVICE). */
  private def requireArity(exprs: Seq[Expression], fn: String,
      min: Int, max: Int, signature: String): Unit =
    if (exprs.length < min || exprs.length > max)
      throw new IllegalArgumentException(
        s"$fn expects $signature — got ${exprs.length} argument(s)")

  private[functions] def simhashSigFromSql(exprs: Seq[Expression]): Expression = {
    requireArity(exprs, "graft_simhash_sig", 1, 2, "(tokens[, nBits])")
    SimhashSigExpr(exprs.head,
      if (exprs.length > 1) intLit(exprs(1), "graft_simhash_sig", "nBits")
      else 60)
  }
  private[functions] def windowHashesFromSql(exprs: Seq[Expression]): Expression = {
    requireArity(exprs, "graft_window_hashes", 2, 2, "(tokens, k)")
    WindowHashesExpr(exprs.head,
      intLit(exprs(1), "graft_window_hashes", "k"))
  }
  private[functions] def windowStringsFromSql(exprs: Seq[Expression]): Expression = {
    requireArity(exprs, "graft_window_strings", 2, 2, "(tokens, k)")
    WindowStringsExpr(exprs.head,
      intLit(exprs(1), "graft_window_strings", "k"))
  }
  private[functions] def cdcChunkKeysFromSql(exprs: Seq[Expression]): Expression = {
    requireArity(exprs, "graft_cdc_chunk_keys", 3, 3,
      "(tokens, windowTokens, boundaryMod)")
    CdcChunkKeysExpr(exprs.head,
      intLit(exprs(1), "graft_cdc_chunk_keys", "windowTokens"),
      longLit(exprs(2), "graft_cdc_chunk_keys", "boundaryMod"))
  }
}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_weak_hash"),
      new ExpressionInfo(classOf[WeakHashExpr].getName, "graft_weak_hash"),
      (exprs: Seq[Expression]) => WeakHashExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProductExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalizeExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (exprs: Seq[Expression]) => ShinglesExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_simhash_sig"),
      new ExpressionInfo(classOf[SimhashSigExpr].getName, "graft_simhash_sig"),
      NativeFunctions.simhashSigFromSql _))
    e.injectFunction((
      FunctionIdentifier("graft_window_hashes"),
      new ExpressionInfo(classOf[WindowHashesExpr].getName, "graft_window_hashes"),
      NativeFunctions.windowHashesFromSql _))
    e.injectFunction((
      FunctionIdentifier("graft_window_strings"),
      new ExpressionInfo(classOf[WindowStringsExpr].getName, "graft_window_strings"),
      NativeFunctions.windowStringsFromSql _))
    e.injectFunction((
      FunctionIdentifier("graft_cdc_chunk_keys"),
      new ExpressionInfo(classOf[CdcChunkKeysExpr].getName, "graft_cdc_chunk_keys"),
      NativeFunctions.cdcChunkKeysFromSql _))
    // whole-operator extension: plans graft.plans.AsOfJoinPlan (the native
    // as-of join); AsOfJoin.asof refuses a session without it
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOf)
  }
}
