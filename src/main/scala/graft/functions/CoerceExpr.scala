package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** C4 as a native Catalyst expression (SURVEY.md §4: "a Catalyst
  * `Expression` with codegen is the performance-clean version").
  *
  * (lex, jstype, ptype) → struct<value string, error boolean>, with the
  * exact JS truth table of the reference (app/mapper.js:192-243). The
  * kernel is regex-free (manual scans, no regexp evaluation per value)
  * and value-identical to the specs' `References.coerceScala` — pinned by
  * CoerceSpec's truth table and property spec.
  *
  * Never null-out: a null/missing declared type is a coercion ERROR row
  * (struct(null, true)), not a null struct — the router depends on it.
  */
case class CoerceExpr(lex: Expression, jstype: Expression, ptype: Expression)
    extends TernaryExpression {

  override def first: Expression = lex
  override def second: Expression = jstype
  override def third: Expression = ptype
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("value", StringType, nullable = true),
    StructField("error", BooleanType, nullable = false)))

  override def eval(input: InternalRow): Any =
    CoerceKernel.coerceRow(
      lex.eval(input).asInstanceOf[UTF8String],
      jstype.eval(input).asInstanceOf[UTF8String],
      ptype.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = lex.genCode(ctx)
    val j = jstype.genCode(ctx)
    val p = ptype.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(
      code = code"""
        ${l.code}
        ${j.code}
        ${p.code}
        $row ${ev.value} = graft.functions.CoerceKernel.coerceRow(
          ${l.isNull} ? null : ${l.value},
          ${j.isNull} ? null : ${j.value},
          ${p.isNull} ? null : ${p.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CoerceExpr = copy(f, s, t)
}

/** Static kernel (codegen-callable). Regex-free reimplementation of the JS
  * semantics; must stay value-identical to the specs'
  * `References.coerceScala`. */
object CoerceKernel {

  private val ERROR = InternalRow(null, true)

  def coerceRow(lex: UTF8String, jstype: UTF8String, ptype: UTF8String): InternalRow = {
    if (ptype == null) return ERROR
    val pt = ptype.toString.toLowerCase
    val l = if (lex == null) null else lex.toString
    val jt = if (jstype == null) "string" else jstype.toString
    pt match {
      case "varchar" | "string" =>
        InternalRow(if (l == null) null else UTF8String.fromString(l), false)
      case "integer" | "int" =>
        if (l == null) ERROR
        else JsValues.jsParseInt(l) match {
          case Some(v) => InternalRow(UTF8String.fromString(v.toString), false)
          case None => ERROR
        }
      case "float" | "double" | "double precision" =>
        if (l == null) ERROR
        else {
          val parsed = jt match {
            case "number" => try Some(l.toDouble) catch { case _: Exception => None }
            case "boolean" => Some(if (l == "true") 1.0 else 0.0)
            case "null" => Some(0.0) // JS Number(null) = 0
            case _ => numberJs(l)
          }
          parsed match {
            case Some(d) =>
              InternalRow(UTF8String.fromString(JsValues.jsNumberString(d)), false)
            case None => ERROR
          }
        }
      case "bool" | "boolean" =>
        if (l == null) ERROR
        else {
          val b: Option[Boolean] = jt match {
            case "boolean" => Some(l == "true")
            case "number" =>
              val d = try l.toDouble catch { case _: Exception => return ERROR }
              if (d == 1.0) Some(true) else if (d == 0.0) Some(false) else None
            case _ =>
              // '1' / ci-'TRUE' / JS loose `v == true` (Number(v) == 1),
              // then the symmetric false set (mapper.js:217-231)
              if (l == "1" || l.equalsIgnoreCase("true") ||
                numberJs(l).contains(1.0)) Some(true)
              else if (l == "0" || l.equalsIgnoreCase("false") ||
                numberJs(l).contains(0.0)) Some(false)
              else None
          }
          b match {
            case Some(v) => InternalRow(UTF8String.fromString(v.toString), false)
            case None => ERROR
          }
        }
      case _ => ERROR
    }
  }

  /** JS Number(string), regex-free scan: trim; "" → 0; Infinity forms;
    * hex ints; decimal/exponent floats; else NaN. */
  def numberJs(s0: String): Option[Double] = {
    val s = s0.trim
    if (s.isEmpty) return Some(0.0)
    if (s == "Infinity" || s == "+Infinity") return Some(Double.PositiveInfinity)
    if (s == "-Infinity") return Some(Double.NegativeInfinity)
    var i = 0
    val n = s.length
    // hex: only UNSIGNED is valid (JS Number('-0x10') is NaN)
    if (n > 1 && s.charAt(0) == '0' &&
        (s.charAt(1) == 'x' || s.charAt(1) == 'X')) {
      var j = 2
      if (j >= n) return None
      var v = BigInt(0)
      while (j < n) {
        val d = Character.digit(s.charAt(j), 16)
        if (d < 0) return None
        v = v * 16 + d
        j += 1
      }
      return Some(v.toDouble)
    }
    if (s.charAt(0) == '+' || s.charAt(0) == '-') i = 1
    // decimal float: digits [.digits] [e[+-]digits] | .digits [exp]
    var j = i
    var intDigits = 0
    while (j < n && s.charAt(j).isDigit) { j += 1; intDigits += 1 }
    var fracDigits = 0
    if (j < n && s.charAt(j) == '.') {
      j += 1
      while (j < n && s.charAt(j).isDigit) { j += 1; fracDigits += 1 }
    }
    if (intDigits == 0 && fracDigits == 0) return None
    if (j < n && (s.charAt(j) == 'e' || s.charAt(j) == 'E')) {
      j += 1
      if (j < n && (s.charAt(j) == '+' || s.charAt(j) == '-')) j += 1
      var expDigits = 0
      while (j < n && s.charAt(j).isDigit) { j += 1; expDigits += 1 }
      if (expDigits == 0) return None
    }
    if (j != n) return None
    try Some(java.lang.Double.parseDouble(s)) catch { case _: Exception => None }
  }
}
