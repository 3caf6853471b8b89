package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** JavaScript-compatible scalar rendering and parsing helpers.
  *
  * The reference engine runs on Node, so its lexical behavior is JS's:
  * `String(v)`, `parseInt(v)`, `Number(v)` (app/mapper.js:192-243). These
  * helpers reproduce the observable subset of those semantics on the JVM.
  */
object JsValues {

  /** JS `String(number)` for a double: shortest round-trip, no trailing
    * ".0" for integral values below 1e21 (JS prints `1`, Java prints "1.0").
    * Exponent formatting edge cases (>=1e21, <1e-6) follow JS closely enough
    * for sensor-range values.
    */
  def jsNumberString(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else if (d == Math.floor(d) && Math.abs(d) < 1e21) {
      // integral: JS drops the decimal point
      val l = d.toLong
      if (l.toDouble == d) l.toString
      else new java.math.BigDecimal(d).toBigInteger.toString
    } else if (Math.abs(d) >= 1e-6 && Math.abs(d) < 1e21) {
      // JS prints plain positional notation in this whole range, while
      // Java switches to E-notation at 1e7 / 1e-3 — expand Java's
      // shortest-round-trip digits positionally and strip trailing zeros.
      val plain = new java.math.BigDecimal(java.lang.Double.toString(d))
        .toPlainString
      if (plain.contains('.')) {
        val stripped = plain.reverse.dropWhile(_ == '0').reverse
        if (stripped.endsWith(".")) stripped.dropRight(1) else stripped
      } else plain
    } else {
      // outside [1e-6, 1e21): JS uses exponent notation "e+"/"e-"
      val s = java.lang.Double.toString(d)
      if (s.contains('E')) {
        val Array(m, e) = s.split('E')
        val mantissa = if (m.endsWith(".0")) m.dropRight(2) else m
        val exp = if (e.startsWith("-")) e else "+" + e
        mantissa + "e" + exp
      } else s
    }
  }

  /** The body of `JSON.stringify(s)` without its quotes: backslash and
    * quote escaped, `\b \f \n \r \t` by name, every other control
    * character below 0x20 as `\u00xx`; everything else, non-ASCII
    * included, verbatim. One pass over the UTF-8 bytes — a multi-byte
    * sequence never contains a byte below 0x80, so bytes can be judged
    * one at a time — and a string with nothing to escape is returned as
    * is, without a copy. */
  def jsonEscape(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var extra = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '"' || b == '\\') extra += 1
      else if (b >= 0 && b < 0x20) extra += (if (EscapeName(b) != 0) 1 else 5)
      i += 1
    }
    if (extra == 0) s
    else {
      val out = new Array[Byte](n + extra)
      var j = 0
      i = 0
      while (i < n) {
        val b = s.getByte(i)
        if (b == '"' || b == '\\') {
          out(j) = Backslash; out(j + 1) = b; j += 2
        } else if (b >= 0 && b < 0x20) {
          val name = EscapeName(b)
          out(j) = Backslash
          if (name != 0) { out(j + 1) = name; j += 2 }
          else {
            System.arraycopy(UnicodePrefix, 0, out, j + 1, 3)
            out(j + 4) = HexDigits(b >> 4); out(j + 5) = HexDigits(b & 0xf)
            j += 6
          }
        } else { out(j) = b; j += 1 }
        i += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  /** [[jsonEscape]] for a JVM string (payload assembly outside an
    * expression); `null` stays `null`. */
  def jsonEscape(s: String): String =
    if (s == null) null else jsonEscape(UTF8String.fromString(s)).toString

  private val Backslash: Byte = '\\'.toByte
  private val UnicodePrefix: Array[Byte] = "u00".getBytes("US-ASCII")
  private val HexDigits: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  /** Control character → the letter of its named JSON escape, or 0. */
  private val EscapeName: Array[Byte] = {
    val a = new Array[Byte](0x20)
    "\b\f\n\r\t".zip("bfnrt").foreach { case (c, l) => a(c) = l.toByte }
    a
  }

  /** JS `parseInt(s)`: trim, optional sign, leading decimal digits; NaN
    * (None here) when no digits. (Radix prefixes beyond base 10 are not in
    * the reference's data surface; parseInt with no radix arg on "0x.." is
    * hex in JS — supported for fidelity.)
    */
  /** Values beyond Long range saturate (JS would return a lossy double;
    * a long-typed engine column cannot carry it — saturation is the
    * deterministic, crash-free choice, applied identically in the Column
    * twin and the codegen kernel). */
  def jsParseInt(s0: String): Option[Long] = {
    val s = s0.trim
    val (sign, rest) =
      if (s.startsWith("-")) (-1L, s.drop(1))
      else if (s.startsWith("+")) (1L, s.drop(1)) else (1L, s)
    if (rest.startsWith("0x") || rest.startsWith("0X")) {
      val hex = rest.drop(2).takeWhile(c => Character.digit(c, 16) >= 0)
      if (hex.isEmpty) None
      else if (hex.dropWhile(_ == '0').length > 15)
        Some(if (sign < 0) Long.MinValue else Long.MaxValue)
      else Some(sign * java.lang.Long.parseLong(hex, 16))
    } else {
      val digits = rest.takeWhile(_.isDigit)
      if (digits.isEmpty) None
      else if (digits.dropWhile(_ == '0').length > 18)
        Some(if (sign < 0) Long.MinValue else Long.MaxValue)
      else Some(sign * java.lang.Long.parseLong(if (digits.forall(_ == '0')) "0" else digits))
    }
  }
}
