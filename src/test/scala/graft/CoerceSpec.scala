package graft

import graft.functions.{Coerce, JsValues}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** C4 truth table — transcribed from the reference's coercion unit tests
  * (tests/travis_tests/unit_tests.js:257-415): 5 observations × the camera
  * feature's 4 types (bool, varchar, integer, float), including every error
  * case, evaluated through the native CoerceExpr.
  */
class CoerceSpec extends SparkSpec {

  // (lex, jstype, ptype) -> expected (value, error)
  val truthTable: Seq[((String, String, String), (String, Boolean))] = Seq(
    // obs1: raw JSON number 1
    (("1", "number", "bool"), ("true", false)),
    (("1", "number", "varchar"), ("1", false)),
    (("1", "number", "integer"), ("1", false)),
    (("1", "number", "float"), ("1", false)),
    // obs2: raw string "0"
    (("0", "string", "bool"), ("false", false)),
    (("0", "string", "varchar"), ("0", false)),
    (("0", "string", "integer"), ("0", false)),
    (("0", "string", "float"), ("0", false)),
    // obs3: raw string "true"
    (("true", "string", "bool"), ("true", false)),
    (("true", "string", "varchar"), ("true", false)),
    (("true", "string", "integer"), (null, true)),
    (("true", "string", "float"), (null, true)),
    // obs4: raw JSON boolean false
    (("false", "boolean", "bool"), ("false", false)),
    (("false", "boolean", "varchar"), ("false", false)),
    (("false", "boolean", "integer"), (null, true)),   // parseInt(false) = NaN
    (("false", "boolean", "float"), ("0", false)),     // Number(false) = 0
    // obs5: raw JSON number 10
    (("10", "number", "bool"), (null, true)),          // only 0/1 accepted
    (("10", "number", "varchar"), ("10", false)),
    (("10", "number", "integer"), ("10", false)),
    (("10", "number", "float"), ("10", false)),
    // extra JS-semantics pins
    (("3.9", "string", "integer"), ("3", false)),      // parseInt("3.9") = 3
    (("3.9", "number", "integer"), ("3", false)),
    (("-3.9", "number", "integer"), ("-3", false)),
    (("37.91", "number", "float"), ("37.91", false)),
    (("NaN", "string", "float"), (null, true)),        // Number('NaN') is NaN
    (("", "string", "float"), ("0", false)),           // Number('') = 0
    (("TRUE", "string", "bool"), ("true", false)),
    (("FaLsE", "string", "bool"), ("false", false)),
    (("t", "string", "bool"), (null, true)),           // Spark cast would accept
    (("yes", "string", "bool"), (null, true)),
    (("2", "string", "bool"), (null, true)),
    (("1.0", "number", "bool"), ("true", false)),      // 1.0 == '1' loosely
    // JS loose equality: `v == true` ToNumber path admits every lexeme with
    // Number(v) == 1, and `v == false` every lexeme with Number(v) == 0
    (("1.0", "string", "bool"), ("true", false)),
    ((" 1", "string", "bool"), ("true", false)),
    (("0x1", "string", "bool"), ("true", false)),
    (("1e0", "string", "bool"), ("true", false)),
    (("", "string", "bool"), ("false", false)),        // Number('') = 0
    ((" ", "string", "bool"), ("false", false)),
    (("0.0", "string", "bool"), ("false", false)),
    ((" 0", "string", "bool"), ("false", false)),
    (("-0", "string", "bool"), ("false", false)),      // -0 == 0
    (("true ", "string", "bool"), (null, true)),       // Number NaN, not ci-TRUE
    (("Infinity", "string", "bool"), (null, true)),
    (("1.5", "string", "bool"), (null, true)),
    // Java-trim parity: tab/newline whitespace trims like String.trim in
    // BOTH formulations (Spark's trim() is space-only)
    (("\t1", "string", "bool"), ("true", false)),
    (("\n0", "string", "bool"), ("false", false)),
    (("\t3.9", "string", "integer"), ("3", false)),
    (("\t42.5", "string", "float"), ("42.5", false)),
    (("cumulonimbus", "string", "varchar"), ("cumulonimbus", false)),
    (("90", "number", "float"), ("90", false)),
    (("high", "string", "float"), (null, true)),
    (("12abc", "string", "integer"), ("12", false)),   // parseInt leading digits
    (("abc", "string", "integer"), (null, true)),
    (("56.77", "number", "unknown_type"), (null, true)),
    (("56.77", "number", null), (null, true)),
    // review regressions: signed hex is NaN for Number(); huge magnitudes
    // saturate deterministically instead of throwing/wrapping
    (("-0x10", "string", "float"), (null, true)),
    (("0x10", "string", "float"), ("16", false)),
    (("-0x10", "string", "integer"), ("-16", false)),  // parseInt DOES take sign
    (("0xFFFFFFFFFFFFFFFFFF", "string", "integer"),
      (Long.MaxValue.toString, false)),
    (("99999999999999999999", "string", "integer"),
      (Long.MaxValue.toString, false)),
    (("-99999999999999999999", "string", "integer"),
      (Long.MinValue.toString, false)),
    (("000", "string", "integer"), ("0", false)),
    // JS String(number) plain-notation range (Java would print E-notation)
    (("12345678.5", "number", "float"), ("12345678.5", false)),
    (("12345678.5", "number", "varchar"), ("12345678.5", false)),
    // JSON null: Number(null)=0, String(null)="null", parseInt/bool error
    (("null", "null", "float"), ("0", false)),
    (("null", "null", "varchar"), ("null", false)),
    (("null", "null", "integer"), (null, true)),
    (("null", "null", "bool"), (null, true)))

  test("coercion truth table (native CoerceExpr)") {
    import spark.implicits._
    val in = truthTable.map { case ((lex, jt, pt), _) => (lex, jt, pt) }
      .toDF("lex", "jstype", "ptype")
    val out = in.select(
        col("lex"), col("jstype"), col("ptype"),
        Coerce.coerce(col("lex"), col("jstype"), col("ptype")).as("c"))
      .select("lex", "jstype", "ptype", "c.value", "c.error")
      .collect()
    out.zip(truthTable).foreach { case (row, ((lex, jt, pt), (ev, ee))) =>
      val gv = row.getString(3)
      val ge = row.getBoolean(4)
      assert(ge === ee, s"error flag for ($lex, $jt, $pt): got ($gv, $ge)")
      if (!ee) assert(gv === ev, s"value for ($lex, $jt, $pt)")
    }
  }

  test("coercion truth table (Scala twin agrees)") {
    truthTable.foreach { case ((lex, jt, pt), (ev, ee)) =>
      val (gv, ge) = References.coerceScala(lex, jt, pt)
      assert(ge === ee, s"scala error flag for ($lex, $jt, $pt)")
      if (!ee) assert(gv === ev, s"scala value for ($lex, $jt, $pt)")
    }
  }

  test("jsNumberString matches JS String(number) on representative values") {
    assert(JsValues.jsNumberString(1.0) === "1")
    assert(JsValues.jsNumberString(37.9) === "37.9")
    assert(JsValues.jsNumberString(-3.0) === "-3")
    assert(JsValues.jsNumberString(0.38) === "0.38")
    assert(JsValues.jsNumberString(90.92) === "90.92")
    assert(JsValues.jsNumberString(1e21) === "1e+21")
    // JS keeps plain notation through [1e-6, 1e21); Java flips at 1e7/1e-3
    assert(JsValues.jsNumberString(12345678.5) === "12345678.5")
    assert(JsValues.jsNumberString(0.0001) === "0.0001")
    assert(JsValues.jsNumberString(-98765432.25) === "-98765432.25")
    assert(JsValues.jsNumberString(1e-7) === "1e-7")
  }

  test("property: coercion is total — every input is coerced or errored") {
    val genCase = for {
      lex0 <- Gen.oneOf(Gen.alphaNumStr, Gen.oneOf("1", "0", "true",
        "false", "3.9", "", "NaN", "Infinity", "-2.5e3", "0x1F", "12abc"))
      jt <- Gen.oneOf("string", "number", "boolean")
      pt <- Gen.oneOf("varchar", "string", "int", "integer", "float",
        "double", "double precision", "bool", "boolean", "mystery")
    } yield (lex0, jt, pt)
    (0 until 500).foreach { i =>
      val (lex0, jt, pt) = genCase.pureApply(Gen.Parameters.default, Seed(i.toLong))
      // numbers/booleans always carry canonical lexemes
      val lex = jt match {
        case "number" => References.jsNumber(lex0).map(JsValues.jsNumberString)
          .getOrElse("1")
        case "boolean" => if (lex0.length % 2 == 0) "true" else "false"
        case _ => lex0
      }
      val (v, e) = References.coerceScala(lex, jt, pt)
      assert(e || v != null) // coerced-or-errored, never dropped
    }
  }

  test("property: native CoerceExpr agrees with Scala twin") {
    import spark.implicits._
    val cases = (for {
      lex <- Seq("1", "0", "true", "false", "TRUE", "3.9", "-3.9", "", " 42 ",
        "abc", "12abc", "0x1F", "Infinity", "-Infinity", "NaN", "1e3", ".5",
        "high", "cumulonimbus", "90.92",
        // JS-loose bool lexemes + non-space whitespace (Java-trim parity)
        "1.0", " 1", "0x1", "1e0", "0.0", " 0", "-0", "\t1", "\n0", "\t3.9", " ")
      jt <- Seq("string", "number", "boolean")
      pt <- Seq("varchar", "integer", "float", "bool", "mystery")
    } yield {
      val l = jt match {
        case "number" => References.jsNumber(lex).filter(d => !d.isNaN)
          .map(JsValues.jsNumberString).getOrElse("7")
        case "boolean" => if (lex.length % 2 == 0) "true" else "false"
        case _ => lex
      }
      (l, jt, pt)
    }).distinct
    val out = cases.toDF("lex", "jstype", "ptype")
      .select(col("lex"), col("jstype"), col("ptype"),
        Coerce.coerce(col("lex"), col("jstype"), col("ptype")).as("c"))
      .select("lex", "jstype", "ptype", "c.value", "c.error").collect()
    out.foreach { r =>
      val (lex, jt, pt) = (r.getString(0), r.getString(1), r.getString(2))
      val (sv, se) = References.coerceScala(lex, jt, pt)
      assert(r.getBoolean(4) === se, s"error mismatch ($lex, $jt, $pt)")
      if (!se) assert(r.getString(3) === sv, s"value mismatch ($lex, $jt, $pt)")
    }
  }
}
