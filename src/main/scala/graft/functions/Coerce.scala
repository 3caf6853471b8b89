package graft.functions

import org.apache.spark.sql.Column

/** C4 — the reference's exact type-coercion truth table
  * (app/mapper.js:192-243, pinned by tests/travis_tests/unit_tests.js:257-415)
  * as a native Catalyst expression (codegen'd, no UDF in the hot path).
  *
  * Inputs are the tagged scalar (lex: canonical JS string, jstype: one of
  * string|number|boolean) plus the catalog-declared type. Output is
  * struct<value: string, error: boolean> where `value` is the canonical
  * string rendering of the coerced value (sinks cast it to the declared
  * Spark type; see Widen).
  *
  * Divergences from Spark's `cast` that force a custom expression:
  *  - bool ↤ number accepts ONLY 0/1 (Spark cast: any nonzero → true);
  *  - bool ↤ string accepts '1'/'0'/'true'/'false' (ci) PLUS any lexeme
  *    whose JS Number() is exactly 1 or 0 — the reference's `v == true`
  *    is loose equality, whose ToNumber path admits '1.0', ' 1', '0x1'
  *    (→ true) and '', '0.0', ' 0' (→ false);
  *  - int ↤ "3.9" must truncate like JS parseInt (Spark cast → null);
  *  - float ↤ boolean is 0/1 (JS Number(false)=0) while float ↤ "false"
  *    errors — the JSON type tag, not the lexeme, decides;
  *  - "NaN" and "nan" are NOT valid floats (JS Number('NaN') is NaN ⇒ error
  *    path), while Spark cast parses NaN.
  */
object Coerce {

  /** JS String(number) of a double column — native expression with
    * full-range parity to JsValues.jsNumberString (Java's cast-to-string
    * switches to E-notation at 1e7/1e-3; JS at 1e21/1e-6). */
  def jsNumberStringCol(d: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(JsNumberStringExpr(ColumnBridge.expression(d)))
  }

  /** Full coercion: (lex, jstype, ptype) → struct<value string, error boolean>.
    * `error=true` ⇒ `value` holds nothing useful; the router (R1) sends the
    * ORIGINAL pair to the dead-letter sink. Unknown/null ptype is an error
    * (mapper.js:233-239).
    *
    * Evaluated by the native CoerceExpr (regex-free codegen kernel),
    * spec-pinned value-identical to the specs' pure-Scala reference
    * (`References.coerceScala`). */
  def coerce(lex: Column, jstype: Column, ptype: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(CoerceExpr(
      ColumnBridge.expression(lex),
      ColumnBridge.expression(jstype),
      ColumnBridge.expression(ptype)))
  }
}
