package graft

import graft.catalog.MetadataCatalog
import graft.functions.JsValues
import graft.model.Observation.obsCols
import graft.operators.Pipeline
import graft.operators.TextOps.{CdcBoundaryMod, CdcWindowTokens, MOD,
  SimhashBits, SpanSeedTokens, simhashParams, tokens, weakHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference implementations the specs cross-check the shipped kernels
  * against: each re-derives one behaviour of the library from independent
  * machinery (interpreted higher-order functions, a relational groupBy, a
  * regex parser), so a kernel bug diverges from its reference. The library
  * ships one implementation per behaviour; these live only here. */
object References {

  /** HOF-chain formulation of `TextOps.shingles` (built-ins only). */
  def shinglesLambda(text: Column): Column = {
    val w = tokens(text)
    array_distinct(
      when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", slice(w, i, lit(3)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Lambda-expression formulation of `TextOps.weakHash` (interpreted
    * HOFs). */
  def weakHashLambda(s: Column): Column =
    lit(7L) * length(s) +
      lit(31L) * ascii(s) +
      lit(17L) * ascii(substring(s, -1, 1)) +
      aggregate(split(s, ""), lit(0L), (acc, c) => acc + ascii(c))

  /** Lambda-expression formulation of `SimilarityOps.dot`: Σ aᵢ·bᵢ in
    * double, folded in index order. */
  def dotLambda(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** HOF-chain formulation of `TextOps.bigrams` (built-ins only). */
  def bigramsLambda(text: Column): Column = {
    val w = tokens(text)
    // guard: sequence(1, 0) would DESCEND ([1,0]) on a 1-token doc
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", slice(w, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Built-ins formulation of `TextOps.spanWindows` (interpreted md5 +
    * concat_ws + slice lambda per window), for the one-pass
    * [[graft.functions.WindowHashesExpr]] kernel. */
  def spanWindowsLambda(docs: DataFrame): DataFrame = {
    val k = SpanSeedTokens
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - k), i =>
          struct((i + 1).cast("long").as("pos"),
            md5(concat_ws(" ", slice(col("w"), i + 1, lit(k)))).as("h")))).as("ph"))
      .select(col("doc_id"), col("ph.pos").as("pos"), col("ph.h").as("h"))
  }

  /** HOF-fold formulation of the `TextOps.cdcChunkSets` kernel (built-ins
    * only): the fold state is (cur = the growing "_"-joined hash string of
    * the open chunk, out = the closed chunks' md5 keys); a boundary hash
    * closes the open chunk (if any) and opens a new one WITH itself as
    * first member — exactly the running-sum-of-cuts chunk assignment,
    * doc-locally. Interpreted per element (measured 2.4× the query wall
    * at sf0.1), hence the kernel. */
  def cdcChunkSetsLambda(docs: DataFrame): DataFrame = {
    val wk = CdcWindowTokens
    val hvs = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= wk)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("w")) - (wk - 1)), i =>
          weakHash(concat_ws(" ", slice(col("w"), i, lit(wk))))).as("hv"))
    val folded = hvs.select(col("doc_id"),
      aggregate(
        col("hv"),
        struct(lit("").as("cur"), array().cast("array<string>").as("out")),
        (acc, h) => {
          val isCut = pmod(h, lit(CdcBoundaryMod)) === 0
          val hs = h.cast("string")
          val cur = acc.getField("cur")
          val out = acc.getField("out")
          struct(
            when(isCut, hs)
              .otherwise(when(cur === "", hs)
                .otherwise(concat(cur, lit("_"), hs))).as("cur"),
            when(isCut && cur =!= "", array_append(out, cur))
              .otherwise(out).as("out"))
        },
        acc => when(acc.getField("cur") =!= "",
          array_append(acc.getField("out"), acc.getField("cur")))
          .otherwise(acc.getField("out"))).as("chunks"))
    folded.select(col("doc_id"), explode(col("chunks")).as("cs"))
      .select(col("doc_id"), md5(col("cs").cast("binary")).as("ck"))
      .distinct()
  }

  /** Exploded groupBy formulation of `TextOps.simhashSigOf` (built-ins
    * only): same weakHash, same (a·hv + b) mod M sign projection, same
    * duplicate-token counting. */
  def simhashSigOfLambda(docs: DataFrame,
      nBits: Int = SimhashBits): DataFrame = {
    require(nBits <= 60, s"signature must stay positive in int64 (got $nBits)")
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("hv", weakHash(col("t")))
    val bitSums = simhashParams(nBits).zipWithIndex.map { case ((a, b), j) =>
      // 2·h > p avoids a halved threshold's rounding question entirely
      sum(when(((lit(a) * col("hv") + lit(b)) % MOD) * 2 > MOD, 1L)
        .otherwise(-1L)).as(s"b$j")
    }
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("sig"))
  }

  /** Pivot formulation of `Pipeline.widenFromResults` (K1): one
    * (network, feature) wide table straight from the classified pairs —
    * catalog-driven columns (absent properties exist as typed NULLs), obs
    * identity + one column per declared property, cast to the declared
    * Spark type (DDL tests/configure_tests.js:79-161). */
  def widen(classified: DataFrame, catalog: MetadataCatalog,
      feature: String): DataFrame = {
    val props = catalog.propsOf(feature)
    val wide = Pipeline.validPairs(classified)
      .filter(col("feature") === feature)
      .groupBy(obsCols.map(col): _*)
      .pivot("property", props.map(_.property))
      .agg(first(col("value")))
    props.foldLeft(wide) { (df, p) =>
      df.withColumn(p.property,
        col(s"`${p.property}`").cast(Pipeline.sparkType(p.ptype)))
    }.withColumn("meta_id", col("meta_id").cast("double"))
  }

  /** JS `Number(s)` for a string, by regex: trim; "" → 0; decimal/exponent
    * floats; "Infinity"/"-Infinity"; hex integers; else NaN (None). The
    * shipped kernel (`CoerceKernel.numberJs`) scans without a regex. */
  def jsNumber(s0: String): Option[Double] = {
    val s = s0.trim
    if (s.isEmpty) Some(0.0)
    else if (s == "Infinity" || s == "+Infinity") Some(Double.PositiveInfinity)
    else if (s == "-Infinity") Some(Double.NegativeInfinity)
    else if (s.matches("0[xX][0-9a-fA-F]+")) {
      // hex is only valid UNSIGNED in JS: Number('-0x10') is NaN
      Some(BigInt(s.drop(2), 16).toDouble)
    } else if (s.matches("[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?")) {
      Some(java.lang.Double.parseDouble(s))
    } else None
  }

  /** Pure-Scala formulation of `Coerce.coerce` (the native CoerceExpr):
    * the reference's truth table (app/mapper.js:192-243) over the tagged
    * scalar and the declared type → (value, error). */
  def coerceScala(lex: String, jstype: String, ptype: String): (String, Boolean) = {
    if (ptype == null) return (null, true)
    ptype.toLowerCase match {
      case "varchar" | "string" => (lex, false)
      case "integer" | "int" =>
        JsValues.jsParseInt(lex) match {
          case Some(l) => (l.toString, false)
          case None => (null, true)
        }
      case "float" | "double" | "double precision" =>
        val parsed = jstype match {
          case "number" => Some(lex.toDouble)
          case "boolean" => Some(if (lex == "true") 1.0 else 0.0)
          case "null" => Some(0.0) // JS Number(null) = 0
          case _ => jsNumber(lex)
        }
        parsed match {
          case Some(d) => (JsValues.jsNumberString(d), false)
          case None => (null, true)
        }
      case "bool" | "boolean" =>
        val b: Option[Boolean] = jstype match {
          case "boolean" => Some(lex == "true")
          case "number" =>
            val d = lex.toDouble
            if (d == 1.0) Some(true) else if (d == 0.0) Some(false) else None
          case _ =>
            if (lex == "1" || lex.toUpperCase == "TRUE" ||
              jsNumber(lex).contains(1.0)) Some(true)
            else if (lex == "0" || lex.toUpperCase == "FALSE" ||
              jsNumber(lex).contains(0.0)) Some(false)
            else None
        }
        b match {
          case Some(v) => (v.toString, false)
          case None => (null, true)
        }
      case _ => (null, true)
    }
  }
}
