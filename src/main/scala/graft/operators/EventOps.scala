package graft.operators

import graft.functions.Coerce
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 operator inventory restated over the driver testdata's
  * `events` table (event_id, ts, user_id, event_type, value, props-json) —
  * one entry per reference operator, each with a DuckDB oracle in
  * SparkEntry.oracleSql. The `events` stream is the observation analogue:
  * props is the open JSON payload, event_type the catalog key.
  *
  * Scale notes: every query here is a scan → (broadcast join) → hash agg
  * shape — no shuffle beyond the final keyed aggregation, catalog joins are
  * broadcast, filters/projections reach the parquet scan.
  */
object EventOps {

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.parquet has shipped with two physical layouts for ts —
      // INT64 TIMESTAMP(NANOS) (earlier drops; Spark reads it as long
      // under the legacy conf Engine.builder sets, floor-divided to
      // micros exactly like DuckDB's ns → µs truncation) and
      // TIMESTAMP(MICROS, naive) (current drops; inferred TIMESTAMP_NTZ).
      // Adapt on the MEASURED column type so both layouts surface the
      // identical session-TZ (UTC) timestamp the oracle sees.
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // naive wall time == UTC instant under the fixed UTC session TZ
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The derived event catalog (J2 build side): event_type → feature.property.
    * 'error' is intentionally absent from the *validation* catalog so J1's
    * anti-join has a non-empty result, mirroring unknown data keys. */
  val enrichCatalog: Seq[(String, String)] = Seq(
    "click" -> "engagement.clicks",
    "view" -> "engagement.views",
    "purchase" -> "commerce.purchases",
    "signup" -> "growth.signups",
    "error" -> "reliability.errors")

  val validCatalog: Seq[(String, String)] = enrichCatalog.filterNot(_._1 == "error")

  /** S2 — JSON parse + malformed filter: from_json PERMISSIVE, keep parsed. */
  def s2Parse(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    ev.select(col("event_id"),
        from_json(col("props"), MapType(StringType, StringType)).as("m"))
      .filter(col("m").isNotNull)
      .select(col("event_id"), element_at(col("m"), "k").cast("long").as("k"))
  }

  /** P1 — normalization projection (case-folding identifiers). */
  def p1Normalize(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events").select(col("event_id"),
      lower(col("event_type")).as("etype"))

  /** J1 — validation anti-join: events whose type has no catalog mapping. */
  def j1Validate(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val cat = broadcast(validCatalog.toDF("c_event_type", "fp"))
    tbl(spark, dir, "events")
      .join(cat, col("event_type") === col("c_event_type"), "left_anti")
      .select("event_id", "event_type")
  }

  /** J2 — broadcast enrichment join + feature.property split. */
  def j2Enrich(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val cat = broadcast(enrichCatalog.toDF("c_event_type", "fp"))
    tbl(spark, dir, "events")
      .join(cat, col("event_type") === col("c_event_type"))
      .select(col("event_id"), col("event_type"),
        substring_index(col("fp"), ".", 1).as("feature"),
        expr("substring(fp, instr(fp, '.') + 1)").as("property"))
  }

  /** C4 — coercion through the real truth-table operator (Coerce.coerce):
    * props.k (a JSON number) → integer and bool; `value` → parseInt
    * truncation. bool accepts only 0/1 — everything else errors. */
  def c4Coerce(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val k = get_json_object(col("props"), "$.k")
    val kInt = Coerce.coerce(k, lit("number"), lit("integer"))
    val kBool = Coerce.coerce(k, lit("number"), lit("bool"))
    val vInt = Coerce.coerce(Coerce.jsNumberStringCol(col("value")),
      lit("number"), lit("integer"))
    ev.select(
      col("event_id"),
      k.cast("long").as("k"),
      kInt.getField("value").cast("long").as("int_k"),
      when(!kBool.getField("error"), kBool.getField("value") === "true")
        .otherwise(lit(null).cast("boolean")).as("bool_k"),
      kBool.getField("error").as("bool_err"),
      vInt.getField("value").cast("long").as("int_value"))
  }

  /** R1 — router split: valid vs misfit pair counts per event_type, where
    * validity = the bool coercion of k succeeding (k ∈ {0,1}). */
  def r1Route(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val k = get_json_object(col("props"), "$.k").cast("long")
    ev.select(col("event_type"), Coerce.coerce(k.cast("string"), lit("number"),
        lit("bool")).getField("error").as("err"))
      .groupBy("event_type")
      .agg(sum(when(!col("err"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("err"), 1L).otherwise(0L)).as("n_misfit"))
  }

  /** A1 — unpivot + regroup (1 row → N rows generator, then per-record
    * regroup), restated over lineitem's measure columns. */
  def a1Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    // stack() generates rows without building an intermediate map per input
    // row (same relation as posexplode(map(...)), codegen-friendlier)
    li.select(col("l_orderkey"), col("l_linenumber"),
        expr("stack(3, 'quantity', l_quantity, 'discount', l_discount, " +
          "'tax', l_tax) AS (key, value)"))
      .filter(col("value") > 0.02)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n_props"),
        // exact integer cents: sums of 2-decimal data are recovered to the
        // integer grid so both engines produce identical values (see
        // Determinism note in SparkEntry)
        round(sum(col("value")) * 100, 0).cast("long").as("sum_props_c"))
  }

  /** K1 — pivot-to-wide: per-user event-type counts (catalog-driven column
    * set, absent combinations as 0 like NULL-filled wide columns). */
  def k1Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = tbl(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(wide)((df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L))))
  }

  /** K2 — dead-letter rows: misfit events serialized as a canonical JSON
    * blob of the offending pair. */
  def k2DeadLetter(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val k = get_json_object(col("props"), "$.k").cast("long")
    ev.select(col("event_id"), k.as("k"))
      .filter(col("k") =!= 0 && col("k") =!= 1)
      .select(col("event_id"),
        concat(lit("{\"k\":"), col("k").cast("string"), lit("}")).as("data"))
  }

  /** G1 — alert dedup: first error occurrence per user (the batch analogue
    * of the blacklist's at-most-once alert per sensor). */
  def g1AlertDedup(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .filter(col("event_type") === "error")
      .groupBy("user_id")
      .agg(min(col("ts")).as("first_error_ts"), count(lit(1)).as("n_errors"))

  /** The FULL observation pipeline (P1→J1/J2→C4→R1) over events viewed as
    * observations — normalize, explode, broadcast-enrich, coerce, classify —
    * emitting the valid pair relation. This runs the exact production
    * dataflow (graft.operators.Pipeline) on driver data at bench scale,
    * oracle-checked. */
  /** Events viewed as tagged observations (the flagship's input). */
  def eventsAsObservations(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Coerce
    tbl(spark, dir, "events").select(
      lit("events_network").as("network"),
      col("user_id").cast("string").as("node_id"),
      col("event_id").as("meta_id"),
      col("ts").as("datetime"),
      col("event_type").as("sensor"),
      map(
        lit("k"), struct(get_json_object(col("props"), "$.k").as("lex"),
          lit("number").as("jstype")),
        lit("value"), struct(Coerce.jsNumberStringCol(col("value")).as("lex"),
          lit("number").as("jstype"))).as("data"))
  }

  /** Derived catalog for the events-as-observations view. */
  val eventsCatalog: graft.catalog.MetadataCatalog =
    graft.catalog.MetadataCatalog.fromMaps(
      sensorMap = Seq("click", "view", "purchase", "signup", "error").map {
        t => t -> Map("k" -> s"metrics_$t.k", "value" -> s"metrics_$t.value")
      }.toMap,
      featureMap = Seq("click", "view", "purchase", "signup", "error").map {
        t => s"metrics_$t" -> Seq("k" -> "integer", "value" -> "float")
      }.toMap)

  def pipelinePairs(spark: SparkSession, dir: String): DataFrame =
    Pipeline.validPairs(Pipeline.pairRelation(
        eventsAsObservations(spark, dir), eventsCatalog))
      .select(col("meta_id"), col("feature"), col("property"), col("value"))

  /** X2 — event-time tumbling window aggregation (Structured Streaming's
    * windowed agg, batch-equivalent restatement). */
  def x2StreamWindow(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")) * 100, 0).cast("long").as("sum_value_c"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value_c"))
}
