package graft.operators

import graft.catalog.MetadataCatalog
import graft.functions.{Coerce, JsonEscapeExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's whole dataflow (SURVEY.md §2) as composable, purely
  * declarative DataFrame transforms over ONE exploded pair relation:
  *
  *   (network, node_id, meta_id, datetime, sensor,   -- obs identity
  *    pos, key, lex, jstype,                          -- one data pair
  *    feature, property, ptype,                       -- enrichment (J2)
  *    value, error)                                   -- coercion (C4)
  *
  * The reference routes per-PAIR, not per-record (one observation can feed
  * both the feature tables and the dead-letter table, app/mapper.js:250-272,
  * with recursion at :269-271). Set algebra over the pair relation replaces
  * the recursion: `valid` and `misfit` are two filters of the same relation.
  *
  * Scale: the fact side is arbitrarily large; the catalog side is tiny and
  * travels with the tasks as a hash table. The feature (A1), dead-letter
  * (K2) and status (G1) rows share one shuffle, the regroup by observation
  * identity [[byObservation]], as the reference derives all three from one
  * parse of a record (app/mapper.js:250-310, 429-489). No driver collects.
  */
object Pipeline {

  import graft.model.Observation.obsCols

  private val obs: Seq[Column] = obsCols.map(col)

  /** P1 — normalization projection (app/mapper.js:60-68): lowercase node_id,
    * sensor, and every data key (value-preserving key rewrite; duplicate keys
    * after folding resolve last-wins like JS assignment — requires
    * spark.sql.mapKeyDedupPolicy=LAST_WIN, set by Engine). network is NOT
    * lowercased (the reference's comment says it is; the code does not). */
  def normalize(observations: DataFrame): DataFrame =
    observations
      .withColumn("node_id", lower(col("node_id")))
      .withColumn("sensor", lower(col("sensor")))
      .withColumn("data", transform_keys(col("data"), (k, _) => lower(k)))

  /** Explode the data map into the pair relation, preserving insertion order
    * (`pos`) — JS object-key order is semantic for the sinks' output. */
  def explodePairs(observations: DataFrame): DataFrame =
    observations.select(
      obs :+ posexplode_outer(col("data")): _*)
      .select(obs ++ Seq(col("pos"), col("key"),
        col("value.lex").as("lex"), col("value.jstype").as("jstype")): _*)

  /** J1+J2 — the catalog probed per pair ([[MetadataCatalog.lookup]]):
    * attaches (feature, property, ptype); unmatched pairs (unknown sensor or
    * unknown key) keep feature NULL, which IS the validation anti-join
    * result (app/mapper.js:411-419 / 159-179). A projection, so it fuses
    * into the parse stage and builds nothing per batch. */
  def enrich(pairs: DataFrame, catalog: MetadataCatalog): DataFrame =
    pairs.withColumn("catalog", catalog.lookup(col("sensor"), col("key")))
      .select("*", "catalog.*").drop("catalog")

  /** C4 — exact JS coercion (see Coerce): adds value + error columns. */
  def coerce(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("coerced",
        Coerce.coerce(col("lex"), col("jstype"), col("ptype")))
      .select(enriched.columns.toIndexedSeq.map(col) ++
        Seq(col("coerced.value").as("value"), col("coerced.error").as("error")): _*)

  /** R1 — router: a pair is a misfit iff its key has no catalog mapping OR
    * its value failed coercion (app/mapper.js:250-272). */
  def classify(coerced: DataFrame): DataFrame =
    coerced.withColumn("misfit", col("feature").isNull || col("error"))

  def validPairs(classified: DataFrame): DataFrame =
    classified.filter(!col("misfit") && col("key").isNotNull)

  /** Full fused pair relation from raw observations. One pass: normalize →
    * explode → catalog probe → coerce → classify, all in one
    * WholeStageCodegen span. */
  def pairRelation(observations: DataFrame, catalog: MetadataCatalog): DataFrame =
    classify(coerce(enrich(explodePairs(normalize(observations)), catalog)))

  // ---------------------------------------------------------------------------
  // Sink-shaped outputs
  // ---------------------------------------------------------------------------

  /** JSON-escape a string for the dead-letter/event blobs
    * (JSON.stringify parity, see [[graft.functions.JsValues.jsonEscape]]). */
  private def jsonEscape(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(JsonEscapeExpr(ColumnBridge.expression(c)))
  }

  /** Render a pair's ORIGINAL (pre-coercion) value the way JSON.stringify
    * does: numbers/booleans/null bare, strings quoted. (A JSON null under an
    * int/bool-typed property is a misfit pair; stringify emits `"k":null`,
    * not `"k":"null"`.) */
  private def rawJsonValue(p: Column): Column =
    when(p("jstype").isin("number", "boolean", "null"), p("lex"))
      .otherwise(concat(lit("\""), jsonEscape(p("lex")), lit("\"")))

  /** The pair relation grouped by observation identity, its keyed pairs
    * in `pairs` in no defined order (an empty-data observation keeps its
    * row, without posexplode_outer's keyless pair). [[featureRows]],
    * [[deadLetterRows]] and [[graft.streaming.Alerts.statusRows]] project
    * it, each sorting its own struct: that fixes how a `pos` tie breaks. */
  def byObservation(classified: DataFrame): DataFrame =
    classified.groupBy(obs: _*).agg(collect_list(when(col("key").isNotNull,
      struct(Seq("pos", "key", "lex", "jstype", "feature", "property",
        "ptype", "value", "error", "misfit").map(col): _*))).as("pairs"))

  /** K2 — dead-letter rows: one per observation with ≥1 misfit pair; `data`
    * is the JSON of the bad pairs in original key order with original values
    * (app/mapper.js:306-310; golden tests/travis_tests/unit_tests.js:55-71). */
  def misfits(classified: DataFrame): DataFrame =
    deadLetterRows(byObservation(classified))

  /** [[misfits]] as a projection of [[byObservation]]. */
  def deadLetterRows(byObs: DataFrame): DataFrame =
    byObs
      .withColumn("entries", array_sort(transform(
        filter(col("pairs"), _("misfit")), p => struct(p("pos"),
          concat(lit("\""), jsonEscape(p("key")), lit("\":"), rawJsonValue(p))
            .as("kv")))))
      .filter(size(col("entries")) > 0)
      .select(obs :+ concat(lit("{"),
        concat_ws(",", transform(col("entries"), _("kv"))), lit("}"))
        .as("data"): _*)

  /** A1 — unpivot + regroup by feature: one row per (observation × feature)
    * with results = {property → coerced value}, feature order = first
    * appearance (`feature_pos`), property order = key insertion order
    * (app/mapper.js:382-403). `results` carries canonical string renderings;
    * event JSON rendering happens sink-side. */
  def featureObservations(classified: DataFrame): DataFrame =
    featureRows(byObservation(classified))

  /** [[featureObservations]] as a projection of [[byObservation]]. */
  def featureRows(byObs: DataFrame): DataFrame =
    byObs
      .withColumn("valid", filter(col("pairs"), p => !p("misfit")))
      .withColumn("feature",
        explode(array_distinct(transform(col("valid"), _("feature")))))
      // a `pos` tie (rows sharing an identity) falls to property, then
      // value, which fixes the value LAST_WIN keeps
      .withColumn("entries", array_sort(transform(
        filter(col("valid"), _("feature") === col("feature")),
        p => struct(p("pos"), p("property"), p("value"), p("jstype"),
          p("ptype")))))
      .select(obs ++ Seq(col("feature"),
        element_at(col("entries"), 1)("pos").as("feature_pos"),
        map_from_entries(transform(col("entries"),
          e => struct(e("property"), e("value")))).as("results")): _*)

  /** Literal (feature, property) -> declared-type lookup map, NUL-separated
    * compound key (NUL cannot occur in catalog identifiers). Shared by the
    * event JSON renderer and the SQL-text sink (SqlText). */
  def ptypeMap(catalog: MetadataCatalog): Column =
    map(catalog.featureProps.flatMap(p =>
      Seq(lit(p.feature + "\u0000" + p.property), lit(p.ptype))): _*)

  /** K3 — publisher event payloads: exact JSON the reference emits
    * (feature, node, sensor, datetime, network, results) with coerced values
    * typed (numbers bare, bools bare, strings quoted). */
  def eventJson(featureObs: DataFrame, catalog: MetadataCatalog): DataFrame = {
    // re-derive bare-vs-quoted from the declared type of each property
    val typesMap = ptypeMap(catalog)
    featureObs.withColumn("event_json",
      concat(
        lit("{\"feature\":\""), col("feature"),
        lit("\",\"node\":\""), col("node_id"),
        lit("\",\"sensor\":\""), col("sensor"),
        lit("\",\"datetime\":\""), date_format(col("datetime"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        lit("\",\"network\":\""), col("network"),
        lit("\",\"results\":{"),
        concat_ws(",", transform(map_entries(col("results")), e =>
          concat(lit("\""), e.getField("key"), lit("\":"),
            when(element_at(typesMap,
                concat(col("feature"), lit("\u0000"), e.getField("key")))
                .isin("varchar", "string"),
              concat(lit("\""), jsonEscape(e.getField("value")), lit("\"")))
              .otherwise(e.getField("value"))))),
        lit("}}")))
  }

  /** K1 off the feature rows: typed wide projection of one feature from
    * [[featureObservations]]' `results` map — a narrow map (element_at per
    * declared property), so every wide table derives from one pass. */
  def widenFromResults(featureObs: DataFrame, catalog: MetadataCatalog,
      feature: String): DataFrame = {
    val props = catalog.propsOf(feature)
    featureObs.filter(col("feature") === feature)
      .select(obs ++ props.map(p =>
        element_at(col("results"), p.property).cast(sparkType(p.ptype))
          .as(p.property)): _*)
      .withColumn("meta_id", col("meta_id").cast("double"))
  }

  /** Declared SQL type → Spark type (sink-side DDL parity:
    * tests/configure_tests.js:79-161 uses VARCHAR/DOUBLE/INT/BOOL columns). */
  def sparkType(ptype: String): String = ptype match {
    case "varchar" | "string" => "string"
    case "integer" | "int" => "int"
    case "float" | "double" | "double precision" => "double"
    case "bool" | "boolean" => "boolean"
    case _ => "string"
  }
}
