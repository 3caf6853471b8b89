package graft.model

/** Data model for the sensor-observation engine.
  *
  * The unit of data is the *observation*: a semi-structured record read off a
  * stream, whose `data` field is an open string→scalar map given meaning only
  * by the metadata catalog (reference: app/mapper.js:48-55).
  *
  * Scalars arrive as JSON number / string / boolean / null. The declared type
  * lives in the catalog, not the record, and the reference's coercion
  * semantics (app/mapper.js:192-243) depend on the *JSON* type of the raw
  * value (e.g. `Number(false)` = 0 is a valid float, but the string `"false"`
  * is not). We therefore carry each scalar as a tagged value:
  *
  *   struct<lex: string, jstype: string>
  *
  * where `lex` is the canonical JS string rendering (`String(v)`) and
  * `jstype` ∈ {"string", "number", "boolean", "null"}. This keeps the whole
  * pipeline in native Spark SQL types (no opaque UDTs) so every downstream
  * operator is a plain Catalyst expression.
  */
object Observation {

  /** The observation key columns carried through every stage. */
  val obsCols: Seq[String] = Seq("network", "node_id", "meta_id", "datetime", "sensor")
}

/** Tagged scalar: canonical lexical form + original JSON type. */
case class TaggedScalar(lex: String, jstype: String)

/** One parsed observation (ObservationSource's output, and the fixtures'). */
case class ObservationRow(
    network: String,
    node_id: String,
    meta_id: Long,
    datetime: java.sql.Timestamp,
    sensor: String,
    data: Map[String, TaggedScalar])
