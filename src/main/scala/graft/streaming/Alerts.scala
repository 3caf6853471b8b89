package graft.streaming

import graft.catalog.MetadataCatalog
import graft.functions.Coerce
import graft.model.DataPair
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, map_entries}
import org.apache.spark.sql.streaming.GroupState

/** G1 — the Apiary alert channel with blacklist dedup
  * (app/mapper.js:429-489), as a keyed stateful streaming op.
  *
  * Reference semantics: at most one alert per sensor while blacklisted; a
  * "resolve" once the discrepancy clears. (The reference also emits
  * resolves for cold-cache false discrepancies — an artifact of its async
  * cache refresh with no analogue here: statuses are derived INSIDE the
  * dataflow micro-batch against that batch's freshly-read catalog — see
  * StreamPipeline.start — so the alert path is never stale either.
  * See SURVEY.md §3.2.)
  *
  * Status derivation is MAP-ONLY (per-record catalog probe + coercion via
  * the pure-Scala coercion twin — exactly the reference's invalid_keys /
  * coerce_types pair, app/mapper.js:192-243/411-419), so the blacklist
  * `flatMapGroupsWithState` is the only stateful operator in the query —
  * a requirement for chaining legality in Structured Streaming, and the
  * scale-correct shape: the catalog is a broadcast-sized Map, the status
  * pass is embarrassingly parallel.
  */
object Alerts {

  /** Per-observation status row feeding the stateful op. */
  case class ObsStatus(
      sensor: String,
      network: String,
      alertType: String, // does_not_exist | invalid_key | null (clean)
      messages: Seq[String])

  /** Status-derivation input: data pairs carried as an ORDERED seq (array
    * survives the Dataset encoder in document order; a Map does not). */
  case class ObsPairs(network: String, sensor: String, data: Seq[DataPair])

  /** Emitted alert-channel event (the HTTP POST payload analogue). */
  case class AlertEvent(sensor: String, kind: String, messages: Seq[String])

  /** Blacklist state per sensor. */
  case class SensorState(blacklisted: Boolean)

  /** Reference message synthesis (app/mapper.js:431-453), exact strings —
    * including the reference's missing space before "from network". */
  def doesNotExistMsg(sensor: String, network: String): String =
    s"Sensor $sensor not found in sensor metadata for network $network. " +
      "Please add this sensor."

  def unknownKeysMsg(sensor: String, keys: Seq[String], network: String): String =
    s"Received data from sensor $sensor with unknown key(s) ${keys.mkString(",")}" +
      s"from network $network. Please update the keys and properties in this " +
      "sensors metadata."

  def coercionMsg(sensor: String, property: String, ptype: String,
      value: String, jstype: String): String =
    s"Property $property of sensor $sensor expected type $ptype and could " +
      s"not correctly coerce value $value of type $jstype"

  type SensorIndex = Map[String, Map[String, MetadataCatalog.Mapping]]

  def sensorIndex(catalog: MetadataCatalog): SensorIndex =
    // registered sensors with zero mappings get an EMPTY entry (present in
    // the index ⇒ invalid_key semantics, not does_not_exist)
    catalog.sensors.map(_ -> Map.empty[String, MetadataCatalog.Mapping]).toMap ++
      catalog.mappings.groupBy(_.sensor)
        .map { case (s, ms) => s -> ms.map(m => m.key -> m).toMap }

  /** Per-record status: the reference's parse_data discrepancy check
    * (invalid_keys ∪ coercion errors ∪ unknown sensor) in one pass over a
    * prebuilt (broadcast-sized) sensor index. */
  def statusOf(obs: ObsPairs, index: SensorIndex): ObsStatus = {
    val sensor = Option(obs.sensor).map(_.toLowerCase).getOrElse("")
    val mappings = index.get(sensor) match {
      case None =>
        return ObsStatus(sensor, obs.network, "does_not_exist",
          Seq(doesNotExistMsg(sensor, obs.network)))
      case Some(m) => m
    }
    // normalized keys fold last-wins like the dataflow path's LAST_WIN
    // (and the reference's JS assignment, mapper.js:63-68) — without the
    // fold this path could flag an observation the dataflow routes clean.
    // obs.data is an ordered Seq, so insertion order IS document order and
    // message key order / duplicate-key winners match the reference.
    val folded = new scala.collection.mutable.LinkedHashMap[String, graft.model.TaggedScalar]
    obs.data.foreach(p => folded.put(p.key.toLowerCase, p.value))
    val entries = folded.toSeq
    val unknown = entries.collect {
      case (k, _) if !mappings.contains(k) => k }
    val coercionErrs = entries.flatMap { case (k, v) =>
      mappings.get(k).flatMap { m =>
        val (_, err) = Coerce.coerceScala(v.lex, v.jstype, m.ptype)
        if (err) Some(coercionMsg(sensor, m.property, m.ptype, v.lex, v.jstype))
        else None
      }
    }
    if (unknown.nonEmpty || coercionErrs.nonEmpty) {
      val msgs =
        (if (unknown.nonEmpty) Seq(unknownKeysMsg(sensor, unknown, obs.network))
        else Nil) ++ coercionErrs
      ObsStatus(sensor, obs.network, "invalid_key", msgs)
    } else ObsStatus(sensor, obs.network, null, Nil)
  }

  /** Map-only status derivation over an observation relation (map-typed
    * `data` column). map_entries preserves the stored (document) order and
    * the array encoder keeps it — unlike a Map field, whose deserialized
    * HashMap scrambles key order for >4 entries. */
  def observationStatuses(observations: DataFrame,
      catalog: MetadataCatalog): Dataset[ObsStatus] = {
    val spark = observations.sparkSession
    import spark.implicits._
    val index = sensorIndex(catalog) // tiny, ships in the task closure
    observations
      .select(col("network"), col("sensor"), map_entries(col("data")).as("data"))
      .as[ObsPairs]
      .map(statusOf(_, index))
  }

  /** TTL for blacklist state: a blacklisted sensor that stays SILENT this
    * long is forgotten (its state row dropped), so the state store is
    * bounded by |sensors alerting within the TTL window| — without it,
    * every distinct garbage sensor name on a hostile/dirty stream pins a
    * state row forever. Reference parity: its blacklist is an in-memory
    * object that forgets on every process restart (app/mapper.js:42), so
    * re-alerting after a quiet period is within the reference's own
    * semantics; data arriving keeps the state alive indefinitely. */
  val blacklistTtlMs: Long = 6 * 60 * 60 * 1000L

  /** The blacklist transition: errors first, then cleans. Transitions are
    * BATCH-GRANULAR, not per-event: a micro-batch is folded into at most
    * one alert OR one resolve (clean-then-error while blacklisted emits
    * nothing; error-then-clean emits only the alert) — `ObsStatus`
    * carries no event time, so within-batch sequencing is undefined by
    * construction and the operator deliberately collapses it. This
    * matches the reference's sequential trace exactly for one-observation
    * batches (its consumer processes records one at a time,
    * app/mapper.js:429-489); for multi-observation batches the collapsed
    * semantics are the documented contract. Which error's messages ride
    * the alert (`errors.head`) follows batch arrival order — stable in
    * practice under a single-partition group read, but not a promise;
    * consumers needing a canonical message set should aggregate from the
    * dead-letter sink instead. On TTL expiry the state row is dropped —
    * the sensor re-alerts if it returns still broken. */
  def transition(sensor: String, it: Iterator[ObsStatus],
      state: GroupState[SensorState]): Iterator[AlertEvent] =
    transitionImpl(armTtl = true)(sensor, it, state)

  /** `armTtl = false` skips setTimeoutDuration — REQUIRED under a
    * NoTimeout execution (see alertStream), where arming throws. */
  private def transitionImpl(armTtl: Boolean)(sensor: String,
      it: Iterator[ObsStatus],
      state: GroupState[SensorState]): Iterator[AlertEvent] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val batch = it.toSeq
    val errors = batch.filter(_.alertType != null)
    val cleans = batch.filter(_.alertType == null)
    var blacklisted = state.getOption.exists(_.blacklisted)
    val out = scala.collection.mutable.ArrayBuffer[AlertEvent]()
    if (errors.nonEmpty && !blacklisted) {
      out += AlertEvent(sensor, "alert", errors.head.messages)
      blacklisted = true
    }
    if (cleans.nonEmpty && blacklisted && errors.isEmpty) {
      out += AlertEvent(sensor, "resolve", Nil)
      blacklisted = false
    }
    // only blacklisted=true carries information — removing state for clean
    // sensors bounds the state store by |currently-blacklisted sensors|
    // instead of growing with every sensor name ever seen; the TTL clock
    // re-arms on every batch that touches the sensor
    if (blacklisted) {
      state.update(SensorState(blacklisted))
      if (armTtl) state.setTimeoutDuration(blacklistTtlMs)
    } else state.remove()
    out.iterator
  }

  /** Wire the stateful op over a (streaming or batch) status dataset.
    *
    * `withTtl = true` (the continuously-running production mode) arms
    * ProcessingTimeTimeout so silent blacklisted sensors expire after
    * [[blacklistTtlMs]]. Drain-style executions (Trigger.AvailableNow,
    * plain batch) must pass `withTtl = false`: a processing-time-timeout
    * stateful query has no natural termination point — the engine keeps
    * scheduling batches so expirations can fire — which deadlocks
    * AvailableNow's drain-and-terminate contract (and in batch execution
    * timeouts can never fire anyway, so nothing is lost). The transition
    * function itself is timeout-aware in both modes. */
  def alertStream(statuses: Dataset[ObsStatus],
      withTtl: Boolean = true): Dataset[AlertEvent] = {
    val spark = statuses.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val timeout =
      if (withTtl) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    statuses.groupByKey(_.sensor)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        transitionImpl(armTtl = withTtl))
  }
}
