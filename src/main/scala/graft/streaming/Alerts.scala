package graft.streaming

import graft.catalog.MetadataCatalog
import graft.functions.Coerce
import graft.model.DataPair
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, map_entries}
import scala.math.Ordering.Implicits._

/** G1 — the Apiary alert channel with blacklist dedup
  * (app/mapper.js:429-489), as one step of the dataflow micro-batch.
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
  * coerce_types pair, app/mapper.js:192-243/411-419): the catalog is a
  * broadcast-sized Map, the status pass is embarrassingly parallel. The
  * blacklist is a small `(sensor, lastSeenMs)` table of the sensors that
  * alerted and have not resolved; [[step]] cogroups one batch's statuses
  * with it by sensor and applies the pure [[transition]] — the alarm
  * verification of the alarm-verification-on-streams paper (EDBT 2018,
  * PAPERS.md) done inline, as the reference's consumer does it.
  */
object Alerts {

  /** Per-observation status row feeding the blacklist. */
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

  /** Blacklist state row: a sensor that alerted and has not resolved,
    * with the batch time at which it was last seen broken. */
  case class Blacklisted(sensor: String, lastSeenMs: Long)

  /** One sensor's outcome of a batch: the event it emits, if any, and its
    * state row, if it stays blacklisted. */
  case class Step(event: Option[AlertEvent], state: Option[Blacklisted])

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
    * long is forgotten, so the state table is bounded by |sensors alerting
    * within the TTL window| — without it, every distinct garbage sensor
    * name on a hostile/dirty stream pins a state row forever. The TTL is
    * lazy: at a batch's time an older row counts as absent and is not
    * written back, so no timer and no no-data batch is needed. Reference
    * parity: its blacklist is an in-memory object that forgets on every
    * process restart (app/mapper.js:42), so re-alerting after a quiet
    * period is within the reference's own semantics; data arriving keeps
    * the state alive indefinitely. */
  val blacklistTtlMs: Long = 6 * 60 * 60 * 1000L

  /** The blacklist transition of one sensor over one batch, from its prior
    * state (`lastSeenMs`, if blacklisted) to its event and new state.
    * Transitions are BATCH-GRANULAR, not per-event: a micro-batch is
    * folded into at most one alert OR one resolve (clean-then-error while
    * blacklisted emits nothing; error-then-clean emits only the alert) —
    * `ObsStatus` carries no event time, so within-batch sequencing is
    * undefined by construction and the step deliberately collapses it.
    * This matches the reference's sequential trace exactly for
    * one-observation batches (its consumer processes records one at a
    * time, app/mapper.js:429-489); for multi-observation batches the
    * collapsed semantics are the documented contract. Only the
    * [[decisive]] status counts, so the alert's messages do not depend on
    * the order in which the batch's statuses arrive. */
  def transition(sensor: String, statuses: Seq[ObsStatus],
      lastSeenMs: Option[Long], nowMs: Long): (Option[AlertEvent], Option[Long]) = {
    val blacklisted = lastSeenMs.exists(nowMs - _ <= blacklistTtlMs)
    statuses.reduceOption(decisive) match {
      case Some(error) if error.alertType != null =>
        val alert =
          if (blacklisted) None
          else Some(AlertEvent(sensor, "alert", error.messages))
        (alert, Some(nowMs))
      case Some(_) if blacklisted =>
        (Some(AlertEvent(sensor, "resolve", Nil)), None)
      // an untouched row lives on until its TTL; a clean sensor has no row
      case _ => (None, lastSeenMs.filter(_ => blacklisted))
    }
  }

  /** Of two statuses of one sensor, the one that decides its transition:
    * an error over a clean one, and of two errors the one with the
    * smaller messages. Associative and commutative, so it reduces a
    * batch's statuses map-side in any order. */
  private def decisive(a: ObsStatus, b: ObsStatus): ObsStatus =
    if (a.alertType == null) b
    else if (b.alertType == null || a.messages <= b.messages) a
    else b

  /** One batch of the blacklist: the batch's statuses, reduced to the
    * [[decisive]] one per sensor, cogrouped by sensor with the prior state
    * table; one [[Step]] per sensor in either. One partition: after the
    * map-side reduce it holds one row per sensor. An RDD cogroup runs both
    * shuffles inside the first job that reads the steps, and later jobs
    * over the same steps reuse its shuffle output; the Dataset cogroup
    * would plan each side's exchange as its own job on every read. */
  def step(statuses: Dataset[ObsStatus], blacklist: Dataset[Blacklisted],
      nowMs: Long): RDD[Step] = {
    val bySensor = new HashPartitioner(1)
    statuses.rdd.keyBy(_.sensor).reduceByKey(bySensor, decisive _)
      .cogroup(blacklist.rdd.keyBy(_.sensor), bySensor)
      .map { case (sensor, (ss, bs)) =>
        val (event, lastSeen) = transition(sensor, ss.toSeq,
          bs.headOption.map(_.lastSeenMs), nowMs)
        Step(event, lastSeen.map(Blacklisted(sensor, _)))
      }
  }
}
