package graft.streaming

import graft.catalog.MetadataCatalog
import graft.operators.Pipeline
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{array_sort, col, filter, struct, transform}
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
  * Statuses project the per-observation relation the sinks read
  * ([[statusRows]]): the reference checks each record's keys and coerces
  * its values once (invalid_keys / coerce_types, app/mapper.js:192-243,
  * 411-419) and feeds that one result to both the router and the alert,
  * and so does this — no second coercion, no second regroup. The
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

  /** One misfit pair of an observation, as [[statusRows]] reads it:
    * `unknown` when its key has no catalog mapping, else a coercion error. */
  case class Misfit(pos: Int, key: String, lex: String, jstype: String,
      property: String, ptype: String, unknown: Boolean)

  /** An observation identity's misfit pairs, in document order. */
  case class ObsMisfits(network: String, sensor: String, misfits: Seq[Misfit])

  /** Per-observation statuses of a pair relation
    * ([[graft.operators.Pipeline.pairRelation]]), one per identity. */
  def statusesOf(classified: DataFrame,
      catalog: MetadataCatalog): Dataset[ObsStatus] =
    statusRows(Pipeline.byObservation(classified), catalog)

  /** [[statusesOf]] as a projection of [[graft.operators.Pipeline.byObservation]]
    * (the catalog join, key fold, coercion and regroup all lie upstream). */
  def statusRows(byObs: DataFrame,
      catalog: MetadataCatalog): Dataset[ObsStatus] = {
    val spark = byObs.sparkSession
    import spark.implicits._
    val sensors = catalog.sensors // tiny, ships in the task closure
    byObs
      .select(col("network"), col("sensor"), array_sort(transform(
        filter(col("pairs"), _("misfit")), p => struct(p("pos"), p("key"),
          p("lex"), p("jstype"), p("property"), p("ptype"),
          p("feature").isNull.as("unknown")))).as("misfits"))
      .as[ObsMisfits]
      .map(statusFrom(_, sensors))
  }

  /** The reference's parse_data discrepancy check for one observation
    * (app/mapper.js:192-243, 411-419): an unknown sensor, else its unknown
    * keys in one message and its coercion errors one message each. A null
    * sensor is reported as "". */
  private def statusFrom(o: ObsMisfits, sensors: Set[String]): ObsStatus = {
    val sensor = Option(o.sensor).getOrElse("")
    if (!sensors.contains(sensor))
      ObsStatus(sensor, o.network, "does_not_exist",
        Seq(doesNotExistMsg(sensor, o.network)))
    else {
      val (unknown, coercion) = o.misfits.partition(_.unknown)
      val msgs =
        (if (unknown.isEmpty) Nil
        else Seq(unknownKeysMsg(sensor, unknown.map(_.key), o.network))) ++
          coercion.map(m =>
            coercionMsg(sensor, m.property, m.ptype, m.lex, m.jstype))
      ObsStatus(sensor, o.network, if (msgs.isEmpty) null else "invalid_key",
        msgs)
    }
  }

  /** [[statusesOf]] over raw observations (map-typed `data` column). */
  def observationStatuses(observations: DataFrame,
      catalog: MetadataCatalog): Dataset[ObsStatus] =
    statusesOf(Pipeline.pairRelation(observations, catalog), catalog)

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
