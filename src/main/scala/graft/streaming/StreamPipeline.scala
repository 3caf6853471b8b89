package graft.streaming

import graft.catalog.MetadataCatalog
import graft.operators.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1/X1/G2 — the streaming shell around the batch pipeline.
  *
  * The reference's KCL daemon protocol, shard FSM, and checkpoint
  * round-trip (617 LoC, SURVEY.md §3.3) are subsumed by Structured
  * Streaming: micro-batch scheduling, offset WAL (`checkpointLocation`),
  * and restart semantics need zero engine code. Catalog refresh-on-miss
  * (G2) degenerates to re-reading the catalog every micro-batch inside
  * foreachBatch — an observation is never judged against stale metadata.
  *
  * The ALERT path gets the same per-batch freshness: observation statuses
  * are derived inside the dataflow micro-batch (against that batch's
  * catalog) and spooled as parquet; a second streaming query file-streams
  * the spool through the stateful blacklist op. The stateful op itself is
  * catalog-free, so a catalog fix is reflected in the very next batch —
  * no query restart needed.
  *
  * Sinks are injected (side effects stay at the edge): production would
  * bind JDBC/HTTP/socket writers; tests bind collectors.
  */
object StreamPipeline {

  /** Sink interface — one call per micro-batch per output. */
  trait Sinks extends Serializable {
    /** K1: valid observations, aggregated per (observation × feature) with
      * the coerced `results` map. ONE call per batch — the sink decides how
      * to materialize wide tables (one partitioned write, per-table typed
      * exports via Pipeline.widenFromResults, JDBC, ...). */
    def writeWide(featureObs: DataFrame, catalog: MetadataCatalog, batchId: Long): Unit
    /** K2: dead-letter rows (obs identity + misfit-pair JSON). */
    def writeDeadLetter(df: DataFrame, batchId: Long): Unit
    /** K3: publisher events (feature observations + rendered JSON). */
    def writeEvents(df: DataFrame, batchId: Long): Unit
    /** G1: alert-channel events. */
    def writeAlerts(df: Dataset[Alerts.AlertEvent], batchId: Long): Unit
  }

  /** Parquet sinks, 100 TB shape: the wide output is ONE data-driven
    * `partitionBy(network, feature)` write per batch (no driver-side
    * feature loop, no per-feature job fan-out); each partition directory
    * is the analogue of the reference's per-feature Redshift table
    * (`<network>__<feature>`), rows sorted within partitions on datetime
    * matching the reference DDL's SORTKEY (tests/configure_tests.js:85-86).
    * `readWide` reapplies the catalog-typed column view on top.
    *
    * Delivery: at-least-once — foreachBatch can replay a batch after a
    * crash between append and checkpoint commit, duplicating its rows
    * (same as the reference's checkpoint-after-async-inserts,
    * kcl_app.js:56-59). `batchId` is passed so a production sink can
    * upgrade to effectively-once with a transactional/idempotent write
    * (e.g. batchId-keyed overwrite or a Delta-style commit). */
  class ParquetSinks(baseDir: String) extends Sinks {
    def writeWide(featureObs: DataFrame, catalog: MetadataCatalog,
        batchId: Long): Unit =
      featureObs
        .drop("feature_pos")
        .sortWithinPartitions("network", "feature", "datetime")
        .write.mode("append")
        .partitionBy("network", "feature")
        .parquet(s"$baseDir/wide")
    def writeDeadLetter(df: DataFrame, batchId: Long): Unit =
      // one data-driven partitioned write; a null network lands in the
      // default-partition directory instead of vanishing
      df.write.mode("append").partitionBy("network")
        .parquet(s"$baseDir/dead_letter")
    def writeEvents(df: DataFrame, batchId: Long): Unit =
      df.write.mode("append").parquet(s"$baseDir/_events")
    def writeAlerts(df: Dataset[Alerts.AlertEvent], batchId: Long): Unit =
      df.write.mode("append").parquet(s"$baseDir/_alerts")

    /** Typed wide-table view of one (network, feature): partition-pruned
      * scan + catalog-typed projection (the reference's per-feature table
      * schema, tests/configure_tests.js:79-161). */
    def readWide(spark: SparkSession, catalog: MetadataCatalog,
        network: String, feature: String): DataFrame = {
      val part = spark.read.parquet(s"$baseDir/wide")
        .filter(col("network") === network && col("feature") === feature)
      Pipeline.widenFromResults(part, catalog, feature)
    }
  }

  /** One micro-batch of the full dataflow (also the batch entry point).
    * featureObservations is computed ONCE and shared by the wide sink and
    * the event sink; with a partitioned wide sink this is 3 write jobs per
    * batch total (wide, dead-letter, events) regardless of feature count. */
  def processBatch(observations: DataFrame, catalog: MetadataCatalog,
      sinks: Sinks, batchId: Long): Unit = {
    val classified = Pipeline.pairRelation(observations, catalog).cache()
    val featureObs = Pipeline.featureObservations(classified).cache()
    try {
      sinks.writeWide(featureObs, catalog, batchId)
      sinks.writeDeadLetter(Pipeline.misfits(classified), batchId)
      sinks.writeEvents(Pipeline.eventJson(featureObs, catalog), batchId)
    } finally {
      featureObs.unpersist()
      classified.unpersist()
    }
  }

  /** Start the streaming pipeline over a raw JSON-lines stream.
    *
    * Two chained queries: the DATAFLOW query (foreachBatch → sinks, with
    * per-batch catalog refresh = G2) additionally derives per-observation
    * statuses against the same fresh catalog and appends them to a parquet
    * spool; the ALERT query file-streams the spool through the stateful
    * blacklist (G1). Both checkpoint under `checkpointDir` (X1); the spool
    * is itself replayable, so end-to-end delivery stays at-least-once.
    *
    * With the default Trigger.AvailableNow the dataflow query is drained
    * BEFORE the alert query starts, so the statuses spooled by this
    * invocation are inside the alert query's startup snapshot (alert /
    * resolve parity within one drain). Pass `availableNow = false` for
    * continuously-running queries — statuses then flow to the alert query
    * one micro-batch behind the dataflow, still restart-free.
    *
    * Build the session with [[graft.Engine.builder]]: on a session not
    * built by it, each further start of the same plan in one JVM
    * recompiles the whole plan (see [[graft.Engine.CodegenCacheMaxEntries]]).
    */
  def start(
      raw: DataFrame, // streaming DF with a string `value` column
      catalogProvider: () => MetadataCatalog,
      sinks: Sinks,
      checkpointDir: String,
      availableNow: Boolean = true): Seq[StreamingQuery] = {
    val spark = raw.sparkSession
    val observations = graft.sources.ObservationSource.parse(raw).toDF()
    val statusSpool = s"$checkpointDir/status-spool"
    // create via the path's own FileSystem — checkpointDir may be on a DFS
    // (hdfs://, s3a://) where a local File.mkdirs would silently do nothing
    // and the alert query's file source would fail on the missing dir
    val spoolPath = new org.apache.hadoop.fs.Path(statusSpool)
    spoolPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(spoolPath)

    val dataQuery = {
      val w = observations.writeStream
        .queryName("graft-dataflow")
        .option("checkpointLocation", s"$checkpointDir/dataflow")
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val catalog = catalogProvider() // per-batch re-read (G2)
          val obsBatch = batch.toDF()
          processBatch(obsBatch, catalog, sinks, batchId)
          // derive statuses against the SAME fresh catalog and spool them
          // for the alert query — per-batch catalog parity on the alert
          // path; a catalog fix emits its resolve in the next batch
          Alerts.observationStatuses(obsBatch, catalog).toDF()
            .write.mode("append").parquet(statusSpool)
        }
      (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
    }
    if (availableNow) dataQuery.awaitTermination()

    val alertQuery = {
      val spark2 = spark
      import spark2.implicits._
      val statuses = spark.readStream
        .schema(Encoders.product[Alerts.ObsStatus].schema)
        .parquet(statusSpool).as[Alerts.ObsStatus]
      // drain mode must run without the TTL: ProcessingTimeTimeout keeps
      // the query alive past AvailableNow's drain (see alertStream doc).
      // The two modes therefore use DIFFERENT GroupStateTimeout types, and
      // Spark forbids changing the timeout type across restarts of one
      // checkpointed stateful query — so each mode owns its own checkpoint
      // subdir. The continuous mode KEEPS the historical "alerts" name:
      // pre-split deployments checkpointed there under the same
      // ProcessingTimeTimeout, so an upgraded continuous run resumes its
      // offsets and blacklist instead of replaying the whole status spool.
      // Only the drain gets a new dir; a drain never shares state with a
      // continuous run — reference-faithful, since the blacklist is
      // in-memory there and forgets on restart anyway (app/mapper.js:42).
      val alertCp = if (availableNow) "alerts-drain" else "alerts"
      val w = Alerts.alertStream(statuses, withTtl = !availableNow).writeStream
        .queryName("graft-alerts")
        .option("checkpointLocation", s"$checkpointDir/$alertCp")
        .foreachBatch { (batch: Dataset[Alerts.AlertEvent], batchId: Long) =>
          sinks.writeAlerts(batch, batchId)
        }
        .outputMode("append")
      (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
    }
    Seq(dataQuery, alertQuery)
  }
}
