package graft.streaming

import graft.catalog.MetadataCatalog
import graft.operators.Pipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1/X1/G2 — the streaming shell around the batch pipeline.
  *
  * The reference's KCL daemon protocol, shard FSM, and checkpoint
  * round-trip (617 LoC, SURVEY.md §3.3) are subsumed by Structured
  * Streaming: micro-batch scheduling, offset WAL (`checkpointLocation`),
  * and restart semantics need zero engine code. Catalog refresh-on-miss
  * (G2) degenerates to asking the catalog provider again every
  * micro-batch inside foreachBatch — an observation is never judged
  * against stale metadata. A provider built on
  * [[MetadataCatalog.fromParquet]] answers from the catalog it built last,
  * with no Spark job, until a file under either catalog directory changes.
  *
  * The ALERT path runs in the same micro-batch, against the same fresh
  * catalog and off the same cached per-observation relation the sinks
  * read: the batch's statuses are projected from it, spooled and stepped
  * through the blacklist ([[alertBatch]]) — so the raw batch is parsed,
  * coerced and grouped once, a catalog fix is reflected in the very next
  * batch, no query restart is needed, and there is one streaming query.
  *
  * Upgrade note: checkpoints written while the blacklist ran as a second
  * streaming query hold its state in that query's own checkpoint
  * subdirectories (`alerts`, and a separate one for drains). That state
  * is ignored, so a sensor blacklisted at upgrade time alerts once more.
  *
  * Sinks are injected (side effects stay at the edge): production would
  * bind JDBC/HTTP/socket writers; tests bind collectors.
  */
object StreamPipeline {

  /** Sink interface — one call per micro-batch per output. */
  trait Sinks extends Serializable {
    /** K1: [[Pipeline.featureRows]], cheap to re-read (a projection of the
      * cached batch). ONE call per batch — the sink decides how to write the
      * wide tables (one partitioned write, Pipeline.widenFromResults, JDBC). */
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
    * (`<network>__<feature>`, app/mapper.js:319-358), rows sorted within
    * partitions on datetime matching the reference DDL's SORTKEY
    * (tests/configure_tests.js:85-86).
    * `readWide` reapplies the catalog-typed column view on top.
    *
    * Files per batch: the rows are hash-clustered by (network, feature)
    * into the session's default parallelism before the write, so each
    * partition directory gets ONE part file per batch (not one per task,
    * which cost a file, its checksum and their permission calls per task
    * and key), while different keys still write on different cores. The
    * bound: all of one key's rows in a batch go to one task, and a
    * batch's size is bounded by the trigger (`maxFilesPerTrigger`, or
    * the source's own limit). The clustering reads the batch's cached
    * per-observation relation; the writer's sort by the partition
    * columns is the `sortWithinPartitions`, so the write sorts once.
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
        .repartition(featureObs.sparkSession.sparkContext.defaultParallelism,
          col("network"), col("feature"))
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

  /** One micro-batch of the full dataflow, the body of [[start]]'s
    * `foreachBatch`: caches the batch's [[Pipeline.byObservation]], writes
    * the wide, dead-letter and event sinks (projections of it: 3 write
    * executions per batch with a partitioned wide sink, regardless of
    * feature count), then steps the alerts ([[alertBatch]]) with their
    * state under `checkpointDir`. */
  private[graft] def runBatch(observations: DataFrame, catalog: MetadataCatalog,
      sinks: Sinks, checkpointDir: String, batchId: Long): Unit = {
    val byObs = Pipeline.byObservation(
      Pipeline.pairRelation(observations, catalog)).cache()
    try {
      val featureObs = Pipeline.featureRows(byObs)
      sinks.writeWide(featureObs, catalog, batchId)
      sinks.writeDeadLetter(Pipeline.deadLetterRows(byObs), batchId)
      sinks.writeEvents(Pipeline.eventJson(featureObs, catalog), batchId)
      alertBatch(byObs, catalog, sinks, checkpointDir, batchId)
    } finally byObs.unpersist()
  }

  /** Start the streaming pipeline over a raw JSON-lines stream: ONE
    * query, `graft-dataflow`, checkpointed under `$checkpointDir/dataflow`
    * (X1). Each micro-batch asks `catalogProvider` for the catalog (G2)
    * and runs [[runBatch]] on it.
    *
    * With the default Trigger.AvailableNow the query drains what is
    * available and terminates; pass `availableNow = false` for a
    * continuously-running query. The query is returned running: callers
    * await or stop it.
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
    val observations = graft.sources.ObservationSource.parse(raw).toDF()
    val w = observations.writeStream
      .queryName("graft-dataflow")
      .option("checkpointLocation", s"$checkpointDir/dataflow")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // per-batch catalog ask (G2)
        runBatch(batch.toDF(), catalogProvider(), sinks, checkpointDir, batchId)
      }
    Seq((if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start())
  }

  /** G1 for one micro-batch. Statuses are projected from the batch's
    * cached per-observation relation ([[Alerts.statusRows]], one per
    * identity) and appended to `$checkpointDir/status-spool`
    * (the audit trail of every status, as read by perfbench's output
    * check). The blacklist state is versioned by batch under
    * `$checkpointDir/blacklist/<batchId>`: batch N reads the newest version
    * below N, writes version N and deletes the versions older than the
    * one it read. A batch replayed after a crash therefore reads the same
    * prior state and derives the same alerts again (delivery stays
    * at-least-once, as for every sink). The state is cogrouped on the
    * executors and never collected. */
  private def alertBatch(byObs: DataFrame, catalog: MetadataCatalog,
      sinks: Sinks, checkpointDir: String, batchId: Long): Unit = {
    val spark = byObs.sparkSession
    import spark.implicits._
    val root = new Path(s"$checkpointDir/blacklist")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(root)) Seq.empty[Long]
      else fs.listStatus(root).toSeq.flatMap(_.getPath.getName.toLongOption)
    val prior = versions.filter(_ < batchId).maxOption
    val blacklist = prior.fold(spark.emptyDataset[Alerts.Blacklisted]) { v =>
      spark.read.schema(Encoders.product[Alerts.Blacklisted].schema)
        .parquet(s"$root/$v").as[Alerts.Blacklisted]
    }
    val statuses = Alerts.statusRows(byObs, catalog)
    statuses.write.mode("append").parquet(s"$checkpointDir/status-spool")
    val steps = Alerts.step(statuses, blacklist, System.currentTimeMillis())
    sinks.writeAlerts(spark.createDataset(steps.flatMap(_.event)), batchId)
    spark.createDataset(steps.flatMap(_.state))
      .write.mode("overwrite").parquet(s"$root/$batchId")
    versions.filter(v => prior.exists(v < _))
      .foreach(v => fs.delete(new Path(root, v.toString), true))
  }
}
