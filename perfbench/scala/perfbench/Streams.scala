package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.catalog.MetadataCatalog
import graft.operators.Pipeline
import graft.sources.ObservationSource
import graft.streaming.{Alerts, StreamPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** ParquetSinks wrapped from outside: every call is timed, and the return
  * of each micro-batch's last sink write (writeEvents) is recorded, which is
  * where a file's latency ends. */
final class TimedSinks(baseDir: String, trace: Trace, prefix: String)
    extends StreamPipeline.Sinks {
  private val inner = new StreamPipeline.ParquetSinks(baseDir)
  val batchDone = new ConcurrentHashMap[Long, Double]()
  val callMs = new ConcurrentLinkedQueue[(String, Double)]()

  private def timed(sink: String, batch: String)(body: => Unit): Unit = {
    val s = Clock.now
    trace.span(s"$prefix/$batch/$sink", s"sinks.$sink", s"$prefix/$batch")(body)
    callMs.add(sink -> (Clock.now - s))
  }
  def writeWide(df: DataFrame, catalog: MetadataCatalog, batchId: Long): Unit =
    timed("wide", s"b$batchId")(inner.writeWide(df, catalog, batchId))
  def writeDeadLetter(df: DataFrame, batchId: Long): Unit =
    timed("dead_letter", s"b$batchId")(inner.writeDeadLetter(df, batchId))
  def writeEvents(df: DataFrame, batchId: Long): Unit = {
    timed("events", s"b$batchId")(inner.writeEvents(df, batchId))
    batchDone.put(batchId, Clock.now)
  }
  def writeAlerts(df: Dataset[Alerts.AlertEvent], batchId: Long): Unit =
    timed("alerts", s"a$batchId")(inner.writeAlerts(df, batchId))
}

/** Catalog re-read per micro-batch through the public parquet loader. The
  * dataflow query is stateless, so its batches run in order from 0 and the
  * n-th call belongs to batch n. */
final class TimedCatalog(spark: SparkSession, dir: String, trace: Trace,
    prefix: String) extends (() => MetadataCatalog) with Serializable {
  @volatile private var calls = 0L
  val loadMs = new ConcurrentLinkedQueue[Double]()
  def apply(): MetadataCatalog = {
    val b = calls
    calls += 1
    val s = Clock.now
    val c = trace.span(s"$prefix/b$b/catalog", "catalog.load", s"$prefix/b$b") {
      MetadataCatalog.fromParquet(spark, s"$dir/sensors", s"$dir/features")
    }
    loadMs.add(Clock.now - s)
    c
  }
}

object Streams {

  final case class Prop(name: String, `type`: String)

  /** Write the generated catalog as the reference-shaped parquet pair. */
  def writeCatalog(spark: SparkSession, cfg: Cfg, dir: String): Unit = {
    import spark.implicits._
    val cat = cfg.node("catalog")
    val sensors = cat.get("sensors").properties().asScala.toSeq.map { e =>
      e.getKey -> e.getValue.properties().asScala.map(p =>
        p.getKey -> p.getValue.asText).toMap
    }
    val features = cat.get("features").elements().asScala.toSeq.map { f =>
      f.get("name").asText -> f.get("props").elements().asScala.toSeq
        .map(p => Prop(p.get(0).asText, p.get(1).asText))
    }
    sensors.toDF("name", "observed_properties").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/sensors")
    features.toDF("name", "observed_properties").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/features")
  }

  def catalogOf(spark: SparkSession, dir: String): MetadataCatalog =
    MetadataCatalog.fromParquet(spark, s"$dir/sensors", s"$dir/features")

  final case class Started(queries: Seq[StreamingQuery], sinks: TimedSinks,
      catalog: TimedCatalog, startMs: Double, endMs: Double, cpuMs: Double)

  /** Drain everything in `input` with `availableNow`, in micro-batches of
    * `filesPerTrigger` files, and wait until both queries have terminated. */
  def drainOnce(spark: SparkSession, input: String, out: String,
      catDir: String, trace: Trace, prefix: String,
      filesPerTrigger: Int): Started = {
    val sinks = new TimedSinks(s"$out/sinks", trace, prefix)
    val catalog = new TimedCatalog(spark, catDir, trace, prefix)
    val reader = spark.readStream
      .option("maxFilesPerTrigger", filesPerTrigger.toLong)
    val s = Clock.now
    val cpu = CpuClock.now
    val qs = StreamPipeline.start(reader.text(input), catalog, sinks,
      s"$out/checkpoint", availableNow = true)
    qs.foreach(_.awaitTermination())
    val (e, cpuMs) = (Clock.now, CpuClock.now - cpu)
    qs.foreach(q => q.exception.foreach(e => throw e))
    Started(qs, sinks, catalog, s, e, cpuMs)
  }

  // -------------------------------------------------------------------------
  // stream_drain: backlog drain
  // -------------------------------------------------------------------------

  def drain(spark: SparkSession, cfg: Cfg, trace: Trace, out: Out): Unit = {
    val run = cfg.str("run_dir")
    val catDir = s"$run/catalog"
    writeCatalog(spark, cfg, catDir)
    val fpt = cfg.num("files_per_trigger").toInt
    val backlog = cfg.str("stage_dir")
    // warm-up: one untimed drain of the same backlog. With a smaller one
    // (a single micro-batch) the JIT was still compiling in the first timed
    // drain, which then took about a fifth longer than the second.
    drainOnce(spark, backlog, s"$run/warm_out", catDir,
      new Trace(false, ""), "warm", fpt)
    out.put("setup_end_ms", Clock.now)
    trace.install(spark)
    val budgetMs = cfg.num("seconds") * 1000
    val drains = scala.collection.mutable.ArrayBuffer[(Started, String)]()
    val t0 = Clock.now
    trace.span("run", "run", "") {
      while (drains.size < 2 || Clock.now - t0 < budgetMs) {
        val i = drains.size
        val dir = s"$run/out$i"
        val st = trace.span(s"d$i", "drain", "run") {
          drainOnce(spark, backlog, dir, catDir, trace, s"d$i", fpt)
        }
        drains += ((st, dir))
      }
    }
    out.put("run_end_ms", Clock.now)
    out.put("expected", expected(spark, backlog, s"$run/expected",
      catalogOf(spark, catDir)))
    if (trace.on) profile(spark, backlog, catalogOf(spark, catDir), trace)
    trace.uninstall(spark)
    out.put("drains", drains.zipWithIndex.map { case ((st, dir), i) =>
      describe(st, s"d$i", dir)
    }.toSeq)
  }

  /** Stacked-prefix self times of the batch Pipeline over the drain input:
    * each prefix is forced on its own (noop write), and a stage's self time
    * is its prefix minus the previous one. */
  def profile(spark: SparkSession, input: String, catalog: MetadataCatalog,
      trace: Trace): Unit = {
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val raw = spark.read.text(input).cache()
    raw.count()
    val obs = ObservationSource.parse(raw).toDF().cache()
    trace.span("profile", "profile", "") {
      val stages: Seq[(String, () => DataFrame)] = Seq(
        "parse" -> (() => ObservationSource.parse(raw).toDF()),
        "normalize" -> (() => Pipeline.normalize(obs)),
        "explode" -> (() => Pipeline.explodePairs(Pipeline.normalize(obs))),
        "enrich" -> (() => Pipeline.enrich(
          Pipeline.explodePairs(Pipeline.normalize(obs)), catalog)),
        "coerce" -> (() => Pipeline.coerce(Pipeline.enrich(
          Pipeline.explodePairs(Pipeline.normalize(obs)), catalog))),
        "classify" -> (() => Pipeline.pairRelation(obs, catalog)),
        "feature_obs" -> (() => Pipeline.featureObservations(
          Pipeline.pairRelation(obs, catalog))),
        "misfits" -> (() => Pipeline.misfits(Pipeline.pairRelation(obs, catalog))),
        "event_json" -> (() => Pipeline.eventJson(Pipeline.featureObservations(
          Pipeline.pairRelation(obs, catalog)), catalog)))
      // one untimed pass compiles every prefix, then the median of three
      stages.foreach { case (_, df) => force(df()) }
      stages.foreach { case (name, df) =>
        val ms = (0 until 3).map { _ =>
          val s = Clock.now
          force(df())
          Clock.now - s
        }.sorted
        val s = Clock.now
        trace.add(Span(s"profile/$name", s"prefix.$name", "profile", s,
          s + ms(1)))
      }
    }
    obs.unpersist()
    raw.unpersist()
  }

  private def describe(st: Started, prefix: String, dir: String): Map[String, Any] =
    Map("prefix" -> prefix, "start" -> st.startMs, "end" -> st.endMs,
      "cpu_ms" -> st.cpuMs,
      "checkpoint" -> s"$dir/checkpoint", "sinks" -> s"$dir/sinks",
      "queries" -> st.queries.map(q => q.id.toString -> q.name).toMap,
      "batch_done" -> st.sinks.batchDone.asScala.map { case (k, v) =>
        k.toString -> v }.toMap,
      "sink_ms" -> st.sinks.callMs.asScala.toSeq.groupBy(_._1).map {
        case (k, v) => k -> v.map(_._2) },
      "catalog_ms" -> st.catalog.loadMs.asScala.toSeq,
      "sink_bytes" -> dirBytes(Paths.get(s"$dir/sinks")))

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum

  // -------------------------------------------------------------------------
  // Output check: a batch Pipeline run over the same files
  // -------------------------------------------------------------------------

  /** Write what the sinks must hold for `input`, computed by the batch
    * Pipeline and status derivation; run.py compares each sink with it. */
  def expected(spark: SparkSession, input: String, dir: String,
      catalog: MetadataCatalog): Map[String, Any] = {
    val obs = ObservationSource.readJsonLines(spark, input).toDF().cache()
    val classified = Pipeline.pairRelation(obs, catalog).cache()
    val feat = Pipeline.featureObservations(classified).cache()
    feat.drop("feature_pos").write.parquet(s"$dir/wide")
    Pipeline.misfits(classified).write.parquet(s"$dir/dead_letter")
    Pipeline.eventJson(feat, catalog).write.parquet(s"$dir/events")
    Alerts.observationStatuses(obs, catalog).write.parquet(s"$dir/statuses")
    val parsed = obs.count()
    Seq(feat, classified, obs).foreach(_.unpersist())
    Map("dir" -> dir, "lines" -> spark.read.text(input).count(),
      "obs" -> parsed)
  }
}
