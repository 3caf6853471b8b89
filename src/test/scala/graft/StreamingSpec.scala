package graft

import graft.catalog.MetadataCatalog
import graft.operators.Pipeline
import graft.streaming.{Alerts, StreamPipeline}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end streaming suite: the 8 canonical observations fed as JSON
  * through a MemoryStream, asserting the reference integration truths
  * (integration_tests.js:334-425) — 7 publisher events, 4 dead-letter rows,
  * per-table wide rows — plus blacklist alert/resolve transitions.
  */
class StreamingSpec extends SparkSpec {

  class CollectingSinks extends StreamPipeline.Sinks {
    val wide = mutable.Map[(String, String), mutable.Buffer[Map[String, Any]]]()
    val deadLetters = mutable.Buffer[(String, String, String)]() // network, node, json
    val events = mutable.Buffer[String]()
    val alerts = mutable.Buffer[Alerts.AlertEvent]()
    def writeWide(featureObs: DataFrame, catalog: MetadataCatalog,
        batchId: Long): Unit = synchronized {
      // regroup the single aggregated relation into per-(network, feature)
      // typed wide rows — same shape the per-feature loop used to deliver
      featureObs.select("network", "feature").distinct().collect()
        .map(r => (r.getString(0), r.getString(1)))
        .foreach { case (network, feature) =>
          val buf = wide.getOrElseUpdate((network, feature), mutable.Buffer())
          Pipeline.widenFromResults(
              featureObs.filter(col("network") <=> network), catalog, feature)
            .collect().foreach { r =>
              buf += r.schema.fieldNames.zip(r.toSeq).toMap
            }
        }
    }
    def writeDeadLetter(df: DataFrame, batchId: Long): Unit = synchronized {
      df.select("network", "node_id", "data").collect().foreach(r =>
        deadLetters += ((r.getString(0), r.getString(1), r.getString(2))))
    }
    def writeEvents(df: DataFrame, batchId: Long): Unit = synchronized {
      events ++= df.select("event_json").collect().map(_.getString(0))
    }
    def writeAlerts(df: Dataset[Alerts.AlertEvent], batchId: Long): Unit =
      synchronized { alerts ++= df.collect() }
  }

  def obsJson(i: Int): String = {
    // the 8 fixtures rendered as raw JSON documents (original casing/types)
    val o = Fixtures.observations(i)
    val data = o.data.map { case (k, v) =>
      val vs = v.jstype match {
        case "string" => "\"" + v.lex + "\""
        case _ => v.lex
      }
      "\"" + k + "\":" + vs
    }.mkString(",")
    s"""{"network":"${o.network}","node_id":"${o.node_id}","meta_id":${o.meta_id},""" +
      s""""datetime":"2017-01-01T00:00:00","sensor":"${o.sensor}","data":{$data}}"""
  }

  test("streaming end-to-end: 8 observations in order, one batch each") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val sinks = new CollectingSinks
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    // one micro-batch per observation, in order (the reference's sequential
    // trace) — start queries once per batch with AvailableNow
    (0 until 8).foreach { i =>
      source.addData(obsJson(i))
      val queries = StreamPipeline.start(
        source.toDF().withColumnRenamed("value", "value"),
        () => Fixtures.catalog, sinks, ckpt)
      queries.foreach(_.awaitTermination(60000))
    }

    // K3: 7 publisher events
    assert(sinks.events.size === 7)
    assert(sinks.events.count(_.contains("\"node\":\"001\"")) === 2)
    assert(sinks.events.exists(e =>
      e.contains("\"node\":\"003\"") && e.contains("\"results\":{\"z\":90.92}")))

    // K2: 4 dead-letter rows with exact JSON
    assert(sinks.deadLetters.size === 4)
    val dlByNode = sinks.deadLetters.map(d => d._2 -> d._3).toMap
    assert(dlByNode("003") === """{"x1":56.77,"y1":32.11}""")
    assert(dlByNode("005") === """{"temp":"high","humdrum":27.48}""")

    // K1: wide tables routed per (network, feature)
    assert(sinks.wide(("array_of_things_chicago", "magnetic_field")).size === 2)
    assert(sinks.wide(("array_of_things_chicago", "computer_vision")).size === 2)
    assert(sinks.wide(("internet_of_stuff_seattle", "temperature")).size === 1)
    val n2 = sinks.wide(("array_of_things_chicago", "magnetic_field"))
      .find(_("node_id") == "002").get
    assert(n2("x") == null && n2("y") == 32.11 && n2("z") == 90.92)

    // G1: alerts for hmc5883l (unknown keys), camera (coercion), htu21d
    // (both), wubdb89 (does_not_exist); resolves for camera + htu21d when
    // clean observations follow (obs7, obs8)
    val alertsByKind = sinks.alerts.groupBy(_.kind)
    val alertSensors = alertsByKind("alert").map(_.sensor).toSet
    assert(alertSensors === Set("hmc5883l", "camera", "htu21d", "wubdb89"))
    val resolveSensors = alertsByKind("resolve").map(_.sensor).toSet
    assert(resolveSensors === Set("camera", "htu21d"))
    // 5 error messages total across the 4 alerts (htu21d carries 2)
    assert(alertsByKind("alert").map(_.messages.size).sum === 5)
    val htu = alertsByKind("alert").find(_.sensor == "htu21d").get
    assert(htu.messages.exists(_.contains("unknown key(s) humdrum")))
    assert(htu.messages.exists(_.contains("could not correctly coerce value high")))
    val wub = alertsByKind("alert").find(_.sensor == "wubdb89").get
    assert(wub.messages.head.contains("not found in sensor metadata"))
  }

  test("codegen reuse: a restarted drain and a newSession write compile no class twice") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val root = Files.createTempDirectory("graft-codegen-reuse")
    val input = Files.createDirectories(root.resolve("in"))
    Files.write(input.resolve("obs.json"),
      (0 until 8).map(obsJson).mkString("\n").getBytes("UTF-8"))

    // a drain into fresh sink and checkpoint dirs is what an in-process
    // restart runs: the same plans, started as new streaming queries
    def drain(run: String): Unit =
      StreamPipeline.start(spark.readStream.text(input.toString),
          () => Fixtures.catalog,
          new StreamPipeline.ParquetSinks(s"$root/$run/out"),
          s"$root/$run/ckpt")
        .foreach(_.awaitTermination(60000))
    drain("first")
    val afterFirstDrain = compiles
    drain("restart")
    assert(compiles === afterFirstDrain, "restart recompiled generated classes")

    def pipelineWrite(s: SparkSession, run: String): Unit = {
      import s.implicits._
      Pipeline.misfits(Pipeline.pairRelation(
          Fixtures.observations.toDF(), Fixtures.catalog))
        .write.parquet(s"$root/$run")
    }
    pipelineWrite(spark, "batch-first")
    val afterFirstWrite = compiles
    pipelineWrite(spark.newSession(), "batch-new-session")
    assert(compiles === afterFirstWrite, "newSession recompiled generated classes")
  }

  test("one read of the batch: the status spool is derived from the cached pair relation") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val root = Files.createTempDirectory("graft-one-read")
    val input = Files.createDirectories(root.resolve("in"))
    Files.write(input.resolve("obs.json"),
      (0 until 8).map(obsJson).mkString("\n").getBytes("UTF-8"))
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the query's session is cloned at start, with the listeners it has;
    // one input file is one micro-batch
    spark.listenerManager.register(listener)
    try StreamPipeline.start(spark.readStream.text(input.toString),
        () => Fixtures.catalog,
        new StreamPipeline.ParquetSinks(s"$root/out"), s"$root/ckpt")
      .foreach(_.awaitTermination(60000))
    finally spark.listenerManager.unregister(listener)
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    val plans = executed.asScala.toSeq
    val scans = plans.flatMap(p =>
      Plans.collect(p) { case s: InMemoryTableScanExec => s })
    val perObservation = graft.model.Observation.obsCols :+ "pairs"
    // the wide, dead-letter, event and status-spool writes each read the
    // cached per-observation relation and nothing else, so the raw batch
    // is read once, by that cache
    Seq("out/wide", "out/dead_letter", "out/_events", "ckpt/status-spool")
      .foreach { sink =>
        val writes = plans.filter(_.toString.contains(s"$root/$sink"))
        assert(writes.size === 1, sink)
        val leaves = Plans.collectLeaves(writes.head)
        assert(leaves.nonEmpty && leaves.forall {
          case s: InMemoryTableScanExec =>
            s.relation.output.map(_.name) == perObservation
          case _ => false
        }, s"$sink reads ${leaves.map(_.nodeName)}")
      }
    // the batch shuffles twice: the regroup inside that cache, and the
    // wide sink's clustering by (network, feature) over the cache; each
    // cached plan counted once, next to the plans that read it
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
      Plans.collect(p) { case e: ShuffleExchangeExec => e }
    val cached = scans.map(_.relation).distinct
    assert(plans.map(shuffles(_).size).sum +
      cached.map(r => shuffles(r.cachedPlan).size).sum === 2)
    val perObsCache = cached.filter(_.output.map(_.name) == perObservation)
    assert(perObsCache.size === 1)
    assert(shuffles(perObsCache.head.cachedPlan).size === 1)
    val wide = shuffles(plans.filter(_.toString.contains(s"$root/out/wide")).head)
    assert(wide.size === 1)
    assert(wide.head.outputPartitioning.asInstanceOf[HashPartitioning]
      .expressions.flatMap(_.references.map(_.name)) ===
      Seq("network", "feature"))
  }

  test("wide sink: each micro-batch writes at most one part file per network/feature directory") {
    val root = Files.createTempDirectory("graft-wide-files")
    val input = Files.createDirectories(root.resolve("in"))
    // two files, two micro-batches; ten nodes per fixture observation so
    // each (network, feature) has rows in several regroup partitions
    (0 until 2).foreach { f =>
      Files.write(input.resolve(s"obs$f.json"), (0 until 8).map(obsJson)
        .flatMap(j => (0 until 10).map(n =>
          j.replace("\"node_id\":\"", s"\"node_id\":\"f$f-n$n-")))
        .mkString("\n").getBytes("UTF-8"))
    }
    StreamPipeline.start(
        spark.readStream.option("maxFilesPerTrigger", 1L).text(input.toString),
        () => Fixtures.catalog,
        new StreamPipeline.ParquetSinks(s"$root/out"), s"$root/ckpt")
      .foreach(_.awaitTermination(60000))
    // a part file's name carries the id of the write job, one per batch
    val jobId = "part-\\d+-([0-9a-f-]{36})".r.unanchored
    val dirs = Files.walk(root.resolve("out/wide")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .groupBy(_.getParent)
    assert(dirs.size === 5)
    dirs.foreach { case (dir, files) =>
      val perBatch = files.groupBy(_.getFileName.toString match {
        case jobId(id) => id
      })
      assert(perBatch.size === 2, dir)
      assert(perBatch.values.forall(_.size == 1), s"$dir: ${files.sorted}")
    }
  }

  test("connector contract: Kafka-shaped stream drives the full pipeline") {
    // The exact relation a real `readStream.format("kafka").load()` yields:
    // binary key/value plus transport bookkeeping columns. No connector
    // jars in this sandbox, so the SHAPE is pinned with an in-memory
    // stream — the production swap is the load() call only
    // (reference transport parity: app/consumer/kcl_app.js:36-50).
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def rec(key: String, value: String, off: Long) =
      (key.getBytes("UTF-8"), value.getBytes("UTF-8"),
        "plenario-observations", (off % 3).toInt, off)

    // batch leg: fromConnector is the contract — UTF-8 value decode,
    // transport columns dropped, malformed payloads silently filtered (S2)
    val batch = (Seq(rec("k0", obsJson(0), 0L), rec("k1", obsJson(1), 1L),
        rec("k2", "{not json", 2L)) :+
        (Array[Byte](-1, -2), Array[Byte](-1, 0, -56), "t", 0, 3L))
      .toDF("key", "value", "topic", "partition", "offset")
    val parsed = graft.sources.ObservationSource.fromConnector(batch).collect()
    assert(parsed.length === 2, "2 well-formed of 4; transport columns ignored")
    assert(parsed.map(_.node_id).toSet === Set("001", "002"))

    // streaming leg: the same cast wiring feeds StreamPipeline.start; all
    // 8 fixtures + 1 malformed record in ONE AvailableNow drain — the
    // stateless sink truths (events, dead letters, wide rows) must match
    // the per-batch drive above exactly; the malformed record vanishes
    val source = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long)]
    (0 until 8).foreach(i => source.addData(rec(s"k$i", obsJson(i), i.toLong)))
    source.addData((null, "…garbage…".getBytes("UTF-8"), "t", 0, 8L))
    val kafkaShaped = source.toDF()
      .toDF("key", "value", "topic", "partition", "offset")
    val sinks = new CollectingSinks
    val ckpt = Files.createTempDirectory("graft-kafka-ckpt").toString
    val queries = StreamPipeline.start(
      kafkaShaped.selectExpr("CAST(value AS STRING) AS value"),
      () => Fixtures.catalog, sinks, ckpt)
    queries.foreach(_.awaitTermination(60000))

    assert(sinks.events.size === 7)
    assert(sinks.deadLetters.size === 4)
    assert(sinks.wide(("array_of_things_chicago", "magnetic_field")).size === 2)
    assert(sinks.wide(("array_of_things_chicago", "computer_vision")).size === 2)
    assert(sinks.wide(("internet_of_stuff_seattle", "temperature")).size === 1)
  }

  test("catalog fix mid-stream emits resolve in the next batch — no restart") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val sinks = new CollectingSinks
    val ckpt = Files.createTempDirectory("graft-ckpt-midstream").toString
    val ghostObs =
      """{"network":"net","node_id":"n1","meta_id":1,""" +
        """"datetime":"2017-01-01T00:00:00","sensor":"ghost","data":{"a":1}}"""
    // catalog V1: sensor unknown -> does_not_exist alert
    @volatile var catalog = MetadataCatalog.fromMaps(
      Map.empty[String, Map[String, String]],
      Map.empty[String, Seq[(String, String)]])
    val query = StreamPipeline.start(
      source.toDF(), () => catalog, sinks, ckpt, availableNow = false).head
    try {
      source.addData(ghostObs)
      // the alerts are written inside the batch, so the batch is done when
      // they are
      query.processAllAvailable()
      assert(sinks.alerts.map(_.kind) === Seq("alert"))
      assert(sinks.alerts.head.sensor === "ghost")
      // register the sensor MID-STREAM — the query keeps running
      catalog = MetadataCatalog.fromMaps(
        Map("ghost" -> Map("a" -> "f.a")),
        Map("f" -> Seq("a" -> "integer")))
      source.addData(ghostObs)
      query.processAllAvailable()
      // the fix is visible in the very next batch: resolve, no restart
      assert(sinks.alerts.map(_.kind) === Seq("alert", "resolve"))
      // idle with no new data: no timer state, so no no-data batches
      val lastBatch = query.lastProgress.batchId
      Thread.sleep(1000)
      assert(query.lastProgress.batchId === lastBatch)
    } finally query.stop()
  }

  test("alert message key order follows document order for >4 data keys") {
    val spark2 = spark
    import spark2.implicits._
    // >4 entries is where a Map-typed field deserializes into a
    // HashMap and scrambles order — the status path must keep the pair
    // relation's document order (`pos`) instead
    val json =
      """{"network":"net","node_id":"n1","meta_id":1,""" +
        """"datetime":"2017-01-01T00:00:00","sensor":"tmp112","data":""" +
        """{"zk1":1,"yk2":2,"xk3":3,"wk4":4,"vk5":5,"uk6":6,"temperature":7}}"""
    val catalog = MetadataCatalog.fromMaps(
      Map("tmp112" -> Map("temperature" -> "temperature.temp")),
      Map("temperature" -> Seq("temp" -> "float")))
    val obs = graft.sources.ObservationSource.parse(
      Seq(json).toDF("value")).toDF()
    val statuses = graft.streaming.Alerts.observationStatuses(obs, catalog)
      .collect()
    assert(statuses.length === 1)
    val msg = statuses.head.messages.head
    assert(msg.contains("unknown key(s) zk1,yk2,xk3,wk4,vk5,uk6"),
      s"keys out of document order: $msg")
  }

  /** Drives the pure transition across simulated batches of sensor s1,
    * carrying its state from batch to batch. */
  class Transitions(var lastSeenMs: Option[Long] = None) {
    def step(nowMs: Long, statuses: Alerts.ObsStatus*): Seq[Alerts.AlertEvent] = {
      val (event, state) =
        Alerts.transition("s1", statuses, lastSeenMs, nowMs)
      lastSeenMs = state
      event.toSeq
    }
  }
  val err = Alerts.ObsStatus("s1", "net", "invalid_key", Seq("m1"))
  val ok = Alerts.ObsStatus("s1", "net", null, Nil)

  test("blacklist transition: alert suppressed while blacklisted, re-alerts after resolve") {
    val t = new Transitions
    assert(t.step(0, err).map(_.kind) === Seq("alert"))
    assert(t.step(1, err) === Nil)                       // suppressed
    assert(t.step(2, ok).map(_.kind) === Seq("resolve")) // clears
    assert(t.step(3, ok) === Nil)                        // no spurious resolve
    assert(t.lastSeenMs === None)                        // clean: no row
    assert(t.step(4, err).map(_.kind) === Seq("alert"))  // re-alerts
  }

  test("blacklist TTL: expired state is dropped and the sensor re-alerts on return") {
    val ttl = Alerts.blacklistTtlMs
    val broken = new Transitions
    assert(broken.step(0, err).map(_.kind) === Seq("alert"))
    assert(broken.step(ttl, err) === Nil)       // within the TTL: suppressed
    assert(broken.lastSeenMs === Some(ttl))     // seen broken: clock re-armed
    assert(broken.step(2 * ttl) === Nil)        // silent, not yet expired
    assert(broken.lastSeenMs === Some(ttl))
    assert(broken.step(2 * ttl + 1) === Nil)    // silent past the TTL
    assert(broken.lastSeenMs === None)          // ... is not written back
    // a sensor returning past the TTL counts as never blacklisted: broken
    // re-alerts, clean emits nothing (no resolve for a forgotten alert)
    assert(new Transitions(Some(0)).step(ttl + 1, err).map(_.kind) ===
      Seq("alert"))
    val cured = new Transitions(Some(0))
    assert(cured.step(ttl + 1, ok) === Nil)
    assert(cured.lastSeenMs === None)
  }

  test("blacklist transition: alert messages do not depend on status order") {
    val errs = Seq(Seq("m2", "m3"), Seq("m1"), Seq("m2"))
      .map(Alerts.ObsStatus("s1", "net", "invalid_key", _))
    val alerts = (errs :+ ok).permutations
      .map(statuses => new Transitions().step(0, statuses: _*)).toSet
    assert(alerts === Set(Seq(Alerts.AlertEvent("s1", "alert", Seq("m1")))))
  }

  test("restart: a second drain on the same checkpoint recovers the blacklist") {
    val root = Files.createTempDirectory("graft-restart")
    val input = Files.createDirectories(root.resolve("in"))
    val ckpt = root.resolve("ckpt").toString
    def obs(sensor: String): String =
      """{"network":"net","node_id":"n1","meta_id":1,""" +
        s""""datetime":"2017-01-01T00:00:00","sensor":"$sensor","data":{"a":1}}"""
    val unknownSensors = MetadataCatalog.fromMaps(
      Map.empty[String, Map[String, String]],
      Map.empty[String, Seq[(String, String)]])
    val curedRegistered = MetadataCatalog.fromMaps(
      Map("cured" -> Map("a" -> "f.a")), Map("f" -> Seq("a" -> "integer")))
    // each drain reads only the files it has not seen, as a restarted
    // consumer resumes from its checkpoint
    def drain(file: String, sensors: Seq[String],
        catalog: MetadataCatalog): Seq[(String, String)] = {
      Files.write(input.resolve(file),
        sensors.map(obs).mkString("\n").getBytes("UTF-8"))
      val sinks = new CollectingSinks
      StreamPipeline.start(spark.readStream.text(input.toString),
          () => catalog, sinks, ckpt)
        .foreach(_.awaitTermination(60000))
      sinks.alerts.map(e => (e.sensor, e.kind)).toSeq.sorted
    }
    assert(drain("1.json", Seq("broken", "cured"), unknownSensors) ===
      Seq(("broken", "alert"), ("cured", "alert")))
    // "broken" is still unknown: its recovered blacklist row suppresses a
    // second alert. "cured" is registered now and resolves. "fresh" is the
    // sentinel proving the alert query ran over the second drain's batch.
    assert(drain("2.json", Seq("broken", "cured", "fresh"), curedRegistered) ===
      Seq(("cured", "resolve"), ("fresh", "alert")))
  }

  test("replay: a batch re-run after a crash before its commit emits its alerts again") {
    val root = Files.createTempDirectory("graft-replay")
    val input = Files.createDirectories(root.resolve("in"))
    val ckpt = root.resolve("ckpt")
    def drain(): Seq[(String, String)] = {
      val sinks = new CollectingSinks
      StreamPipeline.start(spark.readStream.text(input.toString),
          () => Fixtures.catalog, sinks, ckpt.toString)
        .foreach(_.awaitTermination(60000))
      sinks.alerts.map(e => (e.sensor, e.kind)).toSeq.sorted
    }
    def write(file: String, fixtures: Range): Unit =
      Files.write(input.resolve(file),
        fixtures.map(obsJson).mkString("\n").getBytes("UTF-8"))
    // batch 0 blacklists camera and htu21d; batch 1 (their clean
    // observations) resolves both against batch 0's state
    write("1.json", 0 until 6)
    drain()
    write("2.json", 6 until 8)
    val lastBatch = drain()
    assert(lastBatch === Seq(("camera", "resolve"), ("htu21d", "resolve")))
    // crash between the sinks and the commit: batch 1 is not committed, so
    // the next start re-runs it over the same files and must read the
    // state batch 1 read, not the state it wrote
    val commits = ckpt.resolve("dataflow/commits")
    Files.delete(commits.resolve("1"))
    Files.deleteIfExists(commits.resolve(".1.crc"))
    assert(drain() === lastBatch)
  }
}
