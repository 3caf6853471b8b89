package graft

import graft.catalog.MetadataCatalog
import graft.operators.Pipeline
import java.nio.file.Files

/** The parquet catalog loader keeps the catalog it built while its files
  * are unchanged (the reference's in-process catalog, app/mapper.js:72-112)
  * and reloads after a rewrite; the pipeline probes it without a job. */
class MetadataCatalogSpec extends SparkSpec {
  import MetadataCatalogSpec.Prop

  private def writeSensors(dir: String, mapping: Map[String, String]): Unit = {
    import spark.implicits._
    Seq("htu21d" -> mapping).toDF("name", "observed_properties")
      .write.mode("overwrite").parquet(s"$dir/sensors")
  }

  test("fromParquet: unchanged files load with no job, a rewritten mapping reloads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-catalog").toString
    writeSensors(dir, Map("Temp" -> "temperature.temperature"))
    Seq("temperature" -> Seq(Prop("temperature", "float"), Prop("humidity", "float")))
      .toDF("name", "observed_properties").write.parquet(s"$dir/features")
    var loaded = Seq.empty[MetadataCatalog]
    def load(): Unit = loaded :+=
      MetadataCatalog.fromParquet(spark, s"$dir/sensors", s"$dir/features")

    assert(executed(load()).jobs.nonEmpty)
    assert(executed(load()).jobs.isEmpty)
    assert(loaded(1) eq loaded(0))
    assert(loaded(1).mappings === Seq(MetadataCatalog.Mapping(
      "htu21d", "temp", "temperature", "temperature", "float")))

    writeSensors(dir, Map("Temp" -> "temperature.humidity"))
    load()
    assert(loaded(2).mappings === Seq(MetadataCatalog.Mapping(
      "htu21d", "temp", "temperature", "humidity", "float")))
  }

  test("enrichment probes the catalog inside the scan's job: no broadcast, no job of its own") {
    val dir = Files.createTempDirectory("graft-catalog-probe")
    val input = dir.resolve("obs.json")
    Files.write(input, Seq(
      """{"network":"n","node_id":"001","meta_id":1,"datetime":"2017-01-01T00:00:00","sensor":"HTU21D","data":{"Temp":37.91,"Humdrum":1}}""",
      """{"network":"n","node_id":"002","meta_id":1,"datetime":"2017-01-01T00:00:00","sensor":"wubdb89","data":{"x":1}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val pairs = Pipeline.pairRelation(
      sources.ObservationSource.readJsonLines(spark, input.toString).toDF(),
      Fixtures.catalog)
    val run = executed(pairs.write.format("noop").mode("overwrite").save())
    assert(run.jobs.size === 1, run.plans.mkString("\n"))
    assert(!run.plans.exists(_.contains("Broadcast")), run.plans.mkString("\n"))
    val enriched = pairs.select("sensor", "key", "feature", "property", "ptype")
      .collect().map(r => (0 until 5).map(r.getString))
    assert(enriched.toSet === Set(
      Seq("htu21d", "temp", "temperature", "temperature", "float"),
      Seq("htu21d", "humdrum", null, null, null),
      Seq("wubdb89", "x", null, null, null)))
  }
}

object MetadataCatalogSpec {
  final case class Prop(name: String, `type`: String)
}
