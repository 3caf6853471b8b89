package graft

import graft.operators.Pipeline
import graft.streaming.StreamPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** K1 batch sink contract — the 100 TB wide-write shape: ONE data-driven
  * `partitionBy(network, feature)` job per batch (no driver-side feature
  * enumeration anywhere — the old `presentFeatures` collect was removed in
  * round 2), and `readWide` recovers the reference's per-feature typed
  * table via partition pruning, matching the pivot reference
  * (`References.widen`, once `Pipeline.widen`) row-for-row.
  */
class ParquetSinkSpec extends SparkSpec {

  private lazy val base: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-parquet-sink").toString
    val sinks = new StreamPipeline.ParquetSinks(dir)
    StreamPipeline.runBatch(Fixtures.observations.toDF(), Fixtures.catalog,
      sinks, Files.createTempDirectory("graft-parquet-sink-ckpt").toString,
      batchId = 0L)
    dir
  }

  test("K1: wide output is one partitioned directory tree, not per-feature jobs") {
    val wide = new java.io.File(s"$base/wide")
    val networks = wide.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(networks.toSeq === Seq(
      "network=array_of_things_chicago", "network=internet_of_stuff_seattle"))
    val aotFeatures = new java.io.File(wide, "network=array_of_things_chicago")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(aotFeatures === Set(
      "feature=temperature", "feature=relative_humidity",
      "feature=magnetic_field", "feature=computer_vision"))
  }

  test("readWide matches Pipeline.widen row-for-row (typed columns, NULL filling)") {
    import spark.implicits._
    val sinks = new StreamPipeline.ParquetSinks(base)
    val classified = Pipeline.pairRelation(
      Fixtures.observations.toDF(), Fixtures.catalog)
    for (feature <- Seq("magnetic_field", "computer_vision", "temperature")) {
      val fromSink = sinks.readWide(spark, Fixtures.catalog,
          "array_of_things_chicago", feature)
        .drop("network", "feature") // partition cols are the pruned constants
      val direct = References.widen(classified, Fixtures.catalog, feature)
        .filter(col("network") === "array_of_things_chicago")
        .drop("network")
      assert(fromSink.columns.toSeq === direct.columns.toSeq, feature)
      val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf).mkString("|")
      assert(fromSink.collect().map(key).sorted.toSeq ===
        direct.collect().map(key).sorted.toSeq, feature)
    }
  }

  test("readWide prunes partitions: scan carries PartitionFilters on network+feature") {
    val sinks = new StreamPipeline.ParquetSinks(base)
    val df = sinks.readWide(spark, Fixtures.catalog,
      "array_of_things_chicago", "magnetic_field")
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = s.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("network"), s)
    assert(pf.contains("feature"), s)
  }
}
