package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The run's configuration, written by run.py. */
final class Cfg(root: JsonNode) {
  def node(k: String): JsonNode = root.get(k)
  def str(k: String): String = root.get(k).asText
  def num(k: String): Double = root.get(k).asDouble
  def strs(k: String): Seq[String] =
    root.get(k).elements().asScala.map(_.asText).toSeq
}

/** The run's raw measurements, read back by run.py. */
final class Out {
  private val m = scala.collection.mutable.LinkedHashMap[String, Any]()
  def put(k: String, v: Any): Unit = m(k) = v
  def toJson: String = Out.json(m)
}

object Out {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}

/** JVM side of the benchmark: `perfbench.Main <config.json> <result.json>`,
  * or `perfbench.Main oracle-sql <out.json> <query>...`. */
object Main {

  def session(cores: Int, run: String): SparkSession = {
    val s = graft.Engine.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "oracle-sql") {
      // `oracle-sql <out.json> <query>...`: the DuckDB oracle of each query
      Files.write(Paths.get(args(1)), Out.json(args.drop(2).flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
        .getBytes(StandardCharsets.UTF_8))
      return
    }
    val started = Clock.now
    val cfg = new Cfg(new ObjectMapper().readTree(
      Files.readAllBytes(Paths.get(args(0)))))
    val run = cfg.str("run_dir")
    val workload = cfg.str("workload")
    val cores = cfg.num("cores").toInt
    val out = new Out
    out.put("jvm_start_ms", started)
    val spark = session(cores, run)
    val trace = new Trace(cfg.num("trace") > 0, s"$workload-${cfg.str("seed")}")
    workload match {
      case "stream_drain" => Streams.drain(spark, cfg, trace, out)
      case "batch_suite" => Batch.run(spark, cfg, trace, out)
    }
    out.put("jvm", Trace.jvmPeaks())
    if (trace.on) {
      out.put("trace", trace.toJson)
      if (workload == "stream_drain") out.put("baseline_1c", baseline1c(spark, cfg))
    }
    spark.stop()
    Files.write(Paths.get(args(1)), out.toJson.getBytes(StandardCharsets.UTF_8))
  }

  /** The same drain on a one-core session: the single-thread baseline. It
    * runs without a warm-up drain of its own: the JIT and the generated-code
    * cache are process-wide and already warm, so only the session is new. */
  def baseline1c(spark: SparkSession, cfg: Cfg): Map[String, Double] = {
    spark.stop()
    val run = cfg.str("run_dir")
    val one = session(1, s"$run/one")
    val st = Streams.drainOnce(one, cfg.str("stage_dir"), s"$run/one/out",
      s"$run/catalog", new Trace(false, ""), "one",
      cfg.num("files_per_trigger").toInt)
    val ms = st.endMs - st.startMs
    one.stop()
    Map("ms" -> ms)
  }
}
