package graft

import graft.operators.Pipeline
import graft.streaming.Alerts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end batch pipeline over the 8 canonical observations, asserting
  * the reference integration suite's truths
  * (tests/travis_tests/integration_tests.js:281-425):
  *  - 7 publisher events;
  *  - 4 dead-letter rows with exact JSON blobs;
  *  - per-(network, feature) wide-table rows incl. NULL-filling.
  */
class PipelineSpec extends SparkSpec {

  lazy val classified: DataFrame = {
    import spark.implicits._
    Pipeline.pairRelation(Fixtures.observations.toDF(), Fixtures.catalog).cache()
  }

  test("A1/K3: exactly 7 feature observations (publisher events)") {
    val events = Pipeline.featureObservations(classified)
    assert(events.count() === 7)
    // node 001 splits into two features
    val n1 = events.filter(col("node_id") === "001")
      .select("feature").collect().map(_.getString(0)).sorted
    assert(n1 === Array("relative_humidity", "temperature"))
    // node 003's valid residue is only magnetic_field.z
    val n3 = events.filter(col("node_id") === "003").collect()
    assert(n3.length === 1)
    assert(n3.head.getAs[Map[String, String]]("results") === Map("z" -> "90.92"))
    // node 005 and 006 emit nothing
    assert(events.filter(col("node_id").isin("005", "006")).count() === 0)
  }

  test("K2: dead-letter rows with exact reference JSON") {
    val dl = Pipeline.misfits(classified)
      .select("network", "node_id", "sensor", "data")
      .collect().map(r => (r.getString(1), (r.getString(0), r.getString(2), r.getString(3))))
      .toMap
    assert(dl.keySet === Set("003", "004", "005", "006"))
    assert(dl("003")._3 === """{"x1":56.77,"y1":32.11}""")
    assert(dl("004")._3 === """{"standing_water":10}""")
    assert(dl("005")._3 === """{"temp":"high","humdrum":27.48}""")
    assert(dl("006")._3 === """{"intensity":90}""")
    assert(dl("006")._2 === "wubdb89")
  }

  test("K1: wide tables, catalog-driven columns, NULL filling") {
    // magnetic_field: nodes 002 (partial: x NULL) and 003 (only z)
    val mf = References.widen(classified, Fixtures.catalog, "magnetic_field")
      .filter(col("network") === "array_of_things_chicago")
    assert(mf.columns.toSeq === Seq("network", "node_id", "meta_id",
      "datetime", "sensor", "x", "y", "z"))
    val rows = mf.collect().map(r => r.getString(1) ->
      (Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))).toMap
    assert(rows("002") === ((None, Some(32.11), Some(90.92))))
    assert(rows("003") === ((None, None, Some(90.92))))

    // computer_vision: node 004 (standing_water errored → NULL), node 007 full
    val cv = References.widen(classified, Fixtures.catalog, "computer_vision")
    val cvRows = cv.collect().map(r => r.getString(1) -> r).toMap
    assert(cvRows("004").getAs[Any]("standing_water") === null)
    assert(cvRows("004").getAs[String]("cloud_type") === "cumulonimbus")
    assert(cvRows("004").getAs[Int]("num_pedestrians") === 9)
    assert(cvRows("004").getAs[Double]("traffic_density") === 0.38)
    assert(cvRows("007").getAs[Boolean]("standing_water") === true)
    assert(cvRows("007").getAs[Int]("num_pedestrians") === 11)
    // meta_id stored as DOUBLE PRECISION (configure_tests.js:82)
    assert(cvRows("007").getAs[Double]("meta_id") === 23.0)
  }

  test("K1: second-network routing (node 008)") {
    val t = References.widen(classified, Fixtures.catalog, "temperature")
    val byNet = t.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(byNet === Set(
      ("array_of_things_chicago", "001"),
      ("internet_of_stuff_seattle", "008")))
  }

  test("G1 derivation: per-observation alert classification") {
    import spark.implicits._
    import graft.model.{ObservationRow, TaggedScalar}
    import scala.collection.immutable.VectorMap
    val aot = "array_of_things_chicago"
    def obs(node: String, sensor: String, data: (String, TaggedScalar)*) =
      ObservationRow(aot, node, 1, Fixtures.t0, sensor, VectorMap(data: _*))
    val jsNull = TaggedScalar("null", "null")
    val edge = Seq(
      // two keys fold to `temp`; the last value decides the coercion
      obs("101", "htu21d", "Temp" -> Fixtures.num("1.5"),
        "TEMP" -> Fixtures.str("bad")),
      obs("102", "htu21d", "TEMP" -> Fixtures.str("bad"),
        "Temp" -> Fixtures.num("2")),
      // JSON null: Number(null) = 0 is a float, parseInt("null") no int
      obs("103", "htu21d", "temperature" -> jsNull),
      obs("104", "camera", "num_pedestrians" -> jsNull),
      // empty data: clean for a registered sensor, unknown otherwise
      obs("105", "htu21d"),
      obs("106", "ghost"),
      // a registered sensor with zero mappings: every key is unknown
      obs("107", "bare", "a" -> Fixtures.num("1")),
      obs("108", null, "temp" -> Fixtures.num("1")))
    val catalog = Fixtures.catalog.copy(
      registeredSensors = Fixtures.catalog.registeredSensors + "bare")
    val statuses = Alerts.observationStatuses(
        (Fixtures.observations ++ edge).toDF(), catalog)
      .collect().map(s => (s.sensor, s.network, s.alertType, s.messages))
      .toSeq
    val sea = "internet_of_stuff_seattle"
    val ok = Seq.empty[String]
    val expected = Seq(
      // the 8 fixtures, nodes 001-008
      ("htu21d", aot, null, ok),
      ("hmc5883l", aot, null, ok),
      ("hmc5883l", aot, "invalid_key", Seq("Received data from sensor " +
        "hmc5883l with unknown key(s) x1,y1from network " +
        "array_of_things_chicago. Please update the keys and properties in " +
        "this sensors metadata.")),
      ("camera", aot, "invalid_key", Seq("Property standing_water of " +
        "sensor camera expected type bool and could not correctly coerce " +
        "value 10 of type number")),
      ("htu21d", aot, "invalid_key", Seq("Received data from sensor " +
        "htu21d with unknown key(s) humdrumfrom network " +
        "array_of_things_chicago. Please update the keys and properties in " +
        "this sensors metadata.", "Property temperature of sensor htu21d " +
        "expected type float and could not correctly coerce value high of " +
        "type string")),
      ("wubdb89", aot, "does_not_exist", Seq("Sensor wubdb89 not found in " +
        "sensor metadata for network array_of_things_chicago. Please add " +
        "this sensor.")),
      ("camera", aot, null, ok),
      ("htu21d", sea, null, ok),
      // edge cases, nodes 101-108
      ("htu21d", aot, "invalid_key", Seq("Property temperature of sensor " +
        "htu21d expected type float and could not correctly coerce value " +
        "bad of type string")),
      ("htu21d", aot, null, ok),
      ("htu21d", aot, null, ok),
      ("camera", aot, "invalid_key", Seq("Property num_pedestrians of " +
        "sensor camera expected type integer and could not correctly " +
        "coerce value null of type null")),
      ("htu21d", aot, null, ok),
      ("ghost", aot, "does_not_exist", Seq("Sensor ghost not found in " +
        "sensor metadata for network array_of_things_chicago. Please add " +
        "this sensor.")),
      ("bare", aot, "invalid_key", Seq("Received data from sensor bare " +
        "with unknown key(s) afrom network array_of_things_chicago. Please " +
        "update the keys and properties in this sensors metadata.")),
      ("", aot, "does_not_exist", Seq("Sensor  not found in sensor " +
        "metadata for network array_of_things_chicago. Please add this " +
        "sensor.")))
    def canon(rows: Seq[(String, String, String, Seq[String])]) =
      rows.sortBy { case (s, n, t, ms) => (s, n, String.valueOf(t), ms.mkString("\n")) }
    assert(canon(statuses) === canon(expected))
  }

  test("G1 derivation: rows sharing an observation identity give one status and one dead-letter row") {
    import spark.implicits._
    import graft.model.ObservationRow
    import scala.collection.immutable.VectorMap
    // both rows hold a temperature pair and a misfit at the same `pos`, so
    // each output's order (and the LAST_WIN `results` value) rests on its
    // sort key's tie-break
    val row = ObservationRow("net", "201", 5, Fixtures.t0, "htu21d",
      VectorMap("Temperature" -> Fixtures.num("20.5"),
        "Temp" -> Fixtures.str("high"), "Humidity" -> Fixtures.num("40")))
    val twin = row.copy(data = VectorMap("Temp" -> Fixtures.num("21.5"),
      "Humidity" -> Fixtures.str("wet")))
    val rel = Pipeline.pairRelation(Seq(row, twin).toDF(), Fixtures.catalog)
    val features = Pipeline.featureObservations(rel)
      .select("node_id", "feature", "feature_pos", "results").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getMap[String, String](3).toSeq))
      .sortBy(_._2).toSeq
    assert(features === Seq(
      ("201", "relative_humidity", 2, Seq("humidity" -> "40")),
      ("201", "temperature", 0, Seq("temperature" -> "21.5"))))
    val statuses = Alerts.statusesOf(rel, Fixtures.catalog).collect()
    assert(statuses.length === 1)
    assert(statuses.head.alertType === "invalid_key")
    assert(statuses.head.messages === Seq(
      "Property humidity of sensor htu21d expected type float and could " +
        "not correctly coerce value wet of type string",
      "Property temperature of sensor htu21d expected type float and " +
        "could not correctly coerce value high of type string"))
    assert(Pipeline.misfits(rel).select("data").as[String].collect() ===
      Array("""{"humidity":"wet","temp":"high"}"""))
  }

  test("R1 property: valid ∪ misfit partitions the pair relation losslessly") {
    val total = classified.filter(col("key").isNotNull).count()
    val v = Pipeline.validPairs(classified).count()
    val m = classified.filter(col("misfit")).count()
    assert(v + m === total)
    assert(total === Fixtures.observations.map(_.data.size).sum)
  }

  test("K2: dead-letter JSON escapes quotes/control chars in keys and values") {
    import spark2.implicits._
    import graft.model.{ObservationRow, TaggedScalar}
    import scala.collection.immutable.VectorMap
    val nasty = Seq(ObservationRow("net", "x1", 1, Fixtures.t0, "htu21d",
      VectorMap(
        "bad\"key" -> TaggedScalar("va\"l\nue\r", "string"),
        "ctrl" -> TaggedScalar("ab", "string")))).toDF()
    val rel = Pipeline.pairRelation(nasty, Fixtures.catalog)
    val blob = Pipeline.misfits(rel).select("data").collect().head.getString(0)
    // must parse as valid JSON with the original content round-tripped
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = om.readTree(blob)
    assert(parsed.get("bad\"key").asText() === "va\"l\nue\r")
    assert(parsed.get("ctrl").asText() === "ab")
  }

  lazy val spark2 = spark

  test("K3: event JSON rendering (coerced values, typed quoting)") {
    val ev = Pipeline.eventJson(
      Pipeline.featureObservations(classified), Fixtures.catalog)
    val e7 = ev.filter(col("node_id") === "007").select("event_json")
      .collect().head.getString(0)
    assert(e7.contains(""""feature":"computer_vision""""))
    assert(e7.contains(""""cloud_type":"cumulonimbus""""))  // varchar quoted
    assert(e7.contains(""""num_pedestrians":11"""))          // int bare
    assert(e7.contains(""""standing_water":true"""))         // bool bare
    assert(e7.contains(""""network":"array_of_things_chicago""""))
  }
}
