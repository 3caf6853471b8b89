package graft

import graft.catalog.MetadataCatalog
import graft.model.{ObservationRow, TaggedScalar}
import graft.operators.{Pipeline, SqlText}
import graft.streaming.{JdbcTextSinks, StreamPipeline}
import scala.collection.immutable.VectorMap

/** K1/K2 SQL-text goldens — the reference's exact INSERT statements
  * (app/mapper.js:306-358), pinned against the golden strings of
  * tests/travis_tests/unit_tests.js:54-161 — plus an end-to-end execution
  * of the generated text through JdbcTextSinks against embedded Derby.
  */
class JdbcSinkSpec extends SparkSpec {

  val dt = Fixtures.ts("2016-08-05T00:00:08.246")
  def num(l: String) = TaggedScalar(l, "number")
  def str(l: String) = TaggedScalar(l, "string")
  def bool(b: Boolean) = TaggedScalar(b.toString, "boolean")
  private val aot = "array_of_things_chicago"

  private def sqlsOf(obs: ObservationRow,
      catalog: MetadataCatalog = Fixtures.catalog): Seq[String] = {
    val spark2 = spark
    import spark2.implicits._
    val rel = Pipeline.pairRelation(Seq(obs).toDF(), catalog)
    SqlText.featureInsertText(Pipeline.featureObservations(rel), catalog)
      .orderBy("feature_pos")
      .select("sql").collect().map(_.getString(0)).toSeq
  }

  test("feature INSERT goldens (unit_tests.js:74-161)") {
    // obs1 split across two features
    val obs1 = ObservationRow(aot, "00a", 23, dt, "htu21d",
      VectorMap("temp" -> num("37.91"), "humidity" -> num("27.48")))
    assert(sqlsOf(obs1) === Seq(
      "INSERT INTO array_of_things_chicago__temperature " +
        "(node_id, datetime, meta_id, sensor, \"temperature\") " +
        "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'htu21d', 37.91);",
      "INSERT INTO array_of_things_chicago__relative_humidity " +
        "(node_id, datetime, meta_id, sensor, \"humidity\") " +
        "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'htu21d', 27.48);"))
    // obs2: full observation of one feature
    val obs2 = ObservationRow(aot, "00a", 23, dt, "hmc5883l",
      VectorMap("x" -> num("56.77"), "y" -> num("32.11"), "z" -> num("90.92")))
    assert(sqlsOf(obs2) === Seq(
      "INSERT INTO array_of_things_chicago__magnetic_field " +
        "(node_id, datetime, meta_id, sensor, \"x\", \"y\", \"z\") " +
        "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'hmc5883l', " +
        "56.77, 32.11, 90.92);"))
    // obs3: partial observation
    val obs3 = ObservationRow(aot, "00a", 23, dt, "hmc5883l",
      VectorMap("y" -> num("32.11"), "z" -> num("90.92")))
    assert(sqlsOf(obs3) === Seq(
      "INSERT INTO array_of_things_chicago__magnetic_field " +
        "(node_id, datetime, meta_id, sensor, \"y\", \"z\") " +
        "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'hmc5883l', " +
        "32.11, 90.92);"))
    // obs4: bool -> TRUE, varchar quoted, integer and float bare
    val obs4 = ObservationRow(aot, "00a", 23, dt, "camera",
      VectorMap("standing_water" -> bool(true),
        "cloud_type" -> str("cumulonimbus"),
        "num_pedestrians" -> num("13"), "traffic_density" -> num("0.44")))
    assert(sqlsOf(obs4) === Seq(
      "INSERT INTO array_of_things_chicago__computer_vision " +
        "(node_id, datetime, meta_id, sensor, \"standing_water\", " +
        "\"cloud_type\", \"num_pedestrians\", \"traffic_density\") " +
        "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'camera', " +
        "TRUE, 'cumulonimbus', 13, 0.44);"))
    // obs5: second network
    val obs5 = ObservationRow("internet_of_stuff_seattle", "00a", 23, dt,
      "htu21d", VectorMap("temperature" -> num("40.01")))
    assert(sqlsOf(obs5) === Seq(
      "INSERT INTO internet_of_stuff_seattle__temperature " +
        "(node_id, datetime, meta_id, sensor, \"temperature\") " +
        "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'htu21d', 40.01);"))
  }

  test("misfit INSERT golden (unit_tests.js:54-71)") {
    val spark2 = spark
    import spark2.implicits._
    // the golden exercises the text function on an arbitrary dead-letter
    // row — feed the blob directly (blob construction itself is pinned by
    // PipelineSpec/StreamingSpec)
    val df = Seq((aot, "00a", 23L, dt, "htu21d",
        """{"temp":37.91,"humidity":27.48}"""))
      .toDF("network", "node_id", "meta_id", "datetime", "sensor", "data")
    val sql = SqlText.misfitInsertText(df).select("sql").head().getString(0)
    assert(sql === "INSERT INTO array_of_things_chicago__unknown_feature " +
      "VALUES ('00a', '2016-08-05T00:00:08.246000', 23, 'htu21d', " +
      "'{\"temp\":37.91,\"humidity\":27.48}');")
  }

  /** Digit-leading identifiers are the documented reason for the quoting
    * (mapper.js:330-332). */
  val nmCatalog: MetadataCatalog = MetadataCatalog.fromMaps(
    sensorMap = Map("spectro" -> Map("500nm" -> "spectrum.500nm")),
    featureMap = Map("spectrum" -> Seq("500nm" -> "float")))

  test("digit-leading property names are double-quoted") {
    val obs = ObservationRow("net", "n1", 1, dt, "spectro",
      VectorMap("500nm" -> num("0.75")))
    assert(sqlsOf(obs, nmCatalog) === Seq(
      "INSERT INTO net__spectrum (node_id, datetime, meta_id, sensor, " +
        "\"500nm\") VALUES ('n1', '2016-08-05T00:00:08.246000', 1, " +
        "'spectro', 0.75);"))
  }

  test("apostrophes in varchar values are SQL-doubled (deliberate divergence)") {
    val obs = ObservationRow(aot, "00a", 23, dt, "camera",
      VectorMap("cloud_type" -> str("o'clock")))
    val sqls = sqlsOf(obs)
    assert(sqls.length === 1)
    assert(sqls.head.contains("'o''clock'"), sqls.head)
  }

  test("null fields render as the literal text null (util.format parity)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Option.empty[String], "n1", 23L,
        Option.empty[java.sql.Timestamp], "htu21d", """{"a":1}"""))
      .toDF("network", "node_id", "meta_id", "datetime", "sensor", "data")
    val sql = SqlText.misfitInsertText(df).select("sql").head().getString(0)
    assert(sql === "INSERT INTO null__unknown_feature VALUES " +
      "('n1', 'null', 23, 'htu21d', '{\"a\":1}');")
  }

  test("catalog loads from live JDBC (Derby seeded like configure_tests.js:38-75)") {
    val url = "jdbc:derby:memory:graftcat;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE sensor__sensor_metadata (name VARCHAR(64), " +
      "observed_properties VARCHAR(1024), info VARCHAR(64))")
    st.execute("CREATE TABLE sensor__feature_metadata (name VARCHAR(64), " +
      "observed_properties VARCHAR(1024))")
    // the reference's exact seed payloads (tests/configure_tests.js:38-75)
    st.execute("INSERT INTO sensor__sensor_metadata VALUES ('htu21d', " +
      "'{\"Humidity\": \"relative_humidity.humidity\", \"Temp\": \"temperature.temperature\", " +
      "\"Temperature\": \"temperature.temperature\"}', '{}')")
    st.execute("INSERT INTO sensor__sensor_metadata VALUES ('hmc5883l', " +
      "'{\"X\": \"magnetic_field.x\", \"Y\": \"magnetic_field.y\", \"Z\": \"magnetic_field.z\"}', '{}')")
    st.execute("INSERT INTO sensor__feature_metadata VALUES ('temperature', " +
      "'[{\"name\": \"temperature\", \"type\": \"FLOAT\"}]')")
    st.execute("INSERT INTO sensor__feature_metadata VALUES ('relative_humidity', " +
      "'[{\"name\": \"humidity\", \"type\": \"FLOAT\"}]')")
    st.execute("INSERT INTO sensor__feature_metadata VALUES ('computer_vision', " +
      "'[{\"name\": \"standing_water\", \"type\": \"BOOL\"}, " +
      "{\"name\": \"cloud_type\", \"type\": \"VARCHAR\"}, " +
      "{\"name\": \"traffic_density\", \"type\": \"FLOAT\"}, " +
      "{\"name\": \"num_pedestrians\", \"type\": \"INTEGER\"}]')")

    val cat = MetadataCatalog.fromJdbc(spark, url)
    assert(cat.sensors === Set("htu21d", "hmc5883l"))
    // lowercase normalization on load (mapper.js:139-140/169-172)
    val humidity = cat.mappings.find(m =>
      m.sensor == "htu21d" && m.key == "humidity").get
    assert(humidity.feature === "relative_humidity" &&
      humidity.property === "humidity" && humidity.ptype === "float")
    // declared property ORDER survives the JSON round-trip (K1 column set)
    assert(cat.propsOf("computer_vision").map(p => (p.property, p.ptype)) ===
      Seq("standing_water" -> "bool", "cloud_type" -> "varchar",
        "traffic_density" -> "float", "num_pedestrians" -> "integer"))
    // the JDBC-loaded catalog drives the pipeline identically to the
    // in-memory fixture: same INSERT golden for the htu21d observation
    val obs1 = ObservationRow(aot, "00a", 23, dt, "htu21d",
      VectorMap("temp" -> num("37.91"), "humidity" -> num("27.48")))
    assert(sqlsOf(obs1, cat) === sqlsOf(obs1))
    conn.close()
  }

  test("JdbcTextSinks executes the generated text end-to-end (Derby)") {
    val spark2 = spark
    import spark2.implicits._
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    Seq(
      "CREATE TABLE array_of_things_chicago__temperature (node_id VARCHAR(32), " +
        "datetime VARCHAR(32), meta_id INT, sensor VARCHAR(32), \"temperature\" DOUBLE)",
      "CREATE TABLE array_of_things_chicago__relative_humidity (node_id VARCHAR(32), " +
        "datetime VARCHAR(32), meta_id INT, sensor VARCHAR(32), \"humidity\" DOUBLE)",
      "CREATE TABLE array_of_things_chicago__unknown_feature (node_id VARCHAR(32), " +
        "datetime VARCHAR(32), meta_id INT, sensor VARCHAR(32), data VARCHAR(512))"
    ).foreach(st.execute)

    val good = ObservationRow(aot, "00a", 23, dt, "htu21d",
      VectorMap("temp" -> num("37.91"), "humidity" -> num("27.48")))
    val bad = ObservationRow(aot, "005", 23, dt, "htu21d",
      VectorMap("temp" -> str("high"), "humdrum" -> num("27.48")))
    // apostrophe round-trip: doubled in the INSERT, stored single
    val badQuote = ObservationRow(aot, "006", 23, dt, "htu21d",
      VectorMap("temp" -> str("o'clock")))
    val sinks = new JdbcTextSinks(url)
    StreamPipeline.runBatch(Seq(good, bad, badQuote).toDF(),
      Fixtures.catalog, sinks,
      java.nio.file.Files.createTempDirectory("graft-jdbc-ckpt").toString, 0L)

    val rs1 = st.executeQuery("SELECT node_id, sensor, \"temperature\" " +
      "FROM array_of_things_chicago__temperature")
    assert(rs1.next())
    assert(rs1.getString(1) === "00a" && rs1.getString(2) === "htu21d")
    assert(rs1.getDouble(3) === 37.91)
    assert(!rs1.next())
    val rs2 = st.executeQuery("SELECT \"humidity\" " +
      "FROM array_of_things_chicago__relative_humidity")
    assert(rs2.next() && rs2.getDouble(1) === 27.48)
    val rs3 = st.executeQuery("SELECT node_id, data " +
      "FROM array_of_things_chicago__unknown_feature ORDER BY node_id")
    assert(rs3.next())
    assert(rs3.getString(1) === "005")
    assert(rs3.getString(2) === """{"temp":"high","humdrum":27.48}""")
    assert(rs3.next())
    assert(rs3.getString(1) === "006")
    assert(rs3.getString(2) === """{"temp":"o'clock"}""")
    assert(!rs3.next())
    conn.close()
  }
}
