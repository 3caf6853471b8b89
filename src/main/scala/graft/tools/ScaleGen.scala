package graft.tools

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: derives an sf·k slice from an existing
  * testdata directory by unioning k key-shifted copies of every fact
  * table, entirely as Spark jobs (no driver-side row materialization —
  * the same program runs at any scale on a cluster).
  *
  * Fidelity over a naive k-fold copy, so the scaled workloads keep their
  * shape instead of degenerating:
  *  - all foreign keys shift consistently (orders⋈lineitem⋈part⋈supplier
  *    join fan-outs and group cardinalities scale linearly, selectivities
  *    unchanged);
  *  - document text is perturbed per copy (tokens at copy-dependent
  *    positions are tagged), so cross-copy pairs are NOT near-exact
  *    duplicates — intra-copy duplicate density stays what the corpus
  *    had, total near-dup work scales ~k, shingle vocabulary grows;
  *  - embeddings get deterministic per-copy component noise (±0.12 on
  *    unit vectors ⇒ cross-copy cosine ≈ 0.85–0.9), so ANN/near-dup
  *    outputs don't explode with k² exact-duplicate pairs;
  *  - dimensions (region, nation) stay fixed, as they would in reality.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <dstDir> [k=10]
  * (e.g. /root/testdata/sf0.1 /tmp/testdata/sf1 10).
  */
object ScaleGen {

  /** Union k copies of `df`, each transformed by `shift(copyIndex)`. */
  private def copies(df: DataFrame, k: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(i => shift(df, i)).reduce(_ unionAll _)

  private def bump(c: String, step: Long, i: Int): Column =
    col(c) + lit(step * i)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcDir> <dstDir> [k]")
    val (src, dst) = (args(0), args(1))
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = Engine.session()
    try generate(spark, src, dst, k)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    // events.parquet carries TIMESTAMP(NANOS): read nanos as plain long
    // (Engine.builder sets the legacy conf) and write it back that way —
    // EventOps.tbl's `ts div 1000` consumption is identical for an
    // INT64-nanos column whether or not it is annotated
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // fixed dimensions: straight copies
    Seq("region", "nation").foreach(t => write(t)(read(t)))

    // key steps = source cardinalities (keys are 0-based dense). Read the
    // max through Number (any integral key type) and fail with the table/
    // column named — an empty source yields a null max, and an opaque NPE
    // here would point nowhere.
    def step(t: String, key: String): Long = {
      val m = read(t).agg(max(col(key))).head().getAs[Number](0)
      require(m != null, s"ScaleGen: $t.parquet is empty ($key has no max)")
      m.longValue() + 1L
    }

    val oStep = step("orders", "o_orderkey")
    val cStep = step("customer", "c_custkey")
    val sStep = step("supplier", "s_suppkey")
    val pStep = step("part", "p_partkey")
    val eStep = step("events", "event_id")
    val uStep = step("events", "user_id")
    val dStep = step("documents", "doc_id")
    val vStep = step("embeddings", "vec_id")

    write("customer")(copies(read("customer"), k)((df, i) =>
      df.withColumn("c_custkey", bump("c_custkey", cStep, i))))
    write("supplier")(copies(read("supplier"), k)((df, i) =>
      df.withColumn("s_suppkey", bump("s_suppkey", sStep, i))))
    write("part")(copies(read("part"), k)((df, i) =>
      df.withColumn("p_partkey", bump("p_partkey", pStep, i))))
    write("orders")(copies(read("orders"), k)((df, i) =>
      df.withColumn("o_orderkey", bump("o_orderkey", oStep, i))
        .withColumn("o_custkey", bump("o_custkey", cStep, i))))
    write("lineitem")(copies(read("lineitem"), k)((df, i) =>
      df.withColumn("l_orderkey", bump("l_orderkey", oStep, i))
        .withColumn("l_partkey", bump("l_partkey", pStep, i))
        .withColumn("l_suppkey", bump("l_suppkey", sStep, i))))
    write("events")(copies(read("events"), k)((df, i) =>
      df.withColumn("event_id", bump("event_id", eStep, i))
        .withColumn("user_id", bump("user_id", uStep, i))))

    // documents: tag tokens at copy-dependent positions (pos % 7 == i % 7,
    // plus a second stripe for i >= 7) so cross-copy shingle Jaccard sits
    // well under near-dup thresholds while intra-copy structure is intact
    write("documents")(copies(read("documents"), k) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", bump("doc_id", dStep, i))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), (t, p) =>
            when(p % 7 === lit(i % 7) || p % 11 === lit(i % 11),
              concat(t, lit(s"~$i"))).otherwise(t))))
        .withColumn("n_chars", length(col("text")))
    })

    // embeddings: deterministic per-(copy, component, vec) noise, ±0.12
    // max on unit vectors; NOT renormalized (consumers that need unit
    // norm normalize themselves — SimilarityOps.normalizeEmbeddings)
    write("embeddings")(copies(read("embeddings"), k) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("vec_id", bump("vec_id", vStep, i))
        .withColumn("embedding",
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, p) => x + ((col("vec_id") * 31 + p * 17 + lit(i * 7)) % 13 - 6)
              .cast("float") * lit(0.02f)))
    })
  }
}
