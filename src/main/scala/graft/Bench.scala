package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON metrics line (driver contract). A session warmup runs
  * first so the first measured query doesn't absorb JVM/codegen startup.
  *
  * HEAP: run with the build's default -Xmx8g (sbt runMain — the driver
  * contract), NOT a huge heap. Measured round 6: the same suite under
  * -Xmx100g on this 125 GB box degrades 5-30× erratically
  * (dedup_clusters 4.7 s → 72-81 s, text_cosine_pairs 5.3 s → 292 s) —
  * the lazily-expanding giant heap defers GC until the JVM's RSS
  * collides with the kernel's proactive reclaim (kdamond/kcompactd),
  * which then stalls every job for seconds. A right-sized heap GCs
  * early, keeps RSS flat, and the same queries run stably.
  *
  * Optional args (driver passes none; used for isolation re-measurement):
  *   args(0) — comma-separated query-name filter ("all" = everything)
  *   args(1) — repeat count per query (default 4); every repetition is
  *             timed in the same JVM and all samples are printed to
  *             stderr, so a one-off GC/JIT artifact is distinguishable
  *             from a real cost. The reported number is the MIN of the
  *             samples: rounds 1, 2 and 4 each mis-flagged 3-6 queries as
  *             regressed on single samples that isolation later showed
  *             were cross-query cache pressure or box load — best-of-n
  *             keeps the headline honest (persisted blocks are released
  *             per sample, so no sample ever reads another's work). Default
  *             raised 2 → 3 in round 5: this box's kernel memory-reclaim
  *             daemons (kdamond/kcompactd) produce multi-second stalls in
  *             BURSTS. Since round 11 the samples are INTERLEAVED (pass k
  *             runs the whole query list once — see the loop comment):
  *             storms on this box last minutes, so consecutive samples of
  *             one query all landed inside one storm and its min read
  *             10-25× high while the neighbors' read true — the round-10
  *             recorded artifact's dedup_clusters (90/113/56 s vs 2-3 s
  *             idle) was exactly this measurement artifact. Default
  *             raised 3 → 4 with the interleave: a storm is about as
  *             long as one full pass (~45 s at sf0.1), so a fourth pass
  *             materially raises every query's chance of at least one
  *             storm-free sample; extra passes can only improve a MIN
  *             estimator, and the cost is wall-clock only.
  *
  * A query that throws is reported in an `errors` map (name → exception
  * class) and its wall-clock entry is negated — a broken query must never
  * look like a fast successful one.
  *
  * Output contract:
  *   - stdout carries the FULL metrics JSON line (every per-query min)
  *     followed by ONE COMPACT summary line (total / n_queries / n_errors
  *     only, well under any tail cap) — a consumer that captures only the
  *     tail of stdout still ends on a complete parseable JSON object;
  *     a consumer of the full line should read the LAST line that parses.
  *   - the full JSON — plus per-query `samples` arrays, so a one-off
  *     spike is adjudicable from the artifact without a re-run — is
  *     mirrored to SPARK_GRAFT_BENCH_OUT (default
  *     bench_out/bench_metrics.json).
  *   - exit code: 0 on a clean measured pass, 3 when any query failed
  *     (rc=3 still prints/writes complete metrics — consumers must parse
  *     the metrics line/file regardless of rc, or key on the metrics_file
  *     presence; rc is a query-failure signal, not an artifact-validity
  *     signal).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only: Option[Set[String]] = args.headOption.filter(_ != "all")
      .map(_.split(",").map(_.trim).toSet)
    val repeats = if (args.length > 1) args(1).toInt else 4
    val builder = Engine.builder(s"local[$cpus]", cpus.toInt)
    // Shuffle/spill files on tmpfs when available (single-box harness
    // posture, the ramdisk-local-dir idiom of real deployments): at
    // sf0.1 the shuffle files are MBs, but writing them through the
    // DISK page path is the one I/O this suite cannot avoid — and
    // round 10 measured disk-path block writes stalling 7-30x during
    // kernel memory-reclaim storms (the bench host's documented failure
    // mode, SURVEY §8d; runs in bench_out/contention_*_r10.json, the
    // harness last exists at commit 27cc9a5). A cluster deployment sets
    // spark.local.dir per node (YARN/K8s manage it) — this default is
    // scoped to the bench JVM, not the library.
    val shmDir = new java.io.File("/dev/shm")
    if (shmDir.isDirectory && shmDir.canWrite) {
      val p = new java.io.File(shmDir, "graft-bench-local")
      p.mkdirs()
      builder.config("spark.local.dir", p.getAbsolutePath)
    }
    // A/B lever for the eager-materialization policy (round-10 VERDICT
    // item 7): SPARK_GRAFT_RELIABLE_CKPT=true switches every pair-mining
    // materialization from executor-resident localCheckpoint blocks to
    // reliable checkpoint files under the (tmpfs when available) local
    // dir — so the driver protocol can measure local vs reliable blocks
    // under co-tenant storms without a code change.
    val reliable = sys.env.get("SPARK_GRAFT_RELIABLE_CKPT")
      .exists(_.toBoolean)
    if (reliable) builder.config(Engine.ReliableCheckpointKey, "true")
    val spark = builder.getOrCreate()
    val reliableDir: Option[java.nio.file.Path] =
      if (!reliable) None
      else {
        val base = spark.sparkContext.getConf.get("spark.local.dir",
          System.getProperty("java.io.tmpdir"))
        val p = java.nio.file.Paths.get(s"$base/graft-reliable-ckpt")
        spark.sparkContext.setCheckpointDir(p.toString)
        Some(p)
      }
    spark.sparkContext.setLogLevel("WARN")
    // warmup: session init, codegen pipeline, parquet reader paths. The
    // second statement pushes one throwaway plan through the higher-order-
    // function + window + join codegen paths so the first measured query
    // doesn't absorb Janino/classloader startup (measured at 3-4 s on this
    // box); it computes nothing any query reuses.
    spark.range(1000000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val tiny = spark.range(64).select(
        col("id"), split(concat_ws(" ", lit("w"), col("id"), lit("x y z")), " ").as("w"))
      tiny.as("a").join(tiny.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id"),
          size(array_intersect(col("a.w"), col("b.w"))).as("c"),
          aggregate(col("a.w"), lit(0L), (acc, s) => acc + length(s)).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("c"), col("h"))))
        .groupBy("id").agg(min(col("rk"))).count()
    }
    // warm every fact-side table the same way: without these, whichever
    // dedup/similarity query runs first absorbs the cold parquet
    // footer/page reads its whole family then skips
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var errors = List.empty[(String, String)]
    // Block hygiene between SAMPLES, OUTSIDE the timed section: several
    // queries eagerly localCheckpoint/persist (dedup pair graphs, LM
    // tables, cosine indexes) and their blocks are released only after
    // driver GC + the ASYNC ContextCleaner — across ~100 queries the
    // orphans fill the block manager and successors crawl under eviction
    // pressure (measured: llm_pipeline 1.2 s isolated vs 21 s late in a
    // full pass). Unpersist everything still registered (synchronous —
    // localCheckpoint blocks are registered as persistent RDDs, so this
    // releases the bulk without GC), drop the SQL cache. The GC that
    // lets the ContextCleaner reap the small weak-ref remnants runs once
    // per PASS, not per sample: round 5 ran a forced GC per sample
    // (~300 full GCs) and inflated the wall 112 s → 814 s.
    def releaseOrphanedBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      val persisted = spark.sparkContext.getPersistentRDDs.values
      if (persisted.nonEmpty) persisted.foreach(_.unpersist(true))
    }
    // INTERLEAVED passes (round 11): sample k of every query runs in
    // pass k — the full query list end to end, `repeats` times — instead
    // of `repeats` consecutive samples per query. The estimator (per-
    // query MIN of hygiene-preceded samples) is unchanged; what changes
    // is the correlation structure of box noise across samples. This box's
    // kernel-reclaim/co-tenant storms last MINUTES (SURVEY §8d), so
    // consecutive samples of one query all land inside one storm and the
    // min is inflated 10-25× — the round-10 recorded artifact shows
    // exactly that (dedup_clusters samples 90.4/112.8/56.4 s vs a 2-3 s
    // idle mirror), and round 11's stage bracketing proved the
    // amplification is NOT operator-structural: the identical mining ran
    // 0.93× loaded in one slot and 5.8× in another, and r10c's
    // dedup_keep_best — which CONTAINS the whole dedup_clusters path —
    // degraded 3.8× while dedup_clusters alone read 25×. Interleaving
    // spreads one query's samples a full pass (~minutes) apart, so a
    // storm inflates one contiguous block of ONE pass and every query
    // keeps storm-free samples in the other passes — min-of-passes
    // estimates the operator, not the burst schedule. Same total work,
    // same per-sample content (hygiene-preceded), standard interleaved
    // repeated-measures methodology.
    val sampleLog =
      scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
    (1 to repeats).foreach { pass =>
      // ROTATED start offset per pass (round 12, same rationale as the
      // 27cc9a5 contention harness): interleaving decorrelates samples from
      // STORMS but keeps every query at the same slot position each
      // pass, and slot position is not noise-neutral — the first heavy
      // slot after a pass boundary absorbs disproportionate reclaim
      // cost under load (measured: the same mining 5.4–5.9× in slot 0/1
      // across eight consecutive loaded passes vs 0.97–1.6× for its
      // superset a slot later). Rotating by n/repeats per pass gives
      // each query `repeats` different positions; the per-query MIN
      // then estimates the operator, not its place in the schedule.
      val rot = (pass - 1) *
        math.max(selected.length / math.max(repeats, 1), 1) %
        math.max(selected.length, 1)
      val order = selected.drop(rot) ++ selected.take(rot)
      order.foreach { case (name, fn) =>
        releaseOrphanedBlocks()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors ::= name -> e.getClass.getSimpleName; false }
        val dt = (System.nanoTime() - t0) / 1e9
        sampleLog(name) = sampleLog(name) :+ (if (ok) dt else -dt)
      }
      System.err.println(s"[bench] pass $pass/$repeats done")
      System.gc() // pass boundary: let the cleaner reap weak-ref remnants
    }
    val results = selected.map { case (name, _) =>
      val samples = sampleLog(name)
      if (repeats > 1)
        System.err.println(s"[bench] $name samples: " +
          samples.map(s => f"$s%.3f").mkString(", "))
      name -> samples // min taken below; full vector kept for the mirror file
    }
    val qs = results.map { case (k, ss) => "\"" + k + "\":" + ss.min }
      .mkString("{", ",", "}")
    // All samples per query (mirror file only): lets a future reader
    // adjudicate a single-sample spike (box-noise vs regression) from the
    // artifact alone, without re-running the query in isolation.
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma-decimal locale would render unparseable JSON ([1,2345])
    val samplesJson = results.map { case (k, ss) =>
      "\"" + k + "\":" + ss.map(s => String.format(java.util.Locale.ROOT,
        "%.4f", Double.box(s))).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson = errors.reverse.distinctBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // abs: a failed query still consumed its time; the negative
    // per-query entry + errors map carry the failure signal
    val total = if (results.nonEmpty) results.map(r => math.abs(r._2.min)).sum else 0.0
    // Truncation-proof artifact layout (round 6 lost the total and the
    // first ~36 alphabetical queries to the driver's tail-only capture;
    // round 7's full line at ~3.4 KB overflowed the 2000-char tail cap
    // entirely and parsed as null despite duplicated trailing totals):
    //   1. the full metrics line is followed by a SECOND, compact summary
    //      line (total / n_queries / n_errors, no per-query map, <200
    //      chars) — a tail-only capture always ends on one complete
    //      parseable JSON object;
    //   2. the complete metrics JSON — extended with per-query `samples`
    //      arrays for spike adjudication — is also written to a file
    //      (SPARK_GRAFT_BENCH_OUT, default bench_out/bench_metrics.json)
    //      so every per-query min survives any stdout truncation;
    //   3. the effective heap and box load are printed to stderr so box
    //      noise (SURVEY §8: oversized heap / kernel-reclaim storms) is
    //      diagnosable from the artifact alone.
    val nErrors = errors.map(_._1).distinct.size
    val metricsJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""errors":$errJson,"sf":"$sfDir","n_queries":${results.size},""" +
      s""""n_errors":$nErrors,"total_s":$total}"""
    val compactJson =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${results.size},"n_errors":$nErrors,"total_s":$total}"""
    val mirrorJson = metricsJson.dropRight(1) + s""","samples":$samplesJson}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/bench_metrics.json")
    val wrote = try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, mirrorJson.getBytes("UTF-8"))
      true
    } catch { case _: Throwable => false }
    val xmxGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val loadAvg = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim
    } catch { case _: Throwable => "unavailable" }
    System.err.println(f"[bench] xmx=$xmxGb%.1fg loadavg=$loadAvg " +
      f"total=$total%.2fs queries=${results.size} errors=${errors.map(_._1).distinct.size} " +
      s"metrics_file=${if (wrote) outPath else "WRITE_FAILED"}")
    println(metricsJson)
    println(compactJson)
    System.out.flush()
    // Defensive shutdown: the metrics line above IS the driver contract.
    // Round 5 died AFTER a complete measurement pass when an async future
    // completion landed on an executor pool already torn down by
    // spark.stop() (uncaught RejectedExecutionException → exit 56 →
    // parsed: null). A teardown race must never turn a measured pass into
    // rc != 0, so stop() is best-effort and the exit code is forced —
    // 0 on a clean pass, 3 when any query failed (the errors map carries
    // the detail; a distinct code so failed queries can never read as a
    // clean pass to a consumer gating on rc alone).
    try spark.stop() catch { case _: Throwable => () }
    // reliable-mode checkpoint files whose RDDs were not GC-reclaimed
    // before shutdown would otherwise accumulate across runs in
    // RAM-backed /dev/shm — the tmpfs-leak class the rehearsal fix
    // closed; best-effort tree delete after stop()
    reliableDir.foreach { root =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
    System.exit(if (errors.nonEmpty) 3 else 0)
  }
}
