package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Canonical session factory for the engine — the configuration the
  * pipeline's semantics and scale posture depend on.
  *
  * Semantics-critical (correctness changes without these):
  *  - mapKeyDedupPolicy=LAST_WIN: JS object-assignment semantics when
  *    case-folding collides data keys (P1);
  *  - session timeZone UTC: naive sensor timestamps are UTC-pinned.
  *
  * Scale posture (local defaults; a cluster deployment raises
  * shuffle.partitions to ~2-3x total cores and lets AQE coalesce):
  *  - AQE on: runtime re-planning, skew-join splitting;
  *  - extensions: graft's native functions available to SQL users.
  */
object Engine {

  /** Generated-class (whole-stage-codegen / Janino) cache size. Spark's
    * default is 100 entries, sized for applications that run a handful of
    * distinct plans; this library's surface alone is 116 declared queries
    * plus streaming operators — several THOUSAND codegen units — so under
    * the default every re-execution of a query whose classes were evicted
    * re-pays Janino compilation (driver-side, serial). Measured r14 at
    * sf0.1: re-running an identical miner plan cost 5.9 s cold-codegen vs
    * 1.5 s with its classes cached, and raising the cache cut the full
    * 116-query bench 85 → 47 s with zero plan changes. The cache is keyed
    * on generated SOURCE TEXT (content-addressed, data-independent; and on
    * the class loader, see below) and
    * an entry is tens of KB of class metadata, so 4096 entries cost at
    * most ~100-200 MB of metaspace — the right trade for any long-lived
    * session executing a wide query surface, at any scale or core count
    * (compilation is driver-side and does not shrink with executors).
    * Static conf: must be set at session build.
    *
    * The cache only pays off if a plan's classes are looked up under the
    * same key every time, and Spark keys it on (the task thread's context
    * class loader, generated source). With
    * `spark.sql.artifact.isolation.enabled` at its default `true` every
    * session gets its own executor class loader, and every
    * `StreamingQuery.start` clones the session, so a second start of the
    * same plan recompiles classes whose source is byte-identical to cached
    * ones, and the JIT starts over on the new copies. [[builder]] therefore
    * turns isolation off: the engine adds no per-session artifacts
    * (`addArtifact` / `addJar` / `addFile`), so one JVM-wide loader loses
    * nothing.
    *
    * This only helps a JVM that starts the same plan two or more times:
    * several query starts (or restarts) of one plan, or `newSession` calls
    * that rerun it. The clone made at a start is reused by every
    * micro-batch of that query, so a long-running query gains nothing
    * after its start, and a process that starts its queries once and is
    * restarted as a new JVM sees no change. In this repo the property
    * holds for the specs (many query starts in one test JVM), the
    * benchmark's timed drains (started again after a warm-up drain), and
    * any application that stops and restarts a query in-process. Measured on a 4-core VM over a
    * 20,000-observation backlog: in the timed drains after a warm-up drain,
    * Janino compiles fell from 122 (1.5 s) to 0 and process CPU per drained
    * observation from 1.28 to 0.93 ms (medians of ten interleaved runs,
    * −27%). The set-up, which holds the first (warm-up) start, moved
    * −1.0% and won 5 of 10 pairs: no measurable change. */
  val CodegenCacheMaxEntries: Int = 4096

  def builder(master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheMaxEntries.toString)
      // shares the codegen cache across sessions (see CodegenCacheMaxEntries)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // static conf consumed by ContextCleaner at context creation: lets
      // reliable-mode eagerCheckpoint dirs be deleted when their RDD is
      // GC'd (default false would leak one dir per checkpoint — see
      // eagerCheckpoint); harmless when reliable mode is off
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")

  def session(master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deploy-mode switch for eager materialization of mined pair graphs
    * (dedup/cosine/simhash results, connected-components rounds): `false`
    * (default) = `localCheckpoint(eager)` — blocks live on executors, the
    * fastest cut for single-tenant batch and local mode, but an executor
    * loss kills the job because the truncated lineage cannot recompute;
    * `true` = reliable `checkpoint()` to the context's checkpoint dir
    * (HDFS/object store on a cluster) — survives executor loss at the
    * cost of one write+read of the materialized relation. Long-running
    * cluster jobs where executor churn is expected (spot instances,
    * >1000 executors at 100 TB) should set this plus
    * `sparkContext.setCheckpointDir`. */
  val ReliableCheckpointKey = "spark.graft.checkpoint.reliable"

  /** THE eager-materialization point for every pair-mining operator —
    * one policy, one place (round-7 VERDICT item 4). Semantics are
    * identical either way: lineage is truncated and the relation is
    * computed exactly once, here.
    *
    * Reliable mode additionally requires
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a STATIC
    * conf, set at session build — [[builder]] sets it): without it the
    * ContextCleaner never deletes checkpointed RDD directories, so a
    * long-running job would leak one directory per eagerCheckpoint call
    * to the checkpoint store. Required loudly here rather than silently
    * leaking. */
  /** Input-size floor (bytes) above which the pair-mining family's
    * materializations (intermediate persists + the result's local
    * checkpoint) use disk-backed storage (MEMORY_AND_DISK); below it
    * they stay MEMORY_ONLY. The eager-job structure itself is
    * unconditional — in-query reuse of shingle arrays / banded
    * signatures / inverted indexes pays at every scale (measured sf0.1:
    * the fully-lazy variant was ~1.5× slower idle from subtree
    * recompute). What the floor controls is the STORAGE MEDIUM:
    *
    *  - below it, the blocks are a few (tens of) MB — heap-resident
    *    MEMORY_ONLY costs nothing, and, critically, touches NO disk or
    *    page cache. Round-10 measurement (the runs are in
    *    bench_out/contention_*_r10.json, the harness last exists at
    *    commit 27cc9a5): under a page-churn memory hog the disk-backed
    *    policy degraded the mining family 7–30× (`dedup_ngram_jaccard`
    *    3.8 → 112 s — block-manager disk writes stall during kernel
    *    reclaim storms), which is exactly the round-9 bench signature
    *    (SURVEY §8d). Heap pages on a swapless box cannot be reclaimed,
    *    so memory-only materialization is structurally immune; eviction
    *    under genuine heap pressure falls back to lineage recompute,
    *    which is subsecond at these sizes.
    *  - above it, intermediates can exceed executor storage memory and
    *    MEMORY_AND_DISK's spill path is the safe default (unchanged
    *    at-scale shape; a 100 TB corpus is always far above the floor).
    *
    * Same operator-side adaptivity idiom as the cosine strategy gate:
    * one free statistic (the optimizer's relation size estimate — file
    * bytes for parquet scans, no job) picks the physical policy. */
  val DiskBackedMinInputBytesKey = "spark.graft.diskBackedMaterialize.minInputBytes"
  val DefaultDiskBackedMinInputBytes: Long = 64L << 20

  /** The storage level a mining operator over `input` should use for
    * its eager materializations — see [[DiskBackedMinInputBytesKey]].
    * Cost: one optimizer pass over the input's plan, no Spark job. */
  def miningLevel(input: DataFrame): StorageLevel = {
    val min = BigInt(input.sparkSession.conf
      .get(DiskBackedMinInputBytesKey,
        DefaultDiskBackedMinInputBytes.toString).toLong)
    if (input.queryExecution.optimizedPlan.stats.sizeInBytes >= min)
      StorageLevel.MEMORY_AND_DISK
    else StorageLevel.MEMORY_ONLY
  }

  /** Scale-adaptive fan-out exchange for per-document kernel stages
    * (tokenize → shingle/signature/chunk kernels → explode): their
    * parallelism otherwise comes from the SCAN split count, and a corpus
    * smaller than cores × maxPartitionBytes reads as FEWER splits than
    * cores — in the worst (and measured) case ONE task runs every
    * per-doc kernel while the rest of the machine idles (sf0.1:
    * documents.parquet is a single 0.6 MB split, and JobProbe attributed
    * the memo-cold dedup_report wall to ~18 consecutive single-task
    * kernel/scan jobs; it is also why the mining family scaled INVERSELY
    * from 8 to 32 cores — extra cores only added scheduling overhead to
    * stages that could not use them).
    *
    * The gate is derived from input size, not tuned to local mode
    * (guide §2): repartition only when the optimizer's size estimate
    * says the scan cannot already provide ≥ cores splits
    * (size < cores × 128 MB, the default maxPartitionBytes). Under the
    * gate the exchange is bounded by that same product (a few GB at
    * worst, sub-MB here); above it — any serious corpus, let alone
    * 100 TB — the scan's own split count exceeds the core count and the
    * relation passes through untouched, so no full-corpus text shuffle
    * is ever introduced at scale. Hash-by-key (deterministic) keeps
    * every document whole, so per-doc aggregation orders — and therefore
    * every rounded continuum column downstream — are unchanged. */
  def fanoutParallel(docs: DataFrame, key: String = "doc_id"): DataFrame =
    fanoutParts(docs).fold(docs)(parts =>
      docs.repartition(parts, org.apache.spark.sql.functions.col(key)))

  /** The partition count [[fanoutParallel]] spreads `docs` over, or None
    * when the scan already provides ≥ cores splits and the relation
    * passes through. */
  def fanoutParts(docs: DataFrame): Option[Int] = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val size = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(cores) * (128L << 20)) {
      // partition count sized to the DATA, capped by the cores: one task
      // per ~64 KB of (compressed) input keeps kernel tasks above the
      // scheduling quantum — blindly using `cores` made sub-second
      // queries SLOWER at 32 cores than at 8 (the r14 8-vs-32 scaling
      // run: 32 near-empty tasks per stage cost more than the kernel
      // parallelism they bought on a sub-MB corpus)
      Some(BigInt(2).max(BigInt(cores).min(size / 65536)).toInt)
    } else None
  }

  def eagerCheckpoint(df: DataFrame): DataFrame =
    eagerCheckpoint(df, StorageLevel.MEMORY_AND_DISK)

  def eagerCheckpoint(df: DataFrame, level: StorageLevel): DataFrame = {
    val ss = df.sparkSession
    if (ss.conf.get(ReliableCheckpointKey, "false").toBoolean) {
      require(ss.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableCheckpointKey=true requires " +
          "sparkContext.setCheckpointDir(<fault-tolerant URI>)")
      // BOTH confs gate cleanup: referenceTracking=false means no
      // ContextCleaner exists at all, so cleanCheckpoints is never read
      require(ss.sparkContext.getConf.getBoolean(
            "spark.cleaner.referenceTracking", defaultValue = true) &&
          ss.sparkContext.getConf.getBoolean(
            "spark.cleaner.referenceTracking.cleanCheckpoints", false),
        s"$ReliableCheckpointKey=true requires " +
          "spark.cleaner.referenceTracking=true AND " +
          "spark.cleaner.referenceTracking.cleanCheckpoints=true at " +
          "session build (static confs) — otherwise every eager " +
          "checkpoint leaks a directory in the checkpoint store")
      df.checkpoint() // eager, reliable; cleaner deletes on RDD GC
    } else df.localCheckpoint(eager = true, storageLevel = level)
  }
}
