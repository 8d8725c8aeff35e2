package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.LogicalRDD

import graft.plans.{TopKPerGroupStrategy, WindowTopKRewrite}

/** The one engine every runtime entry point measures: session config and
  * billing policy for Bench, Verify, Smoke, Harness and the test suites'
  * SparkSpec. [[local]] is the only `SparkSession.builder()` call in
  * src/main (CheckpointCensusSpec pins that), so the bench, the
  * correctness dump and the dev tools cannot drift onto different
  * sessions.
  *
  * [[install]] is the one way the engine's extensions reach a session,
  * and it runs before any query is built: from [[local]], and at the
  * `SparkEntry.queries` boundary for a session the caller built. A plan
  * therefore depends only on the query's declaration, never on which
  * queries ran earlier on the same session.
  *
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` is 64k here
  * (Spark default 1m). AQE's parallelism-first coalescing targets
  * max(shuffleBytes/parallelism, minPartitionSize) per post-shuffle
  * partition. BYTES are the wrong proxy for the CPU-dense stages this
  * engine runs after tiny exchanges — a few hundred KB of candidate pairs
  * fan out into millions of array_intersect/levenshtein evaluations, and
  * the Spark-default 1 MB floor collapses those stages to ONE task
  * (measured: d02's verify stage 1.6 s on 1 task vs ~0.1 s wall across
  * 32; d12's K² truth the same shape). At warehouse scale
  * shuffleBytes/parallelism dwarfs either floor, so this knob is inert
  * exactly where the default was chosen for; it only governs the
  * small-bytes/heavy-CPU regime, where parallelism is worth more than
  * fewer fetches. */
object GraftSession {
  /** The engine's confs, the one place every session takes them: the
    * runtime entry points through [[local]], the test suites and the
    * ingest benchmark directly.
    *
    * `file:` is served by [[ForkFreeLocalFileSystem]] (the `FileSystem`
    * API) and [[ForkFreeLocalFs]] (`FileContext`). Without the native
    * Hadoop library, the stock local filesystem forks `chmod` for every
    * file and directory it creates and `readlink` for every `FileContext`
    * rename, so each streaming offset or commit log entry, state-store
    * delta file and parquet sink file paid for child processes: one
    * metadata-log entry (create + rename) took 29 ms, against 0.6 ms
    * without the forks. Naming `fs.file.impl` also overrides the
    * `ProxyLocalFileSystem` that `hive-exec` registers for `file:`. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)

  /** Core count of a run (`SPARK_GRAFT_CPUS`, default 4): the session's
    * `local[cpus]` and its shuffle-partition count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** Fixture directory of a bench or profile run (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with shuffle partitions = cpus, a UTC session clock
    * (the events TIMESTAMP_NTZ→TIMESTAMP cast in Tables.events is
    * session-timezone-sensitive) and no UI, then [[tuned]]. `confs` are
    * applied last, so a caller can add settings or override any of these
    * (SparkSpec sets `spark.master` to `local[4,2]` for a retryable task
    * failure). */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = tuned(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    install(s)
    s
  }

  /** Installs the engine on `s`, idempotently: the six graft functions
    * (`GraftFunctions.builders`), the per-group top-k planner strategy and
    * the window-top-k rewrite rule, and `nanosAsLong` parquet inference
    * (an INT64 TIMESTAMP(NANOS) `events.ts` reads as a bigint that
    * `Tables.events` converts, instead of failing schema inference; micros
    * files are untouched). A function name the session already resolves
    * (say a user's own `vec_dot`) is left as it is, so a second install
    * replaces nothing. `newSession()` starts without any of this, which is
    * why the query boundary installs again. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    for ((name, build) <- graft.functions.GraftFunctions.builders
         if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, build, "built-in")
    val ex = s.experimental
    if (!ex.extraStrategies.contains(TopKPerGroupStrategy))
      ex.extraStrategies = ex.extraStrategies :+ TopKPerGroupStrategy
    if (!ex.extraOptimizations.contains(WindowTopKRewrite))
      ex.extraOptimizations = ex.extraOptimizations :+ WindowTopKRewrite
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** Run `body` with the session confs `kv` set, then restore each key
    * exactly: its previous value if it had one (`getOption`), `unset` if
    * not — also when `body` throws.
    *
    * The flip is SESSION-GLOBAL for the duration of `body` (SQL confs
    * have no narrower scope), so any other query planned on the same
    * session during that window would silently see the flipped values.
    * One JVM-wide lock makes the single-planner-at-a-time assumption
    * enforced rather than implicit: concurrent callers serialize here,
    * and a caller that wants concurrency must isolate with
    * `s.newSession()` (own conf, shared catalog/state). The lock is
    * reentrant, so scopes nest (q73's RocksDB provider around a drain
    * that sets shuffle partitions) and restore innermost first. A
    * `foreachBatch` body runs on the stream's own thread and must not
    * call this: the calling thread holds the lock until the drain ends. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T =
    confScope.synchronized {
      val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
      try {
        kv.foreach { case (k, v) => s.conf.set(k, v) }
        body
      } finally prev.reverse.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
  private val confScope = new Object

  /** The one way a query pins an intermediate: an eager local checkpoint
    * of `df`, the only `.localCheckpoint(` in src/main. Plans built on the
    * result read its blocks instead of re-running `df`, and lineage stops
    * there. Each call takes one of three postures (CheckpointCensusSpec
    * counts and classifies the calls per file):
    *   - a multi-consumer build, read by several legs of ONE query's plan;
    *   - iterative lineage truncation (d07, s15, q117): state re-fed into
    *     itself, whose plan would otherwise embed every prior round's;
    *   - a result that must run while a [[withConf]] scope is in force
    *     (q59, q77): confs bind at action time, so a lazy plan would run
    *     under the restored settings.
    * Loss posture: the blocks live in executor storage with no recompute
    * path, so losing an executor fails the query, which restarts from
    * source. Nothing materialized here outlives its query; a table several
    * queries read, or a job that must survive executor loss, is written
    * once as parquet instead (`Fixtures.parquet`, Dedup's chunk pairs).
    * The jobs and RDDs this creates carry the caller's `file:line` as
    * their call site (`localCheckpoint at Dedup.scala:183`), so stage
    * names and plan dumps name the operator, not this file. */
  def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("callSite.short")
    new Throwable().getStackTrace
      .find(f => !Seq(getClass.getName, "org.apache.spark.", "scala.")
        .exists(f.getClassName.startsWith))
      .foreach(f => sc.setCallSite(
        s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try df.localCheckpoint(true)
    finally sc.setLocalProperty("callSite.short", prev)
  }

  /** Unpersists every [[materialize]]d block under `df`'s plan once
    * nothing reads them (a superseded fixpoint round, or the inputs of a
    * frame that was itself materialized); a plan that still scans one
    * fails. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd }.distinct
      .foreach(_.unpersist(blocking = false))

  /** Between-query cleanup, the one release rule between queries: every
    * persisted block (a query's [[materialize]]d frames, which would
    * otherwise stay pinned until a driver GC lets ContextCleaner find
    * them and tax every later query's memory budget), the catalog cache,
    * and consumed memory-sink tables (a full streaming result each, in
    * driver memory, which `clearCache` does not touch). */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    graft.operators.Streaming.dropConsumedSinks(spark)
  }

  /** One billed run of registered query `name`: a `noop`-format write,
    * which materializes every result row (count() would let limit-only
    * plans short-circuit and hide result-production cost), then
    * [[cleanup]] — also when the query throws. Returns the wall seconds
    * of the write alone. The write's jobs carry `name` as their call
    * site, which Spark copies to the threads that submit AQE query
    * stages, so every stage of the write is named after the query. */
  def billed(spark: SparkSession, name: String, sfDir: String): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val prev = sc.getLocalProperty("callSite.short")
      sc.setCallSite(name)
      try df.write.format("noop").mode("overwrite").save()
      finally sc.setLocalProperty("callSite.short", prev)
      (System.nanoTime() - t0) / 1e9
    } finally cleanup(spark)
  }
}
