package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

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
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")

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

  /** Between-query cleanup. Operators that localCheckpoint shared
    * subtrees (the dedup pack) would otherwise leave their materialized
    * blocks pinned until a driver GC lets ContextCleaner find them,
    * taxing every later query's memory budget (round 3: d07's leftovers
    * roughly doubled the whole post-d07 tail); consumed memory-sink
    * tables hold a full streaming result in driver memory and
    * `clearCache` does not touch them. */
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
    * of the write alone. */
  def billed(spark: SparkSession, name: String, sfDir: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally cleanup(spark)
  }
}
