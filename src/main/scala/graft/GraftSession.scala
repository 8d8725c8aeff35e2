package graft
import org.apache.spark.sql.SparkSession

/** The one engine every runtime entry point measures: session config and
  * billing policy for Bench, Verify, Smoke, Harness and the test suites'
  * SparkSpec. [[local]] is the only `SparkSession.builder()` call in
  * src/main (CheckpointCensusSpec pins that), so the bench, the
  * correctness dump and the dev tools cannot drift onto different
  * sessions.
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
    s
  }

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
