package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.{ShardLogs, SparkEntry, SparkSpec}

/** End-to-end equivalence of the streaming operators with their batch
  * analogs (SURVEY.md §5.2: "streaming query produces byte-identical
  * results to the batch analogs"), plus the listener → registry wiring.
  * Runs on the sf0.001 fixtures. */
class StreamingOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("flagship entry smoke: rows > 0 on sf0.001 (driver gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q28 streaming tumbling window ≡ q23 batch tumbling window") {
    val streaming = SparkEntry.queries("q28_stream_window")(spark, sf)
    val batch     = SparkEntry.queries("q23_window_tumbling")(spark, sf)
    assert(rows(streaming) == rows(batch))
  }

  test("q29 streaming dedup of a doubled log ≡ batch aggregate of the " +
    "original events") {
    val streaming = SparkEntry.queries("q29_stream_dedup")(spark, sf)
    val batch = {
      import org.apache.spark.sql.functions._
      graft.Tables.events(spark, sf)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    }
    assert(rows(streaming) == rows(batch))
  }

  test("q38 stream-static broadcast join ≡ batch join + rollup") {
    val streaming = SparkEntry.queries("q38_stream_static_join")(spark, sf)
    val batch = {
      import org.apache.spark.sql.functions._
      val c = graft.Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.Tables.events(spark, sf)
        .join(c, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("c_mktsegment"))
    }
    assert(rows(streaming) == rows(batch))
  }

  test("q39 flatMapGroupsWithState custom state ≡ batch per-user aggregate") {
    val streaming = SparkEntry.queries("q39_stream_custom_state")(spark, sf)
    val batch = {
      import org.apache.spark.sql.functions._
      graft.Tables.events(spark, sf)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
        .orderBy(col("user_id"))
    }
    assert(rows(streaming) == rows(batch))
  }

  test("q73 transformWithState (MapState + explicit timers, RocksDB) ≡ " +
    "batch per-user per-type aggregate; provider conf restored") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val before  = spark.conf.getOption(provKey)
    val streaming =
      SparkEntry.queries("q73_stream_transform_with_state")(spark, sf)
    val batch = {
      import org.apache.spark.sql.functions._
      graft.Tables.events(spark, sf)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("user_id"), col("event_type"))
    }
    assert(rows(streaming) == rows(batch))
    assert(spark.conf.getOption(provKey) == before,
      "q73 must restore the state-store provider it set")
  }

  test("q30 streaming session_window ≡ q24 batch sessionization") {
    val streaming = SparkEntry.queries("q30_stream_session")(spark, sf)
    val batch     = SparkEntry.queries("q24_sessionize")(spark, sf)
    assert(rows(streaming) == rows(batch))
  }

  // ---- shared fixtures for the flatMapGroupsWithState tests ----------

  /** One shard-log line carrying a JSON event payload. */
  private def stateRec(seq: Long, us: Long, user: Long, v: Double): String = {
    val payload =
      s"""{"event_id":$seq,"ts":"${java.time.Instant.EPOCH.plus(us,
        java.time.temporal.ChronoUnit.MICROS)}","user_id":$user,""" +
        s""""event_type":"e","value":$v,"props":"{}"}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes("UTF-8"))
    s"$seq\t$us\t$user\t$b64"
  }

  private val stateEventSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  /** The per-user (count, max, last-seen) state machine under test —
    * identical shape to q39's operator: accumulate until the event-time
    * timeout fires 1 h after the user's last event, then emit once.
    * Extracted so the restart and slicing-invariance tests exercise the
    * SAME lambda (a fix applied to one cannot silently skip the other). */
  private def userStateAgg(logDir: String, extraReadOptions: Map[String, String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    var reader = spark.readStream
      .format("kinesislike")
      .option("path", logDir)
      .option("startingPosition", "trim_horizon")
    extraReadOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    val ev = reader.load()
      .select(from_json(col("data").cast("string"), stateEventSchema).as("e"))
      .select(col("e.user_id"), col("e.ts"), col("e.value"))
      .withWatermark("ts", "1 second")
      .as[(Long, java.sql.Timestamp, Double)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Long), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state) =>
          if (state.hasTimedOut) {
            val (n, mx, _) = state.get
            state.remove()
            Iterator.single((user, n, mx))
          } else {
            var (n, mx, lastMs) = state.getOption
              .getOrElse((0L, Double.MinValue, 0L))
            rows.foreach { case (_, ts, v) =>
              n += 1; if (v > mx) mx = v
              if (ts.getTime > lastMs) lastMs = ts.getTime
            }
            state.update((n, mx, lastMs))
            state.setTimeoutTimestamp(
              math.max(lastMs + 3600L * 1000L, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
      .toDF("user_id", "n_events", "max_value")
  }

  /** transformWithState analog of [[userStateAgg]]: per-user count+max in
    * ValueStates with an explicit replaced event-time timer. Used by the
    * TWS restart test to prove state AND registered timers recover from
    * the checkpoint. */
  private final class TwsCountMax
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var n: ValueState[Long]      = _
    @transient private var mx: ValueState[Double]   = _
    @transient private var lastMs: ValueState[Long] = _
    @transient private var timer: ValueState[Long]  = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      n = getHandle.getValueState("n", Encoders.scalaLong, TTLConfig.NONE)
      mx = getHandle.getValueState("mx", Encoders.scalaDouble, TTLConfig.NONE)
      lastMs = getHandle.getValueState("lastMs", Encoders.scalaLong, TTLConfig.NONE)
      timer = getHandle.getValueState("timer", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        tv: TimerValues): Iterator[(Long, Long, Double)] = {
      var cnt  = if (n.exists()) n.get() else 0L
      var m    = if (mx.exists()) mx.get() else Double.MinValue
      var last = if (lastMs.exists()) lastMs.get() else 0L
      rows.foreach { case (_, ts, v) =>
        cnt += 1; if (v > m) m = v
        if (ts.getTime > last) last = ts.getTime
      }
      n.update(cnt); mx.update(m); lastMs.update(last)
      val next = math.max(last + 3600L * 1000L, tv.getCurrentWatermarkInMs() + 1)
      if (timer.exists()) getHandle.deleteTimer(timer.get())
      getHandle.registerTimer(next)
      timer.update(next)
      Iterator.empty
    }
    override def handleExpiredTimer(
        user: Long,
        tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Double)] = {
      val out =
        (user, if (n.exists()) n.get() else 0L, if (mx.exists()) mx.get() else 0.0)
      n.clear(); mx.clear(); lastMs.clear(); timer.clear()
      Iterator.single(out)
    }
  }

  test("transformWithState state and registered timers survive a query " +
    "restart on the RocksDB store: run-1 accumulations emit after run 2") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import java.nio.file.Files
    import spark.implicits._
    val dir  = Files.createTempDirectory("kl_tws_resume")
    val ckpt = Files.createTempDirectory("kl_tws_resume_ck")
    val out  = Files.createTempDirectory("kl_tws_resume_out")
    def writeLines(lines: Seq[String], append: Boolean): Unit =
      ShardLogs.write(dir, lines, append = append)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev    = spark.conf.getOption(provKey)
    def runOnce(): Unit = {
      val ev = spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .load()
        .select(from_json(col("data").cast("string"), stateEventSchema).as("e"))
        .select(col("e.user_id"), col("e.ts"), col("e.value"))
        .withWatermark("ts", "1 second")
        .as[(Long, java.sql.Timestamp, Double)]
      val q = ev.groupByKey(_._1)
        .transformWithState(
          new TwsCountMax, TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "n_events", "max_value")
        .writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("max_value",
        org.apache.spark.sql.types.DoubleType)))
    try {
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      writeLines(
        Seq(stateRec(0, 1000000L, 1, 1.0), stateRec(1, 2000000L, 2, 5.0),
          stateRec(2, 3000000L, 1, 3.0)),
        append = false)
      runOnce()
      assert(spark.read.schema(outSchema).parquet(out.toString).count() == 0,
        "no timer should have fired yet")
      writeLines(
        Seq(stateRec(3, 30L * 24 * 3600 * 1000000L, 99, 0.0)),
        append = true)
      runOnce()
      val rows2 = spark.read.schema(outSchema).parquet(out.toString)
        .filter(col("user_id") < 99)
        .orderBy(col("user_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(rows2 == Seq((1L, 2L, 3.0), (2L, 1L, 5.0)),
        s"state+timers must survive the restart: $rows2")
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
  }

  test("transformWithState results are microbatch-slicing invariant: any " +
    "maxRecordsPerBatch yields the same per-user aggregates (RocksDB)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("kl_tws_inv")
    val recs = (0L until 20L).map(i =>
      stateRec(i, (i + 1) * 1000000L, i % 3, i * 1.5))
    val sentinel = stateRec(99, 40L * 24 * 3600 * 1000000L, -1, 0.0)
    ShardLogs.write(dir, recs :+ sentinel :+ "#CLOSED")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev    = spark.conf.getOption(provKey)
    def run(cap: String, tag: String): Seq[(Long, Long, Double)] = {
      val ckpt = Files.createTempDirectory(s"kl_tws_inv_ck_$tag")
      val sink = s"tws_inv_sink_$tag"
      val ev = spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", cap)
        .load()
        .select(from_json(col("data").cast("string"), stateEventSchema).as("e"))
        .select(col("e.user_id"), col("e.ts"), col("e.value"))
        .withWatermark("ts", "1 second")
        .as[(Long, java.sql.Timestamp, Double)]
      val q = ev.groupByKey(_._1)
        .transformWithState(
          new TwsCountMax, TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "n_events", "max_value")
        .writeStream
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    try {
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val results = Seq("1", "3", "7", "1000").map(c => run(c, s"c$c"))
      assert(results.head.nonEmpty, "expected per-user aggregates to emit")
      assert(results.distinct.size == 1,
        s"TWS state must not depend on batch slicing: $results")
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
  }

  test("flatMapGroupsWithState state survives a query restart: counts " +
    "accumulated before the stop are emitted after it") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val dir  = Files.createTempDirectory("kl_state_resume")
    val ckpt = Files.createTempDirectory("kl_state_resume_ck")
    val out  = Files.createTempDirectory("kl_state_resume_out")
    def writeLines(lines: Seq[String], append: Boolean): Unit =
      ShardLogs.write(dir, lines, append = append)
    def runOnce(): Unit = {
      val q = userStateAgg(dir.toString, Map.empty)
        .writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("max_value",
        org.apache.spark.sql.types.DoubleType)))
    // Run 1: two users' events, all within one hour — no timeout fires,
    // nothing is emitted, but the state lands in the checkpoint.
    writeLines(
      Seq(stateRec(0, 1000000L, 1, 1.0), stateRec(1, 2000000L, 2, 5.0),
        stateRec(2, 3000000L, 1, 3.0)),
      append = false)
    runOnce()
    assert(spark.read.schema(outSchema).parquet(out.toString).count() == 0,
      "no state should have timed out yet")
    // Run 2: only a far-future record arrives; the recovered state (from
    // run 1's checkpoint) must time out and emit run-1's accumulations.
    writeLines(
      Seq(stateRec(3, 30L * 24 * 3600 * 1000000L, 99, 0.0)),
      append = true)
    runOnce()
    val rows2 = spark.read.schema(outSchema).parquet(out.toString)
      .filter(col("user_id") < 99)
      .orderBy(col("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(rows2 == Seq((1L, 2L, 3.0), (2L, 1L, 5.0)),
      s"state must survive the restart: $rows2")
  }

  test("flatMapGroupsWithState results are microbatch-slicing invariant: " +
    "any maxRecordsPerBatch yields the same per-user aggregates") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val dir = Files.createTempDirectory("kl_state_inv")
    val recs = (0L until 20L).map(i =>
      stateRec(i, (i + 1) * 1000000L, i % 3, i * 1.5))
    val sentinel = stateRec(99, 40L * 24 * 3600 * 1000000L, -1, 0.0)
    ShardLogs.write(dir, recs :+ sentinel :+ "#CLOSED")
    def run(cap: String, tag: String): Seq[(Long, Long, Double)] = {
      val ckpt = Files.createTempDirectory(s"kl_state_inv_ck_$tag")
      val sink = s"state_inv_sink_$tag"
      val q = userStateAgg(dir.toString, Map("maxRecordsPerBatch" -> cap))
        .writeStream
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    val results = Seq("1", "3", "7", "1000").map(c => run(c, s"c$c"))
    assert(results.head.nonEmpty, "expected per-user aggregates to emit")
    assert(results.distinct.size == 1,
      s"custom state must not depend on batch slicing: $results")
  }

  test("stateful operators run unchanged on the RocksDB state store — " +
    "the bounded-memory backend a 100 TB deployment uses") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val dir = Files.createTempDirectory("kl_rocksdb")
    val recs = (0L until 20L).map(i =>
      stateRec(i, (i + 1) * 1000000L, i % 3, i * 1.5))
    val sentinel = stateRec(99, 40L * 24 * 3600 * 1000000L, -1, 0.0)
    ShardLogs.write(dir, recs :+ sentinel :+ "#CLOSED")
    def run(tag: String): Seq[(Long, Long, Double)] = {
      val ckpt = Files.createTempDirectory(s"kl_rocksdb_ck_$tag")
      val sink = s"rocksdb_sink_$tag"
      val q = userStateAgg(dir.toString, Map.empty)
        .writeStream
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val dflt = run("default")
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks = run("rocks")
      assert(rocks == dflt && rocks.nonEmpty,
        s"state backend must not change results: default=$dflt rocksdb=$rocks")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("foreachBatch idempotent sink: a replayed batch is skipped, " +
    "delivery to the external store is exactly-once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val dir   = Files.createTempDirectory("kl_sink")
    val ckpt  = Files.createTempDirectory("kl_sink_ck")
    val store = Files.createTempDirectory("kl_sink_store")
    ShardLogs.write(dir,
      (0L until 10L).map(i => stateRec(i, (i + 1) * 1000L, i % 2, i * 1.0)))
    val sink = new IdempotentSink(store.toString)
    def runOnce(): Unit = {
      val q = spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", "3") // several batches per run
        .load()
        .select(col("sequenceNumber").cast("long").as("seq"))
        .writeStream
        .foreachBatch(sink.apply _)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val idsAfterFirst = sink.committedBatchIds
    assert(idsAfterFirst.size >= 3, s"expected several batches: $idsAfterFirst")
    // Simulate redelivery of the LAST batch: Spark re-runs a batch whose
    // data was written but whose checkpoint commit was lost. Deleting the
    // commit-log entry makes the restart replay that batchId exactly.
    val commits = ckpt.resolve("commits")
    val stream = java.nio.file.Files.list(commits)
    val last =
      try stream.toArray.map(_.toString)
        .filter(n => !n.endsWith(".tmp") && !n.endsWith(".crc"))
        // Numeric max: batchIds are plain numbers, so a lexicographic
        // sort would pick "9" over "10" and quietly stop replaying.
        .maxBy(n => new java.io.File(n).getName.toLong)
      finally stream.close()
    Files.delete(java.nio.file.Paths.get(last))
    // Hadoop's local FS keeps a .crc sidecar per commit file; a stale one
    // blocks the replayed commit's rename.
    val lastFile = java.nio.file.Paths.get(last)
    val crc = lastFile.resolveSibling("." + lastFile.getFileName + ".crc")
    Files.deleteIfExists(crc)
    runOnce() // replays the last batch (and drains nothing new)
    assert(sink.committedBatchIds == idsAfterFirst,
      "replayed batch must be skipped, not duplicated")
    // The store holds each record exactly once.
    val seqs = spark.read.parquet(
      sink.committedBatchIds.map(i => s"$store/batch=$i"): _*)
      .select(col("seq")).collect().map(_.getLong(0)).toSeq.sorted
    assert(seqs == (0L until 10L), s"exactly-once delivery violated: $seqs")
  }

  test("RegistryListener marks a named query healthy on progress") {
    val registry = new ProducerRegistry
    val listener = new RegistryListener(registry)
    spark.streams.addListener(listener)
    try {
      val dir  = java.nio.file.Files.createTempDirectory("kl_listener")
      val ckpt = java.nio.file.Files.createTempDirectory("kl_listener_ck")
      ShardLogs.write(dir, Seq("0\t1\tk\tYQ==", "#CLOSED"))
      val q = spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .load()
        .writeStream
        .format("memory")
        .queryName("listener_stream")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Listener events are delivered asynchronously.
      val deadline = System.currentTimeMillis() + 30000
      while (registry.snapshot.get("listener_stream") != Some(true) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(registry.snapshot.get("listener_stream") == Some(true))
    } finally spark.streams.removeListener(listener)
  }

  test("RegistryListener alone marks a query unhealthy when it dies — no " +
    "runner involved (producer.ex:89-132 error path)") {
    val registry = new ProducerRegistry
    val listener = new RegistryListener(registry)
    spark.streams.addListener(listener)
    try {
      val dir  = java.nio.file.Files.createTempDirectory("kl_listener_err")
      val ckpt = java.nio.file.Files.createTempDirectory("kl_listener_err_ck")
      ShardLogs.write(dir, Seq("0\t1\tk\tYQ==", "#CLOSED"))
      val q = spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        // Exhaust the task-attempt budget so the QUERY dies.
        .option("failAtOpen", "http_error:500")
        .option("failAtOpenTimes", "99")
        .load()
        .writeStream
        .format("memory")
        .queryName("listener_err_stream")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      intercept[Exception] { q.awaitTermination() }
      // Registered at start (not-ready=false), still false after the
      // error termination — and observably BOUND to the error path: wait
      // for the terminate event to have been processed.
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500) // listener bus drain
      assert(registry.snapshot.get("listener_err_stream") == Some(false))
    } finally spark.streams.removeListener(listener)
  }

  /** A shard-log line whose JSON payload carries an explicit event_type
    * (stateRec pins it to "e") — needed by the dynamic-gap session test,
    * whose gap expression dispatches on the type. */
  private def typedRec(
      seq: Long, us: Long, user: Long, tpe: String): String = {
    val payload =
      s"""{"event_id":$seq,"ts":"${java.time.Instant.EPOCH.plus(us,
        java.time.temporal.ChronoUnit.MICROS)}","user_id":$user,""" +
        s""""event_type":"$tpe","value":1.0,"props":"{}"}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes("UTF-8"))
    s"$seq\t$us\t$user\t$b64"
  }

  test("dynamic-gap session_window results are microbatch-slicing " +
    "invariant: sessions that span batch boundaries merge identically") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val MIN = 60L * 1000000L
    // user 1: three views 20 min apart (30-min view gap ⇒ ONE session,
    // only if merging works across batch boundaries); user 2: clicks
    // 50 min apart (60-min click gap ⇒ one session), then a 2-hour
    // silence ⇒ a second session; user 3: view then a click 40 min later
    // (view gap 30 min expires ⇒ two sessions even though the CLICK gap
    // would have bridged them — the per-event gap is the point).
    // Log order = event-time order (the source replays in sequence, and
    // the 1-second watermark would drop genuinely late rows — in-order
    // arrival is the property the shard log actually guarantees).
    val recs = Seq(
      typedRec(0, 0 * MIN, 1, "view"),
      typedRec(1, 0 * MIN, 2, "click"),
      typedRec(2, 0 * MIN, 3, "view"),
      typedRec(3, 20 * MIN, 1, "view"),
      typedRec(4, 40 * MIN, 1, "view"),
      typedRec(5, 40 * MIN, 3, "click"),
      typedRec(6, 50 * MIN, 2, "click"),
      typedRec(7, 230 * MIN, 2, "click"),
      typedRec(8, 40L * 24 * 60 * MIN, 99, "view")) // watermark sentinel
    val dir = Files.createTempDirectory("kl_dyn_sess")
    ShardLogs.write(dir, recs :+ "#CLOSED")
    def run(cap: String, tag: String): Seq[(Long, String, Long)] = {
      val ckpt = Files.createTempDirectory(s"kl_dyn_sess_ck_$tag")
      val sink = s"dyn_sess_sink_$tag"
      val ev = spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", cap)
        .load()
        .select(from_json(col("data").cast("string"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType)))).as("e"))
        .select(col("e.user_id"), col("e.ts"), col("e.event_type"))
        .withWatermark("ts", "1 second")
      val q = ev
        .groupBy(
          session_window(
            col("ts"),
            when(col("event_type") === "view", "30 minutes")
              .otherwise("1 hour")),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .writeStream
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
        .filter(col("user_id") < 99)
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "HH:mm").as("start"),
          col("n"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
        .toSeq
    }
    val results = Seq("1", "2", "5", "1000").map(c => run(c, s"c$c"))
    assert(results.head == Seq(
      (1L, "00:00", 3L), // one merged 3-view session
      (2L, "00:00", 2L), (2L, "03:50", 1L), // silence splits user 2
      (3L, "00:00", 1L), (3L, "00:40", 1L)), // view gap expires first
      s"unexpected session set: ${results.head}")
    assert(results.distinct.size == 1,
      s"sessions must not depend on batch slicing: $results")
  }

  test("q114 streaming PIT enrichment equals q112's batch PIT join " +
    "exactly — a stateless stream-static join is slicing-invariant") {
    val sf = "/root/testdata/sf0.001"
    val stream = graft.SparkEntry
      .queries("q114_stream_pit_enrich")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val batch = graft.SparkEntry
      .queries("q112_pit_versioned_join")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(stream.length == batch.length && stream.length > 1)
    stream.zip(batch).foreach { case (sRow, bRow) =>
      assert(sRow._1 == bRow._1 && sRow._2 == bRow._2 && sRow._3 == bRow._3,
        s"stream $sRow != batch $bRow")
      // revenue: same documented cent-stability bound as the PIT specs
      // (double summation order differs between the engines' plans).
      assert(math.abs(sRow._4 - bRow._4) < 0.011, s"$sRow vs $bRow")
    }
  }

  test("q119-style live rollup stores per-batch aggregation STATES, not " +
    "rows — store growth is k·batches — and the merged view equals the " +
    "one-shot aggregate") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    def rec(seq: Long, tpe: String, v: Double): String = {
      val payload =
        s"""{"event_id":$seq,"ts":"${java.time.Instant.EPOCH.plus(seq * 1000L,
          java.time.temporal.ChronoUnit.MICROS)}","user_id":${seq % 3},""" +
          s""""event_type":"$tpe","value":$v,"props":"{}"}"""
      val b64 = java.util.Base64.getEncoder
        .encodeToString(payload.getBytes("UTF-8"))
      s"$seq\t${seq * 1000L}\t${seq % 3}\t$b64"
    }
    val dir   = Files.createTempDirectory("kl_rollup")
    val ckpt  = Files.createTempDirectory("kl_rollup_ck")
    val store = Files.createTempDirectory("kl_rollup_store")
    val n     = 24L
    ShardLogs.write(dir,
      (0L until n).map(i => rec(i, if (i % 2 == 0) "a" else "b", (i + 1) * 0.25)))
    val sink = new IdempotentSink(store.toString)
    val q = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", "5") // 24 records => 5 microbatches
      .load()
      .select(col("sequenceNumber").cast("long").as("event_id"),
        expr("from_json(CAST(data AS STRING)," +
          " 'event_type STRING, value DOUBLE')").as("e"))
      .select(col("event_id"), col("e.event_type").as("event_type"),
        col("e.value").as("value"))
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        sink(
          b.groupBy(col("event_type"))
            .agg(
              count(lit(1)).as("n"),
              sum(expr("CAST(round(value * 100) AS BIGINT)"))
                .as("sum_cents"),
              min(col("event_id")).as("min_event"),
              max(col("event_id")).as("max_event")),
          id))
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = sink.committedBatchIds
    assert(batches.size >= 3, s"need several batches: $batches")
    // The store must hold per-batch k-row STATES (k=2 types), never the
    // raw events: that bound is the operator's whole scale story.
    val stateRows = sink.readAll(spark).count()
    assert(stateRows <= 2L * batches.size && stateRows < n,
      s"store holds $stateRows rows for ${batches.size} batches")
    val merged = sink.readAll(spark)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("s"),
        min(col("min_event")).as("lo"), max(col("max_event")).as("hi"))
      .orderBy(col("event_type"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val expected = (0L until n).map(i => (if (i % 2 == 0) "a" else "b",
      i, math.round((i + 1) * 0.25 * 100)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, es) =>
        (t, es.size.toLong, es.map(_._3).sum, es.map(_._2).min,
          es.map(_._2).max)
      }
    assert(merged.toSeq == expected,
      s"merged view $merged != one-shot aggregate $expected")
  }
}
