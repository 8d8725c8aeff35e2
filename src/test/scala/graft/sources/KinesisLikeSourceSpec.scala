package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{ShardLogs, SparkSpec}
import graft.sources.kinesislike.{KinesisLikeLog, KinesisLikeOffset, StartingPosition}

/** Source behavior matrix, mirroring the reference's SubscribeToShard
  * integration tests (subscribe_to_shard_test.exs):
  *  - multi-event streaming + order preservation (128-143),
  *  - resubscribe carrying AFTER_SEQUENCE_NUMBER of the last delivered
  *    event (145-166),
  *  - resubscribe with the ORIGINAL position when zero events were
  *    delivered (175-189),
  *  - shard-closed termination (205-218),
  *  - a 1 MB record spanning many transport chunks reassembles intact
  *    (220-245),
  *  - in-stream error after partial delivery (191-203) via fault
  *    injection,
  * plus the five starting positions against a real log and
  * microbatch-split invariance (SURVEY.md §5.2).
  */
class KinesisLikeSourceSpec extends SparkSpec {

  private var ctr = 0
  private def tmpDir(prefix: String): Path = {
    ctr += 1
    Files.createTempDirectory(s"$prefix$ctr")
  }

  /** Write a shard log by hand: (seq, micros, key, payloadString). */
  private def writeShard(
      dir: Path,
      shard: Int,
      records: Seq[(Long, Long, String, String)],
      closed: Boolean = true): Unit = {
    val lines = records.map { case (seq, us, k, payload) =>
      val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes(UTF_8))
      s"$seq\t$us\t$k\t$b64"
    } ++ (if (closed) Seq(KinesisLikeLog.ClosedMarker) else Nil)
    ShardLogs.write(dir, lines, shard)
  }

  private def appendShard(
      dir: Path,
      shard: Int,
      records: Seq[(Long, Long, String, String)]): Unit = {
    val lines = records.map { case (seq, us, k, payload) =>
      val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes(UTF_8))
      s"$seq\t$us\t$k\t$b64"
    }
    ShardLogs.write(dir, lines, shard, append = true)
  }

  private def readBatch(dir: Path): DataFrame =
    spark.read.format("kinesislike").option("path", dir.toString).load()

  /** Run a streaming read to completion into a fresh memory sink; returns
    * collected (shardId, seq, payload) triples. */
  private def runStream(
      dir: Path,
      startingPosition: String,
      checkpoint: Path,
      sinkName: String,
      extraOptions: Map[String, String] = Map.empty): Seq[(String, Long, String)] = {
    var reader = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", startingPosition)
    extraOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load()
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
      .select(col("shardId"), col("sequenceNumber").cast("long"),
        col("data").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
  }

  // ---------------------------------------------------------------- batch

  test("batch read returns every record with the envelope schema") {
    val dir = tmpDir("kl_batch")
    writeShard(dir, 0, Seq((0L, 1000L, "u1", "a"), (1L, 2000L, "u2", "b")))
    writeShard(dir, 1, Seq((2L, 1500L, "u3", "c")))
    val df = readBatch(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("shardId", "sequenceNumber", "approximateArrivalTimestamp",
        "partitionKey", "data"))
    val rows = df
      .select(col("shardId"), col("sequenceNumber"),
        unix_micros(col("approximateArrivalTimestamp")).as("us"),
        col("partitionKey"), col("data").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toSet
    assert(rows == Set(
      ("shard-00000", "0", 1000L, "u1", "a"),
      ("shard-00000", "1", 2000L, "u2", "b"),
      ("shard-00001", "2", 1500L, "u3", "c")))
  }

  test("per-shard record order is preserved (subscribe_to_shard_test.exs:128-143)") {
    val dir = tmpDir("kl_order")
    writeShard(dir, 0, (0L until 50L).map(i => (i, i * 10, "k", s"p$i")))
    // One partition per shard, no shuffle → collect() preserves in-partition order.
    val seqs = readBatch(dir)
      .select(col("sequenceNumber").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(seqs == (0L until 50L))
  }

  test("a 1 MB record round-trips intact (subscribe_to_shard_test.exs:220-245)") {
    val dir = tmpDir("kl_big")
    val big = "x" * (1024 * 1024) // 1 MB pre-base64, the Kinesis record cap
    writeShard(dir, 0, Seq((0L, 1L, "k", big)))
    val got = readBatch(dir).select(col("data").cast("string")).collect()
    assert(got.length == 1 && got(0).getString(0) == big)
  }

  // ---------------------------------------- starting-position resolution

  test("five starting positions resolve to the correct record subsets") {
    val dir = tmpDir("kl_pos")
    // arrival timestamps: seq i arrives at i seconds.
    writeShard(dir, 0, (0L until 10L).map(i => (i, i * 1000000L, "k", s"p$i")))
    val f = dir.resolve("shard-00000.elog").toFile
    import StartingPosition._
    assert(KinesisLikeLog.resolveInitial(f, TrimHorizon) == -1L)
    assert(KinesisLikeLog.resolveInitial(f, Latest) == 9L)
    assert(KinesisLikeLog.resolveInitial(f, AtSequenceNumber(4)) == 3L)
    assert(KinesisLikeLog.resolveInitial(f, AfterSequenceNumber(4)) == 4L)
    assert(KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(5))) == 4L)
    // at_timestamp past the end behaves like latest.
    assert(KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(100))) == 9L)
  }

  test("streaming honors at_sequence_number / after_sequence_number / at_timestamp") {
    val dir = tmpDir("kl_subset")
    writeShard(dir, 0, (0L until 10L).map(i => (i, i * 1000000L, "k", s"p$i")))
    def seqsFrom(pos: String, tag: String): Seq[Long] =
      runStream(dir, pos, tmpDir(s"ck_$tag"), s"sink_subset_$tag")
        .map(_._2).sorted
    assert(seqsFrom("trim_horizon", "th") == (0L until 10L))
    assert(seqsFrom("at_sequence_number:7", "at") == Seq(7L, 8L, 9L))
    assert(seqsFrom("after_sequence_number:7", "after") == Seq(8L, 9L))
    assert(seqsFrom("at_timestamp:8", "ts") == Seq(8L, 9L))
    assert(seqsFrom("latest", "latest") == Seq.empty)
  }

  // ------------------------------------------------- resume semantics

  /** Restartable run: the memory sink cannot recover from a checkpoint,
    * so resume tests write to a (fault-tolerant) parquet file sink and
    * read the committed output back. */
  private def runStreamToFiles(
      dir: Path,
      startingPosition: String,
      checkpoint: Path,
      out: Path): Seq[Long] = {
    val q = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", startingPosition)
      .load()
      .writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read
      .schema(graft.sources.kinesislike.KinesisLikeTable.schema)
      .parquet(out.toString)
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("restart resumes AFTER the last delivered sequence number " +
    "(subscribe_to_shard_test.exs:145-166)") {
    val dir  = tmpDir("kl_resume")
    val ckpt = tmpDir("kl_resume_ck")
    val out  = tmpDir("kl_resume_out")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")), closed = false)
    assert(runStreamToFiles(dir, "trim_horizon", ckpt, out) == (0L until 5L))
    // The "subscription" ended; more records arrive on the shard.
    appendShard(dir, 0, (5L until 8L).map(i => (i, i, "k", s"p$i")))
    // The checkpointed cursor carries forward: combined output is exactly
    // 0..7 with the new records delivered exactly once, never re-read.
    assert(runStreamToFiles(dir, "trim_horizon", ckpt, out) == (0L until 8L))
  }

  test("zero delivered events ⇒ the ORIGINAL starting position still governs " +
    "(subscribe_to_shard_test.exs:175-189)") {
    val dir  = tmpDir("kl_orig")
    val ckpt = tmpDir("kl_orig_ck")
    val out  = tmpDir("kl_orig_out")
    // Shard exists but has nothing past the requested position yet.
    writeShard(dir, 0, (0L until 3L).map(i => (i, i, "k", s"p$i")), closed = false)
    assert(runStreamToFiles(dir, "after_sequence_number:5", ckpt, out).isEmpty)
    appendShard(dir, 0, (4L until 8L).map(i => (i, i, "k", s"p$i")))
    // Not everything new — only what the original position admits.
    assert(runStreamToFiles(dir, "after_sequence_number:5", ckpt, out) ==
      Seq(6L, 7L))
  }

  test("latest delivers NOTHING that predates the subscription — the gap " +
    "caveat (producer.ex:22, 209-210) — and everything appended after it") {
    val dir  = tmpDir("kl_latest_gap")
    val ckpt = tmpDir("kl_latest_gap_ck")
    val out  = tmpDir("kl_latest_gap_out")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")), closed = false)
    // Lifecycle 1 subscribes `latest`: the pre-existing records 0..4 are
    // the documented gap — resolved to the shard's high-water mark,
    // delivered never, and the resolved cursor commits to the checkpoint.
    assert(runStreamToFiles(dir, "latest", ckpt, out).isEmpty)
    // The stream keeps producing while no consumer is up.
    appendShard(dir, 0, (5L until 8L).map(i => (i, i, "k", s"p$i")))
    // Lifecycle 2 resumes from the checkpointed cursor: exactly the
    // post-attach records, the gap still ungapped.
    assert(runStreamToFiles(dir, "latest", ckpt, out) == Seq(5L, 6L, 7L))
  }

  test("closed shard: all records delivered, then the shard just ends " +
    "(subscribe_to_shard_test.exs:205-218)") {
    val dir = tmpDir("kl_closed")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a"), (1L, 2L, "k", "b")), closed = true)
    val f = dir.resolve("shard-00000.elog").toFile
    assert(KinesisLikeLog.shardState(f)._2)
    val got = runStream(dir, "trim_horizon", tmpDir("kl_closed_ck"), "sink_closed")
    assert(got.map(_._2).sorted == Seq(0L, 1L))
  }

  // --------------------------------------------- rate limit + invariance

  test("microbatch-split invariance: any maxRecordsPerBatch yields the same result") {
    val dir = tmpDir("kl_inv")
    writeShard(dir, 0, (0L until 17L).map(i => (i, i, "a", s"p$i")))
    writeShard(dir, 1, (17L until 29L).map(i => (i, i, "b", s"p$i")))
    val expected = (0L until 29L).toSeq
    for (batchSize <- Seq("1", "3", "7", "1000")) {
      val got = runStream(
        dir, "trim_horizon", tmpDir(s"kl_inv_ck$batchSize"),
        s"sink_inv_$batchSize",
        Map("maxRecordsPerBatch" -> batchSize))
      assert(got.map(_._2).sorted == expected,
        s"mismatch at maxRecordsPerBatch=$batchSize")
    }
  }

  test("per-event cursor with a MID-event admission cap: a multi-record " +
    "envelope event straddling a batch end defers its remainder to the " +
    "next microbatch exactly-once (the reader's seam filter), while an " +
    "uncapped resume from a committed continuation skips whole events") {
    val dir = tmpDir("kl_midevent")
    val f   = dir.resolve("shard-00000.elog").toFile
    // 10 records grouped 4 per SubscribeToShardEvent: events end at
    // seq 4, 8, 10 (the closed marker flushes the partial last group).
    val sink = KinesisLikeLog.openLineSink(f, recordsPerEvent = 4)
    try {
      (1L to 10L).foreach { i =>
        val b64 = java.util.Base64.getEncoder
          .encodeToString(s"p$i".getBytes(UTF_8))
        sink.writeLine(s"$i\t${i * 1000000L}\tk\t$b64")
      }
      sink.writeLine(KinesisLikeLog.ClosedMarker)
    } finally sink.close()
    // A cap of 3 ends batches at seq 3, 6, 9, 10 — three of the four
    // ends land MID-event. Every record must still arrive exactly once.
    val got = runStream(dir, "trim_horizon", tmpDir("kl_midevent_ck"),
      "kl_midevent_sink", Map("maxRecordsPerBatch" -> "3"))
    assert(got.map(_._2).sorted == (1L to 10L))
    // And a reader resuming from a MID-event cursor (after=5) delivers
    // only the straddling event's records past the cursor — never the
    // already-committed prefix of that event.
    val reader = new graft.sources.kinesislike.KinesisLikeReader(
      graft.sources.kinesislike.KinesisLikePartition(
        Seq(graft.sources.kinesislike.ShardSlice.of(f, after = 5L,
          until = Long.MaxValue)),
        faults = graft.sources.kinesislike.ReadFaults(dir.toString)))
    val tail = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (reader.next())
      tail += reader.get().getUTF8String(1).toString.toLong
    finally reader.close()
    assert(tail.toSeq == (6L to 10L))
  }

  test("shard count > cores: 16 shards on a 4-core master schedule " +
    "fairly under contention — every shard fully delivered exactly " +
    "once across multiple rate-limited microbatches, per-shard order " +
    "preserved (P7's N-shard generalization under queueing)") {
    val dir       = tmpDir("kl_manyshards")
    val numShards = 16 // 4x the master's 4 cores: tasks must QUEUE
    val perShard  = 25L
    // Sequence numbers are PER-SHARD (Kinesis continuation numbers are
    // per-shard cursors) — every shard runs 0..24, so the per-shard
    // admission cap of 7 drains each shard in exactly 4 batches.
    (0 until numShards).foreach { sh =>
      writeShard(dir, sh,
        (0L until perShard).map(i => (i, i * 10L, s"k$sh", s"s$sh-p$i")))
    }
    // Cap per-shard sequence advance so the drain takes several
    // microbatches — cursor commits interleave with task queueing.
    val delivered =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var batches = 0
    val q = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", "7")
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches += 1
        // collect() concatenates partitions in partition order, and a
        // scan partition reads each of its shard slices sequentially — so
        // rows of one shard appear in file (= sequence) order in a batch.
        delivered ++= b
          .select(col("shardId"), col("sequenceNumber").cast("long"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", tmpDir("kl_manyshards_ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches >= 3, s"rate cap must force several batches, got $batches")
    // Exactly-once, no shard starved.
    val byShard = delivered.groupBy(_._1)
    assert(byShard.keySet.size == numShards, "every shard must deliver")
    byShard.foreach { case (sh, rows) =>
      // Arrival order per shard (across batches, in delivery order) is
      // exactly ascending-sequence: order held under 4x contention.
      assert(rows.map(_._2).toSeq == (0L until perShard),
        s"shard $sh order/content")
    }
  }

  test("rate limit caps each microbatch (offset math, per shard)") {
    val dir = tmpDir("kl_cap")
    writeShard(dir, 0, (0L until 10L).map(i => (i, i, "k", s"p$i")))
    // Offset arithmetic: after=2 with cap 3 ⇒ end exactly 5.
    val stream = new graft.sources.kinesislike.KinesisLikeMicroBatchStream(
      graft.sources.kinesislike.KinesisLikeConfig(
        dir.toString, StartingPosition.TrimHorizon, Some(3L), None))
    val start = KinesisLikeOffset(Map("shard-00000" -> 2L))
    val end = stream
      .latestOffset(start, org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(3L))
      .asInstanceOf[KinesisLikeOffset]
    assert(end.positions == Map("shard-00000" -> 5L))
  }

  // ---------------------------------------------------- fault injection

  test("partial delivery then a transport error: delivered records survive, " +
    "nothing is lost or duplicated (producer.ex:159-168)") {
    val dir = tmpDir("kl_fault")
    writeShard(dir, 0, (0L until 12L).map(i => (i, i, "k", s"p$i")))
    val got = runStream(
      dir, "trim_horizon", tmpDir("kl_fault_ck"), "sink_fault",
      Map("failOnceAfter" -> "5"))
    // The fault fired exactly once (marker written by the reader)...
    assert(Files.exists(dir.resolve("_FAILED_ONCE")))
    // ...and the task retry reprocessed the batch exactly-once.
    assert(got.map(_._2).sorted == (0L until 12L))
  }

  test("rate-limited runs report backlog through StreamingQueryProgress: " +
    "latestOffset runs ahead of endOffset until the stream drains") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val dir = tmpDir("kl_lag")
    writeShard(dir, 0, (0L until 12L).map(i => (i, i, "k", s"p$i")))
    val progresses =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.sources.foreach { s =>
          progresses.add((s.endOffset, s.latestOffset))
        }
    }
    spark.streams.addListener(listener)
    try {
      runStream(
        dir, "trim_horizon", tmpDir("kl_lag_ck"), "sink_lag",
        Map("maxRecordsPerBatch" -> "3"))
      val deadline = System.currentTimeMillis() + 30000
      while (progresses.size() < 4 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val events = progresses.asScala.toSeq
      def seqOf(off: String): Long =
        off.stripPrefix("shard-00000=").toLong
      // Early batches: the reported latest (11) is ahead of the capped
      // end offset — the consumer-visible backlog signal.
      assert(events.exists { case (end, latest) =>
        seqOf(latest) > seqOf(end)
      }, s"expected a lagging batch in: $events")
      // Drained: the last progress shows the gap closed.
      val (finalEnd, finalLatest) = events.last
      assert(seqOf(finalEnd) == 11L && seqOf(finalLatest) == 11L,
        s"expected drained offsets, got end=$finalEnd latest=$finalLatest")
    } finally spark.streams.removeListener(listener)
  }

  test("offset json round-trips") {
    val off = KinesisLikeOffset(Map("shard-00000" -> 12L, "shard-00001" -> -1L))
    assert(KinesisLikeOffset.fromJson(off.json()) == off)
  }

  test("fuzzed logs round-trip exactly through the batch read: arbitrary " +
    "shard counts, sequence gaps, and binary payloads") {
    val rnd = new scala.util.Random(42) // fixed seed: deterministic CI
    for (trial <- 0 until 5) {
      val dir      = tmpDir(s"kl_fuzz$trial")
      val nShards  = 1 + rnd.nextInt(5)
      var seq      = rnd.nextInt(10).toLong
      val expected = scala.collection.mutable.Map.empty[Long, Seq[Byte]]
      for (sh <- 0 until nShards) {
        val recs = (0 until rnd.nextInt(40)).map { _ =>
          seq += 1 + rnd.nextInt(7) // gaps are legal; order is per shard
          val payload = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
          expected(seq) = payload.toSeq
          val b64 = java.util.Base64.getEncoder.encodeToString(payload)
          s"$seq\t${rnd.nextInt(1000000)}\tk${rnd.nextInt(3)}\t$b64"
        }
        ShardLogs.write(dir,
          recs ++ (if (rnd.nextBoolean()) Seq(KinesisLikeLog.ClosedMarker) else Nil),
          sh)
      }
      val got = readBatch(dir)
        .select(col("sequenceNumber").cast("long"), col("data"))
        .collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      assert(got == expected.toMap, s"trial $trial mismatch")
    }
  }

  // ----------------------- fault-injection matrix through the real path

  /** Each initial-response error class, raised at reader open MORE times
    * than the task-attempt budget so the QUERY fails, then supervised by
    * a ProducerRunner whose classify/retry loop recovers — the
    * producer-clause matrix of subscribe_to_shard_test.exs:249-281 run
    * end-to-end instead of with hand-built exception instances. */
  for ((spec, expectedClass) <- Seq(
      "resource_in_use" -> "resource_in_use",
      "http_error:503"  -> "http_error",
      "stream_closed"   -> "closed",
      "transport_closed" -> "transport_closed")) {
    test(s"open-failure injection '$spec' fails the query, the runner " +
      s"classifies it '$expectedClass' and recovers (producer.ex:89-132)") {
      val dir  = tmpDir(s"kl_open_$expectedClass")
      val ckpt = tmpDir(s"kl_open_${expectedClass}_ck")
      val out  = tmpDir(s"kl_open_${expectedClass}_out")
      writeShard(dir, 0, (0L until 6L).map(i => (i, i, "k", s"p$i")))
      val registry = new graft.streaming.ProducerRegistry
      val runner = new graft.streaming.ProducerRunner(
        streamName = s"open_$expectedClass",
        startQuery = () => spark.readStream
          .format("kinesislike")
          .option("path", dir.toString)
          .option("startingPosition", "trim_horizon")
          .option("failAtOpen", spec)
          .option("failAtOpenTimes", "2") // > local[4,2]'s attempt budget
          .load()
          .writeStream
          .format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start(),
        registry = registry,
        backoffMillis = 0L,
        maxRetries = 3,
        sleep = _ => ())
      assert(runner.run(), "runner should recover once the budget is spent")
      // The failure really traveled the read path and was classified.
      assert(runner.errorLog.nonEmpty)
      assert(runner.errorLog.head._1 == expectedClass)
      // Delivered exactly once despite the retries.
      val seqs = spark.read
        .schema(graft.sources.kinesislike.KinesisLikeTable.schema)
        .parquet(out.toString)
        .select(col("sequenceNumber").cast("long"))
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(seqs == (0L until 6L))
    }
  }

  test("an in-stream #ERROR record raises its class once mid-read; " +
    "delivered records survive (S10, subscribe_to_shard.ex:329-341)") {
    val dir = tmpDir("kl_instream")
    // 4 records, an exception frame, 2 more records.
    val recs = (0L until 4L).map(i => (i, i, "k", s"p$i"))
    val b64 = (p: String) =>
      java.util.Base64.getEncoder.encodeToString(p.getBytes(UTF_8))
    val lines =
      recs.map { case (s, us, k, p) => s"$s\t$us\t$k\t${b64(p)}" } ++
        Seq(KinesisLikeLog.ErrorMarker + "\thttp_error:500") ++
        (4L until 6L).map(i => s"$i\t$i\tk\t${b64(s"p$i")}") ++
        Seq(KinesisLikeLog.ClosedMarker)
    ShardLogs.write(dir, lines)
    val got = runStream(dir, "trim_horizon", tmpDir("kl_instream_ck"), "sink_instream")
    // Raised exactly once (task retry skips it), everything delivered.
    assert(Files.exists(dir.resolve("_INSTREAM_RAISED_shard-00000")))
    assert(got.map(_._2).sorted == (0L until 6L))
  }

  test("batch reads honor fault injection too: one open failure, task " +
    "retry recovers, rows intact") {
    val dir = tmpDir("kl_batch_fault")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")))
    val rows = spark.read
      .format("kinesislike")
      .option("path", dir.toString)
      .option("failAtOpen", "resource_in_use")
      .option("failAtOpenTimes", "1") // within local[4,2]'s retry budget
      .load()
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(Files.exists(dir.resolve("_FAILED_OPEN_shard-00000")))
    assert(rows == (0L until 5L))
  }

  test("injection budgets are scoped by faultRunId: a second run with a " +
    "fresh id injects again, and clearMarkers resets a shared fixture dir") {
    val dir = tmpDir("kl_fault_scope")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")))
    def read(runId: String): Seq[Long] = spark.read
      .format("kinesislike")
      .option("path", dir.toString)
      .option("failAtOpen", "resource_in_use")
      .option("failAtOpenTimes", "1")
      .option("faultRunId", runId)
      .load()
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(read("r1") == (0L until 5L))
    assert(Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r1")))
    // A distinct run id starts a fresh budget: the fault fires again
    // (marker of its own) instead of silently no-opping on the spent one.
    assert(read("r2") == (0L until 5L))
    assert(Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r2")))
    // The explicit reset reclaims every budget marker in the dir.
    graft.sources.kinesislike.Faults.clearMarkers(dir.toString)
    assert(!Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r1")))
    assert(!Files.exists(dir.resolve("_FAILED_OPEN_shard-00000_r2")))
  }

  test("a directory holding only a text shard-00000.log has no shards: a " +
    "batch read and a stream start both fail naming the .elog format") {
    val dir = tmpDir("kl_stale_text")
    Files.write(dir.resolve("shard-00000.log"),
      s"0\t1\tk\tYQ==\n${KinesisLikeLog.ClosedMarker}\n".getBytes(UTF_8))
    def messages(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val batch  = intercept[Exception](readBatch(dir).collect())
    val stream = intercept[Exception](runStream(
      dir, "trim_horizon", tmpDir("kl_stale_text_ck"), "sink_stale_text"))
    for (e <- Seq(batch, stream))
      assert(messages(e).contains(s"no shard-*.elog files in $dir"), messages(e))
  }

  // ------------------------------------ shard-closed as a visible signal

  test("a drained CLOSED stream is observable distinctly from an idle " +
    "OPEN one (subscribe_to_shard.ex:356-363, producer.ex:116-123)") {
    import graft.sources.kinesislike.KinesisLikeStatus
    // Closed log: every shard ends with the nil-continuation marker.
    val closedDir = tmpDir("kl_status_closed")
    writeShard(closedDir, 0, Seq((0L, 1L, "k", "a")), closed = true)
    writeShard(closedDir, 1, Seq((1L, 2L, "k", "b")), closed = true)
    // Open log: same content, no marker — merely idle after draining.
    val openDir = tmpDir("kl_status_open")
    writeShard(openDir, 0, Seq((0L, 1L, "k", "a")), closed = false)
    runStream(closedDir, "trim_horizon", tmpDir("kl_status_c_ck"), "sink_status_c")
    runStream(openDir, "trim_horizon", tmpDir("kl_status_o_ck"), "sink_status_o")
    assert(KinesisLikeStatus.of(closedDir.toString) == KinesisLikeStatus.Closed)
    assert(KinesisLikeStatus.of(openDir.toString) == KinesisLikeStatus.Open)
  }

  test("a recycled log path does not inherit the previous log's Closed " +
    "status: a new stream resets it at construction") {
    import graft.sources.kinesislike.{KinesisLikeConfig, KinesisLikeMicroBatchStream, KinesisLikeStatus}
    val dir = tmpDir("kl_status_recycle")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a")), closed = true)
    runStream(dir, "trim_horizon", tmpDir("kl_recycle_ck1"), "sink_recycle_1")
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed)
    // Recycle the path: replace with a fresh OPEN log.
    Files.delete(dir.resolve("shard-00000.elog"))
    writeShard(dir, 0, Seq((1L, 2L, "k", "b")), closed = false)
    // Constructing a stream over the recycled path starts a new lifetime.
    new KinesisLikeMicroBatchStream(
      KinesisLikeConfig(dir.toString, StartingPosition.TrimHorizon, None, None))
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Open)
  }

  test("Closed status under concurrent consumers: sticky within a " +
    "lifetime (an undrained poll can't flip it back), union-reported, " +
    "reset only by a NEW stream over the path") {
    import graft.sources.kinesislike.{KinesisLikeConfig, KinesisLikeMicroBatchStream, KinesisLikeStatus}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir("kl_status_union")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a"), (1L, 2L, "k", "b")), closed = true)
    def cfg() = KinesisLikeConfig(
      dir.toString, StartingPosition.TrimHorizon, None, None)
    // Consumer B attaches: a fresh lifetime starts Open.
    val b = new KinesisLikeMicroBatchStream(cfg())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Open)
    // Consumer A runs the dir to closure concurrently with B's lifetime.
    runStream(dir, "trim_horizon", tmpDir("kl_union_ck"), "sink_union_a")
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed,
      "a drained concurrent consumer reports closure (the union)")
    // B polls with an UNDRAINED cursor: stickiness — the race the
    // scaladoc documents — means this must NOT overwrite Closed back to
    // Open, even though B itself has everything still ahead of it.
    val undrained = b.initialOffset()
    b.latestOffset(undrained, ReadLimit.allAvailable())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed,
      "an undrained poll must not un-close the union status")
    // B draining too is idempotent.
    val drained = KinesisLikeOffset(Map("shard-00000" -> 1L))
    b.latestOffset(drained, ReadLimit.allAvailable())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Closed)
    // Only a NEW stream over the path starts the next lifetime Open.
    new KinesisLikeMicroBatchStream(cfg())
    assert(KinesisLikeStatus.of(dir.toString) == KinesisLikeStatus.Open)
  }

  test("ProducerRunner surfaces ShardsClosed distinctly from Normal") {
    import graft.streaming.{ProducerRegistry, ProducerRunner}
    val dir  = tmpDir("kl_runner_closed")
    val ckpt = tmpDir("kl_runner_closed_ck")
    writeShard(dir, 0, Seq((0L, 1L, "k", "a")), closed = true)
    val runner = new ProducerRunner(
      streamName = "runner_closed",
      startQuery = () => spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .load()
        .writeStream
        .format("memory")
        .queryName("sink_runner_closed")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start(),
      registry = new ProducerRegistry,
      logDir = Some(dir.toString))
    assert(runner.run())
    assert(runner.connState == ProducerRunner.ShardsClosed)
  }

  // --------------------------------------------- driver metadata caching

  test("unchanged shard files do not re-scan for offset metadata " +
    "(O(1) per microbatch, like Kafka listOffsets)") {
    val dir = tmpDir("kl_meta")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")))
    val f = dir.resolve("shard-00000.elog").toFile
    assert(KinesisLikeLog.maxSeq(f) == 4L) // may scan
    val scansAfterFirst = graft.sources.kinesislike.KinesisLikeLog.metaScans.get()
    assert(KinesisLikeLog.maxSeq(f) == 4L)
    assert(KinesisLikeLog.shardState(f)._2)
    assert(KinesisLikeLog.maxSeq(f) == 4L)
    assert(KinesisLikeLog.metaScans.get() == scansAfterFirst,
      "repeated metadata reads of an unchanged shard must hit the cache")
    // An append extends the index from its scanned end — the new record
    // is seen without a full re-scan.
    appendShard(dir, 0, Seq((5L, 5L, "k", "p5")))
    assert(KinesisLikeLog.maxSeq(f) == 5L)
    assert(KinesisLikeLog.metaScans.get() == scansAfterFirst,
      "an append must extend the index, not re-scan the shard from byte 0")
  }

  test("across appends and polls the metadata scan reads each shard byte " +
    "once: its bytes equal the file length, from one full scan") {
    val dir = tmpDir("kl_meta_bytes")
    writeShard(dir, 0, (0L until 4L).map(i => (i, i, "k", s"p$i")), closed = false)
    val f = dir.resolve("shard-00000.elog").toFile
    val bytes0 = KinesisLikeLog.metaScanBytes.get()
    val scans0 = KinesisLikeLog.metaScans.get()
    (0 until 6).foreach { k =>
      val last = 3L + 2 * k
      assert(KinesisLikeLog.maxSeq(f) == last) // the poll after an append
      assert(KinesisLikeLog.maxSeq(f) == last) // and one with nothing new
      appendShard(dir, 0, Seq(last + 1, last + 2).map(i => (i, i, "k", s"p$i")))
    }
    assert(KinesisLikeLog.maxSeq(f) == 15L)
    assert(KinesisLikeLog.metaScanBytes.get() - bytes0 == f.length())
    assert(KinesisLikeLog.metaScans.get() - scans0 == 1)
  }

  test("a slice deep in a 10,000-record shard decodes at most its own " +
    "events plus one mark interval") {
    val dir = tmpDir("kl_deep_slice")
    // Fixed-width records, so every three-record event has one size.
    def rec(i: Long) = (10000L + i, 1000000000L + i, "k", f"p$i%05d")
    writeShard(dir, 0, (0L until 10000L).map(rec), closed = false)
    val f = dir.resolve("shard-00000.elog").toFile
    val eventBytes = graft.sources.kinesislike.EventStreamFraming.encodeRecordsEvent(
      (0L until 3L).map(rec).map { case (seq, us, k, p) =>
        KinesisLikeLog.Record(seq, us, k,
          java.util.Base64.getEncoder.encodeToString(p.getBytes(UTF_8)))
      }).length
    val (after, until) = (17000L, 17030L)
    val slice = graft.sources.kinesislike.ShardSlice.of(f, after, until)
    assert(KinesisLikeLog.index(f).marks.size > 10)
    val before = graft.sources.kinesislike.SliceReader.decodedBytes.get()
    val reader = new graft.sources.kinesislike.KinesisLikeReader(
      graft.sources.kinesislike.KinesisLikePartition(Seq(slice),
        graft.sources.kinesislike.ReadFaults(dir.toString)))
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (reader.next())
      got += reader.get().getUTF8String(1).toString.toLong
    finally reader.close()
    assert(got.toSeq == (after + 1 to until))
    val decoded = graft.sources.kinesislike.SliceReader.decodedBytes.get() - before
    // Its 30 records straddle at most 12 events, plus the first event
    // past `until` that ends the read, plus the skipped events of one
    // mark interval.
    val bound = 13L * eventBytes + KinesisLikeLog.MarkBytes
    assert(decoded <= bound, s"decoded $decoded bytes, bound $bound")
    assert(slice.end - slice.start <= bound + KinesisLikeLog.MarkBytes)
  }

  test("16 small shard slices pack into at most default-parallelism read " +
    "partitions, each shard's rows in sequence order; a large slice stays " +
    "alone") {
    import graft.sources.kinesislike._
    val dir = tmpDir("kl_pack")
    (0 until 16).foreach { sh =>
      writeShard(dir, sh, (0L until 25L).map(i => (i, i, s"k$sh", s"s$sh-p$i")),
        closed = false)
    }
    val stream = new KinesisLikeMicroBatchStream(
      KinesisLikeConfig(dir.toString, StartingPosition.TrimHorizon, None, None))
    val start = stream.initialOffset()
    val end   = stream.latestOffset(start, stream.getDefaultReadLimit)
    val parts = stream.planInputPartitions(start, end)
    assert(parts.length <= spark.sparkContext.defaultParallelism)
    assert(parts.flatMap(_.asInstanceOf[KinesisLikePartition].slices)
      .map(_.shardId).sorted.toSeq ==
      KinesisLikeLog.shardFiles(dir.toString).map(KinesisLikeLog.shardId))
    val rows = parts.toSeq.flatMap { p =>
      val r = stream.createReaderFactory().createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      try while (r.next()) out += ((r.get().getUTF8String(0).toString,
        r.get().getUTF8String(1).toString.toLong))
      finally r.close()
      out
    }
    rows.groupBy(_._1).foreach { case (sh, rs) =>
      assert(rs.map(_._2) == (0L until 25L), s"shard $sh order/content")
    }
    assert(rows.map(_._1).distinct.size == 16)
    // The batch read plans through the same packing.
    assert(readBatch(dir).rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    // Spark's default confs (4 MiB open cost, 128 MiB cap) on 4 cores:
    // a 64 MiB slice fills its own partition and the 1 KiB ones share.
    def slice(sh: Int, bytes: Long) = ShardSlice(s"shard-$sh", "", -1L, 0L, 0L, bytes)
    val packed = ShardSlice.pack(
      slice(0, 64L << 20) +: (1 to 15).map(slice(_, 1024L)),
      openCost = 4L << 20, maxPartitionBytes = 128L << 20, minPartitions = 4)
    assert(packed.head.map(_.shardId) == Seq("shard-0"))
    assert(packed.size == 3 && packed.tail.forall(_.size <= 8))
  }

  test("a half-written trailing frame is not offered: the complete frames " +
    "are delivered, and once the rest of the frame is appended its " +
    "records are delivered exactly once") {
    val dir  = tmpDir("kl_torn")
    val ckpt = tmpDir("kl_torn_ck")
    val out  = tmpDir("kl_torn_out")
    writeShard(dir, 0, (0L until 5L).map(i => (i, i, "k", s"p$i")), closed = false)
    val f = dir.resolve("shard-00000.elog")
    val frame = graft.sources.kinesislike.EventStreamFraming.encodeRecordsEvent(
      (5L until 8L).map(i => KinesisLikeLog.Record(i, i, "k",
        java.util.Base64.getEncoder.encodeToString(s"p$i".getBytes(UTF_8)))))
    val cut = frame.length / 2
    Files.write(f, frame.take(cut), java.nio.file.StandardOpenOption.APPEND)
    assert(runStreamToFiles(dir, "trim_horizon", ckpt, out) == (0L until 5L))
    Files.write(f, frame.drop(cut), java.nio.file.StandardOpenOption.APPEND)
    assert(runStreamToFiles(dir, "trim_horizon", ckpt, out) == (0L until 8L))
  }

  test("repeated at_timestamp starts do not re-scan the shard: the " +
    "arrival index is cached like maxSeq, appends invalidate it") {
    import StartingPosition.AtTimestamp
    val dir = tmpDir("kl_tsindex")
    writeShard(dir, 0, (0L until 10L).map(i => (i, i * 1000000L, "k", s"p$i")),
      closed = false)
    val f = dir.resolve("shard-00000.elog").toFile
    def at(sec: Long): Long = KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(sec)))
    // Each start folds the shard once (stream construction would clear
    // any cache anyway), so repeated starts must simply agree.
    assert(at(5) == 4L)
    assert(at(7) == 6L)
    assert(at(0) == -1L)
    assert(at(100) == 9L) // past the end ⇒ latest
    // An appended record is seen by the next start.
    appendShard(dir, 0, Seq((10L, 10000000L, "k", "p10")))
    assert(at(10) == 9L)
  }

  test("the at_timestamp index answers NON-monotone arrivals exactly " +
    "like the full scan: min sequence whose own arrival is at-or-after") {
    import StartingPosition.AtTimestamp
    val dir = tmpDir("kl_tsindex_nonmono")
    // Arrivals 10s, 5s, 20s for seqs 0, 1, 2 — seq 1 is dominated by 0.
    writeShard(dir, 0, Seq(
      (0L, 10000000L, "k", "a"),
      (1L, 5000000L, "k", "b"),
      (2L, 20000000L, "k", "c")), closed = false)
    val f = dir.resolve("shard-00000.elog").toFile
    def at(sec: Long): Long = KinesisLikeLog.resolveInitial(
      f, AtTimestamp(java.time.Instant.ofEpochSecond(sec)))
    assert(at(6) == -1L)  // seq 0 (arrival 10s ≥ 6s) starts the slice
    assert(at(10) == -1L) // inclusive boundary
    assert(at(15) == 1L)  // only seq 2 qualifies ⇒ cursor 1
    assert(at(21) == 2L)  // past the end ⇒ latest
  }

  test("the metadata-only scan (maxSeq/isClosed) equals the full event " +
    "decode on framed logs: multi-record envelopes, error events, open " +
    "and closed shards") {
    val dir = tmpDir("kl_meta_fast")
    // Shard 0: closed, with an in-stream error marker mid-log; shard 1:
    // open (no closed marker) with a trailing record; both use 3-record
    // envelopes so maxSeq must come from a MULTI-record event's
    // continuation, not a one-record event.
    def rec(i: Long): String = {
      val b64 = java.util.Base64.getEncoder.encodeToString(s"p$i".getBytes(UTF_8))
      s"$i\t${i * 1000L}\tk\t$b64"
    }
    val shard0 = (0L until 7L).map(rec) :+ KinesisLikeLog.ClosedMarker
    ShardLogs.write(dir, shard0.take(3) ++
      Seq(s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t1") ++ shard0.drop(3))
    writeShard(dir, 1,
      (10L until 15L).map(i => (i, i * 1000L, "k", s"p$i")), closed = false)
    // Full-decode reference fold (the pre-optimization spelling): every
    // record of every event is decoded.
    def fullFold(f: java.io.File): (Long, Boolean) = {
      val in = KinesisLikeLog.openEvents(f)
      try Iterator.continually(in.readEvent()).takeWhile(_ != null)
        .foldLeft((-1L, false)) {
          case ((mx, _), KinesisLikeLog.Closed) => (mx, true)
          case ((mx, cl), KinesisLikeLog.RecordsEvent(_, rs)) =>
            (rs.foldLeft(mx)((m, r) => math.max(m, r.seq)), cl)
          case (acc, _) => acc
        }
      finally in.close()
    }
    for (f <- KinesisLikeLog.shardFiles(dir.toString)) {
      KinesisLikeLog.invalidateMeta(dir.toString)
      assert(KinesisLikeLog.shardState(f) == fullFold(f),
        s"(maxSeq, closed) diverged on $f")
    }
    // The parallel prefetch populates the same cache the serial walk reads.
    KinesisLikeLog.invalidateMeta(dir.toString)
    KinesisLikeLog.prefetchMeta(dir.toString)
    val scans = KinesisLikeLog.metaScans.get()
    assert(KinesisLikeLog.shardFiles(dir.toString)
      .map(KinesisLikeLog.maxSeq).max == 14L)
    assert(KinesisLikeLog.metaScans.get() == scans,
      "the sequential walk after prefetch must be all cache hits")
  }

  test("stream construction invalidates cached shard metadata: a recycled " +
    "path with same-length content within mtime granularity is re-scanned") {
    val dir = tmpDir("kl_meta_recycle")
    writeShard(dir, 0, Seq((3L, 1L, "k", "a")), closed = false)
    val f = dir.resolve("shard-00000.elog").toFile
    assert(KinesisLikeLog.maxSeq(f) == 3L)
    val mtime = f.lastModified()
    // Replace with a same-length line holding a different max seq, and
    // pin the mtime so the (mtime, length) cache key is provably blind.
    writeShard(dir, 0, Seq((7L, 1L, "k", "a")), closed = false)
    assert(f.setLastModified(mtime))
    assert(KinesisLikeLog.maxSeq(f) == 3L,
      "precondition: the cache key alone cannot see this replacement")
    // A new stream lifetime at the same path re-scans.
    new graft.sources.kinesislike.KinesisLikeMicroBatchStream(
      graft.sources.kinesislike.KinesisLikeConfig(
        dir.toString, StartingPosition.TrimHorizon, None, None))
    assert(KinesisLikeLog.maxSeq(f) == 7L)
  }
}
