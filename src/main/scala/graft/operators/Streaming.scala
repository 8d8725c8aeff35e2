package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.{Fixtures, GraftSession, Prewarm, Q, Tables => T}
import graft.sources.kinesislike.KinesisLikeLog

/** Real Structured Streaming operators running on the KinesisLike source
  * (SURVEY.md §2.2 streaming row): event-time tumbling-window aggregation
  * with a watermark, and at-least-once dedup via dropDuplicates.
  *
  * Every query reads through the one reader, [[replay]] (the
  * `kinesislike` source over a shard log, parsed into event columns), and
  * runs through the one drain, [[drain]] (Trigger.AvailableNow over a
  * checkpoint, under the state-partition conf scope), into a memory sink
  * ([[runToMemory]]) or a `foreachBatch` sink; the retry proofs hand the
  * same query start ([[startDrain]]) to a supervised
  * [[graft.streaming.ProducerRunner]]. Each result is formulated
  * batch-equivalently so the DuckDB oracle over the `events` table checks
  * the streaming result byte-for-byte (SURVEY.md §5.2).
  *
  * The payload pipeline honors the reference's decode path: the source
  * delivers base64-decoded `data` bytes (subscribe_to_shard.ex:365-366),
  * parsed here with from_json — the S12 "decode_message" analog.
  *
  * Scale posture: the source is per-shard parallel, the windowed
  * aggregation is a standard partial-agg + state-store plan keyed by
  * (window, event_type), and dedup state is bounded by the watermark.
  */
object Streaming {

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** The watermark-advance sentinel's user id (KinesisLikeLog appends it
    * with `sentinel = true`). Sink-side filters must exclude EXACTLY this
    * id — an earlier `user_id >= 0` filter also swallowed legitimate
    * negative user ids, silently diverging from the oracle (which knows
    * nothing of the sentinel convention) on any corpus that has them. */
  private val SentinelUserId = -1L

  private val sinkCounter = new AtomicLong(0)

  /** Per-JVM scratch root for stream checkpoints and q46's external
    * store. Bare `Files.createTempDirectory` scratch is never reclaimed
    * — every bench/verify JVM would leave its checkpoints (and a full
    * delivered-event copy for q46) in java.io.tmpdir forever. Each JVM
    * owns a pid-named subdir, and at first use reclaims siblings whose
    * owning process is gone — so a concurrently running bench, verify,
    * or spark-shell session can never have its LIVE checkpoints deleted
    * (a blanket wipe of a shared root would fail an in-flight stream's
    * next state-store commit and break the other JVM's scratch forever),
    * while dead runs' scratch is still bounded. */
  private lazy val scratchRoot: java.io.File = {
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_stream_scratch")
    base.mkdirs()
    val self = ProcessHandle.current()
    def startMs(h: ProcessHandle): Option[Long] = {
      val o = h.info().startInstant()
      if (o.isPresent) Some(o.get.toEpochMilli) else None
    }
    // Dir name carries <pid>_<jvmStartMillis> so a dead run's scratch is
    // reclaimed even when the OS has RECYCLED its pid for an unrelated
    // live process: liveness alone would park that run's checkpoints (and
    // a full q46 store copy) until the pid freed up again. The start
    // instant read back from a live /proc entry equals what the original
    // owner recorded iff it IS the original owner (1 s slack absorbs any
    // jiffies→ms rounding); older pid-only dirs fall back to the liveness
    // check.
    Option(base.listFiles()).getOrElse(Array.empty).foreach { f =>
      val parts = f.getName.split('_')
      val pid   = parts.headOption.getOrElse("")
      if (pid.nonEmpty && pid.forall(_.isDigit) && pid.length <= 18 &&
        pid.toLong != self.pid()) {
        val owner = ProcessHandle.of(pid.toLong)
        val alive = owner.isPresent && owner.get().isAlive
        // A recorded start of 0 means the OWNER could not read its own
        // startInstant at creation — a peer that CAN read the live
        // process's start would always see |ms-0|>1000 and delete a LIVE
        // run's checkpoints; such dirs get the plain liveness check only.
        val recycled = alive && parts.length >= 3 &&
          parts(1).nonEmpty && parts(1).forall(_.isDigit) &&
          parts(1).toLong != 0L &&
          startMs(owner.get()).exists(ms => math.abs(ms - parts(1).toLong) > 1000)
        if (!alive || recycled) graft.Fs.deleteRecursively(f)
      }
    }
    val mine = new java.io.File(
      base, s"${self.pid()}_${startMs(self).getOrElse(0L)}_scratch")
    mine.mkdirs()
    mine
  }

  private def scratchDir(prefix: String): String =
    Files.createTempDirectory(scratchRoot.toPath, prefix).toString

  /** Prefix of every memory-sink table [[runToMemory]] registers. */
  val SinkPrefix = "graft_stream_sink_"

  /** Drop every consumed memory-sink temp view. The memory sink holds
    * its full result set in driver memory for the life of the session
    * (catalog clearCache drops cached plans, not sink buffers), so
    * Bench/Verify call this once a streaming query's result has been
    * written out. Lives next to the sink naming so the producer and the
    * reclaim can't drift apart. */
  def dropConsumedSinks(s: SparkSession): Unit = s.catalog
    .listTables().collect()
    .map(_.name)
    .filter(_.startsWith(SinkPrefix))
    .foreach(s.catalog.dropTempView)

  // One shard = one read task: a 4-shard fixture capped source read
  // parallelism at 4 cores no matter how many the session has (and real
  // Kinesis streams run many shards); 16 keeps per-user ordering
  // (user % shards) while letting the read+decode actually parallelize.
  private val NumShards = 16
  /** Bumped whenever the shard-log format changes (v2 = µs-precision
    * timestamps; v3 = framed twins carry full AWS event-stream messages
    * — headers + CRCs — instead of bare length-prefixed payloads; v4 =
    * record payloads are the reference's Records JSON envelope —
    * ContinuationSequenceNumber + base64 Data — with multi-record
    * events and per-event cursor advance; v5 = every variant is written
    * straight to event-stream frames, with no text `.log` dir beside
    * it); part of every fixture dir name. */
  private val LayoutVersion = 5

  /** Where the `copies`/`sentinel` variant of sf dir `d`'s shard log
    * lives in the store: `.elog` files of full AWS-event-stream messages
    * — header vocabulary, CRC32s, initial-response open
    * ([[graft.sources.kinesislike.EventStreamFraming]]) — that the reader
    * reassembles from 16 KB chunks, so the S9 frame state machine and
    * the S10 header demux sit under the oracle gate on the whole sweep.
    * Shard count and layout version are part of the key. */
  private[graft] def logPath(
      d: String, copies: Int = 1, sentinel: Boolean = false): String =
    Fixtures.shardLog(
      s"s${NumShards}_c$copies${if (sentinel) "_sent" else ""}_framed",
      LayoutVersion, d)

  /** Build (once) and return the [[logPath]] log. The base (`copies` =
    * 1, no sentinel) is written from the events table; every other
    * variant derives from it by event transformation, so the Spark read
    * of events.parquet happens once per sf dir, not per variant. */
  private def ensureLog(
      s: SparkSession,
      d: String,
      copies: Int,
      sentinel: Boolean = false): String = {
    val base =
      KinesisLikeLog.writeFromEvents(s, d, logPath(d), numShards = NumShards)
    if (copies == 1 && !sentinel) base
    else
      KinesisLikeLog.derive(base, logPath(d, copies, sentinel), copies, sentinel)
  }

  /** q130's log: the sentinel log re-encoded at one record per event —
    * the same records as q28's, in another byte layout. */
  private def oneRecordPerEventLog(s: SparkSession, d: String): String = {
    val sent = ensureLog(s, d, copies = 1, sentinel = true)
    KinesisLikeLog.derive(sent, sent + "_rpe1", copies = 1, sentinel = false,
      recordsPerEvent = 1)
  }

  /** q127's split pair (open prefix + continuation tail fragments of the
    * base log, cut at half the max event id — a bounded driver-side
    * scalar, q125's posture), derived ONCE per (corpus, cut); the
    * per-run mutable log is then assembled by pure byte copy/append, so
    * the encode cost no longer bills per run (r18 verdict item 4). */
  private def splitPair(s: SparkSession, d: String): String = {
    val base = ensureLog(s, d, copies = 1)
    val k    = maxEventId(s, d) / 2
    KinesisLikeLog.deriveSplitPair(base, base + s"_split_$k", cut = k)
  }

  /** Build every log variant the streaming queries replay (base,
    * doubled, sentinel, q130's one-record-per-event sentinel log) ahead
    * of time — Bench calls this during warmup so the one-time fixture
    * construction (a driver-side scan of the events table) isn't
    * attributed to whichever streaming query runs first. Idempotent:
    * each variant is a [[Fixtures.once]] build. */
  def prewarmLogs(s: SparkSession, d: String): Unit = {
    ensureLog(s, d, copies = 2)
    oneRecordPerEventLog(s, d)
    splitPair(s, d)
  }

  /** State-store partition count for every streaming proof, sized to
    * the STATE, not the shard count or the SQL shuffle default:
    * `spark.sql.shuffle.partitions` fixes the state-store partition
    * count at first start and is frozen into the checkpoint, and each
    * state partition costs per-batch store I/O whether or not it holds
    * state (measured on the stream-stream join at sf0.1: 3.9 s at 8
    * partitions, 10.8 s at 32, 23 s at 64 — pure store overhead,
    * identical results; r17 re-measured the 16→8 step across the pack:
    * q36 4.41→2.74 s, q56 5.28→3.87 s, q37 2.29→1.85 s, isolated
    * warm+billed adjacent pairs). The source's READ parallelism is
    * per-shard regardless (16 shard files = 16 read tasks), so shrinking the
    * state exchange never serializes the scan — the two parallelisms
    * are independent, which is exactly why this knob follows state
    * VOLUME (keys × stateful operators; KBs on these proofs) while a
    * deployment with millions of keys raises it. Results are
    * partition-count-invariant (`graft.Harness invariance`). */
  private val StateParts = 8

  /** State partitions for the stream-STREAM join family (q36/q61/q82/
    * q84) — [[StateParts]] sized to the join's own state geometry: a
    * symmetric join keeps FOUR state stores per partition (two sides ×
    * keyToNumValues/keyWithIndexToValue), so each partition costs ~4×
    * a windowed aggregate's per-batch store overhead, and the family
    * replays in admission-capped slabs whose PER-BATCH state volume is
    * bounded by design ([[joinStep]]) — the corpus growing means MORE
    * slabs, not bigger ones. Measured r20 (isolated warm+billed pairs,
    * both orders, sf0.1 AND the sf1 decade): 4 parts beats 8 at both scales (q36
    * 3.9→3.3 s, q82 4.8→3.6 s at sf0.1; q82 27.5→12.6 s, q36 14.9→8.6 s
    * at sf1), 16/32 lose 2-3× (reconfirming r17's two-scale probe), and
    * 2 is flat-to-worse than 4. The formula keeps the measured floor
    * and grows with per-slab volume (~250 k state rows per partition
    * amortizes the ~0.2 s/partition/batch commit overhead against the
    * probe CPU), capped at the session's cores — a production backfill
    * that raises its per-slab state budget gets more partitions with
    * it. Results are partition-count-invariant (`graft.Harness
    * invariance`; the oracle re-proves every family member). */
  private def joinStateParts(s: SparkSession, d: String): Int = {
    val perSlab = joinStep(s, d)
    math.min(
      math.max(4L, perSlab / 250000L),
      s.sparkContext.defaultParallelism.toLong).toInt
  }

  /** Run `body` with state partitioning per [[StateParts]] (or the
    * caller's `parts` — the join family passes [[joinStateParts]]); the
    * batch queries keep the session default, restored afterwards by
    * [[GraftSession.withConf]], which also serializes the flip. */
  private def stateScope[T](s: SparkSession, parts: Int = StateParts)(
      body: => T): T =
    GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> parts.toString)(body)

  /** The pack's one query start: the sink `into` configures, run
    * AvailableNow over checkpoint `ckpt`. [[drain]] awaits it; the
    * [[ErrorRetryFixture]] producer restarts it on failure. */
  private def startDrain(df: DataFrame, ckpt: String)(
      into: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery =
    into(df.writeStream)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Run a streaming DataFrame to completion (AvailableNow) into the sink
    * `into` configures, inside [[stateScope]]. The checkpoint defaults to
    * a fresh scratch dir; the restart proofs pass the one they share
    * across lifecycles. foreachBatch sinks — unlike memory ones — support
    * RESTART from an existing checkpoint, which is what q56 exercises. */
  private def drain(
      s: SparkSession,
      df: DataFrame,
      ckpt: String = scratchDir("graft_ckpt"),
      parts: Int = StateParts)(
      into: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    stateScope(s, parts)(startDrain(df, ckpt)(into).awaitTermination())

  /** [[drain]] into a memory sink; returns the sink table. */
  private def runToMemory(
      s: SparkSession, df: DataFrame, parts: Int = StateParts): DataFrame = {
    val name = s"$SinkPrefix${sinkCounter.incrementAndGet()}"
    drain(s, df, parts = parts)(
      _.format("memory").queryName(name).outputMode("append"))
    s.table(name)
  }

  /** The pack's one reader: the kinesislike source over `log` from
    * `start`, parsed into typed event columns. `maxRecordsPerBatch` caps
    * per-shard sequence advance per microbatch; `faultRunId` keys an
    * error fixture's raise budget to one run. */
  private def replay(
      s: SparkSession,
      log: String,
      start: String = "trim_horizon",
      maxRecordsPerBatch: Option[Long] = None,
      faultRunId: Option[String] = None): DataFrame =
    parsed(s.readStream.format("kinesislike")
      .options(Map("path" -> log, "startingPosition" -> start) ++
        maxRecordsPerBatch.map("maxRecordsPerBatch" -> _.toString) ++
        faultRunId.map("faultRunId" -> _))
      .load())

  /** Parse the Kinesis-record envelope back into typed event columns. */
  private def parsed(stream: DataFrame): DataFrame =
    stream
      .select(from_json(col("data").cast("string"), eventSchema).as("e"))
      .select(col("e.*"))

  /** The pack's windowed rollup: per-(`w`, event_type) row count and 2-dp
    * value sum over `events` watermarked 1 hour behind `ts` — q28/q130's
    * hourly tumbling window, q56's across a restart, q37's sliding one. */
  private def windowAgg(events: DataFrame, w: Column): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(w, col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))

  /** [[windowAgg]]'s emitted windows as the batch oracle reads them: the
    * sentinel's never-closing window dropped, each window keyed by its
    * formatted start. */
  private def windowRows(emitted: DataFrame): DataFrame =
    emitted
      .filter(col("event_type") =!= "sentinel")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"),
        col("n"),
        col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** The hourly tumbling window drained from `log`: q28 and its
    * one-record-per-event twin q130. */
  private def hourlyWindow(s: SparkSession, log: String): DataFrame =
    windowRows(runToMemory(s, windowAgg(replay(s, log), window(col("ts"), "1 hour"))))

  /** Streaming tumbling-window aggregate: watermarked event-time window()
    * over the replayed log, in APPEND output mode — the scale-safe mode:
    * each window is emitted exactly once when the watermark passes its
    * close and its state is then evicted (complete mode re-emits every
    * window each batch and never evicts — unbounded state on an unbounded
    * stream). The log carries the q30 sentinel record (user -1, 30 days
    * past the last real event) so the final watermark closes every real
    * window; the sentinel's own window never closes, so append never
    * emits it — the filter on the sink is defensive. The result is then
    * identical to the q23 batch formulation, whose oracle doubles as this
    * query's check.
    *
    * Like the whole streaming pack, this replays the event-stream log
    * (AWS-event-stream messages with the header vocabulary and CRCs,
    * reassembled from 16 KB chunks — the S9 byte tier,
    * [[graft.sources.kinesislike.EventStreamFraming]]) at three records
    * per event; its twin q130 runs the same plan over the same records
    * at one record per event. */
  private val q28 = Q(
    "q28_stream_window",
    (s, d) => hourlyWindow(s, ensureLog(s, d, copies = 1, sentinel = true)),
    // q23's oracle: streaming window() ≡ date_trunc group-by.
    Relational.HourlyWindowOracle,
  )

  /** Streaming dedup: the log is written with every record duplicated
    * (at-least-once redelivery, exactly what a Kinesis resubscribe can
    * produce — subscribe_to_shard.ex:205-220), and dropDuplicates on the
    * event id collapses them within the watermark. Duplicates share a
    * sequence number, so they can never straddle a microbatch boundary —
    * the dedup state always sees both copies before eviction. The oracle
    * aggregates the ORIGINAL events table: a correct dedup makes the
    * doubled log indistinguishable from it. */
  private val q29 = Q(
    "q29_stream_dedup",
    (s, d) => {
      val log = ensureLog(s, d, copies = 2)
      val deduped = replay(s, log)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id")
      runToMemory(s, deduped)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Streaming sessionization: real session_window() with a watermark, in
    * append mode. The gap is 1 800 000 001 µs so "same session iff
    * inter-event gap ≤ 30 min" matches q24's inclusive boundary exactly
    * (session_window merges on strictly-less-than-gap). Append mode only
    * emits a session once the watermark passes its close, so the log
    * carries a sentinel record 30 days past the last real event (user -1)
    * — every real session closes.
    *
    * The sentinel must NOT be filtered before the aggregation: Catalyst
    * pushes a deterministic non-event-time filter below the
    * EventTimeWatermark node, and a pre-filtered sentinel never reaches
    * the watermark collector (observed: the final watermark stalled 1 s
    * behind the last real event and withheld its session). Instead the
    * sentinel flows into the aggregation, forms its own never-closing
    * session that append mode never emits, and is defensively filtered
    * from the sink. The per-user rollup then equals the q24 batch
    * sessionization, whose oracle doubles as the check. */
  private val q30 = Q(
    "q30_stream_session",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val sessions = replay(s, log)
        .withWatermark("ts", "1 second")
        .groupBy(
          session_window(col("ts"), "1800000001 microseconds"),
          col("user_id"))
        .agg(count(lit(1)).as("sess_len"))
      sessionRollup(runToMemory(s, sessions))
    },
    Relational.SessionOracle,
  )

  /** Per-user rollup of drained sessions, the sentinel user dropped:
    * session count, longest session and event total (q24's columns),
    * then any `extra` aggregates — q30's, and q92's with the dynamic
    * gap's session durations. */
  private def sessionRollup(sessions: DataFrame, extra: Column*): DataFrame =
    sessions
      .filter(col("user_id") =!= SentinelUserId)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        Seq(
          max(col("sess_len")).as("max_sess_len"),
          sum(col("sess_len")).as("n_events")) ++ extra: _*)
      .orderBy(col("user_id"))

  /** (row count, max event_id) of the events table per sf dir, computed
    * once in one job and cached: the sizing inputs of the streaming pack
    * (join-family slabs, restart seqSteps) and the seam cut of the
    * position and error-retry proofs repeat the same scalars per query
    * otherwise — a Spark job at query-BUILD time apiece. Keyed like a
    * store fixture (dir and [[Fixtures.fingerprint]]), so an sf dir
    * regenerated in place is measured again. */
  private val eventStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def eventStats(s: SparkSession, d: String): (Long, Long) =
    eventStatsCache.computeIfAbsent(
      new java.io.File(d).getAbsolutePath + ":" + Fixtures.fingerprint(d),
      _ => {
        val r = T.events(s, d).agg(count(lit(1)), max(col("event_id"))).head()
        (r.getLong(0), r.getLong(1))
      })
  private def eventCount(s: SparkSession, d: String): Long = eventStats(s, d)._1
  private def maxEventId(s: SparkSession, d: String): Long = eventStats(s, d)._2

  /** Admission step of the stream-join family's reader (q36/q61/q82/q84).
    * Without admission control, Trigger.AvailableNow drains the whole
    * log in ONE microbatch, so the join holds BOTH ENTIRE SIDES in the
    * state store before the first watermark advance — state grows with
    * the CORPUS, the exact cliff the watermark exists to prevent
    * (measured at the sf10 centade: q82 ran 15.9× for 10× data with
    * corpus-sized state and 1.8× run-to-run GC variance). Capping
    * per-shard sequence advance slices the drain into ~6 batches;
    * per-shard arrival is monotone, so each batch is a contiguous
    * event-time slab and the watermark evicts earlier slabs' join state
    * while later slabs are still unread — peak state becomes
    * corpus/batches + the watermark window, the live-stream shape.
    * Results are slicing-invariant (the microbatch-invariance family;
    * the oracle gate re-proves it per query).
    *
    * The step: ~6 contiguous event-time slabs (the q66 sizing
    * convention), floored at 50 k records so SMALL
    * corpora don't pay per-batch state-store commits for slabs the
    * state never needed slicing into (measured at sf0.1: ÷6 with no
    * floor ran 7 batches and tripled the family's basis lines; the
    * floor keeps sf0.001/0.01 single-batch, sf0.1 at 2 batches — the
    * multi-batch join path stays under the oracle gate — and the
    * decade+ trees at ~6). On a LIVE stream, microbatches are
    * arrival-sliced and join state is rate×watermark-bounded with no
    * help; it is the AvailableNow BACKFILL replay that degenerates to
    * corpus-sized state without admission control. A production
    * historical backfill sizes this option to its per-slab state
    * budget directly. (The count is the full events-table cardinality;
    * on sentinel logs the drain carries one extra record — the slab
    * sizing is a ~6-way split either way.)
    *
    * Slab-count sizing rule (measured, BASELINE r19 slab-curve table —
    * q82 full-outer at sf10, 10⁷ events): the curve is U-shaped.
    * Uncapped (1 slab) is the corpus-sized-state cliff (96.5 s with a
    * 1.8× GC band, the r18 finding); 2→60.7 s, 3→51.3 s, 6→61.8 s,
    * 12→69.5 s, 24→108.0 s — per-batch state-store commit overhead
    * grows roughly linearly in slab count once per-slab state fits
    * memory, and state pressure only wins below ~3 slabs at this
    * volume. Rule: size a production backfill at
    * slabs = corpus-state / per-executor-state-budget — the SMALLEST
    * count whose per-slab state fits the budget, and no finer. The
    * 6 here sits within 20% of this box's minimum while carrying 2×
    * the state headroom of the optimum — the safety margin is worth
    * more than the seconds. */
  private def joinStep(s: SparkSession, d: String): Long =
    math.max(50000L, eventCount(s, d) / 6L)

  /** One side of the stream-join family: `log` replayed under
    * [[joinStep]]'s admission, the rows `keep` admits, user and time
    * renamed with the side's `prefix` (`p` purchases, `c` clicks), the
    * event id as `id`, then the side's `extra` columns, watermarked
    * 1 hour behind its time. */
  private def joinSide(s: SparkSession, d: String, log: String, keep: Column,
      prefix: String, id: String, extra: Column*): DataFrame =
    replay(s, log, maxRecordsPerBatch = Some(joinStep(s, d)))
      .filter(keep)
      .select(Seq(
        col("user_id").as(s"${prefix}_user"),
        col("event_id").as(id),
        col("ts").as(s"${prefix}_ts")) ++ extra: _*)
      .withWatermark(s"${prefix}_ts", "1 hour")

  /** The family's interval condition: the same user's click at most one
    * hour before the purchase. */
  private def clickWithinHour: Column =
    col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("c_ts") <= col("p_ts")

  /** Stream-stream interval join: purchases ⋈ clicks per user, the click
    * at most one hour before the purchase — both sides watermarked, equi
    * key (user_id) + event-time range constraint, the canonical
    * state-bounded streaming join. Inner joins emit matches as both sides
    * arrive, so the drained result equals the batch interval join, whose
    * SQL is the oracle. */
  private val q36 = Q(
    "q36_stream_join",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1)
      val purchases = joinSide(s, d, log,
        col("event_type") === "purchase", "p", "purchase_id")
      val clicks = joinSide(s, d, log,
        col("event_type") === "click", "c", "click_id")
      val joined = purchases.join(clicks, clickWithinHour)
      runToMemory(s, joined, parts = joinStateParts(s, d))
        .select(col("purchase_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    },
    Some("""
      SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      ORDER BY purchase_id, click_id"""),
  )

  /** STREAMING left-OUTER interval join — q36's sibling with the
    * semantics only a watermark can provide: a purchase with no click in
    * its trailing 1-hour window emits a null-padded row, but ONLY once
    * the right-side watermark has passed the end of its match window
    * (watermark > p_ts ⇒ no future click can land in [p_ts − 1h, p_ts]),
    * which is exactly when "no match" becomes a fact rather than a race.
    * Both sides keep the sentinel THROUGH the watermark (the q28 rule:
    * a pre-filtered sentinel never reaches the EventTimeWatermark node),
    * so the final watermark clears every real purchase's window and all
    * unmatched rows flush; the sentinel's own join row is dropped after
    * the join by its type tag. Nulls are coalesced to −1 on both sides
    * so the driver comparator never meets engine-specific NULL ordering.
    * State stays bounded by the same two watermarks as q36. */
  private val q61 = Q(
    "q61_stream_outer_join",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val purchases = joinSide(s, d, log,
        col("event_type").isin("purchase", "sentinel"), "p", "purchase_id",
        col("event_type").as("p_type"))
      val clicks = joinSide(s, d, log,
        col("event_type").isin("click", "sentinel"), "c", "click_id")
      val joined = purchases.join(clicks, clickWithinHour, "leftOuter")
      runToMemory(s, joined, parts = joinStateParts(s, d))
        .filter(col("p_type") === "purchase")
        .select(
          col("purchase_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    },
    Some("""
      SELECT p.event_id AS purchase_id,
             coalesce(c.event_id, -1) AS click_id
      FROM events p LEFT JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
       AND c.event_type = 'click'
      WHERE p.event_type = 'purchase'
      ORDER BY purchase_id, click_id"""),
  )

  /** Streaming SLIDING window (2 h length, 1 h slide): every event lands
    * in exactly two windows. APPEND mode with the q30 sentinel (see q28
    * for why complete mode is the unbounded-state anti-pattern): the
    * sentinel pushes the watermark past every real window's close, so all
    * of them emit exactly once and evict; the sentinel's own two windows
    * never close and are defensively filtered from the sink. The oracle
    * materializes the same window assignment by unioning the two shifted
    * window starts per event. */
  private val q37 = Q(
    "q37_stream_sliding",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      windowRows(runToMemory(s,
        windowAgg(replay(s, log), window(col("ts"), "2 hours", "1 hour"))))
    },
    Some("""
      WITH w AS (
        SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
        FROM events)
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM w
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""),
  )

  /** Stream-static broadcast join: the streaming event log enriched
    * against the static customer dimension (user_id = c_custkey), the
    * canonical "enrich a stream with a dim table" pattern. The static
    * side is broadcast — stream-static joins keep NO join state (the
    * static side is re-resolvable every microbatch), so this is
    * stateless append-mode row flow; the rollup over the sink is batch.
    * At 100 TB of stream the dim broadcast is still the right plan —
    * customer metadata is orders of magnitude smaller than the fact
    * stream. */
  private val q38 = Q(
    "q38_stream_static_join",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1)
      val cust = T.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = replay(s, log)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("value"), col("c_mktsegment"))
      runToMemory(s, enriched)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""),
  )

  /** Custom per-key state machine via flatMapGroupsWithState — the
    * arbitrary-stateful-processing tier below the built-in windows
    * (window/session_window cover q28/q30; this is for state no built-in
    * expresses). Per user it keeps (event count, max value, last event
    * time) and emits ONCE, when the event-time timeout fires 1 h after
    * the user's last event — i.e. the state machine decides its own
    * emission, not a window boundary. The q30 sentinel advances the
    * watermark 30 days past the last real event, so every real user's
    * timeout fires during the run (AvailableNow's no-data flush batch);
    * the sentinel user's own state never times out and is defensively
    * filtered. Count and max are batch-slicing-invariant, so the drained
    * result equals the batch per-user aggregate, which is the oracle.
    *
    * Scale posture: state is 3 numbers per active user, keyed-shuffled
    * once, evicted at timeout — bounded by active users, not stream
    * length. */
  private val q39 = Q(
    "q39_stream_custom_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val ev = replay(s, log)
        .withWatermark("ts", "1 second")
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)]
      val out = ev
        .groupByKey(_._1)
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
                n += 1
                if (v > mx) mx = v
                val ms = ts.getTime
                if (ms > lastMs) lastMs = ms
              }
              state.update((n, mx, lastMs))
              // Close 1 h after the user's last event; never at-or-behind
              // the current watermark (Spark rejects a stale timeout).
              state.setTimeoutTimestamp(
                math.max(lastMs + 3600L * 1000L, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            }
        }
        .toDF("user_id", "n_events", "max_value")
      runToMemory(s, out)
        .filter(col("user_id") =!= SentinelUserId)
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, count(*) AS n_events, max(value) AS max_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),
  )

  /** Bounded-state streaming dedup: dropDuplicatesWithinWatermark on the
    * doubled (at-least-once) log. q29's plain dropDuplicates keeps every
    * event_id seen FOREVER when the event-time column is not part of the
    * key — unbounded state on an unbounded stream. This variant is the
    * scale-safe contract: dedup on event_id alone while the watermark
    * evicts any key once it falls behind `ts` by more than the delay, so
    * state is bounded by (arrival rate × delay). Correct here because the
    * at-least-once duplicates in the log are seq-adjacent copies of the
    * same record — redelivery happens within the horizon, which is
    * exactly the real-world guarantee this operator encodes. The drained
    * result equals a batch DISTINCT, so the oracle aggregates the clean
    * events table. */
  private val q45 = Q(
    "q45_stream_dedup_bounded",
    (s, d) => {
      val log = ensureLog(s, d, copies = 2)
      val deduped = replay(s, log)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      runToMemory(s, deduped)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             count(DISTINCT user_id) AS users,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Per-type row count, event-id range and 2-dp value sum of the rows a
    * sink store holds: q46's and q66's delivered-data rollup. */
  private def storeRollup(rows: DataFrame): DataFrame =
    rows
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))

  /** [[storeRollup]] over the clean events table: a store that lost,
    * duplicated or partially committed a batch differs from it. */
  private val StoreRollupOracle = Some("""
      SELECT event_type, count(*) AS n,
             min(event_id) AS min_event, max(event_id) AS max_event,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type""")

  /** Exactly-once delivery to an EXTERNAL store through `foreachBatch` +
    * [[graft.streaming.IdempotentSink]] — the sink tier of the surface
    * (Spark's own sinks keep internal commit logs; an external table or
    * object store does not, so delivery must be made idempotent by the
    * batchId ledger the sink maintains). The query streams the log into
    * the store (one committed `batch=<id>` parquet dir per microbatch,
    * write-then-atomic-rename), then aggregates what the STORE holds —
    * so the oracle checks end-to-end delivery, not just the stream: any
    * lost, duplicated, or partially-committed batch changes the counts.
    * IdempotentSinkSpec separately proves replayed batchIds are skipped;
    * here the drained store must equal the clean events table exactly. */
  private val q46 = Q(
    "q46_stream_sink_exactly_once",
    (s, d) => {
      val log   = ensureLog(s, d, copies = 1)
      val store = scratchDir("graft_store")
      val sink  = new graft.streaming.IdempotentSink(store)
      val rows = replay(s, log)
        .select(col("event_id"), col("event_type"), col("value"))
      drain(s, rows)(_.foreachBatch(sink(_, _)))
      // `batch=<id>` reads back as a partition column; drop it — the
      // store's content, not its batch layout, is the delivered data.
      storeRollup(s.read.parquet(store))
    },
    StoreRollupOracle,
  )

  /** The store-maintenance tier on top of q46: stream the log into the
    * [[graft.streaming.IdempotentSink]] in ~6 rate-limited microbatches,
    * COMPACT the store (all but the newest 2 batch dirs fold into one
    * ledgered `compacted=` segment), then aggregate what
    * [[graft.streaming.IdempotentSink.readAll]] returns — so the oracle
    * gates that consolidation neither lost, duplicated, nor reordered a
    * single delivered row, while the in-query requires pin that
    * compaction actually engaged (>2 microbatches ran; exactly one
    * compacted segment exists; the batchId ledger still carries the full
    * commit record). IdempotentSinkCompactionSpec separately proves
    * replayed batchIds stay skipped after their dirs are absorbed; here
    * the compacted store must equal the clean events table exactly. At
    * 100 TB this is the nightly table-maintenance job every streaming
    * lake runs — the query proves it is safe to run while the ledger
    * keeps exactly-once. */
  private val q66 = Q(
    "q66_stream_store_compaction",
    (s, d) => {
      val log   = ensureLog(s, d, copies = 1)
      val store = scratchDir("graft_store_compact")
      val sink  = new graft.streaming.IdempotentSink(store)
      val limit = math.max(1L, eventCount(s, d) / 6L)
      val rows = replay(s, log, maxRecordsPerBatch = Some(limit))
        .select(col("event_id"), col("event_type"), col("value"))
      drain(s, rows)(_.foreachBatch(sink(_, _)))
      val before = sink.committedBatchIds
      require(before.size > 2, s"need >2 microbatches to compact: $before")
      sink.compact(s, keepLast = 2)
      val segments = Option(new java.io.File(store).listFiles())
        .getOrElse(Array.empty)
        .count(_.getName.startsWith("compacted="))
      require(segments == 1, s"compaction did not engage: $segments segments")
      require(sink.committedBatchIds == before,
        "compaction lost part of the batchId commit record")
      storeRollup(sink.readAll(s))
    },
    // Same contract as q46: the (now compacted) store must hold exactly
    // the clean events table.
    StoreRollupOracle,
  )

  /** Live incremental rollup maintenance — q95's algebraic base⊕delta
    * contract run as a STREAMING materialized view: each microbatch
    * reduces to per-group PARTIAL aggregation states (n, Σcents,
    * min/max event id — k rows, not raw events) which land in the
    * [[graft.streaming.IdempotentSink]] under its exactly-once batchId
    * ledger; the served view is the merge of the stored states
    * (counts/sums add, min/min max/max, avg DERIVED from merged states
    * — never averaged averages). q46 delivers raw rows and aggregates
    * at read; this maintains the aggregate itself, the 100 TB posture
    * for a dashboard-grade view over an unbounded stream: the store
    * grows by k rows per batch instead of the batch's row count, a
    * refresh never rescans the log, and a periodic q66-style compaction
    * folds old state rows into one — merging states is associative, so
    * consolidation is the SAME operation as serving. The oracle is the
    * full recompute over the clean events table: a dropped batch, a
    * double-merged replay, or an avg taken over per-batch avgs each
    * break the hash. */
  private val q119 = Q(
    "q119_stream_live_rollup",
    (s, d) => {
      val log   = ensureLog(s, d, copies = 1)
      val store = scratchDir("graft_store_liverollup")
      val sink  = new graft.streaming.IdempotentSink(store)
      val limit = math.max(1L, eventCount(s, d) / 4L)
      val rows = replay(s, log, maxRecordsPerBatch = Some(limit))
        .select(col("event_id"), col("event_type"), col("value"))
      drain(s, rows)(_.foreachBatch((b: DataFrame, id: Long) =>
        sink(
          b.groupBy(col("event_type"))
            .agg(
              count(lit(1)).as("n"),
              sum(expr("CAST(round(value * 100) AS BIGINT)"))
                .as("sum_cents"),
              min(col("event_id")).as("min_event"),
              max(col("event_id")).as("max_event")),
          id)))
      require(sink.committedBatchIds.size > 2,
        s"need >2 microbatches so state MERGING is exercised: " +
          s"${sink.committedBatchIds}")
      sink.readAll(s)
        .groupBy(col("event_type"))
        .agg(
          sum(col("n")).as("n"),
          sum(col("sum_cents")).as("sum_cents"),
          min(col("min_event")).as("min_event"),
          max(col("max_event")).as("max_event"))
        .select(
          col("event_type"), col("n"), col("sum_cents"),
          col("min_event"), col("max_event"),
          expr("sum_cents div n").as("avg_cents"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             min(event_id) AS min_event,
             max(event_id) AS max_event,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) // count(*)
                  AS BIGINT) AS avg_cents
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Checkpoint resume under the oracle gate: the q28 windowed aggregate
    * executed across TWO query starts sharing ONE checkpoint and ONE
    * external store — the end-to-end proof of S7/P4 (transparent
    * resubscribe from the resume cursor / external-checkpoint restart;
    * KinesisLikeSourceSpec proves the same contract at the unit tier).
    * Run 1 drains the sentinel-free log under an admission limit sized
    * to take ~2 microbatches (P6's rate control on the real read path —
    * the limit bounds per-shard SEQUENCE advance, and sequence numbers
    * are global event ids, so a whole-log seq range split by 2 gives ~2
    * batches — the FEWEST that still prove MULTI-batch cursor commits;
    * every batch beyond the second is bench cost, not extra proof: both
    * lifecycles run Trigger.AvailableNow, so the line's billed time is
    * per-batch and per-start fixed work, which driver load amplifies),
    * each batch committing per-shard cursors + the running watermark to
    * the checkpoint and its closed windows to the
    * [[graft.streaming.IdempotentSink]] store. Run 2 then starts FRESH
    * from that checkpoint against the sentinel-extended log — the same
    * shard files with one record appended past every committed cursor,
    * i.e. "the stream kept producing while the consumer was down" — and
    * reads ONLY the sentinel, whose watermark push closes every
    * remaining window into the same store.
    *
    * The result is what the store holds after both lifetimes: append
    * mode emits each window exactly once ACROSS the restart, so a
    * resume that lost aggregation state would drop windows, one that
    * replayed delivered offsets would double-count rows into re-emitted
    * windows, and a sink replay would duplicate batch dirs — every one
    * of those breaks the hash against q28's oracle. The final window
    * can only close in run 2 (nothing after it in run 1 can advance the
    * watermark), so the green row provably spans both query starts. */
  private val q56 = Q(
    "q56_stream_restart",
    (s, d) => {
      val base  = ensureLog(s, d, copies = 1)
      val full  = ensureLog(s, d, copies = 1, sentinel = true)
      val ckpt  = scratchDir("graft_ckpt_restart")
      val store = scratchDir("graft_store_restart")
      val sink  = new graft.streaming.IdempotentSink(store)
      val nEvents = eventCount(s, d)
      val seqStep = math.max(1L, nEvents / 2L)
      def agg(log: String, limit: Option[Long]): DataFrame =
        windowAgg(replay(s, log, maxRecordsPerBatch = limit),
          window(col("ts"), "1 hour"))
      drain(s, agg(base, Some(seqStep)), ckpt)(_.foreachBatch(sink(_, _)))
      drain(s, agg(full, None), ckpt)(_.foreachBatch(sink(_, _)))
      // The proof's shape, enforced IN the gated query: run 1's cursor
      // committed across ≥2 microbatches and run 2 added its own — a
      // single-batch drain would not prove multi-batch resume. The
      // expectation derives from the fixture: with < 4 events the
      // admission limit cannot guarantee 2 run-1 batches (records may
      // co-habit shards), so a degenerate corpus relaxes to "one batch
      // per lifecycle" instead of failing an otherwise-correct resume.
      val wantBatches = if (nEvents >= 4) 3 else 2
      require(sink.committedBatchIds.size >= wantBatches,
        s"restart proof must span multiple microbatches across two " +
          s"lifecycles ($nEvents events => expected >= $wantBatches), " +
          s"got batches ${sink.committedBatchIds}")
      windowRows(s.read.parquet(store))
    },
    // q28's oracle: a lossless resume makes the two-lifetime run
    // indistinguishable from the single-start stream.
    Relational.HourlyWindowOracle,
  )

  /** The RocksDB state store — the only provider that serves
    * transformWithState (q73, q80). */
  private val RocksDbState = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Replace a processor's one live flush timer with one 1 h of event
    * time past `last` (ms), never at or behind the current watermark —
    * Spark accepts only future expirations. */
  private def rearm(
      handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      timerMs: org.apache.spark.sql.streaming.ValueState[Long],
      last: Long,
      timers: org.apache.spark.sql.streaming.TimerValues): Unit = {
    val next = math.max(last + 3600L * 1000L, timers.getCurrentWatermarkInMs() + 1)
    if (timerMs.exists()) handle.deleteTimer(timerMs.get())
    handle.registerTimer(next)
    timerMs.update(next)
  }

  /** Per-user per-type stats processor for q73 — the Spark 4
    * transformWithState API (the arbitrary-state tier ABOVE q39's
    * flatMapGroupsWithState): multiple named typed state variables per
    * key (a MapState for the per-type rollup, ValueStates for the
    * last-event clock and the registered timer) and EXPLICIT event-time
    * timers instead of fMGWS's single implicit timeout. Flush fires 1 h
    * of event time after the user's last event; the registered timer is
    * replaced (deleteTimer + registerTimer) whenever new data arrives, so
    * exactly one flush emits per user, carrying every map entry. */
  private final class UserTypeStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, java.sql.Timestamp, Double), (Long, String, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig}
    import org.apache.spark.sql.{Encoder, Encoders}

    @transient private var byType: org.apache.spark.sql.streaming.MapState[String, (Long, Double)] = _
    @transient private var timerMs: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var lastMs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val tup: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
      byType = getHandle.getMapState("byType", Encoders.STRING, tup, TTLConfig.NONE)
      timerMs = getHandle.getValueState("timerMs", Encoders.scalaLong, TTLConfig.NONE)
      lastMs = getHandle.getValueState("lastMs", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String, java.sql.Timestamp, Double)],
        timers: TimerValues): Iterator[(Long, String, Long, Double)] = {
      var last = if (lastMs.exists()) lastMs.get() else 0L
      rows.foreach { case (_, tpe, ts, v) =>
        val (n, sum) =
          if (byType.containsKey(tpe)) byType.getValue(tpe) else (0L, 0.0)
        byType.updateValue(tpe, (n + 1, sum + v))
        if (ts.getTime > last) last = ts.getTime
      }
      lastMs.update(last)
      // One live timer per key: replace, never accumulate (a stale timer
      // would flush mid-stream). Never at-or-behind the current
      // watermark — Spark accepts only future expirations.
      //
      // Lateness bound: a key whose events straddle a >1 h event-time gap
      // (or arrive >1 h late relative to the watermark) can flush MORE
      // than once — the timer fires and clears state while later rows are
      // still in flight, reopening it. The sink therefore sum-merges on
      // (user, type) (see q73's post-sink rollup), so multi-flush keys
      // still reconcile exactly; "one flush per key" is the common case,
      // not a correctness precondition.
      rearm(getHandle, timerMs, last, timers)
      Iterator.empty
    }

    override def handleExpiredTimer(
        user: Long,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(Long, String, Long, Double)] = {
      val out = byType.iterator().map { case (tpe, (n, sum)) =>
        (user, tpe, n, sum)
      }.toVector
      byType.clear(); timerMs.clear(); lastMs.clear()
      out.iterator
    }
  }

  /** Streaming per-user/per-type rollup on transformWithState — the
    * Spark 4 arbitrary-state API exercised end-to-end under the oracle
    * gate: RocksDB state store (the only provider that serves TWS),
    * MapState + two ValueStates per key, and explicit event-time timers
    * whose expiry emits the rollup once all of a user's data is behind
    * the watermark. The q30 sentinel record drives the final watermark
    * 30 days past the last real event so every timer fires inside the
    * AvailableNow run; the sentinel user itself is dropped at the sink.
    *
    * Scale posture: state is per-(user, seen-types) — bounded by the
    * live-key working set, evicted at flush; RocksDB keeps it off-heap,
    * which is exactly the 100 TB posture (state >> executor heap). */
  private val q73 = Q(
    "q73_stream_transform_with_state",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val out = GraftSession.withConf(s, RocksDbState) {
        val ev = replay(s, log)
          .withWatermark("ts", "1 second")
          .select(col("user_id"), col("event_type"), col("ts"), col("value"))
          .as[(Long, String, java.sql.Timestamp, Double)]
        val flushed = ev
          .groupByKey(_._1)
          .transformWithState(
            new UserTypeStatsProcessor, TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "event_type", "n", "sum_value")
        runToMemory(s, flushed)
      }
      // Sum-merge on key: a >1h event-time gap (or >1h-late arrival) can
      // legitimately flush a key twice (state cleared then reopened); the
      // rollup folds any such split back together, so the append output
      // reconciles under ANY microbatch slicing or lateness profile.
      out
        .filter(col("user_id") =!= SentinelUserId)
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          sum(col("n")).as("n"),
          round(sum(col("sum_value")), 2).as("total_value"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      SELECT user_id, event_type, count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type"""),
  )

  /** q80's processor: transformWithState WITH INITIAL STATE — the state
    * bootstrap lifecycle (warm-starting a streaming job from a batch
    * backfill) that q73's cold-start processor doesn't exercise.
    * handleInitialState seeds a per-key ValueState from the batch
    * relation before any stream row arrives; the stream then counts
    * events on top and flushes bootstrap + stream totals on timer
    * expiry. */
  private final class BootstrappedCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, java.sql.Timestamp), (Long, Long, Long), Long] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var boot: org.apache.spark.sql.streaming.ValueState[Long]    = _
    @transient private var nEvents: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var timerMs: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var lastMs: org.apache.spark.sql.streaming.ValueState[Long]  = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      boot = getHandle.getValueState("boot", Encoders.scalaLong, TTLConfig.NONE)
      nEvents = getHandle.getValueState("nEvents", Encoders.scalaLong, TTLConfig.NONE)
      timerMs = getHandle.getValueState("timerMs", Encoders.scalaLong, TTLConfig.NONE)
      lastMs = getHandle.getValueState("lastMs", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInitialState(
        user: Long, nOrders: Long, timers: TimerValues): Unit =
      boot.update(nOrders)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var n    = if (nEvents.exists()) nEvents.get() else 0L
      var last = if (lastMs.exists()) lastMs.get() else 0L
      rows.foreach { case (_, ts) =>
        n += 1
        if (ts.getTime > last) last = ts.getTime
      }
      nEvents.update(n)
      lastMs.update(last)
      // Same lateness bound as UserTypeStatsProcessor: >1h gaps can
      // multi-flush a key; q80's sink sum-merges so that stays exact.
      rearm(getHandle, timerMs, last, timers)
      Iterator.empty
    }

    override def handleExpiredTimer(
        user: Long,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      val b = if (boot.exists()) boot.get() else 0L
      val n = if (nEvents.exists()) nEvents.get() else 0L
      boot.clear(); nEvents.clear(); timerMs.clear(); lastMs.clear()
      Iterator.single((user, b, n))
    }
  }

  /** Streaming job warm-started from a batch backfill —
    * transformWithState's initial-state variant under the oracle gate:
    * per-customer order counts seed the per-key state
    * (handleInitialState), the event stream counts on top, and the flush
    * emits bootstrap + stream totals together, proving the seed survived
    * into the streaming lifecycle. The initial-state relation is
    * SEMI-JOINED to the keys expected live (distinct stream users from
    * batch storage) before it reaches handleInitialState — seeding every
    * historical key would park dormant state in RocksDB with no timer to
    * ever evict it. Keys with history but no live traffic are never
    * seeded, never see a stream row or a timer, and the batch side
    * appends them after the run (an anti-join on the emitted keys) — the
    * honest at-scale split: the state store holds only LIVE keys, the
    * dormant tail stays in batch storage. Oracle: FULL OUTER of the two
    * aggregates, all-integer.
    *
    * Scale posture: the backfill arrives pre-aggregated (one row per
    * key), RocksDB holds live keys only, eviction on flush — the
    * bootstrap pattern every lambda-architecture migration needs. */
  private val q80 = Q(
    "q80_stream_tws_bootstrap",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val ordersAgg = T.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n_orders"))
      // Seed ONLY keys expected on the stream: a key seeded but never
      // visited gets no timer, so its boot state would sit in RocksDB for
      // the life of the query. The expected-live set comes from batch
      // storage (the event lake's distinct users) — at scale, "users
      // active in the recent period".
      val expectedLive = T.events(s, d).select(col("user_id")).distinct()
      val initKV = ordersAgg
        .join(expectedLive, Seq("user_id"), "left_semi")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
      val streamed = GraftSession.withConf(s, RocksDbState) {
        val ev = replay(s, log)
          .withWatermark("ts", "1 second")
          .select(col("user_id"), col("ts"))
          .as[(Long, java.sql.Timestamp)]
        val flushed = ev
          .groupByKey(_._1)
          .transformWithState(
            new BootstrappedCountProcessor,
            TimeMode.EventTime(), OutputMode.Append(), initKV)
          .toDF("user_id", "n_orders", "n_events")
        runToMemory(s, flushed)
      }
      // Sum-merge on key (the q73 convention): a multi-flush key emits
      // (boot, n1) then (0, n2) — boot clears on first flush — so the
      // rollup reconstructs (boot, n1+n2) exactly.
      val live = streamed
        .filter(col("user_id") =!= SentinelUserId)
        .groupBy(col("user_id"))
        .agg(
          sum(col("n_orders")).as("n_orders"),
          sum(col("n_events")).as("n_events"))
      val dormant = ordersAgg
        .join(live.select(col("user_id")), Seq("user_id"), "left_anti")
        .select(col("user_id"), col("n_orders"), lit(0L).as("n_events"))
      live
        .unionByName(dormant)
        .select(
          col("user_id"), col("n_orders"), col("n_events"),
          (col("n_orders") + col("n_events")).as("total"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey AS user_id, count(*) AS n_orders
        FROM orders GROUP BY 1),
      e AS (
        SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
      SELECT coalesce(o.user_id, e.user_id) AS user_id,
             coalesce(o.n_orders, 0) AS n_orders,
             coalesce(e.n_events, 0) AS n_events,
             coalesce(o.n_orders, 0) + coalesce(e.n_events, 0) AS total
      FROM o FULL OUTER JOIN e ON o.user_id = e.user_id
      ORDER BY user_id"""),
  )

  /** Streaming FULL OUTER interval join — the last member of the
    * stream-join family (q36 inner, q61 left-outer): attribution that
    * must also surface the orphaned clicks, not just the
    * click-less purchases. Both watermarked sides hold bounded state;
    * matches emit when found, and each side's unmatched rows null-pad
    * and emit when ITS watermark passes the interval bound — q61's
    * expiry semantics, applied symmetrically. The sentinel rides both
    * side filters so the final watermark flushes both stores; sentinel
    * rows pair with each other (equal user and timestamp) and are
    * dropped by the purchase/click type filter at the sink.
    *
    * Scale posture: state per side is bounded by watermark × interval,
    * keys shuffle once onto the join partitioning — the same plan the
    * inner join runs, plus the two expiry emission paths. */
  private val q82 = Q(
    "q82_stream_full_outer_join",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val purchases = joinSide(s, d, log,
        col("event_type").isin("purchase", "sentinel"), "p", "purchase_id",
        col("event_type").as("p_type"))
      val clicks = joinSide(s, d, log,
        col("event_type").isin("click", "sentinel"), "c", "click_id",
        col("event_type").as("c_type"))
      val joined = purchases.join(clicks, clickWithinHour, "fullOuter")
      runToMemory(s, joined, parts = joinStateParts(s, d))
        .filter(
          col("p_type") === "purchase" ||
            (col("p_type").isNull && col("c_type") === "click"))
        .select(
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase'),
      c AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'click')
      SELECT coalesce(p.event_id, -1) AS purchase_id,
             coalesce(c.event_id, -1) AS click_id
      FROM p FULL JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      ORDER BY purchase_id, click_id"""),
  )

  /** Streaming LEFT SEMI interval join — the last semantically distinct
    * member of the stream-join family (q36 inner, q61 left-outer, q82
    * full-outer; right-outer is q61 with the sides swapped):
    * "which purchases had ANY click in the trailing hour",
    * emitting each qualifying purchase exactly once, never the click
    * payload. Semi is the cheapest member of the family at scale: the
    * left row emits on its FIRST match (or immediately on arrival if a
    * match is already in the right store) and is marked done, so no
    * match multiplicity ever amplifies the output, and unmatched rows
    * simply age out of the state store at watermark with no emission
    * path at all. That last property is why — unlike its outer siblings
    * q61/q82, whose null-padded rows emit only when the watermark
    * passes the match window — q84 runs WITHOUT the sentinel: semi has
    * no watermark-triggered emission path, so every output row leaves
    * during a data batch and a final store flush proves nothing. (The
    * r19 sentinel variant of this query paid one extra no-data
    * microbatch for that flush — two more state-store commit stages per
    * lifecycle, profiled at ~0.6 s wall at sf0.1 — for identical
    * results; the oracle gate re-proved identity when it was dropped.)
    *
    * Scale posture: state per side bounded by watermark × interval, one
    * shuffle onto the join keys — q36's plan minus the output fan-out. */
  private val q84 = Q(
    "q84_stream_semi_join",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1)
      val purchases = joinSide(s, d, log,
        col("event_type") === "purchase", "p", "purchase_id")
      val clicks = joinSide(s, d, log,
        col("event_type") === "click", "c", "click_id")
      val joined = purchases.join(clicks, clickWithinHour, "leftSemi")
      runToMemory(s, joined, parts = joinStateParts(s, d))
        .select(col("purchase_id"), col("p_user").as("user_id"))
        .orderBy(col("purchase_id"))
    },
    Some("""
      SELECT p.event_id AS purchase_id, p.user_id
      FROM events p
      WHERE p.event_type = 'purchase'
        AND EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = p.user_id
            AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)
      ORDER BY purchase_id"""),
  )

  /** Streaming sessionization with a DYNAMIC gap — q30's operator where
    * the inactivity timeout depends on the EVENT (views cool off in
    * 30 min, everything else holds the session for an hour), the shape
    * real engagement analytics needs (mobile taps vs long-form playback
    * don't share a timeout). Spark merges the per-event intervals
    * [ts, ts+gap) transitively inside each key; the oracle reproduces
    * exactly that union-of-intervals sweep with a running max of
    * interval ends (a lag-based gap check would MISS sessions bridged by
    * a long-gap event spanning a short-gap one). Both sides are
    * end-exclusive, so an event landing exactly on a session's end
    * starts a new one in both engines — no off-by-one epsilon needed.
    * Session duration sums are integer microseconds (exact compare).
    *
    * Scale posture: state per key is the open sessions inside the
    * watermark — identical to q30; the gap expression is evaluated
    * per-row map-side and adds nothing to state. */
  private val q92 = Q(
    "q92_stream_session_dynamic",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val sessions = replay(s, log)
        .withWatermark("ts", "1 second")
        .groupBy(
          session_window(
            col("ts"),
            when(col("event_type") === "view", "30 minutes")
              .otherwise("1 hour")),
          col("user_id"))
        .agg(count(lit(1)).as("sess_len"))
      sessionRollup(runToMemory(s, sessions),
        sum(unix_micros(col("session_window.end"))
          - unix_micros(col("session_window.start"))).as("total_sess_us"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, ts,
               ts + CASE WHEN event_type = 'view' THEN INTERVAL 30 MINUTE
                         ELSE INTERVAL 60 MINUTE END AS iend
        FROM events),
      m AS (
        SELECT user_id, event_id, ts, iend,
               max(iend) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_end
        FROM e),
      f AS (
        SELECT user_id, event_id, ts, iend,
               CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END
                 AS new_sess
        FROM m),
      sess AS (
        SELECT user_id, ts, iend,
               sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM f),
      per_sess AS (
        SELECT user_id, sess_id, count(*) AS sess_len,
               epoch_us(max(iend)) - epoch_us(min(ts)) AS dur_us
        FROM sess GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_sessions, max(sess_len) AS max_sess_len,
             CAST(sum(sess_len) AS BIGINT) AS n_events,
             CAST(sum(dur_us) AS BIGINT) AS total_sess_us
      FROM per_sess
      GROUP BY user_id
      ORDER BY user_id"""),
  )

  /** Streaming DEAD-LETTER routing — the ingest-robustness tier q77
    * proves in batch, run as a live pipeline: every microbatch splits
    * into parseable rows (delivered to the main store) and rejects
    * (delivered to a dead-letter store with their provenance), each
    * store behind its OWN [[graft.streaming.IdempotentSink]] batchId
    * ledger — one source batch, two exactly-once commits; a replayed
    * batch re-offers both and each skips independently. Corruption is
    * q77's deterministic rule (event_id % 10 truncates the payload), and
    * spark.sql.json.enablePartialResults is pinned false for the run so
    * reject counting stays whole-record (restored after, the q73/q80
    * conf convention). Nothing is dropped: main + DLQ partition the
    * input exactly, which is what the oracle checks per event type.
    *
    * Scale posture: the split is two map-side filters over the cached
    * microbatch (one source read); each store write is the q46 rename
    * commit — the standard quarantine topology every 100 TB ingest
    * runs. */
  private val q94 = Q(
    "q94_stream_dead_letter",
    (s, d) => {
      val log  = ensureLog(s, d, copies = 1)
      val main = scratchDir("graft_store_main")
      val dlq  = scratchDir("graft_store_dlq")
      val mainSink = new graft.streaming.IdempotentSink(main)
      val dlqSink  = new graft.streaming.IdempotentSink(dlq)
      GraftSession.withConf(s, "spark.sql.json.enablePartialResults" -> "false") {
        val rows = replay(s, log)
          .withColumn(
            "raw",
            expr("""CASE WHEN event_id % 10 = 0
                         THEN substring(props, 1, length(props) - 1)
                         ELSE props END"""))
          .withColumn("k", expr("from_json(raw, 'k INT').k"))
          .select(col("event_id"), col("event_type"), col("k"))
        drain(s, rows)(_.foreachBatch { (b: DataFrame, id: Long) =>
          val batch = b.persist()
          try {
            mainSink(batch.filter(col("k").isNotNull), id)
            dlqSink(
              batch.filter(col("k").isNull)
                .select(col("event_id"), col("event_type")), id)
          } finally { batch.unpersist(); () }
        })
      }
      val good = s.read.parquet(main)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .select(lit("main").as("store"), col("event_type"), col("n"),
          col("sum_k"))
      val bad = s.read.parquet(dlq)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(lit("dlq").as("store"), col("event_type"), col("n"),
          lit(0L).as("sum_k"))
      good.unionByName(bad).orderBy(col("store"), col("event_type"))
    },
    Some(s"""
      WITH mangled AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 10 = 0
                    THEN substr(props, 1, length(props) - 1)
                    ELSE props END AS raw
        FROM events),
      -- Route on Spark's SCHEMA-BIND corruption (q77's rule): a record
      -- whose k is valid JSON but not an integer is corrupt to
      -- from_json('k INT') and belongs in the dead-letter store.
      ${Relational.GradedSql}
      SELECT 'dlq' AS store, event_type, count(*) AS n,
             CAST(0 AS BIGINT) AS sum_k
      FROM graded WHERE NOT ok
      GROUP BY event_type
      UNION ALL
      SELECT 'main', event_type, count(*),
             CAST(sum(CAST(raw ->> 'k' AS INT)) AS BIGINT)
      FROM graded WHERE ok
      GROUP BY event_type
      ORDER BY store, event_type"""),
  )

  /** Streaming UNION of two independent sources — the multi-region /
    * multi-topic ingest topology: two separately-replayed logs (each its
    * own source instance with its own offsets and shard set) merge into
    * ONE downstream aggregation, with a region tag carried through so
    * the rollup proves rows from BOTH legs arrived. Each leg carries its
    * OWN withWatermark (inside `leg()`, before the union) — that is what
    * engages Spark's min-across-watermarks policy, so one slow region
    * correctly holds back emission for both, exactly the semantics a
    * cross-region merge needs. (A single post-union watermark would let
    * the faster leg advance the global watermark past the slower leg's
    * in-flight rows — the r8 advisor's catch.)
    *
    * Scale posture: each leg scales by its own shard count; the union
    * itself is free (no shuffle — partitions concatenate) and the only
    * stateful stage is the downstream windowed rollup. */
  private val q100 = Q(
    "q100_stream_union",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      def leg(region: String): DataFrame = {
        replay(s, log)
          .withColumn("region", lit(region))
          .withWatermark("ts", "1 hour")
      }
      val agg = leg("east")
        .unionByName(leg("west"))
        .groupBy(
          window(col("ts"), "6 hours"), col("region"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      runToMemory(s, agg)
        .filter(col("event_type") =!= "sentinel")
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("region"), col("event_type"), col("n"), col("total"))
        .orderBy(col("window_start"), col("region"), col("event_type"))
    },
    // Each region leg replays the full log, so the oracle is the same
    // 6-hour rollup cross-joined with the two region tags.
    Some("""
      SELECT strftime(to_timestamp(
               CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             r.region, event_type, count(*) AS n,
             round(sum(value), 2) AS total
      FROM events, (SELECT unnest(['east', 'west']) AS region) r
      GROUP BY 1, 2, 3
      ORDER BY window_start, region, event_type"""),
  )

  /** Stream-static LEFT ANTI join — q38's missing-member sibling and the
    * LIVE version of q87's referential-integrity check: events whose
    * user has no customer record surface AS THEY ARRIVE (quarantine/
    * alerting), instead of in a nightly batch audit. Stateless on the
    * stream side — the static dimension is broadcast per microbatch, no
    * watermark or state store involved — so the operator costs what a
    * map-side filter costs.
    *
    * Scale posture: identical to q38 (broadcast dim), with anti instead
    * of inner semantics; a dimension too large to broadcast shuffles
    * both sides on the key, same as batch. */
  private val q101 = Q(
    "q101_stream_static_anti",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1)
      // "In good standing" dimension slice: every fixture event user IS
      // a customer, so the live orphan check screens against the ACTIVE
      // subset (non-negative balance) — the realistic shape anyway: the
      // reference set is a filtered dimension, not the raw table.
      val customers = T.customer(s, d)
        .filter(col("c_acctbal") >= 0)
        .select(col("c_custkey"))
      val orphans = replay(s, log)
        .join(broadcast(customers),
          col("user_id") === col("c_custkey"), "left_anti")
      val out = runToMemory(s, orphans)
      out
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_orphaned"),
          countDistinct(col("user_id")).as("n_orphan_users"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n_orphaned,
             count(DISTINCT user_id) AS n_orphan_users
      FROM events e
      WHERE NOT EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_custkey = e.user_id AND c.c_acctbal >= 0)
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Streaming point-in-time enrichment — q112's PIT lookup running LIVE:
    * each arriving purchase is enriched with the signup-dimension version
    * whose half-open validity tile contains its event time. q38/q101
    * join the stream to FLAT dimension keys; this joins to versioned
    * INTERVAL tiles — the shape a production enrichment job actually has
    * once its dimension is SCD2 (the join must pick the version that was
    * current AT EVENT TIME, not the latest row). Stateless on the stream
    * side: the tile table is broadcast and re-resolved per microbatch
    * (so a production run picks up dimension updates between batches),
    * the tile range is a residual filter on the user_id equi key, and no
    * watermark or state store is involved. The rollup over the sink
    * matches q112's batch result exactly — microbatch replay is
    * slicing-invariant for a stateless join.
    *
    * Scale posture: identical to q38 (broadcast dim, map-side join cost);
    * a dimension too large to broadcast shuffles both sides on user_id —
    * same plan family as batch q112 at 100 TB. */
  private val q114 = Q(
    "q114_stream_pit_enrich",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1)
      val tileW = Window
        .partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val dim = T.events(s, d)
        .filter(col("event_type") === "signup")
        .selectExpr("user_id", "event_id", "unix_micros(ts) AS tsu")
        .withColumn("version", row_number().over(tileW))
        .withColumn("to_tsu", lead(col("tsu"), 1).over(tileW))
        .select(
          col("user_id").as("d_user"), col("version"),
          col("tsu").as("from_tsu"), col("to_tsu"))
      val purchases = replay(s, log)
        .filter(col("event_type") === "purchase")
        .selectExpr("user_id", "value", "unix_micros(ts) AS tsu")
      val enriched = purchases
        .join(
          broadcast(dim),
          purchases("user_id") === dim("d_user") &&
            purchases("tsu") >= dim("from_tsu") &&
            (dim("to_tsu").isNull || purchases("tsu") < dim("to_tsu")),
          "left")
        .select(col("user_id"), col("value"), col("version"))
      runToMemory(s, enriched)
        .groupBy(coalesce(col("version"), lit(0)).as("version"))
        .agg(
          count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("revenue"))
        .orderBy(col("version"))
    },
    // Batch-equivalent oracle: identical semantics to q112 (the
    // microbatch union of purchases is the purchase set).
    Relational.PitEnrichOracle,
  )

  /** STREAMING backfill seam — the lambda-architecture handoff done
    * right, and the one query that puts the NON-DEFAULT starting
    * positions (SURVEY §2.1 S13, subscribe_to_shard.ex:60-65) under the
    * ORACLE gate instead of only unit tests: the batch leg aggregates
    * the history snapshot (event_id ≤ K, half the corpus), the live leg
    * subscribes at `after_sequence_number:K` — sequence numbers are
    * global event ids, so the cursor lands on the exact same cut on
    * every shard — and the two legs' PARTIAL aggregates merge
    * algebraically (q95's base⊕delta: counts and integer-cent sums, the
    * associative forms; a float round-per-leg would not merge). The
    * oracle is the plain whole-corpus rollup: one event lost at the seam
    * (position off by one) or double-counted (a window straddling the
    * cut emitted whole by both legs) flips the hash.
    *
    * Scale shape (100 TB): the history leg is a pushed-down parquet
    * rollup; the live leg carries only open-window state; the merge is
    * k-row. This is exactly how a production backfill joins a stream —
    * snapshot + resume cursor — and the resume mechanic is the
    * reference's own (P4's external checkpoint as a start option,
    * SURVEY §3.3). */
  private val q125 = Q(
    "q125_stream_backfill_seam",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      // The cut point: a bounded driver-side scalar (the q94 seqStep
      // precedent), NOT corpus data on the driver.
      val k = maxEventId(s, d) / 2
      seamRollup(s, log, s"after_sequence_number:$k",
        T.events(s, d).filter(col("event_id") <= k),
        "hour", "window_start", "yyyy-MM-dd HH:mm:ss")
    },
    seamOracle("hour", "window_start", "%Y-%m-%d %H:%M:%S"),
  )

  /** STREAMING point-in-time replay — q125's seam with the cut
    * expressed in TIME instead of sequence numbers, which puts S13's
    * last starting-position variant (`at_timestamp`, the reference's
    * epoch-seconds wire form generalized to ISO instants,
    * subscribe_to_shard.ex:434-435) under the oracle gate: the
    * disaster-recovery shape where the snapshot is "everything before
    * instant T" and the live leg resubscribes from T. Each shard
    * resolves its own cursor (first record with arrival ≥ T), which
    * slices the log at the same wall-clock cut on every shard because
    * arrival order is per-shard monotone; the batch leg takes ts < T
    * strictly, so records AT the instant belong to exactly one leg.
    * T is the middle event's own µs-tailed timestamp — a cut that a
    * second-precision position encoding could not express, so the
    * query also gates the v2 log format's microsecond fidelity
    * end-to-end. Per-day/type rollup; legs merge algebraically
    * (counts + integer cents); oracle = the plain whole-corpus rollup,
    * so a lost or doubled event at the instant flips the hash.
    *
    * Scale shape (100 TB): same as q125 — pushed-down parquet rollup +
    * open-window streaming state + k-row merge. */
  private val q126 = Q(
    "q126_stream_timecut_replay",
    (s, d) => {
      val log = ensureLog(s, d, copies = 1, sentinel = true)
      val k = maxEventId(s, d) / 2
      // The cut instant: a bounded driver-side scalar (q125's posture).
      val tu = T.events(s, d).filter(col("event_id") === k + 1)
        .select(unix_micros(col("ts"))).head().getLong(0)
      val tIso = java.time.Instant.EPOCH
        .plus(tu, java.time.temporal.ChronoUnit.MICROS).toString
      seamRollup(s, log, s"at_timestamp:$tIso",
        T.events(s, d).filter(unix_micros(col("ts")) < tu),
        "day", "day", "yyyy-MM-dd")
    },
    seamOracle("day", "day", "%Y-%m-%d"),
  )

  /** The backfill seam's merge (q125, q126): the history leg's `hist`
    * events and the live leg's replay of `log` from `start` each roll up
    * to per-(`unit` window, type) row counts and integer cents, the live
    * one under a 1-`unit` watermark; the partials add up per window,
    * labelled `label` in Spark's `format`. */
  private def seamRollup(s: SparkSession, log: String, start: String,
      hist: DataFrame, unit: String, label: String, format: String): DataFrame = {
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    val histAgg = hist
      .groupBy(date_trunc(unit, col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
    val liveAgg = replay(s, log, start = start)
      .withWatermark("ts", s"1 $unit")
      .groupBy(window(col("ts"), s"1 $unit"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("cents"))
    val live = runToMemory(s, liveAgg)
      .filter(col("event_type") =!= "sentinel")
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("cents"))
    histAgg.unionByName(live)
      .groupBy(col("ws"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      .select(
        date_format(col("ws"), format).as(label),
        col("event_type"), col("n"), col("cents"))
      .orderBy(col(label), col("event_type"))
  }

  /** [[seamRollup]]'s oracle: the plain whole-corpus rollup, the window
    * labelled `label` in DuckDB's `format`. */
  private def seamOracle(unit: String, label: String, format: String) = Some(s"""
      SELECT strftime(date_trunc('$unit', ts), '$format') AS $label,
             event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      GROUP BY 1, 2
      ORDER BY $label, event_type""")

  /** STREAMING `latest`-position gap — the LAST S13 variant under the
    * oracle gate, and the reference's DEFAULT starting position
    * (producer.ex:22) with its documented caveat: a `latest` subscriber
    * sees NOTHING that was in the stream before it attached
    * (producer.ex:209-210 — "events published while re-subscribing are
    * missed" is the same records-before-start gap). Mechanics: the log
    * is rebuilt FRESH each run holding only the first half of the corpus
    * (event_id ≤ K) with every shard still open; lifecycle 1 subscribes
    * `latest`, which resolves each shard's cursor to its current
    * high-water mark and commits that cursor to the checkpoint while
    * delivering zero records (the gap, observable: anything it DID
    * deliver would land in the store and flip the hash). The producer
    * then appends the second half + closed markers — "the stream kept
    * running while no consumer was up" — and lifecycle 2 resumes from
    * the checkpointed cursor (S7/P4's restart mechanic, q56's pattern),
    * delivering exactly the appended records into the same idempotent
    * store. Oracle = the second-half rollup: one pre-attach record
    * delivered, or one appended record missed at the seam, flips the
    * hash. The live leg is stateless (no watermark), so the rollup runs
    * batch-side on the store — counts + integer cents, the algebraic
    * forms.
    *
    * Scale shape (100 TB): `latest` resolution is per-shard METADATA
    * (the cached high-water mark, never a data read); the delivered
    * slice is only what arrives after attach — this is precisely why
    * latest is the production default: no backfill scan at subscribe
    * time. */
  private val q127 = Q(
    "q127_stream_latest_gap",
    (s, d) => {
      val pair  = splitPair(s, d)
      val log   = scratchDir("graft_latest_log")
      val ckpt  = scratchDir("graft_ckpt_latest")
      val store = scratchDir("graft_store_latest")
      val sink  = new graft.streaming.IdempotentSink(store)
      KinesisLikeLog.materializeSplit(pair, log)
      def live(): DataFrame =
        replay(s, log, start = "latest").select(col("event_type"), col("value"))
      drain(s, live(), ckpt)(_.foreachBatch(sink(_, _)))
      KinesisLikeLog.appendCachedTail(pair, log)
      drain(s, live(), ckpt)(_.foreachBatch(sink(_, _)))
      centsByType(sink.readAll(s))
    },
    // The delivered set must be exactly the appended (post-attach) half.
    // DuckDB `//` floors where Scala `/` truncates; event ids are
    // non-negative, where the two agree.
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE event_id > (SELECT max(event_id) // 2 FROM events)
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Per-event-type row count and integer-cent value sum — the
    * order-invariant rollup (q127's convention) the latest-gap and
    * error-retry proofs read back from their stores. */
  private def centsByType(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("event_type"))

  /** Clean whole-corpus [[centsByType]] rollup: q129's and q131's oracle —
    * pre-error deliveries kept, nothing double-delivered across the
    * retries or the monitor hand-off. */
  private val CleanCentsOracle = Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      GROUP BY event_type
      ORDER BY event_type""")

  /** q129's and q131's shared fixture: the base log with an in-stream
    * transport_closed exception frame planted mid-shard-0, a fresh
    * checkpoint and [[graft.streaming.IdempotentSink]] store (scratch
    * dirs named after `tag`), and a fresh producer registry. */
  private final class ErrorRetryFixture(s: SparkSession, d: String, tag: String) {
    private val base = ensureLog(s, d, copies = 1)
    // Injection budget = the session's task-attempt budget: every
    // attempt of query start 1 raises, so the failure reaches the
    // PRODUCER exactly once regardless of spark.task.maxFailures.
    private val times = taskMaxFailures(s)
    // The budget is baked into the planted line, so it versions the
    // ready-marker-cached dir: a session with a different task budget
    // derives its own fixture instead of reusing a stale one.
    val log: String = KinesisLikeLog.deriveWithError(
      base, base + s"_err_t$times", afterSeq = maxEventId(s, d) / 2,
      spec = "transport_closed", times = times)
    private val ckpt = scratchDir(s"graft_ckpt_$tag")
    val sink = new graft.streaming.IdempotentSink(scratchDir(s"graft_store_$tag"))
    // Fresh injection budget per invocation: the fixture dir persists
    // across rounds, so the budget is keyed by this run's unique id —
    // and the PREVIOUS runs' spent markers are swept first, so the
    // ready-marker-guarded dir never accrues them without bound.
    graft.sources.kinesislike.Faults.clearMarkers(log)
    val runId: String = new java.io.File(ckpt).getName
    private val seqStep = math.max(1L, eventCount(s, d) / 3L)
    val registry = new graft.streaming.ProducerRegistry

    /** The one [[graft.streaming.ProducerRunner]] factory: every start is
      * a [[startDrain]] of the fixture's rows from the shared checkpoint
      * into the store, under an admission cap that sizes a run to ~3
      * microbatches. `sleep` defaults to a no-op, keeping the 70 s
      * production backoff out of the proof's wall-clock (ErrorRetrySpec
      * asserts the request); `maxRetries = 4` bounds a misbehaving
      * fixture instead of hanging the gate. Run it inside [[stateScope]]. */
    def producer(
        name: String,
        monitor: Option[Throwable => Boolean] = None,
        sleep: Long => Unit = _ => ()): graft.streaming.ProducerRunner =
      new graft.streaming.ProducerRunner(
        name,
        () => startDrain(
          replay(s, log, maxRecordsPerBatch = Some(seqStep), faultRunId = Some(runId))
            .select(col("event_type"), col("value")),
          ckpt)(_.foreachBatch(sink(_, _))),
        registry = registry,
        maxRetries = 4,
        monitor = monitor,
        sleep = sleep,
        logDir = Some(log))
  }

  /** The producer's error/retry loop under the oracle gate — the
    * end-to-end proof of P2/P3/P5 (every error class marks the stream
    * unhealthy, a fixed-backoff retry restarts the query, events
    * delivered before the error stay delivered — producer.ex:89-132,
    * 159-168) the way q125-q127 gated the starting positions. The log
    * is the base corpus with an in-stream transport_closed EXCEPTION
    * MESSAGE planted mid-shard-0 (a real `:exception-type`-headered
    * event-stream frame on the framed wire). The raise budget equals
    * the session's effective task-attempt budget, so exactly one
    * query-level failure escalates under ANY master: every task
    * attempt of query start 1 raises (spending the budget), and the
    * producer's retry drains — a fixed times constant would be
    * silently absorbed by task retries wherever maxFailures exceeded
    * it. An admission cap sizes run 1 to ~3 microbatches, so the
    * pre-error prefix COMMITS before the error fires. The
    * [[graft.streaming.ProducerRunner]] then classifies the failure,
    * marks the stream unhealthy, requests its fixed 70 s backoff (the
    * production constant, ProducerRunner.DefaultBackoffMillis; the
    * registered proof injects a no-op sleeper so the gate doesn't bill
    * wall-clock — ErrorRetrySpec asserts the request), and restarts the
    * SAME checkpoint: the retry resumes from the committed cursor, the
    * spent raise budget lets it pass the marker, and the drain
    * completes. The oracle is the clean whole-corpus rollup: a retry
    * that lost the committed prefix would drop rows, one that replayed
    * delivered offsets would double-count — either breaks the hash.
    * Integer cents (q127's convention) keep the sum order-invariant. */
  private val q129 = Q(
    "q129_stream_error_retry",
    (s, d) => {
      val fx     = new ErrorRetryFixture(s, d, "retry")
      val name   = s"q129_${fx.runId}"
      val runner = fx.producer(name)
      require(stateScope(s)(runner.run()),
        s"producer $name did not recover: " +
          runner.errorLog.map(_._1).mkString(","))
      // The proof's PREMISE, enforced in the gated query: the planted
      // transport error actually fired and was classified — a variant
      // that injected nothing would otherwise pass as a clean drain.
      require(runner.errorLog.nonEmpty &&
          runner.errorLog.forall(_._1 == "transport_closed"),
        s"q129: the planted transport error must fire and classify, " +
          s"got ${runner.errorLog.map(_._1)}")
      require(fx.registry.producersReady,
        "q129: stream must end healthy after the retry")
      centsByType(fx.sink.readAll(s))
    },
    CleanCentsOracle,
  )

  /** The session's effective task-attempt budget — what decides whether
    * an injected task failure escalates to the QUERY level: plain
    * `local[N]` masters fail fast after 1 attempt, `local[N,F]` retries
    * F times, and a cluster honors spark.task.maxFailures (default 4).
    * q129/q131 size their injection budgets from this so the planted
    * error always reaches the producer instead of being absorbed by
    * task-attempt retries under a generous master. */
  private def taskMaxFailures(s: SparkSession): Int = {
    val master   = s.sparkContext.master
    val withBudget = """local\[([^,\]]+)\s*,\s*(\d+)\]""".r
    master match {
      // local-cluster[...] honors spark.task.maxFailures like a real
      // cluster — it must not fall into the plain-local fail-fast arm.
      case m if m.startsWith("local-cluster") =>
        s.sparkContext.getConf.getInt("spark.task.maxFailures", 4)
      case withBudget(_, f)                => f.toInt
      case m if m.startsWith("local")      => 1
      case _ =>
        s.sparkContext.getConf.getInt("spark.task.maxFailures", 4)
    }
  }

  /** q28's one-record-per-event twin: the identical windowed-aggregate
    * plan replayed over the sentinel log re-encoded at one record per
    * event ([[oneRecordPerEventLog]]), where every event's continuation
    * is its own record's sequence number. Both byte layouts of the same
    * records must hash to the same result, or the per-event cursor or
    * the envelope decode depends on the grouping. */
  private val q130 = Q(
    "q130_stream_window_textlog",
    (s, d) => {
      hourlyWindow(s, oneRecordPerEventLog(s, d))
    },
    // q28's oracle: same plan, different event grouping, same hash.
    Relational.HourlyWindowOracle,
  )

  /** The MONITOR-DELEGATION arm of the producer's retry loop under the
    * oracle gate — the branch q129 leaves to the unit tier: when a
    * monitor is attached, an error is HANDED TO IT instead of triggering
    * the fixed-backoff self-retry (producer.ex:165-168 sends
    * `{monitor_msg, error}` to monitor_pid and does NOT schedule
    * `:reconnect`; recovery is then the monitor's decision). Mechanics:
    * the same planted transport_closed exception frame as q129;
    * lifecycle 1 runs with a monitor that DECLINES the retry, so the
    * runner stops after classifying + marking unhealthy — and the
    * injected sleeper proves the 70 s backoff arm was NEVER consulted.
    * The monitor then "accepts": lifecycle 2 (the monitor-driven
    * reconnect) resumes the SAME checkpoint, and with the raise budget
    * spent the drain completes. Oracle = the clean whole-corpus rollup:
    * the committed pre-error prefix plus the resumed tail, nothing
    * dropped or doubled across the monitor hand-off. */
  private val q131 = Q(
    "q131_stream_monitor_retry",
    (s, d) => {
      val fx = new ErrorRetryFixture(s, d, "monitor")
      val monitorSeen = new java.util.concurrent.atomic.AtomicInteger
      var backoffSlept = 0L
      // ONE producer identity across both lifecycles — the monitor
      // reconnects the SAME producer (producer.ex:165-168), so the
      // registry tracks one stream whose health flips across the
      // hand-off, not two.
      def connect(decide: Throwable => Boolean) = fx.producer(
        s"q131_${fx.runId}", Some(decide), ms => backoffSlept += ms)
      stateScope(s) {
        // Lifecycle 1: the monitor declines — the producer must STOP
        // (no self-retry, no backoff), leaving recovery to the monitor.
        val r1 = connect { _ => monitorSeen.incrementAndGet(); false }
        require(!r1.run(), "q131: a declined monitor must stop the producer")
        require(r1.errorLog.nonEmpty &&
            r1.errorLog.forall(_._1 == "transport_closed"),
          s"q131: the planted transport error must fire and classify, " +
            s"got ${r1.errorLog.map(_._1)}")
        require(!fx.registry.producersReady,
          "q131: stream must be marked unhealthy while the monitor holds it")
        // Lifecycle 2: the monitor's reconnect — same checkpoint, spent
        // raise budget, accepting monitor (vacuously: no error fires).
        val r2 = connect(_ => true)
        require(r2.run(), s"q131: monitor-driven reconnect did not drain: " +
          r2.errorLog.map(_._1).mkString(","))
      }
      require(monitorSeen.get() >= 1,
        "q131: the monitor was never consulted")
      require(backoffSlept == 0L,
        s"q131: monitor delegation must REPLACE the fixed backoff " +
          s"(producer.ex:165-168), but ${backoffSlept}ms was slept")
      require(fx.registry.producersReady,
        "q131: stream must end healthy after the monitor-driven reconnect")
      centsByType(fx.sink.readAll(s))
    },
    CleanCentsOracle,
  )

  /** The frame-corruption taxonomy under the oracle gate — the
    * fail-fast half of the S9 contract the way q129 gated transport
    * errors: both CRC32s verify on EVERY decode and a frame that fails
    * them must FAIL the read with the pointed error, never silently
    * skip the frame or truncate the shard (a silent skip is DATA LOSS
    * that no downstream check can see; the reference's
    * `EventStream.decode!` likewise raises, subscribe_to_shard.ex:313-327).
    * Mechanics: a derived twin of the framed base log with ONE payload
    * byte flipped in a mid-shard-0 message ([[graft.sources.kinesislike
    * .EventStreamFraming.deriveCorrupted]]); the corrupted read must
    * throw with the message-CRC error in its cause chain (enforced
    * in-query — a decoder that started tolerating corruption would turn
    * the probe into a clean scan and fail the require). The gated
    * result is the whole-corpus rollup over the CLEAN framed log
    * through the source's BATCH path (the bounded-scan analog of a
    * closed shard, gating the toBatch tier no streaming row exercises),
    * plus the contract literal the oracle emits as TRUE. The unit
    * corruption matrix (prelude CRC, truncation-at-EOF, absurd prelude
    * length) lives in EventStreamFramingSpec; this row keeps the
    * end-to-end fail-fast posture under the driver gate. */
  private val q132 = Q(
    "q132_stream_corrupt_frame",
    (s, d) => {
      val base = ensureLog(s, d, copies = 1)
      val bad  = graft.sources.kinesislike.EventStreamFraming
        .deriveCorrupted(base, base + "_corrupt", messageIndex = 2)
      val failure =
        try {
          s.read.format("kinesislike").option("path", bad).load().count()
          None
        } catch { case t: Throwable => Some(t) }
      def chain(t: Throwable): List[Throwable] = {
        val b = List.newBuilder[Throwable]
        var cur = t; var n = 0
        while (cur != null && n < 20) {
          b += cur
          cur = if (cur.getCause eq cur) null else cur.getCause
          n += 1
        }
        b.result()
      }
      require(
        failure.exists(chain(_).exists(c =>
          Option(c.getMessage).exists(_.contains("CRC mismatch")))),
        s"q132: a corrupted frame must fail the read with the CRC " +
          s"error, got ${failure.map(_.toString).getOrElse("a clean scan")}")
      parsed(s.read.format("kinesislike").option("path", base).load())
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .withColumn("corrupt_failed", lit(true))
        .orderBy(col("event_type"))
    },
    // Clean whole-corpus rollup + the fail-fast contract literal (the
    // house sketch-oracle convention for engine-side guarantees).
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             TRUE AS corrupt_failed
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  val fixtures: Seq[Prewarm] = Seq(Prewarm("logs", prewarmLogs))

  val all: Seq[Q] = Seq(
    q28, q29, q30, q36, q37, q38, q39, q45, q46, q56, q61, q66, q73, q80,
    q82, q84, q92, q94, q100, q101, q114, q119, q125, q126, q127, q129,
    q130, q131, q132)
}
