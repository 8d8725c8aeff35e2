package ingestbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.locks.LockSupport
import java.util.zip.CRC32

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.kinesislike.{EventStreamFraming, KinesisLikeLog}

/** Synthetic event payloads, the shard logs that carry them, and the
  * exactly-once check of what reached the sink. Shard `s` holds sequence
  * numbers 0, 1, 2, … so the expected set of a shard is its count alone. */
object EventLog {
  val Shards = 16
  private val Kinds = Array("click", "view", "purchase", "signup", "error")

  /** The payload fields as the stream decodes them with `from_json`. */
  val PayloadSchema: StructType = StructType(Seq(
    StructField("user", IntegerType),
    StructField("kind", StringType),
    StructField("amount", LongType),
    StructField("note", StringType)))

  final case class Payload(user: Int, kind: String, amount: Long, note: String) {
    def json: String =
      s"""{"user":$user,"kind":"$kind","amount":$amount,"note":"$note"}"""
  }

  /** The payload of record `seq` on `shard`, a pure function of the seed. */
  def payload(seed: Long, shard: Int, seq: Long): Payload = {
    val r = new java.util.SplittableRandom(seed * 1000003L + shard * 7919L + seq)
    val note = new String(Array.fill(24)(('a' + r.nextInt(26)).toChar))
    Payload(r.nextInt(1500), Kinds(r.nextInt(Kinds.length)),
      r.nextLong(1000000L), note)
  }

  def shardName(shard: Int): String = f"shard-$shard%05d"

  /** CRC32 of one delivered record's identity and decoded fields; the sink
    * side computes the same string with [[checksumColumn]]. */
  def checksum(shard: String, seq: Long, p: Payload): Long = {
    val c = new CRC32
    c.update(s"$shard|$seq|${p.user}|${p.kind}|${p.amount}|${p.note}".getBytes(UTF_8))
    c.getValue
  }

  def checksumColumn: Column = crc32(concat_ws("|",
    col("shardId"), col("seq").cast("string"), col("user").cast("string"),
    col("kind"), col("amount").cast("string"), col("note")))

  /** What the generator wrote: per-shard record count and checksum sum. */
  final case class Expected(counts: Map[String, Long], checksums: Map[String, Long]) {
    def total: Long = counts.values.sum
  }

  /** Write a closed `perShard`-record framed log through the engine's own
    * writer, `KinesisLikeLog.openLineSink`. */
  def writeClosedLog(dir: File, seed: Long, perShard: Int, baseUs: Long): Expected = {
    dir.mkdirs()
    val sums = (0 until Shards).map { s =>
      val id   = shardName(s)
      val sink = KinesisLikeLog.openLineSink(new File(dir, id + KinesisLikeLog.FramedExtension))
      var sum  = 0L
      try {
        var q = 0
        while (q < perShard) {
          val p = payload(seed, s, q)
          sum += checksum(id, q, p)
          sink.writeLine(s"$q\t${baseUs + q}\tu${p.user}\t" +
            Base64.getEncoder.encodeToString(p.json.getBytes(UTF_8)))
          q += 1
        }
        sink.writeLine(KinesisLikeLog.ClosedMarker)
      } finally sink.close()
      id -> sum
    }.toMap
    Expected(sums.keys.map(_ -> perShard.toLong).toMap, sums)
  }

  /** Bytes of a page: a write() that stays inside one page is seen by a
    * concurrent reader either whole or not at all. */
  val PageBytes = 4096
  /** Most records one appended Records event carries, so that an event
    * always fits in a page with room left for a filler. */
  val RecordsPerAppend = 8

  /** An initial-response message of exactly `n` bytes. The decoders skip
    * initial-response messages wherever they occur, so it pads a shard to
    * a page boundary without changing what the stream delivers. */
  def filler(n: Int): Array[Byte] = {
    val m = EventStreamFraming.encodeEvent(EventStreamFraming.InitialResponseType,
      ("{}" + " " * (n - MinFiller)).getBytes(UTF_8))
    require(m.length == n, s"filler of ${m.length} bytes, wanted $n")
    m
  }
  lazy val MinFiller: Int = EventStreamFraming.encodeEvent(
    EventStreamFraming.InitialResponseType, "{}".getBytes(UTF_8)).length

  /** Sixteen open shards the tail generator appends to: each starts with
    * the initial-response message a shard's wire stream opens with.
    *
    * The engine's reader and its driver-side metadata scan fail on a
    * frame that is half written at EOF ("truncated event-stream frame"),
    * and a write() that crosses a page boundary can be seen half done. So
    * no append crosses one: an event that would is preceded by a filler
    * up to the boundary. `README.md` records the hazard; the traced run
    * counts it with [[tornFrameProbe]]. */
  final class OpenLog(dir: File, seed: Long) {
    dir.mkdirs()
    private val outs = Array.tabulate(Shards) { s =>
      val f = new File(dir, shardName(s) + KinesisLikeLog.FramedExtension)
      val o = new FileOutputStream(f, false)
      o.write(EventStreamFraming.initialResponseMessage)
      o
    }
    private val pos  = Array.fill(Shards)(EventStreamFraming.initialResponseMessage.length.toLong)
    private val next = Array.fill(Shards)(0L)
    private val sums = Array.fill(Shards)(0L)
    /** Filler bytes written, so per-record sizes can leave them out. */
    var fillerBytes = 0L

    /** Append records stamped `stampsUs` to `shard` as Records events of
      * at most [[RecordsPerAppend]] records, one write() each, none of
      * them crossing a page boundary. */
    def append(shard: Int, stampsUs: Seq[Long]): Unit = {
      val id = shardName(shard)
      val recs = stampsUs.map { t =>
        val q = next(shard)
        next(shard) += 1
        val p = payload(seed, shard, q)
        sums(shard) += checksum(id, q, p)
        KinesisLikeLog.Record(q, t, s"u${p.user}",
          Base64.getEncoder.encodeToString(p.json.getBytes(UTF_8)))
      }
      recs.grouped(RecordsPerAppend).foreach { g =>
        val event = EventStreamFraming.encodeRecordsEvent(g)
        require(event.length <= PageBytes - MinFiller, s"event of ${event.length} bytes")
        // Invariant: the room left in the current page is 0 or a filler's worth.
        val room = (PageBytes - pos(shard) % PageBytes).toInt
        if (event.length != room && event.length > room - MinFiller) {
          write(shard, filler(room))
          fillerBytes += room
        }
        write(shard, event)
      }
    }

    private def write(shard: Int, bytes: Array[Byte]): Unit = {
      outs(shard).write(bytes)
      pos(shard) += bytes.length
    }

    /** Highest sequence number written per shard (-1 when none). */
    def lastSeq: Map[String, Long] =
      (0 until Shards).map(s => shardName(s) -> (next(s) - 1)).toMap

    def expected: Expected = Expected(
      (0 until Shards).map(s => shardName(s) -> next(s)).toMap,
      (0 until Shards).map(s => shardName(s) -> sums(s)).toMap)

    def close(): Unit = outs.foreach(_.close())
  }

  /** The hazard [[OpenLog]] steps round, counted: a thread appends
    * two-record Records events to a fresh shard with plain write()s, page
    * boundaries ignored, while this thread runs the driver's metadata scan
    * (`KinesisLikeLog.maxSeq`) on it over and over; shards are replaced at
    * 256 KiB so a scan stays short. Returns (scans, scans that failed on a
    * truncated frame). */
  def tornFrameProbe(dir: File, seconds: Double): (Long, Long) = {
    dir.mkdirs()
    val data = Base64.getEncoder.encodeToString(payload(0L, 0, 0L).json.getBytes(UTF_8))
    var scans, torn = 0L
    var round = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val f = new File(dir, shardName(round) + KinesisLikeLog.FramedExtension)
      val out = new FileOutputStream(f)
      out.write(EventStreamFraming.initialResponseMessage)
      val writer = new Thread(() => {
        var q = 0L
        while (f.length() < (256 << 10)) {
          out.write(EventStreamFraming.encodeRecordsEvent(
            Seq(q, q + 1).map(KinesisLikeLog.Record(_, 0L, "p", data))))
          q += 2
          LockSupport.parkNanos(100000L)
        }
      }, s"torn-probe-$round")
      writer.start()
      while (writer.isAlive) {
        try KinesisLikeLog.maxSeq(f)
        catch {
          case e: IllegalArgumentException
              if String.valueOf(e.getMessage).contains("truncated event-stream frame") =>
            torn += 1
        }
        scans += 1
      }
      writer.join()
      out.close()
      f.delete()
      round += 1
    }
    (scans, torn)
  }

  /** The decode every ingest stream runs: the envelope columns plus the
    * JSON payload's fields. */
  def decoded(raw: DataFrame): DataFrame = raw.select(
    col("shardId"),
    col("sequenceNumber").cast("long").as("seq"),
    col("approximateArrivalTimestamp").as("arrival"),
    from_json(col("data").cast("string"), PayloadSchema).as("p"))
    .select(col("shardId"), col("seq"), col("arrival"), col("p.*"))

  /** Exactly-once check of a sink's content against what was written.
    * A record fails when it is missing, and every extra row (a duplicate
    * or a sequence number never written) fails once more. */
  final case class Verdict(attempted: Long, failed: Long, checksumOk: Boolean)

  def verify(spark: SparkSession, stored: DataFrame, exp: Expected): Verdict = {
    import spark.implicits._
    val expDf = exp.counts.toSeq.toDF("shardId", "n")
    val stats = stored
      .withColumn("ck", checksumColumn)
      .join(broadcast(expDf), Seq("shardId"), "left")
      .groupBy(col("shardId"))
      .agg(
        count(lit(1)).as("rows"),
        countDistinct(when(col("seq") >= 0 && col("seq") < col("n"), col("seq")))
          .as("inRange"),
        sum(col("ck")).as("ck"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    var failed = 0L
    var ckOk   = true
    exp.counts.foreach { case (shard, n) =>
      val (rows, in, ck) = stats.getOrElse(shard, (0L, 0L, 0L))
      failed += (n - in) + (rows - in)
      if (ck != exp.checksums(shard)) ckOk = false
    }
    // Rows on shards nobody wrote are extra rows too.
    stats.foreach { case (shard, (rows, _, _)) =>
      if (!exp.counts.contains(shard)) { failed += rows; ckOk = false }
    }
    Verdict(exp.total, failed, ckOk)
  }
}
