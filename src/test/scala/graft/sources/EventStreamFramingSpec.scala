package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.{ShardLogs, SparkSpec}
import graft.sources.kinesislike.{EventStreamFraming, KinesisLikeLog}

/** The byte-level event-stream tier (subscribe_to_shard.ex:273-341 made
  * literal): prelude parsing, partial-frame reassembly across arbitrary
  * chunk splits, CRC verification, the HEADER vocabulary and its demux
  * (message-type/event-type/exception-type, initial-response skip), the
  * 1 MB-record / 16 KB-chunk round-trip of
  * subscribe_to_shard_test.exs:220-245 through the REAL source read
  * path, and the row-for-row equivalence of one log written at
  * different records-per-event groupings. */
class EventStreamFramingSpec extends SparkSpec {
  import EventStreamFraming._

  private var ctr = 0
  private def tmpDir(prefix: String): Path = {
    ctr += 1
    Files.createTempDirectory(s"$prefix$ctr")
  }

  private def record(seq: Long, payload: String): String = {
    val b64 = java.util.Base64.getEncoder
      .encodeToString(payload.getBytes(UTF_8))
    s"$seq\t${1000000L + seq}\tk$seq\t$b64"
  }

  /** A framed shard exactly as the sink writes it: initial-response
    * first, then one message per line (markers demuxed into headers). */
  private def writeFramedShard(dir: Path, lines: Seq[String]): Path = {
    val f = dir.resolve("shard-00000.elog")
    val sink = KinesisLikeLog.openLineSink(f.toFile)
    try lines.foreach(sink.writeLine)
    finally sink.close()
    f
  }

  private def recordOf(line: String): KinesisLikeLog.Record =
    KinesisLikeLog.parseLine(line) match {
      case KinesisLikeLog.RecordsEvent(_, Seq(r)) => r
      case other => fail(s"not a record line: $other")
    }

  private def readEvents(f: java.io.File): List[KinesisLikeLog.ShardEvent] = {
    val src = KinesisLikeLog.openEvents(f)
    try Iterator.continually(src.readEvent()).takeWhile(_ != null).toList
    finally src.close()
  }

  test("a message round-trips headers AND payload through encode/decode, " +
    "and the FrameDecoder reassembles it fed ONE BYTE at a time — every " +
    "split point, including mid-prelude and mid-header") {
    val messages = Seq(
      encodeEvent(InitialResponseType, "{}".getBytes(UTF_8)),
      encodeEvent(SubscribeEventType, Array.emptyByteArray),
      encodeEvent(SubscribeEventType,
        Array.tabulate(70000)(i => (i % 251).toByte)),
      encodeException("transport_closed",
        """{"message":"injected","times":2}""".getBytes(UTF_8)))
    val wire = messages.flatMap(_.toSeq).toArray
    val dec  = new FrameDecoder
    val got  = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    wire.foreach(b => got ++= dec.feed(Array(b), 0, 1))
    assert(!dec.isMidFrame, "decoder must be frame-aligned at wire end")
    assert(got.length === messages.length)
    got.zip(messages).zipWithIndex.foreach { case ((g, e), i) =>
      assert(java.util.Arrays.equals(g, e), s"message $i")
    }
    // Header vocabulary survives the byte round-trip.
    val (h0, p0) = decodeMessage(got.head)
    assert(h0(MessageTypeHeader) === EventMessageType)
    assert(h0(EventTypeHeader) === InitialResponseType)
    assert(h0(ContentTypeHeader) === ContentTypeValue)
    assert(new String(p0, UTF_8) === "{}")
    val (h3, _) = decodeMessage(got(3))
    assert(h3(MessageTypeHeader) === ExceptionMessageType)
    assert(h3(ExceptionTypeHeader) === "transport_closed")
  }

  test("the header demux mirrors handle_message/handle_event: " +
    "initial-response is SKIPPED, a record event yields its line, the " +
    "null-continuation control event yields the closed marker, an " +
    "exception message yields the typed #ERROR line") {
    def roundTrip(msg: Array[Byte]): Option[KinesisLikeLog.ShardEvent] = {
      val (h, p) = decodeMessage(msg)
      decodeToEvent(h, p)
    }
    assert(roundTrip(initialResponseMessage) === None) // s2s.ex:341
    Seq(
      record(7, "payload"),
      KinesisLikeLog.ClosedMarker,                              // s2s.ex:356-363
      s"${KinesisLikeLog.ErrorMarker}\thttp_error:503\t2",      // s2s.ex:336-338
    ).foreach { line =>
      val event = KinesisLikeLog.parseLine(line)
      assert(roundTrip(encodeShardEvent(event)) === Some(event), line)
    }
    // A wrong content type is refused (the @content_type assertion,
    // subscribe_to_shard.ex:320-322).
    intercept[IllegalArgumentException] {
      decodeToEvent(
        Map(ContentTypeHeader -> "text/plain",
          MessageTypeHeader -> EventMessageType,
          EventTypeHeader -> SubscribeEventType),
        "x".getBytes(UTF_8))
    }
    // The metadata-only scan behind maxSeq shares the demux: a wrong
    // content type, an unknown :event-type and an unknown :message-type
    // each fail the scan too.
    Seq(
      Seq(ContentTypeHeader -> "text/plain",
        MessageTypeHeader -> EventMessageType,
        EventTypeHeader -> SubscribeEventType),
      Seq(ContentTypeHeader -> ContentTypeValue,
        MessageTypeHeader -> EventMessageType,
        EventTypeHeader -> "MysteryEvent"),
      Seq(ContentTypeHeader -> ContentTypeValue,
        MessageTypeHeader -> "mystery")).foreach { headers =>
      val f = tmpDir("graft_framing_demux").resolve("shard-00000.elog")
      Files.write(f, initialResponseMessage ++ encodeMessage(headers,
        """{"ContinuationSequenceNumber":"1","Records":[]}""".getBytes(UTF_8)))
      intercept[IllegalArgumentException](KinesisLikeLog.maxSeq(f.toFile))
    }
  }

  test("a multi-record SubscribeToShardEvent round-trips through the " +
    "Records JSON envelope: one message, many records, base64 Data " +
    "intact, exact-microsecond arrivals, and the continuation is the " +
    "LAST record's sequence number (handle_event advances the cursor " +
    "once per EVENT, subscribe_to_shard.ex:343-354)") {
    val lines = Seq(record(11, "a"), record(12, "b\tc\nd"), record(13, "e"))
    val recs  = lines.map(recordOf)
    val msg   = encodeRecordsEvent(recs)
    val (h, p) = decodeMessage(msg)
    assert(h(EventTypeHeader) === SubscribeEventType)
    // The payload IS the reference's JSON shape
    // (subscribe_to_shard_test.exs:230-234).
    val json = new String(p, UTF_8)
    assert(json.contains("\"ContinuationSequenceNumber\":\"13\""))
    assert(json.contains("\"Records\":["))
    assert(json.contains("\"Data\":\"" + recs(1).dataB64 + "\""))
    decodeToEvent(h, p) match {
      case Some(KinesisLikeLog.RecordsEvent(cont, got)) =>
        assert(cont === 13L)
        assert(got === recs)
      case other => fail(s"expected a records event, got $other")
    }
  }

  test("the framed sink groups records into multi-record envelope " +
    "events (flushing before control messages so message order equals " +
    "line order), and the event source yields per-event continuations; " +
    "the line flatten is grouping-invariant") {
    val dir   = tmpDir("graft_framing_group")
    val lines = (1L to 7L).map(i => record(i, s"p$i")) :+
      KinesisLikeLog.ClosedMarker
    val f = dir.resolve("shard-00000.elog")
    val sink = KinesisLikeLog.openLineSink(f.toFile, recordsPerEvent = 3)
    try lines.foreach(sink.writeLine)
    finally sink.close()

    val events = readEvents(f.toFile)
    // 7 records at 3/event = events of 3, 3, 1 — the trailing partial
    // group flushed by the closed marker — then the control event.
    assert(events.map {
      case KinesisLikeLog.RecordsEvent(c, rs) => (c, rs.map(_.seq))
      case KinesisLikeLog.Closed              => (-1L, Seq.empty[Long])
      case other                              => fail(s"unexpected $other")
    } === List(
      (3L, Seq(1L, 2L, 3L)), (6L, Seq(4L, 5L, 6L)), (7L, Seq(7L)),
      (-1L, Seq.empty[Long])))
    // Flattened back to records, grouping is invisible.
    val flat = events.flatMap {
      case KinesisLikeLog.RecordsEvent(_, rs) => rs
      case _                                  => Nil
    }
    assert(flat === lines.init.map(recordOf))
    assert(KinesisLikeLog.maxSeq(f.toFile) === 7L)
    assert(KinesisLikeLog.shardState(f.toFile)._2)
  }

  test("CRC verification fails fast: flipping any single byte of a " +
    "message is caught at decode (prelude or message CRC), and a " +
    "corrupt prelude claiming an absurd length is refused AT THE " +
    "PRELUDE, not buffered to EOF") {
    val msg = encodeEvent(SubscribeEventType, record(1, "x").getBytes(UTF_8))
    // Corrupt a header byte and a payload byte: both must be caught.
    Seq(13, msg.length - 6).foreach { i =>
      val bad = msg.clone()
      bad(i) = (bad(i) ^ 0x40).toByte
      intercept[IllegalArgumentException](decodeMessage(bad))
    }
    // A prelude claiming 2 GB: the reassembler refuses immediately.
    val huge = Array[Byte](0x7f, -1, -1, -1)
    intercept[IllegalArgumentException] {
      new FrameDecoder().feed(huge, 0, 4)
    }
    // And one claiming less than the 16-byte minimum likewise.
    intercept[IllegalArgumentException] {
      new FrameDecoder().feed(Array[Byte](0, 0, 0, 8), 0, 4)
    }
  }

  test("FrameDecoder flags a truncated trailing frame (isMidFrame) and " +
    "the framed line source refuses a truncated shard file") {
    val full = encodeEvent(SubscribeEventType, "abcdef".getBytes(UTF_8))
    val dec  = new FrameDecoder
    dec.feed(full, 0, full.length - 2)
    assert(dec.isMidFrame)

    // A shard of one complete records event (continuation 3) and the
    // next one (continuation 6) cut two bytes short.
    val dir = tmpDir("graft_framing_trunc")
    val f   = dir.resolve("shard-00000.elog").toFile
    def event(seqs: Seq[Long]) =
      encodeRecordsEvent(seqs.map(s => recordOf(record(s, s"p$s"))))
    val complete = initialResponseMessage ++ event(1L to 3L)
    val torn     = event(4L to 6L)
    Files.write(f.toPath, complete ++ torn.dropRight(2))
    def drain(src: FramedEventSource): Int =
      try Iterator.continually(src.readEvent()).takeWhile(_ != null).size
      finally src.close()
    // The reader refuses it: EOF mid-frame, a range end that cuts the
    // frame, and a range end past EOF all fail; a range that ends at the
    // last complete frame reads it.
    intercept[IllegalArgumentException](drain(KinesisLikeLog.openEvents(f)))
    intercept[IllegalArgumentException](
      drain(new FramedEventSource(f, 0L, f.length())))
    assert(drain(new FramedEventSource(f, 0L, complete.length)) === 1)
    intercept[IllegalArgumentException](
      drain(new FramedEventSource(f, 0L, complete.length + torn.length)))
    // The metadata scan reads the torn frame as not yet written: the
    // complete prefix's state, and an index that ends before the frame.
    assert(KinesisLikeLog.shardState(f) === ((3L, false)))
    assert(KinesisLikeLog.index(f).scanned === complete.length.toLong)
    // Once the rest is written, the next scan sees the frame.
    Files.write(f.toPath, torn.takeRight(2), java.nio.file.StandardOpenOption.APPEND)
    assert(KinesisLikeLog.maxSeq(f) === 6L)
    assert(drain(KinesisLikeLog.openEvents(f)) === 2)
  }

  test("a 1 MB record framed into a shard file streams through the " +
    "source byte-identically, reassembled from >= 64 chunked reads " +
    "(the 16 KB transport ceiling of subscribe_to_shard_test.exs:220-245)") {
    // 1 MB of deterministic non-repeating bytes, base64'd into the line.
    val mb = Array.tabulate(1024 * 1024)(i => ((i * 31 + 7) % 251).toByte)
    val payload = new String(
      java.util.Base64.getEncoder.encode(mb), UTF_8) // text-safe 1.37 MB
    val dir = tmpDir("graft_framing_1mb")
    writeFramedShard(dir,
      Seq(record(1, "small-before"), record(2, payload),
        record(3, "small-after"), KinesisLikeLog.ClosedMarker))

    val fileBytes = dir.resolve("shard-00000.elog").toFile.length()
    assert(fileBytes / ChunkBytes >= 64,
      s"fixture must span >= 64 transport chunks, got " +
        s"${fileBytes / ChunkBytes}")

    val rows = spark.read.format("kinesislike")
      .option("path", dir.toString).load()
      .select(col("sequenceNumber").cast("long"), col("data"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
      .toMap
    assert(rows.keySet === Set(1L, 2L, 3L))
    // The source base64-decodes the payload field; decoding the payload
    // string yields the original 1 MB, byte for byte.
    val got = java.util.Base64.getDecoder.decode(
      new String(rows(2L), UTF_8))
    assert(java.util.Arrays.equals(got, mb),
      "1 MB record must round-trip byte-identically")
    assert(new String(rows(1L), UTF_8) === "small-before")
    assert(new String(rows(3L), UTF_8) === "small-after")
  }

  test("a log re-encoded at one record per event is read row-for-row " +
    "identically to its three-record-per-event original — metadata " +
    "(maxSeq/closed) included, initial-response skipped") {
    val dir = tmpDir("graft_framing_twin")
    val lines = (1L to 40L).map(i => record(i, s"payload-$i")) :+
      KinesisLikeLog.ClosedMarker
    writeFramedShard(dir, lines)
    val twinDir = tmpDir("graft_framing_twin_out")
    KinesisLikeLog.derive(dir.toString, twinDir.toString, copies = 1,
      sentinel = false, recordsPerEvent = 1)

    def rows(d: Path) = spark.read.format("kinesislike")
      .option("path", d.toString).load()
      .select(col("shardId"), col("sequenceNumber"),
        col("approximateArrivalTimestamp").cast("long").as("us"),
        col("partitionKey"), col("data").cast("string"))
      .collect().map(_.toSeq).toSeq
    assert(rows(twinDir) === rows(dir))

    def eventSizes(d: Path): Seq[Int] =
      readEvents(d.resolve("shard-00000.elog").toFile)
        .collect { case KinesisLikeLog.RecordsEvent(_, rs) => rs.size }
    assert(eventSizes(dir) === Seq.fill(13)(3) :+ 1)
    assert(eventSizes(twinDir) === Seq.fill(40)(1))

    val f = twinDir.resolve("shard-00000.elog").toFile
    assert(KinesisLikeLog.maxSeq(f) === 40L)
    assert(KinesisLikeLog.shardState(f)._2)
  }

  test("the fixture derivations over a two-shard base: derive doubles " +
    "every record and appends the sentinel, deriveWithError plants one " +
    "#ERROR event before shard 0's first record past the cut, and a " +
    "split pair re-joins to the base event for event, byte for byte") {
    // Three-record events end at seq 3/6/9 in shard 0 and 6/9/12 in
    // shard 1, so a cut at 6 falls on an event boundary in both.
    val recs0 = (1L to 9L).map(i => record(i, s"a$i"))
    val recs1 = (4L to 12L).map(i => record(i, s"b$i"))
    val base  = tmpDir("graft_derive_base")
    ShardLogs.write(base, recs0 :+ KinesisLikeLog.ClosedMarker, shard = 0)
    ShardLogs.write(base, recs1 :+ KinesisLikeLog.ClosedMarker, shard = 1)
    def shard(d: Path, s: Int) = d.resolve(f"shard-$s%05d.elog")
    def sameBytes(a: Path, b: Path, s: Int): Boolean = java.util.Arrays.equals(
      Files.readAllBytes(shard(a, s)), Files.readAllBytes(shard(b, s)))

    // derive: every record twice, then the sentinel — the next sequence
    // number, 30 days after the last arrival of ANY shard — on shard 0.
    val doubled = tmpDir("graft_derive_doubled")
    KinesisLikeLog.derive(base.toString, doubled.toString, copies = 2,
      sentinel = true)
    val us = 1000000L + 12L + 30L * 24 * 3600 * 1000000L
    val ts = java.time.Instant.EPOCH
      .plus(us, java.time.temporal.ChronoUnit.MICROS)
    val sentinel = s"13\t$us\t-1\t" + java.util.Base64.getEncoder
      .encodeToString((s"""{"event_id":13,"ts":"$ts","user_id":-1,""" +
        """"event_type":"sentinel","value":0.0,"props":"{}"}""")
        .getBytes(UTF_8))
    val expected = tmpDir("graft_derive_expected")
    ShardLogs.write(expected, recs0.flatMap(l => Seq(l, l)) :+ sentinel :+
      KinesisLikeLog.ClosedMarker, shard = 0)
    ShardLogs.write(expected, recs1.flatMap(l => Seq(l, l)) :+
      KinesisLikeLog.ClosedMarker, shard = 1)
    Seq(0, 1).foreach(s =>
      assert(sameBytes(doubled, expected, s), s"derive: shard $s bytes"))

    // deriveWithError: the exception event sits right before shard 0's
    // first record with seq > 4, and nowhere else.
    val errored = tmpDir("graft_derive_error")
    KinesisLikeLog.deriveWithError(base.toString, errored.toString,
      afterSeq = 4L, spec = "http_error:503", times = 2)
    def flat(d: Path, s: Int): List[Any] = readEvents(shard(d, s).toFile)
      .flatMap {
        case KinesisLikeLog.RecordsEvent(_, rs) => rs
        case e                                  => List(e)
      }
    val (upTo4, rest) = flat(base, 0).splitAt(4)
    assert(flat(errored, 0) ==
      upTo4 ++ (KinesisLikeLog.ErrorEvent("http_error:503", 2) :: rest))
    assert(sameBytes(errored, base, 1), "deriveWithError: shard 1 untouched")

    // deriveSplitPair: the open prefix plus the appended tail is the base.
    val pair   = tmpDir("graft_derive_pair")
    val joined = tmpDir("graft_derive_joined")
    KinesisLikeLog.deriveSplitPair(base.toString, pair.toString, cut = 6L)
    val prefix = pair.resolve("split/shard-00000.elog").toFile
    assert(KinesisLikeLog.shardState(prefix) == (6L, false))
    KinesisLikeLog.materializeSplit(pair.toString, joined.toString)
    KinesisLikeLog.appendCachedTail(pair.toString, joined.toString)
    Seq(0, 1).foreach { s =>
      assert(readEvents(shard(joined, s).toFile) ==
        readEvents(shard(base, s).toFile), s"split pair: shard $s events")
      assert(sameBytes(joined, base, s), s"split pair: shard $s bytes")
    }
  }

  test("openLineSink refuses a malformed line with an " +
    "IllegalArgumentException naming it, and an #ERROR line's missing " +
    "fields take their defaults (transport_closed, budget 1)") {
    val dir = tmpDir("graft_framing_malformed")
    Seq(
      "7\t1000007\tk7",                     // three fields, not four
      "x7\t1000007\tk7\tYQ==",               // non-numeric sequence number
      "7\tsoon\tk7\tYQ==",                   // non-numeric arrival
      s"${KinesisLikeLog.ErrorMarker}\tno_such_class\t1", // unknown class
      s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t0", // budget < 1
      s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\tmany",
    ).foreach { line =>
      val sink = KinesisLikeLog.openLineSink(
        dir.resolve("shard-00000.elog").toFile)
      val e = try intercept[IllegalArgumentException](sink.writeLine(line))
      finally sink.close()
      assert(e.getMessage.contains(line),
        s"the error must name the line: ${e.getMessage}")
    }
    val f = writeFramedShard(dir, Seq(KinesisLikeLog.ErrorMarker,
      s"${KinesisLikeLog.ErrorMarker}\tstream_closed"))
    assert(readEvents(f.toFile) == List(
      KinesisLikeLog.ErrorEvent("transport_closed", 1),
      KinesisLikeLog.ErrorEvent("stream_closed", 1)))
  }
}
