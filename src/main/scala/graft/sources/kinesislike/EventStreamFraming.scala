package graft.sources.kinesislike

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** Byte-level AWS event-stream encoding, the shard log's only on-disk
  * format. It mirrors the reference's largest state machine (the frame
  * parser of subscribe_to_shard.ex:273-327) plus its header demux
  * (subscribe_to_shard.ex:320-341) and its payload decode
  * (subscribe_to_shard.ex:343-366). The wire format is the public AWS
  * event-stream encoding (docs.aws.amazon.com/transcribe/latest/dg/
  * event-stream.html), implemented in full:
  *
  *   prelude:  total length (4B BE, includes the whole message)
  *             headers length (4B BE)
  *             prelude CRC (4B BE, CRC-32 of the first 8 bytes)
  *   headers:  repeated [name len (1B)][name][value type (1B = 7,
  *             string)][value len (2B BE)][value]
  *   payload
  *   message CRC (4B BE, CRC-32 of everything before it)
  *
  * The reference's reassembly countdown is `:binary.decode_unsigned(
  * first_4_bytes) - 4` (subscribe_to_shard.ex:298) — mirrored by
  * [[FrameDecoder]] — and its header demux is a fixed vocabulary:
  * `:message-type` event/exception, `:event-type` initial-response (a
  * skip, subscribe_to_shard.ex:341) / SubscribeToShardEvent,
  * `:content-type` asserted to application/x-amz-json-1.1
  * (subscribe_to_shard.ex:320-322), and `:exception-type` naming the
  * typed error (subscribe_to_shard.ex:336-338; the test-side encoder is
  * test/support/fake_kinesis.ex:28-42). HTTP/2 delivers at most 16 KB
  * per data frame, so one logical record (up to 1 MB pre-base64) spans
  * MANY chunks and the parser reassembles partial frames across reads
  * (subscribe_to_shard_test.exs:220-245 — mirrored by
  * EventStreamFramingSpec's 1 MB / 16 KB round-trip).
  *
  * A `SubscribeToShardEvent` message's payload is the reference's JSON
  * envelope (subscribe_to_shard.ex:343-366; fixture at
  * subscribe_to_shard_test.exs:230-234):
  *
  *   {"ContinuationSequenceNumber":"<seq>","MillisBehindLatest":0,
  *    "Records":[{"SequenceNumber":"...",
  *                "ApproximateArrivalTimestamp":<epoch.micros>,
  *                "PartitionKey":"...","Data":"<base64>"}, ...]}
  *
  * with possibly MANY records per event message (one resume-position
  * advance covers the whole event — handle_event,
  * subscribe_to_shard.ex:343-354) and a null continuation signalling
  * shard-closed (subscribe_to_shard.ex:356-363). The `Data` field is
  * base64 exactly as `ExAws.Kinesis.decode_records` receives it; the
  * arrival timestamp is written as an exact-decimal epoch-seconds
  * number (6 fractional digits) so the v2 log layout's microsecond
  * fidelity survives the JSON tier without any float round-trip. An
  * in-stream error is an `exception` message whose `:exception-type`
  * header names the class. A framed shard file (`shard-NNNNN.elog`)
  * opens with an `initial-response` event message (skipped on decode,
  * like the reference), then carries record events of up to
  * [[DefaultRecordsPerEvent]] records each.
  */
object EventStreamFraming {

  /** The HTTP/2 data-frame ceiling the reference's parser reassembles
    * across (subscribe_to_shard_test.exs:221-222). */
  val ChunkBytes = 16 * 1024

  /** Records grouped into one SubscribeToShardEvent message by the
    * framed sink — the multi-record-per-event cardinality of the real
    * wire (subscribe_to_shard_test.exs:230-234 fixtures carry a Records
    * LIST). Cursor advance is per EVENT: resuming after a continuation
    * skips the whole event; an admission cap landing mid-event defers
    * the remainder to the next microbatch via the reader's seam filter
    * (exactly-once either way — KinesisLikeSourceSpec pins a mid-event
    * cap). */
  val DefaultRecordsPerEvent = 3

  /** Sanity ceiling on one message: a Kinesis record is ≤ 1 MB
    * pre-base64 (≈1.4 MB encoded) plus envelope framing and headers,
    * times the per-event record grouping — 8 MiB is generous. A corrupt
    * prelude claiming more fails FAST at the prelude, not as a
    * truncation error at EOF after buffering the rest of the file. */
  val MaxMessageBytes: Int = 8 * 1024 * 1024

  /** Smallest legal message: 12-byte prelude + 0 headers + 0 payload +
    * 4-byte message CRC. */
  val MinMessageBytes: Int = 16

  // The reference's header vocabulary (subscribe_to_shard.ex:320-341,
  // fake_kinesis.ex:28-42).
  val ContentTypeHeader   = ":content-type"
  val MessageTypeHeader   = ":message-type"
  val EventTypeHeader     = ":event-type"
  val ExceptionTypeHeader = ":exception-type"
  val ContentTypeValue    = "application/x-amz-json-1.1"
  val EventMessageType     = "event"
  val ExceptionMessageType = "exception"
  val SubscribeEventType   = "SubscribeToShardEvent"
  val InitialResponseType  = "initial-response"

  /** One shared Jackson mapper (thread-safe once configured): floats
    * parse as BigDecimal so the exact-decimal arrival timestamp
    * round-trips to microseconds without touching a Double. Jackson is
    * Spark's own JSON dependency — no new library. */
  private val mapper: ObjectMapper = new ObjectMapper()
    .configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  private def putBe32(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = ((v >>> 24) & 0xff).toByte
    out(off + 1) = ((v >>> 16) & 0xff).toByte
    out(off + 2) = ((v >>> 8) & 0xff).toByte
    out(off + 3) = (v & 0xff).toByte
  }

  private def be32(bytes: Array[Byte], off: Int): Int =
    ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
      ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)

  /** Encode one full event-stream message (prelude + string headers +
    * payload + CRCs). Header values are type-7 (string) — the only type
    * the reference's vocabulary uses. */
  def encodeMessage(
      headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val headerBytes = headers.map { case (name, value) =>
      val n = name.getBytes(UTF_8)
      val v = value.getBytes(UTF_8)
      require(n.length <= 255, s"header name too long: $name")
      require(v.length <= 65535, s"header value too long for $name")
      val h = new Array[Byte](1 + n.length + 1 + 2 + v.length)
      h(0) = n.length.toByte
      System.arraycopy(n, 0, h, 1, n.length)
      h(1 + n.length) = 7 // value type: string
      h(2 + n.length) = ((v.length >>> 8) & 0xff).toByte
      h(3 + n.length) = (v.length & 0xff).toByte
      System.arraycopy(v, 0, h, 4 + n.length, v.length)
      h
    }
    val headersLen = headerBytes.map(_.length).sum
    val total      = 12 + headersLen + payload.length + 4
    require(total <= MaxMessageBytes,
      s"message of $total bytes exceeds the $MaxMessageBytes ceiling")
    val out = new Array[Byte](total)
    putBe32(out, 0, total)
    putBe32(out, 4, headersLen)
    putBe32(out, 8, crc32(out, 0, 8))
    var i = 12
    headerBytes.foreach { h =>
      System.arraycopy(h, 0, out, i, h.length); i += h.length
    }
    System.arraycopy(payload, 0, out, i, payload.length)
    putBe32(out, total - 4, crc32(out, 0, total - 4))
    out
  }

  /** Event message with the reference's standard header triple
    * (fake_kinesis.ex:37-39). */
  def encodeEvent(eventType: String, payload: Array[Byte]): Array[Byte] =
    encodeMessage(
      Seq(
        ContentTypeHeader -> ContentTypeValue,
        MessageTypeHeader -> EventMessageType,
        EventTypeHeader   -> eventType),
      payload)

  /** Exception message: `:exception-type` names the class
    * (fake_kinesis.ex:41-42); payload carries the message JSON plus the
    * fixture's raise budget. */
  def encodeException(
      exceptionType: String, payload: Array[Byte]): Array[Byte] =
    encodeMessage(
      Seq(
        ContentTypeHeader   -> ContentTypeValue,
        MessageTypeHeader   -> ExceptionMessageType,
        ExceptionTypeHeader -> exceptionType),
      payload)

  /** The connection-open message every framed shard starts with; the
    * decoder skips it (subscribe_to_shard.ex:341, fake_kinesis.ex:22). */
  def initialResponseMessage: Array[Byte] =
    encodeEvent(InitialResponseType, "{}".getBytes(UTF_8))

  /** Exact-decimal epoch seconds with 6 fractional digits — the wire's
    * numeric ApproximateArrivalTimestamp carrying the log's microsecond
    * precision losslessly (parsed back via BigDecimal, never a
    * Double). */
  private def arrivalDecimal(micros: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(micros, 6)

  private def arrivalMicros(n: JsonNode): Long =
    n.decimalValue().movePointRight(6).longValueExact()

  /** Encode one SubscribeToShardEvent carrying `records` — the
    * reference's JSON envelope (subscribe_to_shard.ex:343-366): the
    * continuation sequence number is the LAST record's sequence number
    * (where a resubscribe after this event resumes), `Data` stays
    * base64 exactly as decode_records receives it. */
  def encodeRecordsEvent(
      records: Seq[KinesisLikeLog.Record]): Array[Byte] = {
    require(records.nonEmpty, "a records event needs at least one record")
    val root = mapper.createObjectNode()
    root.put("ContinuationSequenceNumber", records.last.seq.toString)
    root.put("MillisBehindLatest", 0L)
    val arr = root.putArray("Records")
    records.foreach { r =>
      val o = arr.addObject()
      o.put("SequenceNumber", r.seq.toString)
      o.put("ApproximateArrivalTimestamp", arrivalDecimal(r.arrivalMicros))
      o.put("PartitionKey", r.partitionKey)
      o.put("Data", r.dataB64)
    }
    encodeEvent(SubscribeEventType, mapper.writeValueAsBytes(root))
  }

  /** Encode one shard event as its wire message — the inverse of
    * [[decodeToEvent]]: a records event becomes its envelope event
    * ([[encodeRecordsEvent]]; the continuation is always the last
    * record's sequence number), the closed signal the null-continuation
    * control event with no records (subscribe_to_shard.ex:356-363), an
    * in-stream exception a typed exception message carrying its raise
    * budget. */
  def encodeShardEvent(e: KinesisLikeLog.ShardEvent): Array[Byte] = e match {
    case KinesisLikeLog.RecordsEvent(_, recs) => encodeRecordsEvent(recs)
    case KinesisLikeLog.Closed =>
      encodeEvent(SubscribeEventType,
        """{"ContinuationSequenceNumber":null,"Records":[]}""".getBytes(UTF_8))
    case KinesisLikeLog.ErrorEvent(spec, times) =>
      encodeException(spec,
        s"""{"message":"injected","times":$times}""".getBytes(UTF_8))
  }

  /** Decode one complete message: verify BOTH CRCs, parse the headers,
    * return (headers, payload). `msg` includes the prelude — exactly what
    * [[FrameDecoder]] yields. */
  def decodeMessage(msg: Array[Byte]): (Map[String, String], Array[Byte]) = {
    require(msg.length >= MinMessageBytes,
      s"event-stream message of ${msg.length} bytes is shorter than " +
        s"the $MinMessageBytes-byte minimum")
    val total = be32(msg, 0)
    require(total == msg.length,
      s"prelude total $total != message length ${msg.length}")
    val headersLen = be32(msg, 4)
    require(crc32(msg, 0, 8) == be32(msg, 8),
      "event-stream prelude CRC mismatch")
    // Long arithmetic: a crafted headersLen near Int.MaxValue must fail
    // HERE with the pointed message, not later as a raw
    // ArrayIndexOutOfBounds inside copyOfRange.
    require(headersLen >= 0 && 12L + headersLen + 4L <= total,
      s"headers length $headersLen does not fit in message of $total")
    require(crc32(msg, 0, total - 4) == be32(msg, total - 4),
      "event-stream message CRC mismatch")
    var i   = 12
    val end = 12 + headersLen
    val headers = Map.newBuilder[String, String]
    while (i < end) {
      val nameLen = msg(i) & 0xff
      require(i + 1 + nameLen + 3 <= end, "truncated header")
      val name = new String(msg, i + 1, nameLen, UTF_8)
      i += 1 + nameLen
      require(msg(i) == 7, s"header $name: only string (7) values used")
      val valLen = ((msg(i + 1) & 0xff) << 8) | (msg(i + 2) & 0xff)
      require(i + 3 + valLen <= end, s"truncated value for header $name")
      headers += name -> new String(msg, i + 3, valLen, UTF_8)
      i += 3 + valLen
    }
    (headers.result(), java.util.Arrays.copyOfRange(msg, end, total - 4))
  }

  /** The header demux — the literal mirror of handle_message/
    * handle_event (subscribe_to_shard.ex:320-341): asserts the content
    * type, skips initial-response (None), hands a SubscribeToShardEvent's
    * payload to `onRecords` and an exception message to `onException`;
    * any other message or event type fails fast. */
  private def demux[A](headers: Map[String, String], payload: Array[Byte])(
      onRecords: Array[Byte] => A, onException: => Option[A]): Option[A] = {
    // @content_type assertion, subscribe_to_shard.ex:320-322.
    require(headers.get(ContentTypeHeader).contains(ContentTypeValue),
      s"unexpected $ContentTypeHeader: ${headers.get(ContentTypeHeader)}")
    headers.getOrElse(MessageTypeHeader,
      throw new IllegalArgumentException(s"missing $MessageTypeHeader")) match {
      case EventMessageType =>
        headers.getOrElse(EventTypeHeader,
          throw new IllegalArgumentException(s"missing $EventTypeHeader")) match {
          case InitialResponseType => None // subscribe_to_shard.ex:341
          case SubscribeEventType  => Some(onRecords(payload))
          case other =>
            throw new IllegalArgumentException(s"unknown event type $other")
        }
      case ExceptionMessageType => onException
      case other =>
        throw new IllegalArgumentException(s"unknown message type $other")
    }
  }

  /** Demux one decoded message to the event vocabulary
    * (handle_message/handle_event/decode_message,
    * subscribe_to_shard.ex:329-366): parses a SubscribeToShardEvent's
    * JSON envelope (S12: the `Records` list, base64 `Data` intact,
    * exact-µs arrival), maps a null continuation to
    * [[KinesisLikeLog.Closed]] and an exception message to its typed
    * class + raise budget. */
  def decodeToEvent(
      headers: Map[String, String],
      payload: Array[Byte]): Option[KinesisLikeLog.ShardEvent] =
    demux[KinesisLikeLog.ShardEvent](headers, payload)(
      { p =>
        val root = mapper.readTree(p)
        val cont = root.path("ContinuationSequenceNumber")
        if (cont.isNull || cont.isMissingNode)
          KinesisLikeLog.Closed // subscribe_to_shard.ex:356-363
        else {
          val recs = Seq.newBuilder[KinesisLikeLog.Record]
          root.path("Records").forEach { r =>
            recs += KinesisLikeLog.Record(
              seq = r.path("SequenceNumber").asText().toLong,
              arrivalMicros =
                arrivalMicros(r.path("ApproximateArrivalTimestamp")),
              partitionKey = r.path("PartitionKey").asText(),
              dataB64 = r.path("Data").asText())
          }
          KinesisLikeLog.RecordsEvent(cont.asText().toLong, recs.result())
        }
      },
      {
        val spec = headers.getOrElse(ExceptionTypeHeader, "transport_closed")
        val times = TimesRe
          .findFirstMatchIn(new String(payload, UTF_8))
          .map(_.group(1).toInt).getOrElse(1)
        Some(KinesisLikeLog.ErrorEvent(spec, times))
      })

  private val TimesRe = """"times"\s*:\s*(\d+)""".r

  /** Metadata-only demux of one decoded message — what the driver's
    * shard index scan ([[KinesisLikeLog.index]]) needs and nothing more:
    * the continuation sequence number (or the null-continuation closed
    * signal). [[decodeToEvent]] builds every
    * Record (Jackson tree, base64 strings, arrival decimals) just so the
    * fold can take a max over seqs; since the wire writes the
    * continuation as the LAST record's sequence number and per-shard
    * sequence is ascending, max(record seq) == max(continuation) — so
    * the scan can stop at the envelope's first field via a streaming
    * parse and skip the Records array entirely. The header demux is
    * [[decodeToEvent]]'s (unknown types still fail fast); CRC
    * verification happens in [[decodeMessage]] as before.
    *
    * Returns: Some(Right(cont)) for a records event, Some(Left(()))
    * for the closed signal, None for everything the fold skips
    * (initial-response, exception messages). */
  def decodeToMeta(
      headers: Map[String, String],
      payload: Array[Byte]): Option[Either[Unit, Long]] =
    demux[Either[Unit, Long]](headers, payload)(
      { bytes =>
        val p = mapper.getFactory.createParser(bytes)
        try {
          require(p.nextToken() == JsonToken.START_OBJECT,
            "records envelope is not a JSON object")
          var cont: Option[Either[Unit, Long]] = None
          var tok = p.nextToken()
          while (cont.isEmpty && tok == JsonToken.FIELD_NAME) {
            val name = p.currentName()
            tok = p.nextToken()
            if (name == "ContinuationSequenceNumber")
              cont = Some(
                if (tok == JsonToken.VALUE_NULL) Left(())
                else Right(p.getText.toLong))
            else {
              p.skipChildren()
              tok = p.nextToken()
            }
          }
          // Field absent ⇒ missing node ⇒ the closed signal, exactly
          // as decodeToEvent's isMissingNode branch.
          cont.getOrElse(Left(()))
        } finally p.close()
      },
      None)

  /** Incremental frame reassembler — the `{buffer, msg_bytes_left}`
    * state machine of subscribe_to_shard.ex:277-327: feed arbitrary-size
    * chunks in arrival order; complete MESSAGES (prelude included, ready
    * for [[decodeMessage]]) are emitted as soon as their last byte
    * arrives, partial frames (including a split PRELUDE) wait in the
    * buffer. Single-consumer, like the reference's per-connection
    * parser. A prelude claiming fewer than [[MinMessageBytes]] or more
    * than [[MaxMessageBytes]] fails immediately at the prelude. */
  final class FrameDecoder {
    private val pending = new java.io.ByteArrayOutputStream(256)
    // -1 ⇒ reading the prelude (pending holds its first 0-3 bytes);
    // else message bytes still missing — the msg_bytes_left countdown.
    private var bytesLeft: Int = -1

    def feed(chunk: Array[Byte], off: Int, len: Int): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var i   = off
      val end = off + len
      while (i < end) {
        if (bytesLeft < 0) {
          pending.write(chunk(i)); i += 1
          if (pending.size == 4) {
            val p     = pending.toByteArray
            val total = be32(p, 0)
            require(total >= MinMessageBytes && total <= MaxMessageBytes,
              s"event-stream prelude claims $total bytes — outside " +
                s"[$MinMessageBytes, $MaxMessageBytes]; corrupt frame")
            bytesLeft = total - 4 // subscribe_to_shard.ex:298
          }
        } else {
          val take = math.min(bytesLeft, end - i)
          pending.write(chunk, i, take)
          i += take
          bytesLeft -= take
          if (bytesLeft == 0) {
            out += pending.toByteArray
            pending.reset()
            bytesLeft = -1
          }
        }
      }
      out.result()
    }

    /** True while a frame (or its prelude) is partially buffered — EOF in
      * this state means a truncated log. */
    def isMidFrame: Boolean = bytesLeft >= 0 || pending.size > 0
  }

  /** The one frame-reading loop over a framed shard file: reads the byte
    * range [`start`, `end`) in [[ChunkBytes]] chunks (never materializing
    * the file), reassembles messages with a [[FrameDecoder]] and yields
    * each one's CRC-verified (headers, payload) ([[decodeMessage]]) in
    * wire order. `start` must be a frame boundary; `end` =
    * `Long.MaxValue` reads to EOF.
    *
    * A truncated shard is refused, never read as a shorter one: EOF
    * before a finite `end`, EOF mid-frame and a frame cut by `end` all
    * fail. The one exception is `partialTail`, the metadata scan of a
    * shard a writer may be appending to: there a frame half written at
    * EOF is "not yet written" and ends the read at the last complete
    * frame, the way the reference's parser keeps a partial frame
    * buffered until the rest arrives (subscribe_to_shard.ex:303-310). */
  private[kinesislike] final class MessageReader(
      f: File,
      start: Long = 0L,
      end: Long = Long.MaxValue,
      partialTail: Boolean = false)
      extends Iterator[(Map[String, String], Array[Byte])] with AutoCloseable {
    private val in      = new FileInputStream(f)
    private val channel = in.getChannel
    channel.position(start)
    private val decoder = new FrameDecoder
    private val chunk   = new Array[Byte](ChunkBytes)
    private var ready: Iterator[Array[Byte]] = Iterator.empty
    private var fed     = start
    private var last    = start
    private var crc     = 0

    /** Bytes read from the file so far. */
    def bytesRead: Long = fed - start

    /** End byte of the last message [[next]] returned (`start` before
      * the first). */
    def position: Long = last

    /** Message CRC (last 4 bytes) of the last message [[next]] returned. */
    def lastCrc: Int = crc

    /** Whether the 4 bytes just before `start` are `expected`: a
      * positional read that checks a resumed scan still continues the
      * file it indexed, whose last frame's message CRC was `expected`. */
    def precededBy(expected: Int): Boolean = {
      val b = java.nio.ByteBuffer.allocate(4)
      while (b.hasRemaining && channel.read(b, start - 4 + b.position()) > 0) {}
      !b.hasRemaining && b.getInt(0) == expected
    }

    override def hasNext: Boolean = {
      while (!ready.hasNext) {
        if (fed >= end) {
          require(!decoder.isMidFrame,
            s"truncated event-stream frame: byte $end of $f cuts a frame")
          return false
        }
        val n = in.read(chunk, 0, math.min(ChunkBytes.toLong, end - fed).toInt)
        if (n < 0) {
          if (partialTail) return false
          require(!decoder.isMidFrame,
            s"truncated event-stream frame at EOF in $f")
          require(end == Long.MaxValue,
            s"truncated shard file: EOF at byte $fed of $f, before the " +
              s"read's end byte $end")
          return false
        }
        fed += n
        ready = decoder.feed(chunk, 0, n).iterator
      }
      true
    }

    override def next(): (Map[String, String], Array[Byte]) =
      if (hasNext) {
        val msg = ready.next()
        val decoded = decodeMessage(msg)
        last += msg.length
        crc = be32(msg, msg.length - 4)
        decoded
      } else throw new NoSuchElementException(s"no message left in $f")

    override def close(): Unit = in.close()
  }

  /** Streaming EVENT source over the byte range [`start`, `end`) of a
    * framed shard file (the whole file by default): demuxes each
    * [[MessageReader]] message's headers, decodes its Records envelope
    * (S12), and yields events in wire order (initial-response skipped).
    * This is the reader's input — cursor logic operates per EVENT,
    * mirroring handle_event's one resume-position advance per message. */
  final class FramedEventSource(f: File, start: Long = 0L, end: Long = Long.MaxValue) {
    private val messages = new MessageReader(f, start, end)
    private val events   = messages.flatMap { case (h, p) => decodeToEvent(h, p) }

    /** Next event, or null at end of the range. */
    def readEvent(): KinesisLikeLog.ShardEvent =
      if (events.hasNext) events.next() else null

    /** Bytes of the messages decoded so far. */
    def decodedBytes: Long = messages.position - start

    def close(): Unit = messages.close()
  }

  /** Derive a CORRUPTED twin of a framed log directory: every shard is
    * copied byte-for-byte, then one byte of the `messageIndex`-th
    * message of shard 0 (first payload byte) is flipped — the message
    * CRC can no longer verify, so any read of that shard must FAIL with
    * the pointed CRC error rather than silently skip or truncate
    * (q132's fail-fast contract; the corruption matrix of
    * EventStreamFramingSpec at the unit tier). Idempotent via the ready
    * marker. */
  def deriveCorrupted(
      baseDir: String, targetDir: String, messageIndex: Int): String =
    graft.Fixtures.once(targetDir) {
      KinesisLikeLog.shardFiles(baseDir).zipWithIndex.foreach {
        case (f, idx) =>
          val bytes = Files.readAllBytes(f.toPath)
          if (idx == 0) {
            // Walk the preludes to the target message, then flip its
            // first payload byte.
            var off = 0
            var m   = 0
            while (m < messageIndex) {
              require(off + 4 <= bytes.length,
                s"deriveCorrupted: shard 0 has only $m messages, " +
                  s"wanted index $messageIndex")
              off += be32(bytes, off); m += 1
            }
            require(off + 12 <= bytes.length,
              s"deriveCorrupted: shard 0 has only $m messages, " +
                s"wanted index $messageIndex")
            val headersLen = be32(bytes, off + 4)
            val payloadOff = off + 12 + headersLen
            require(payloadOff < off + be32(bytes, off) - 4,
              s"deriveCorrupted: message $messageIndex has no payload")
            bytes(payloadOff) = (bytes(payloadOff) ^ 0x01).toByte
          }
          Files.write(Paths.get(targetDir, f.getName), bytes)
      }
    }
}
