package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Properties}

import graft.sources.kinesislike.{EventStreamFraming, KinesisLikeLog}
import graft.sources.kinesislike.EventStreamFraming._

/** Generative invariants for the event-stream message layer: for ANY
  * message sequence (payload sizes 0..64 KB, so frames straddle many
  * chunk boundaries and preludes split mid-read) and ANY partition of
  * the wire bytes into chunks, feeding the chunks in order reproduces
  * exactly the original messages byte-for-byte — headers, payload and
  * CRCs included — with the decoder frame-aligned at wire end. The
  * `{buffer, msg_bytes_left}` machine is split-point-invariant
  * (subscribe_to_shard.ex:277-327's contract; EventStreamFramingSpec
  * pins the 1-byte and 16 KB extremes, this property sweeps the space
  * between). */
object FramingProps extends Properties("EventStreamFraming") {

  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val genPayload: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    4 -> Gen.choose(1, 300).map(n =>
      Array.tabulate(n)(i => (i % 251).toByte)),
    2 -> Gen.choose(16 * 1024, 64 * 1024).map(n =>
      Array.tabulate(n)(i => ((i * 31 + 5) % 251).toByte)))

  private val genMessage: Gen[Array[Byte]] = for {
    payload <- genPayload
    kind    <- Gen.oneOf(0, 1, 2)
  } yield kind match {
    case 0 => encodeEvent(SubscribeEventType, payload)
    case 1 => encodeEvent(InitialResponseType, payload)
    case 2 => encodeException("transport_closed", payload)
  }

  private val genCase: Gen[(Seq[Array[Byte]], Seq[Int])] = for {
    messages <- Gen.nonEmptyListOf(genMessage)
    wireLen = messages.map(_.length).sum
    // Random cut points partition the wire into chunks of uneven sizes.
    cuts <- Gen.listOf(Gen.choose(1, math.max(1, wireLen - 1)))
  } yield (messages, cuts.distinct.sorted)

  property("any chunk split of any message sequence reassembles the " +
    "original messages byte-identically, CRC-verified") =
    Prop.forAll(genCase) { case (messages, cuts) =>
      val wire   = messages.toArray.flatten
      val bounds = (0 +: cuts.filter(_ < wire.length)) :+ wire.length
      val dec    = new FrameDecoder
      val got = bounds.sliding(2).flatMap { case Seq(a, b) =>
        dec.feed(wire, a, b - a)
      }.toSeq
      !dec.isMidFrame &&
        got.length == messages.length &&
        got.zip(messages).forall { case (g, e) =>
          java.util.Arrays.equals(g, e) &&
            // Every reassembled message decodes clean: both CRCs verify
            // and the payload round-trips.
            java.util.Arrays.equals(decodeMessage(g)._2,
              decodeMessage(e)._2)
        }
    }

  property("payloads containing newline and tab bytes survive framing " +
    "(the binary transparency the text encoding cannot offer)") =
    Prop.forAll(Gen.choose(1, 500)) { n =>
      val payload = ("a\tb\nc\r" * n).getBytes(UTF_8)
      val msg = encodeEvent(SubscribeEventType, payload)
      val dec = new FrameDecoder
      val got = dec.feed(msg, 0, msg.length)
      got.length == 1 &&
        java.util.Arrays.equals(decodeMessage(got.head)._2, payload)
    }

  property("the line<->message translation is a bijection on the log " +
    "vocabulary: records, the closed marker, and typed #ERROR markers " +
    "all survive encodeLine >> decodeMessage >> decodeToLine") =
    Prop.forAll(for {
      seq  <- Gen.choose(0L, 1000000L)
      body <- Gen.alphaNumStr.map(_.take(64))
      kind <- Gen.oneOf(0, 1, 2)
    } yield kind match {
      case 0 =>
        val b64 = java.util.Base64.getEncoder
          .encodeToString(body.getBytes(UTF_8))
        s"$seq\t${1000000L + seq}\tk$seq\t$b64"
      case 1 => graft.sources.kinesislike.KinesisLikeLog.ClosedMarker
      case 2 =>
        s"${graft.sources.kinesislike.KinesisLikeLog.ErrorMarker}" +
          s"\thttp_error:${400 + (seq % 200)}\t${1 + seq % 3}"
    }) { line =>
      // The line parses to its event; the event's message decodes back
      // to that event.
      val event  = KinesisLikeLog.parseLine(line)
      val (h, p) = decodeMessage(EventStreamFraming.encodeShardEvent(event))
      decodeToEvent(h, p) == Some(event)
    }

  property("multi-record envelope events are grouping-invariant: for " +
    "ANY records-per-event, sink >> event-source >> flatten reproduces " +
    "the record lines exactly, with per-event continuations equal to " +
    "each group's last sequence number") =
    Prop.forAll(for {
      n   <- Gen.choose(1, 40)
      per <- Gen.choose(1, 7)
    } yield (n, per)) { case (n, per) =>
      val lines = (1L to n.toLong).map { seq =>
        val b64 = java.util.Base64.getEncoder
          .encodeToString(s"payload-$seq".getBytes(UTF_8))
        s"$seq\t${1000000L + seq}\tk$seq\t$b64"
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_fp_group")
      val f   = dir.resolve("shard-00000.elog").toFile
      val sink = graft.sources.kinesislike.KinesisLikeLog
        .openLineSink(f, recordsPerEvent = per)
      try lines.foreach(sink.writeLine)
      finally sink.close()
      val src = graft.sources.kinesislike.KinesisLikeLog.openEvents(f)
      val events = try Iterator.continually(src.readEvent())
        .takeWhile(_ != null).toList
      finally src.close()
      val conts = events.collect {
        case graft.sources.kinesislike.KinesisLikeLog.RecordsEvent(c, rs) =>
          (c, rs.map(_.seq))
      }
      val expected = lines.map(_.split('\t')(0).toLong).grouped(per)
        .map(g => (g.last, g.toSeq)).toList
      def records(es: Seq[KinesisLikeLog.ShardEvent]) =
        es.collect { case KinesisLikeLog.RecordsEvent(_, rs) => rs }.flatten
      conts == expected &&
        records(events) == records(lines.map(KinesisLikeLog.parseLine))
    }
}
