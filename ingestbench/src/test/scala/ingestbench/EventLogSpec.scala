package ingestbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kinesislike.{EventStreamFraming, KinesisLikeLog}

/** The generator's checksum and the sink-side check must agree: the same
  * records give the generator's checksum, and a missing or duplicated
  * record is counted. The tail generator's appends stay inside a page and
  * read back as the records written. Run with `sbt test` inside
  * ingestbench/. */
class EventLogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def stored(records: Seq[(String, Long)]) = {
    import spark.implicits._
    records.map { case (shard, seq) =>
      val p = EventLog.payload(7L, shard.takeRight(1).toInt, seq)
      (shard, seq, p.user, p.kind, p.amount, p.note)
    }.toDF("shardId", "seq", "user", "kind", "amount", "note")
  }

  private def expected(counts: Map[String, Long]) = EventLog.Expected(counts,
    counts.map { case (shard, n) =>
      shard -> (0L until n).map(q =>
        EventLog.checksum(shard, q, EventLog.payload(7L, shard.takeRight(1).toInt, q))).sum
    })

  test("the Spark checksum column equals the generator's checksum") {
    val df = stored(Seq("shard-00001" -> 0L, "shard-00001" -> 5L))
    val got = df.select(EventLog.checksumColumn).collect().map(_.getLong(0)).toSeq
    val want = Seq(0L, 5L).map(q =>
      EventLog.checksum("shard-00001", q, EventLog.payload(7L, 1, q)))
    assert(got == want)
  }

  test("a payload's JSON decodes to the fields the checksum covers") {
    import spark.implicits._
    val p = EventLog.payload(3L, 2, 9L)
    val row = Seq(p.json).toDF("j")
      .select(from_json(col("j"), EventLog.PayloadSchema).as("p")).select("p.*").head()
    assert((row.getInt(0), row.getString(1), row.getLong(2), row.getString(3)) ==
      (p.user, p.kind, p.amount, p.note))
  }

  test("exactly-once content passes") {
    val exp = expected(Map("shard-00001" -> 3L, "shard-00002" -> 2L))
    val v = EventLog.verify(spark, stored(Seq("shard-00001" -> 0L, "shard-00001" -> 1L,
      "shard-00001" -> 2L, "shard-00002" -> 0L, "shard-00002" -> 1L)), exp)
    assert(v == EventLog.Verdict(5L, 0L, checksumOk = true))
  }

  test("missing, duplicated and unknown records each count as failures") {
    val exp = expected(Map("shard-00001" -> 3L))
    val v = EventLog.verify(spark, stored(Seq("shard-00001" -> 0L, "shard-00001" -> 0L,
      "shard-00001" -> 1L, "shard-00001" -> 9L)), exp)
    // seq 2 missing, seq 0 twice, seq 9 never written
    assert(v.failed == 3L)
    assert(!v.checksumOk)
  }

  test("a filler has the size asked for") {
    Seq(EventLog.MinFiller, EventLog.MinFiller + 1, 3000).foreach(n =>
      assert(EventLog.filler(n).length == n))
  }

  test("tail appends stay inside a page and read back as the records written") {
    val dir = Files.createTempDirectory("openlog").toFile
    val log = new EventLog.OpenLog(dir, 5L)
    (0 until 300).foreach(i => log.append(i % 3, Seq.fill(1 + i % 11)(1000L + i)))
    log.close()
    (0 until 3).foreach { s =>
      val f = new File(dir, EventLog.shardName(s) + KinesisLikeLog.FramedExtension)
      val bytes = Files.readAllBytes(f.toPath)
      var at = 0
      while (at < bytes.length) {
        val len = ByteBuffer.wrap(bytes, at, 4).getInt
        assert(at / EventLog.PageBytes == (at + len - 1) / EventLog.PageBytes,
          s"message at $at of $len bytes crosses a page boundary")
        at += len
      }
      assert(at == bytes.length)
      val in = new EventStreamFraming.FramedEventSource(f)
      val seqs = try Iterator.continually(in.readEvent()).takeWhile(_ != null).flatMap {
        case KinesisLikeLog.RecordsEvent(_, recs) => recs.map(_.seq)
        case _                                   => Nil
      }.toList finally in.close()
      assert(seqs == (0L until log.expected.counts(EventLog.shardName(s))).toList)
      assert(KinesisLikeLog.maxSeq(f) == seqs.last)
    }
    graft.Fs.deleteRecursively(dir)
  }
}
