package graft.streaming

import java.io.{ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.{ShardLogs, SparkSpec}
import graft.sources.kinesislike.KinesisLikeLog

/** The sink's one write path: each task writes its partition with Spark's
  * parquet writer straight into the attempt's `.inprogress` dir, and the
  * dir rename is the batch's only commit. Pinned here: the files match
  * what `DataFrameWriter.parquet` writes, a task file is visible only
  * once it is complete and only one attempt's file per partition is,
  * a failed job commits nothing, and the tasks ship a conf without
  * Hadoop's defaults. */
class IdempotentSinkWriteSpec extends SparkSpec {

  /** A non-null long, a nullable string, a string, a timestamp and a
    * constant batch id, over 4 partitions. */
  private def frame(rows: Long): DataFrame =
    spark.range(0, rows, 1, 4).select(
      col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("n"), col("id")))
        .as("maybe"),
      format_string("k%05d", col("id")).as("key"),
      timestamp_micros(col("id") * 1000003L + 1700000000000000L).as("ts"),
      lit(7L).as("batch_id"))

  private def files(dir: Path): Seq[String] =
    Option(dir.toFile.list()).getOrElse(Array.empty[String]).toSeq.sorted

  private def parts(dir: Path): Seq[Path] =
    files(dir).filter(_.endsWith(".parquet"))
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).map(dir.resolve)

  private def footer(f: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(f.toUri), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData finally r.close()
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("id").collect().toSeq

  for ((label, rows) <- Seq("rows" -> 500L, "zero rows" -> 0L))
    test(s"$label: the sink's files match DataFrameWriter.parquet's footer " +
      "schema, key-value keys and rows, and each has its .crc") {
      val df    = frame(rows)
      val store = Files.createTempDirectory("graft_sinkwrite_store")
      val ref   = Files.createTempDirectory("graft_sinkwrite_ref").resolve("out")
      new IdempotentSink(store.toString)(df, 7L)
      df.write.parquet(ref.toString)
      val got = store.resolve("batch=7")
      val (gotParts, refParts) = (parts(got), parts(ref))
      assert(gotParts.nonEmpty && refParts.nonEmpty)
      if (rows == 0) assert(gotParts.size == 1, s"zero rows is one file: $gotParts")
      val (g, r) = (footer(gotParts.head), footer(refParts.head))
      assert(g.getSchema == r.getSchema, s"${g.getSchema} vs ${r.getSchema}")
      val rep = g.getSchema.getFields.asScala
        .map(f => f.getName -> f.getRepetition.name).toMap
      assert(rep("id") == "REQUIRED" && rep("batch_id") == "REQUIRED" &&
        rep("maybe") == "OPTIONAL", rep)
      assert(g.getKeyValueMetaData.keySet == r.getKeyValueMetaData.keySet)
      assert(g.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata") ==
        r.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      gotParts.foreach(p => assert(
        Files.exists(got.resolve(s".${p.getFileName}.crc")), s"no .crc for $p"))
      val back = spark.read.parquet(got.toString)
      assert(back.schema == spark.read.parquet(ref.toString).schema)
      assert(sorted(back) == sorted(spark.read.parquet(ref.toString)))
      assert(back.count() == rows)
      // One commit: no committer scratch or marker, no hidden file left.
      assert(files(got).forall(n => !n.startsWith("_")), files(got))
      assert(files(store) == Seq("batch=7"), files(store))
    }

  test("compaction writes through the same path: no _temporary or " +
    "_SUCCESS anywhere in the store") {
    val store = Files.createTempDirectory("graft_sinkwrite_compact")
    val sink  = new IdempotentSink(store.toString)
    (0L to 3L).foreach(id => sink(frame(20).withColumn("batch_id", lit(id)), id))
    sink.compact(spark, keepLast = 1)
    val names = Files.walk(store).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(!names.exists(n => n == "_temporary" || n == "_SUCCESS"), names)
    assert(files(store) == Seq("batch=3", "compacted=2"))
    assert(sink.readAll(spark).count() == 80L)
  }

  test("a reader fault in the middle of a write task is retried: every " +
    "row is stored once and no partial file is visible") {
    val log = Files.createTempDirectory("graft_sinkwrite_fault")
    def rec(seq: Long): String = {
      val b64 = java.util.Base64.getEncoder
        .encodeToString(s"p$seq".getBytes(UTF_8))
      s"$seq\t${1000000L + seq}\tk\t$b64"
    }
    (0 until 4).foreach(sh =>
      ShardLogs.write(log, (0L until 40L).map(rec) :+ KinesisLikeLog.ClosedMarker, sh))
    val df = spark.read.format("kinesislike")
      .option("path", log.toString)
      .option("failOnceAfter", "20")
      .load()
    val store = Files.createTempDirectory("graft_sinkwrite_fault_store")
    new IdempotentSink(store.toString)(df, 0L)
    assert(Files.exists(log.resolve("_FAILED_ONCE")), "the fault must fire")
    val got = store.resolve("batch=0")
    assert(files(got).forall(n => !n.startsWith("_")), files(got))
    val seqs = spark.read.parquet(got.toString)
      .select(col("shardId"), col("sequenceNumber").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(seqs.sorted == (0 until 4).flatMap(sh =>
      (0L until 40L).map(s => (f"shard-$sh%05d", s))).sorted)
  }

  test("running one partition's task body twice leaves one visible file, " +
    "the first attempt's") {
    val dir = Files.createTempDirectory("graft_sinkwrite_twice")
    val df  = frame(10).coalesce(1)
    val w   = IdempotentSink.PartWriter(df, dir.toUri.toString)
    def rows(d: DataFrame): Seq[InternalRow] =
      d.queryExecution.toRdd.map(_.copy()).collect().toSeq
    w(0, 1L, rows(df).iterator)
    w(0, 2L, rows(frame(10).where(col("id") > 4).coalesce(1)).iterator)
    assert(parts(dir).size == 1, files(dir))
    assert(files(dir).forall(n => !n.startsWith("_")), files(dir))
    assert(files(dir).count(_.endsWith(".crc")) == 1, files(dir))
    assert(spark.read.parquet(dir.toString).count() == 10L)
  }

  test("a job that fails before the dir rename commits nothing, and the " +
    "next commit of that id reclaims its .inprogress dir") {
    val store = Files.createTempDirectory("graft_sinkwrite_fail")
    val sink  = new IdempotentSink(store.toString)
    val bad = frame(100).withColumn("boom",
      when(col("id") === 77, raise_error(lit("injected"))).otherwise(lit(1)))
    intercept[Exception](sink(bad, 5L))
    assert(!Files.exists(store.resolve("batch=5")))
    assert(files(store).count(_.startsWith(".inprogress-5-")) == 1, files(store))
    sink(frame(100), 5L)
    assert(files(store) == Seq("batch=5"), files(store))
    assert(spark.read.parquet(store.resolve("batch=5").toString).count() == 100L)
  }

  test("the sink's tasks get a conf with no Hadoop default entry, under " +
    "8 KB serialized") {
    val w = IdempotentSink.PartWriter(frame(10),
      Files.createTempDirectory("graft_sinkwrite_conf").toUri.toString)
    def serialized(c: SerializableConfiguration): Array[Byte] = {
      val bytes = new ByteArrayOutputStream()
      val out   = new ObjectOutputStream(bytes)
      out.writeObject(c)
      out.close()
      bytes.toByteArray
    }
    val bytes = serialized(w.conf)
    val shipped = new ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[SerializableConfiguration].value
    val keys = shipped.iterator().asScala.map(_.getKey).toSeq
    val defaults = keys.filter(k => Option(shipped.getPropertySources(k))
      .exists(_.exists(_.endsWith("-default.xml"))))
    assert(defaults.isEmpty, s"default entries shipped: $defaults")
    assert(bytes.length < 8192, s"task conf is ${bytes.length} B (${keys.size} entries)")
    // The session's binding of file: and the parquet write keys are there.
    assert(shipped.get("fs.AbstractFileSystem.file.impl") != null)
    assert(shipped.get("parquet.write.support.class") != null)
    // What it replaced: the full session conf, mostly defaults.
    val full = spark.sessionState.newHadoopConf()
    assert(full.size() > 500)
    info(s"task conf: ${keys.size} entries, ${bytes.length} B; full session " +
      s"conf: ${full.size()} entries, " +
      s"${serialized(new SerializableConfiguration(full)).length} B")
  }

  test("IdempotentSink.scala has no DataFrameWriter call left") {
    val code = Files.readAllLines(
      Paths.get("src/main/scala/graft/streaming/IdempotentSink.scala")).asScala
      .map(_.trim).filterNot(l => l.startsWith("*") || l.startsWith("//"))
    // DataFrame.write: the accessor, chained or ending a line.
    val writer = """\.write(\.|$)""".r
    assert(code.count(l => writer.findFirstIn(l).isDefined) == 0,
      code.filter(l => writer.findFirstIn(l).isDefined))
  }
}
