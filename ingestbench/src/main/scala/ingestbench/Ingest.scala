package ingestbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{IdempotentSink, ProducerRegistry, ProducerRunner, RegistryListener}

/** One supervised ingest stream, driven only through public calls: the
  * `kinesislike` source, `from_json` decode, `foreachBatch` into a fresh
  * [[IdempotentSink]], a [[ProducerRunner]] with zero backoff and its own
  * registry fed by a [[RegistryListener]]. Records when each batch's
  * `sink.apply` committed, which is the instant its rows became visible. */
final class Ingest(
    spark: SparkSession,
    tracer: Tracer,
    val name: String,
    logDir: File,
    workDir: File,
    trigger: Trigger,
    sourceOptions: Map[String, String]) {

  val store    = new File(workDir, "store")
  val sink     = new IdempotentSink(store.getAbsolutePath)
  val registry = new ProducerRegistry
  private val regListener = new RegistryListener(registry)

  /** batchId → epoch µs at which its first successful `sink.apply` returned. */
  val commits = new ConcurrentHashMap[Long, Long]()
  /** (batchId, start µs, end µs) of every successful `sink.apply`. */
  val applies = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  /** Queries started so far; more than one means the runner resubscribed. */
  val started = new ConcurrentLinkedQueue[StreamingQuery]()

  private def applyTimed(batch: DataFrame, id: Long): Unit = {
    val t0 = Clock.nowUs
    var ok = false
    try {
      sink.apply(batch.withColumn("batch_id", lit(id)), id)
      ok = true
    } finally {
      val t1 = Clock.nowUs
      if (ok) {
        commits.putIfAbsent(id, t1)
        applies.add((id, t0, t1))
      }
      tracer.add(Span(tracer.newId(), 0L, "sink.apply", t0, t1,
        Map("batchId" -> id, "ok" -> ok)))
    }
  }

  private def start(): StreamingQuery = {
    val q = EventLog.decoded(spark.readStream.format("kinesislike")
        .option("path", logDir.getAbsolutePath)
        .options(sourceOptions)
        .load())
      .writeStream
      .queryName(name)
      .option("checkpointLocation", new File(workDir, "checkpoint").getAbsolutePath)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => applyTimed(b, id))
      .start()
    started.add(q)
    q
  }

  val runner = new ProducerRunner(name, () => start(), registry,
    backoffMillis = 0L, logDir = Some(logDir.getAbsolutePath))

  /** Run the producer to completion with the registry listener installed. */
  def run(): Boolean = {
    spark.streams.addListener(regListener)
    try runner.run()
    finally spark.streams.removeListener(regListener)
  }

  def ready: Boolean = registry.snapshot.get(name).contains(true)

  def current: Option[StreamingQuery] = started.asScala.lastOption

  def retries: Int = runner.errorLog.size

  /** Visible rows per (batch, arrival µs), for the latency join. */
  def stampsByBatch(): Seq[(Long, Long, Long)] =
    sink.readAll(spark)
      .groupBy(col("batch_id"), unix_micros(col("arrival")).as("stamp"))
      .count()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq

  /** Bytes and data files the sink holds. */
  def storeStats(): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(store).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.size.toLong)
  }
}
