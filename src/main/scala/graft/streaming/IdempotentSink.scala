package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Exactly-once delivery to an EXTERNAL store via `foreachBatch` — the
  * delivery tier Spark's own file/Kafka sinks don't cover (they keep
  * their own commit logs; an external table, API, or key-value store
  * does not). Structured Streaming guarantees `foreachBatch` sees each
  * (batchId, data) pair deterministically under replay: after a crash
  * between "data written" and "checkpoint committed", the SAME batchId
  * is re-delivered with the SAME rows. Idempotence therefore only needs
  * a transactional `(batchId → already applied?)` check on the store
  * side, which is exactly what this sink provides for a directory-backed
  * store:
  *
  *  - each batch lands under `store/batch=<id>/` via write-then-rename:
  *    one Spark job writes the batch's parquet files into a scratch dir
  *    unique to the attempt, and renaming that dir into place is the
  *    batch's ONE commit (there is no second commit protocol under it);
  *  - a replayed batchId finds its directory already present and
  *    SKIPS — no duplicates, no partial rewrites;
  *  - readers see only committed batch dirs (the temp suffix is never
  *    listed as a batch), and inside a dir only complete files: a task
  *    writes a hidden `_`-prefixed file and renames it, without
  *    overwrite, to `part-<partition>-<uuid>-c000.<codec>.parquet` once
  *    it is closed. A failed attempt, or one that loses that rename to
  *    another attempt of its partition, deletes its own file.
  *
  * The files are written by Spark's parquet `OutputWriterFactory`
  * (`ParquetFileFormat.prepareWrite`), so the codec, the timestamp type
  * and the legacy-format settings still come from the session, and each
  * file has its `.crc`. Partition 0 always writes a file, so a zero-row
  * batch still carries its schema; other empty partitions write none.
  * The sink does NOT honor `spark.sql.files.maxRecordsPerFile` (one
  * file per partition) nor any committer setting
  * (`spark.sql.sources.commitProtocolClass`,
  * `spark.sql.parquet.output.committer.class`,
  * `mapreduce.fileoutputcommitter.*`), and writes no `_SUCCESS` or
  * summary file. The tasks get [[graft.GraftSession.taskConf]], not the
  * session's full Hadoop conf. Against Spark's `DataFrameWriter` and its
  * `FileOutputCommitter`, this took a traced `ingestbench` `tail` run's
  * `sink.apply_ms.p50` from 110 to 66 ms (4 vCPUs, `tools/sinkspans.py`).
  *
  * At 100 TB the same shape holds against object stores with
  * atomic-commit primitives (multipart-complete, conditional put) or a
  * database transaction holding the batchId ledger; the reference's
  * analog is the producer's at-least-once delivery + the consumer-side
  * dedup this sink makes unnecessary (producer.ex:159-168 redelivery).
  */
final class IdempotentSink(storeDir: String) extends Serializable {

  import IdempotentSink.{CompactedPrefix, LedgerFile, writeParquet}

  /** The foreachBatch handler: `stream.writeStream.foreachBatch(sink.apply _)`. */
  def apply(batch: DataFrame, batchId: Long): Unit = {
    val target = Paths.get(storeDir, s"batch=$batchId")
    if (Files.exists(target)) return // replayed batch: already committed
    if (absorbedIds.contains(batchId)) return // compacted away: committed
    // Scratch is unique PER ATTEMPT: two concurrent deliveries of the
    // same batchId (zombie driver during failover) must never share a
    // temp dir, or the loser's still-open writers would bleed into the
    // winner's committed directory.
    val tmp = Paths.get(
      storeDir, s".inprogress-$batchId-${java.util.UUID.randomUUID()}")
    writeParquet(batch, tmp)
    // ATOMIC_MOVE: if the store's filesystem cannot rename atomically,
    // fail loudly rather than let Files.move degrade to copy+delete —
    // a half-copied batch dir would read as committed forever.
    try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // Losing the race surfaces as FileAlreadyExists on some
      // filesystems but as a generic ENOTEMPTY FileSystemException on
      // Linux rename(2) (the target is a non-empty committed dir) —
      // treat either as "other attempt committed" IF the target really
      // exists; anything else is a genuine failure and propagates.
      case e: java.nio.file.FileSystemException if Files.exists(target) =>
        graft.Fs.deleteRecursively(tmp.toFile)
    }
    // Reclaim scratch left by attempts that crashed between write and
    // rename (their UUID dirs would otherwise accumulate a full batch
    // copy per crash): this batchId is committed, so every remaining
    // .inprogress dir for it is dead.
    val d = new java.io.File(storeDir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s".inprogress-$batchId-"))
      .foreach(graft.Fs.deleteRecursively)
  }

  /** Batches applied so far: live `batch=` dirs plus every id recorded
    * in the newest compacted segment's ledger. */
  def committedBatchIds: Seq[Long] =
    (liveBatchDirs.map(_._1) ++ absorbedIds).distinct.sorted

  // ---------------------------------------------------------------------
  // Compaction. A long-running stream commits one `batch=<id>` dir per
  // microbatch forever — at 100 TB-stream scale the store needs periodic
  // consolidation, and the consolidation must not reopen the
  // exactly-once window. The commit point is a single atomic rename of
  // `compacted=<hi>`, whose `_ledger` file (written BEFORE the rename,
  // so it commits atomically with the data) records every absorbed
  // batchId. The skip check above consults that ledger, so a batchId
  // replayed AFTER its dir was compacted away is still recognized as
  // applied. Absorbed inputs are garbage-collected after the rename;
  // a crash anywhere leaves either the old state (rename not yet
  // committed — tmp dir is reclaimed on the next compact) or the new
  // state with stale dirs (reclaimed by the next gc), and readers via
  // [[readAll]] see exactly-once data throughout because they exclude
  // everything the newest ledger lists. Like any table-maintenance job,
  // compaction assumes a single maintainer at a time.
  // ---------------------------------------------------------------------

  private def listStore: Seq[java.io.File] =
    Option(new java.io.File(storeDir).listFiles()).getOrElse(Array.empty).toSeq

  private def liveBatchDirs: Seq[(Long, java.io.File)] = listStore
    .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    .map(f => (f.getName.stripPrefix("batch=").toLong, f))
    .sortBy(_._1)

  private def compactedDirs: Seq[(Long, java.io.File)] = listStore
    .filter(f => f.isDirectory && f.getName.startsWith(CompactedPrefix))
    .map(f => (f.getName.stripPrefix(CompactedPrefix).toLong, f))
    .sortBy(_._1)

  private def newestCompacted: Option[(Long, java.io.File)] =
    compactedDirs.lastOption

  private def ledgerIds(dir: java.io.File): Set[Long] = {
    val lf = new java.io.File(dir, LedgerFile)
    if (!lf.exists()) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(lf.toPath).asScala
        .filter(_.nonEmpty).map(_.toLong).toSet
    }
  }

  private def absorbedIds: Set[Long] =
    newestCompacted.map { case (_, f) => ledgerIds(f) }.getOrElse(Set.empty)

  /** Everything delivered exactly once: the newest compacted segment
    * plus the batch dirs its ledger does not list. A compacted store
    * must be read through this (a bare `spark.read.parquet(store)`
    * would treat `batch=`/`compacted=` as conflicting partition
    * columns); stores that never compact keep working either way. */
  def readAll(spark: SparkSession): DataFrame = {
    val absorbed = absorbedIds
    val inputs = newestCompacted.map(_._2.getAbsolutePath).toSeq ++
      liveBatchDirs.collect {
        case (id, f) if !absorbed.contains(id) => f.getAbsolutePath
      }
    require(inputs.nonEmpty, s"empty store: $storeDir")
    spark.read.parquet(inputs: _*)
  }

  /** Consolidate all but the newest `keepLast` batch dirs (plus any
    * previous compacted segment) into one `compacted=<hi>` segment.
    * No-op when there is nothing to absorb. */
  def compact(spark: SparkSession, keepLast: Int): Unit = {
    gc()
    val live = liveBatchDirs
    if (live.size <= keepLast) return
    val absorb = live.dropRight(keepLast)
    val hi     = absorb.last._1
    val prev   = newestCompacted
    require(prev.forall(_._1 < hi), s"compact($keepLast) would not advance")
    val target = new java.io.File(storeDir, s"$CompactedPrefix$hi")
    if (!target.exists()) {
      val inputs = prev.map(_._2.getAbsolutePath).toSeq ++
        absorb.map(_._2.getAbsolutePath)
      val tmp = Paths.get(
        storeDir, s".compact-tmp-${java.util.UUID.randomUUID()}")
      writeParquet(spark.read.parquet(inputs: _*), tmp)
      val ids = (prev.map(p => ledgerIds(p._2)).getOrElse(Set.empty) ++
        absorb.map(_._1)).toSeq.sorted
      Files.writeString(tmp.resolve(LedgerFile), ids.mkString("\n"))
      // Same atomic-rename-or-lose-the-race contract as apply().
      try Files.move(
        tmp, target.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException if target.exists() =>
          graft.Fs.deleteRecursively(tmp.toFile)
      }
    }
    gc()
  }

  /** Idempotent reclaim of everything superseded by the newest
    * compacted segment: older segments, absorbed batch dirs, and
    * orphaned compaction scratch. */
  def gc(): Unit = {
    newestCompacted.foreach { case (hi, newest) =>
      val ids = ledgerIds(newest)
      compactedDirs.filter(_._1 < hi).foreach(p =>
        graft.Fs.deleteRecursively(p._2))
      liveBatchDirs.filter(p => ids.contains(p._1)).foreach(p =>
        graft.Fs.deleteRecursively(p._2))
    }
    listStore.filter(_.getName.startsWith(".compact-tmp-"))
      .foreach(graft.Fs.deleteRecursively)
  }
}

object IdempotentSink {
  private val CompactedPrefix = "compacted="
  private val LedgerFile      = "_ledger"

  /** Writes `df` as parquet files into the new directory `dir` with one
    * Spark job, one file per non-empty partition (and always one for
    * partition 0). Runs under its own SQL execution id, as a `Dataset`
    * action does, so the tasks see the session's SQL confs. */
  private def writeParquet(df: DataFrame, dir: java.nio.file.Path): Unit = {
    Files.createDirectories(dir)
    val parts = PartWriter(df, dir.toUri.toString)
    val qe    = df.queryExecution
    val sc    = df.sparkSession.sparkContext
    SQLExecution.withNewExecutionId(qe, Some("IdempotentSink.write")) {
      val rdd  = qe.toRdd
      val rows = if (rdd.partitions.nonEmpty) rdd
                 else sc.parallelize(Seq.empty[InternalRow], 1)
      sc.runJob(rows, (t: TaskContext, it: Iterator[InternalRow]) =>
        parts(t.partitionId(), t.taskAttemptId(), it))
    }
  }

  /** What one task of a parquet write into `dir` needs and nothing more:
    * the schema, Spark's parquet writer factory, and the conf it writes
    * with. The conf is `GraftSession.taskConf` plus the parquet keys
    * `prepareWrite` sets, a few KB, which every task deserializes. */
  private[streaming] final class PartWriter(
      dir: String, schema: StructType, factory: OutputWriterFactory,
      val conf: SerializableConfiguration) extends Serializable {
    private val writeId = UUID.randomUUID().toString

    /** Writes attempt `attempt` of partition `part`: `rows` into a hidden
      * file, then renamed to the partition's visible name unless another
      * attempt got there first. Nothing for an empty partition but 0. */
    def apply(part: Int, attempt: Long, rows: Iterator[InternalRow]): Unit =
      if (part == 0 || rows.hasNext) {
        val ctx  = new TaskAttemptContextImpl(conf.value, new TaskAttemptID())
        val name = f"part-$part%05d-$writeId-c000${factory.getFileExtension(ctx)}"
        val fc   = FileContext.getFileContext(new HPath(dir).toUri, ctx.getConfiguration)
        val tmp  = new HPath(dir, s"_$attempt-$name")
        val out  = factory.newInstance(tmp.toString, schema, ctx)
        try {
          rows.foreach(r => out.write(r))
          out.close()
        } catch {
          case t: Throwable =>
            try out.close() catch { case c: Throwable => t.addSuppressed(c) }
            fc.delete(tmp, false)
            throw t
        }
        // FileContext renames without overwrite, and the file's .crc with it.
        try fc.rename(tmp, new HPath(dir, name))
        catch { case _: FileAlreadyExistsException => fc.delete(tmp, false) }
      }
  }

  private[streaming] object PartWriter {
    /** A writer of `df`'s rows into `dir` (a `file:` URI). */
    def apply(df: DataFrame, dir: String): PartWriter = {
      val job    = Job.getInstance(graft.GraftSession.taskConf(df.sparkSession))
      val schema = df.schema
      val factory = new ParquetFileFormat()
        .prepareWrite(df.sparkSession, job, Map.empty, schema)
      new PartWriter(dir, schema, factory,
        new SerializableConfiguration(job.getConfiguration))
    }
  }
}
