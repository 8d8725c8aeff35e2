package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.tools.{PartitionInvariance, WindowCensus}

/** The dev run harness: the tools beside Bench and Verify, on the session
  * GraftSession builds, with Bench's billing (GraftSession.billed) where
  * they time a query. Subcommands:
  *
  *   profile <q>...                 warm pass + billed pass per query;
  *                                  prints the billed time, the top stages
  *                                  by wall (exec/GC/shuffle per stage;
  *                                  stage names carry the operator's call
  *                                  site) and, for streaming queries, every
  *                                  microbatch's durationMs split
  *   plans <out> <suffix> <q>...    formatted physical plans, no execution:
  *                                  <out>/<q>_<suffix>.txt
  *   census [sf] [mode]             WindowCensus listing; mode = windows
  *                                  (default) | broadcasts | text | col:<tok>
  *   invariance [sf] [settings]     PartitionInvariance sweep (default 1,64);
  *                                  exits 1 on any divergence or failure
  *   rehearse <src> <out> [factor]  ScaleRehearsal fixture build (default 10)
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_CPUS=<n> \
  *   sbt "runMain graft.Harness <subcommand> <args...>"
  * (profile and plans run on SPARK_GRAFT_SF_DIR; census and invariance
  * take the fixture dir as their first argument, defaulting to it.) */
object Harness {

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL or an error message
    * would otherwise make a consumer's json.load fail. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sf = args.lift(1).getOrElse(GraftSession.sfDir)
    val ok = args.toList match {
      case "profile" :: names if names.nonEmpty => withSession { s =>
        profile(s, GraftSession.sfDir, names); true }
      case "plans" :: out :: suffix :: names if names.nonEmpty =>
        withSession { s =>
          plans(s, GraftSession.sfDir, new java.io.File(out), suffix, names)
          true }
      case "census" :: _ => withSession { s =>
        val rows = args.lift(2).getOrElse("windows") match {
          case "broadcasts"              => WindowCensus.broadcasts(s, sf)
          case "text"                    => WindowCensus.textExchanges(s, sf)
          case m if m.startsWith("col:") => WindowCensus.payloadExchanges(s, sf, m.drop(4))
          case _                         => WindowCensus.enumerate(s, sf)
        }
        rows.foreach { case (name, specs) =>
          println(s"CENSUS $name :: ${specs.mkString(" || ")}")
        }
        true }
      case "invariance" :: _ => withSession { s =>
        PartitionInvariance.run(s, sf, args.lift(2).getOrElse("1,64")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq) }
      case "rehearse" :: src :: out :: rest => withSession { s =>
        ScaleRehearsal.build(s, src, out, rest.headOption.fold(10)(_.toInt))
        true }
      case _ =>
        System.err.println("usage: graft.Harness profile <q>... | " +
          "plans <out> <suffix> <q>... | census [sf] [mode] | " +
          "invariance [sf] [settings] | rehearse <src> <out> [factor]")
        sys.exit(2)
    }
    if (!ok) sys.exit(1)
  }

  private def withSession(body: SparkSession => Boolean): Boolean = {
    val s = GraftSession.local(GraftSession.cpus)
    try body(s) finally s.stop()
  }

  private case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      execMs: Long, gcMs: Long, shuffleReadMb: Double, shuffleWriteMb: Double)

  private def profile(
      spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val stages  = ArrayBuffer.empty[Stage]
    val batches = ArrayBuffer.empty[String]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) stages.synchronized {
          val i = e.stageInfo
          val m = i.taskMetrics
          stages += Stage(i.stageId, i.name.linesIterator.next().take(90),
            i.numTasks,
            (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
              .getOrElse(0L),
            m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (record) batches.synchronized {
          val p = e.progress
          batches += s"batch=${p.batchId} rows=${p.numInputRows} durationMs=" +
            p.durationMs.asScala.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")
        }
    })
    val fmt = (v: Double) => "%.2f".formatLocal(java.util.Locale.ROOT, v)
    for (n <- names) {
      val warm = GraftSession.billed(spark, n, sfDir)
      // Listener delivery is asynchronous: drain before and after the
      // billed pass so every event lands in the pass that caused it.
      Bridge.drainListeners(spark)
      stages.synchronized(stages.clear()); batches.synchronized(batches.clear())
      record = true
      val billed = GraftSession.billed(spark, n, sfDir)
      Bridge.drainListeners(spark)
      record = false
      println(s"[profile] $n warm=${fmt(warm)} s billed=${fmt(billed)} s " +
        s"stages=${stages.size} microbatches=${batches.size} " +
        s"(sf=$sfDir cpus=${GraftSession.cpus})")
      for (s <- stages.sortBy(-_.wallMs).take(25))
        println(f"[profile]   stage=${s.id}%5d wall=${s.wallMs}%6d ms " +
          f"exec=${s.execMs}%6d ms gc=${s.gcMs}%5d ms tasks=${s.tasks}%4d " +
          f"sr=${s.shuffleReadMb}%8.2f MB sw=${s.shuffleWriteMb}%8.2f MB " +
          s"${s.name}")
      println(s"[profile]   total stage wall=${stages.map(_.wallMs).sum} ms " +
        "(billed includes driver/plan gaps)")
      batches.foreach(b => println(s"[profile]   $b"))
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: java.io.File,
      suffix: String, names: Seq[String]): Unit = {
    outDir.mkdirs()
    for (n <- names) {
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        new java.io.File(outDir, s"${n}_$suffix.txt").toPath, plan)
      println(s"[plandump] wrote $n ($suffix): ${plan.linesIterator.size} lines")
    }
  }
}
