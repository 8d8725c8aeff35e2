package graft

import java.nio.file.Path

import graft.sources.kinesislike.KinesisLikeLog

/** Hand-built kinesislike shards for tests: the shard's lines go
  * through the engine's framed sink (`openLineSink`), so a test shard is
  * `shard-NNNNN.elog` event-stream frames like every engine-built one. */
object ShardLogs {

  /** Write `lines` as shard `shard` of `dir`; with `append` they are
    * added after the shard's existing events. */
  def write(
      dir: Path,
      lines: Seq[String],
      shard: Int = 0,
      append: Boolean = false): Unit = {
    val f = dir.resolve(f"shard-$shard%05d${KinesisLikeLog.FramedExtension}")
    val sink = KinesisLikeLog.openLineSink(f.toFile, append = append)
    try lines.foreach(sink.writeLine)
    finally sink.close()
  }
}
