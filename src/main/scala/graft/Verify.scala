package graft
import java.nio.file.{Files, Paths}
import Harness.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Guard: a raw TimestampType output column (top-level or nested) is
    * always a latent schema/hash mismatch — Spark's parquet dump is
    * UTC-adjusted (DuckDB reads TIMESTAMPTZ) while oracle timestamps
    * are naive. House convention is date_format(...) to a string
    * (q28/q56/q58). Returns the offending top-level column names. */
  private[graft] def rawTimestampColumns(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def hasTs(dt: DataType): Boolean = dt match {
      case _: TimestampType => true
      case s: StructType    => s.fields.exists(f => hasTs(f.dataType))
      case a: ArrayType     => hasTs(a.elementType)
      case m: MapType       => hasTs(m.keyType) || hasTs(m.valueType)
      case _                => false
    }
    schema.fields.collect { case f if hasTs(f.dataType) => f.name }.toSeq
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names (a local-dev
    // convenience) restrict the dump to those queries; the driver's
    // two-arg invocation always dumps everything.
    val sfDir  = args(0)
    val outDir = args(1)
    val only   = args.drop(2).toSet
    val runT0  = System.nanoTime()
    // Annotated int64 micros (not INT96) so the driver-side DuckDB
    // reader sees the same logical type Spark computed with.
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    // Fixture-schema preamble: one stderr line per table, so a driver-side
    // fixture regeneration (r9: events.ts nanos→timestamp_ntz broke 64
    // queries) shows up as an obvious type diff at the top of the log
    // instead of 64 scattered per-query failures. The session's
    // nanosAsLong inference prints a TIMESTAMP(NANOS) column as bigint
    // rather than throwing.
    for (t <- Tables.names) {
      val desc =
        try spark.read.parquet(s"$sfDir/$t.parquet").schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        catch { case e: Throwable => s"UNREADABLE (${e.getMessage})" }
      System.err.println(s"[verify] fixture schema $t: $desc")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val rawTs = rawTimestampColumns(df.schema)
        if (rawTs.nonEmpty) throw new IllegalStateException(
          s"query emits raw TimestampType column(s) ${rawTs.mkString(",")}" +
            "; date_format them to strings (see q58)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftSession.cleanup(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Run manifest: a deterministic all-green correctness sweep produces a
    // byte-identical comparison artifact round over round, which is
    // indistinguishable from a stale file copy. This stamps each dump with
    // when it ran, on what code, and how long it took, so every round's
    // run is self-identifying from the output tree alone.
    locally {
      val commit =
        try {
          val p = new ProcessBuilder("git", "rev-parse", "HEAD")
            .redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
          if (p.waitFor() == 0) out else "unknown"
        } catch { case _: Throwable => "unknown" }
      val manifest =
        s"""{"completed_at":${jstr(java.time.Instant.now.toString)},""" +
          s""""git_commit":${jstr(commit)},""" +
          s""""wall_sec":${"%.1f".formatLocal(java.util.Locale.ROOT,
            (System.nanoTime() - runT0) / 1e9)},""" +
          s""""sf_dir":${jstr(sfDir)},"queries_dumped":${
            SparkEntry.queries.count { case (n, _) =>
              only.isEmpty || only(n) }}}"""
      Files.writeString(Paths.get(s"$outDir/run_manifest.json"),
        manifest + "\n")
    }
    spark.stop()
  }
}
