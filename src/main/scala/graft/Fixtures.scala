package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The derived-fixture store: every write-once table, layout copy and
  * shard log built from an sf dir. A fixture's directory name is its key:
  *
  *   <Warehouse>/<name>_<sf tag>_v<version>_<fingerprint>
  *   <Logs>/<sf tag>_v<version>_<fingerprint>_<variant>
  *
  * The version is bumped whenever a fixture's formula or on-disk format
  * changes; the [[fingerprint]] binds it to the sf dir's bytes. A shard
  * log leads with the sf tag, so a log is found by its sf dir's name.
  * [[once]] is the one ready rule (Spark's `_SUCCESS` marks a built
  * dir), and a build deletes its stale siblings: the same fixture under
  * another version or fingerprint, and everything derived from it
  * (named `<its key>_…`). Two sf dirs sharing a basename therefore evict
  * each other's fixtures when used in turn.
  *
  * SINGLE-PROCESS ASSUMPTION: builds are serialized on this object,
  * which is enough for one JVM's Verify/Bench/test runs. Two graft JVMs
  * racing a cold root can overwrite a fixture the other is mid-read
  * (observed: FAILED_READ_FILE on the bucketed orders table when a test
  * suite and a Verify sweep started concurrently after a bench deleted
  * the root). Run gates serially, or give each JVM its own
  * java.io.tmpdir. A production lake solves this with an atomic-publish
  * table format — out of scope for test fixtures. */
object Fixtures {

  private val Warehouse: String =
    new File(sys.props("java.io.tmpdir"), "graft_warehouse").getAbsolutePath
  private val Logs: String =
    new File(sys.props("java.io.tmpdir"), "graft_kinesislike").getAbsolutePath

  private val Ready = "_SUCCESS"

  /** The sf dir's name with dots escaped (safe in a catalog table name). */
  def tag(d: String): String = new File(d).getName.replace('.', '_')

  /** Hash of every part file's (table, name, length, mtime) over the sf
    * dir's [[Tables.names]], skipping missing tables: an sf dir
    * regenerated in place gets a new key, so it never serves a fixture
    * built from the old bytes. */
  def fingerprint(d: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f).filter(_.exists())
    val parts = Tables.names.flatMap { t =>
      walk(new File(d, s"$t.parquet"))
        .map(f => s"$t/${f.getName}:${f.length}:${f.lastModified}")
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(parts.mkString("\n").getBytes("UTF-8"))
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** The [[Warehouse]] directory of fixture `name` for sf dir `d`. */
  def warehouse(name: String, version: Int, d: String): String =
    key(Warehouse, s"${name}_${tag(d)}", version, d)

  /** The [[Logs]] directory of shard-log `variant` for sf dir `d`. */
  def shardLog(variant: String, version: Int, d: String): String =
    key(Logs, tag(d), version, d) + "_" + variant

  private def key(root: String, lead: String, version: Int, d: String) =
    new File(root, s"${lead}_v${version}_${fingerprint(d)}").getAbsolutePath

  /** Run `build` into `dir` unless it is already marked ready, or in any
    * case when `always` (a fixture whose write is itself what a query
    * measures: p02's shard tree). A build sweeps the stale siblings,
    * creates the directory, builds, and marks it ready unless the
    * build's Spark writer already did. Returns `dir`. */
  def once(dir: String, always: Boolean = false)(build: => Unit): String =
    synchronized {
      val ready = new File(dir, Ready)
      if (always || !ready.exists()) {
        sweep(new File(dir))
        Files.createDirectories(Paths.get(dir))
        build
        if (!ready.exists()) Files.createFile(ready.toPath)
      }
      dir
    }

  /** [[once]] for a parquet fixture: write `df` to `dir` unless it is
    * ready, then read it back. */
  def parquet(s: SparkSession, dir: String)(df: => DataFrame): DataFrame = {
    once(dir)(df.write.mode("overwrite").parquet(dir))
    s.read.parquet(dir)
  }

  /** A catalog-table fixture (q42, q48, m12): saved by `write`,
    * path-backed under [[Warehouse]], unless the session's catalog
    * already holds `name`. Returns `name`. */
  def table(s: SparkSession, name: String)(
      write: => DataFrameWriter[Row]): String = {
    if (!s.catalog.tableExists(name))
      write.option("path", s"$Warehouse/$name").saveAsTable(name)
    name
  }

  private val Key = """(.+)_v(\d+)_([0-9a-f]{12})(_.+)?""".r

  /** Delete the siblings of `dir` that hold the same fixture under
    * another version or fingerprint, and the variants derived from them
    * (named `<their key>_<suffix>`). Exact pattern on the key: a
    * directory whose name is not a store key sweeps nothing, and a
    * dataset whose tag merely starts with this one's is never matched. */
  private def sweep(dir: File): Unit = dir.getName match {
    case Key(lead, version, fp, variant) =>
      val stale = (Pattern.quote(lead) + """_v(\d+)_([0-9a-f]{12})""" +
        Pattern.quote(Option(variant).getOrElse("")) + "(_.*)?").r
      Option(dir.getParentFile.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => f.getName match {
          case stale(v, p, _) if v != version || p != fp =>
            Fs.deleteRecursively(f)
          case _ =>
        })
    case _ =>
  }
}
