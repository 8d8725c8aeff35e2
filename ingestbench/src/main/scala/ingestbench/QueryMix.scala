package ingestbench

import java.io.File
import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: registered queries reached through `SparkEntry.queries`,
  * billed the way `graft.Bench` bills them (a `noop` write, persisted RDDs,
  * cached plans and memory sinks dropped between queries). Set-up, the
  * seeded tables and the engine's log prewarm, runs three times on fresh
  * datasets and is billed as their median. The unbilled first pass over the
  * first dataset warms the JVM and writes its results out for the DuckDB
  * oracle check; billed passes over the same dataset follow, as `Bench`
  * repeats a query on one directory, until the window is spent. No sink or
  * producer runs here, so a gain there that costs `tail` shows. Members: a
  * stream-stream join and a bounded stream dedup (state stores, shuffles),
  * and the MinHash-LSH dedup and PQ training batch operators. */
object QueryMix {
  val StreamMembers = Seq("q36_stream_join", "q45_stream_dedup_bounded")
  val BatchMembers  = Seq("d02_dedup_minhash_lsh", "s17_pq_train")
  val Members = StreamMembers ++ BatchMembers

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val setups = Seq.newBuilder[Double]
    def setup(tag: String): File = {
      val t0 = System.nanoTime()
      val dir = new File(ctx.work, s"mix_$tag")
      MixTables.write(spark, dir, ctx.seed * 1009L + tag.hashCode)
      graft.operators.Streaming.prewarmLogs(spark, dir.getAbsolutePath)
      setups += (System.nanoTime() - t0) / 1e9
      dir
    }
    def pass(dir: File): Seq[Map[String, Any]] = Members.map { n =>
      val s0 = Clock.nowUs
      val err = ctx.tracer.span(s"query.$n", ctx.rootSpan) { id =>
        ctx.progress.parent = id
        attempt {
          SparkEntry.queries(n)(spark, dir.getAbsolutePath)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val s1 = Clock.nowUs
      cleanup(spark)
      Map("query" -> n, "start_us" -> s0, "end_us" -> s1, "error" -> err.orNull,
        "stream" -> StreamMembers.contains(n))
    }

    val a = setup("a")
    Seq("b", "c").foreach(t => graft.Fs.deleteRecursively(setup(t)))
    val resultsDir = new File(ctx.work, "results")
    val checked = Members.map { n =>
      val err = attempt {
        SparkEntry.queries(n)(spark, a.getAbsolutePath)
          .write.mode("overwrite").parquet(new File(resultsDir, n).getAbsolutePath)
      }
      cleanup(spark)
      n -> err
    }
    // The framing layer is measured on the framed fixture log the stream
    // members replay (the engine keeps it under java.io.tmpdir).
    Option(new File(sys.props("java.io.tmpdir"), "graft_kinesislike").listFiles())
      .toSeq.flatten
      .find(f => f.getName.startsWith(a.getName + "_v") && f.getName.endsWith("_c1_framed"))
      .foreach(ctx.framingPass(_))

    ctx.billed(true)
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    while (passes.isEmpty || ctx.windowLeft(t0)) passes += pass(a)
    ctx.billed(false)
    Map(
      "scale"          -> "sf0.01 rows, generated",
      "setups_s"       -> setups.result(),
      "tables_dir"     -> a.getAbsolutePath,
      "results_dir"    -> resultsDir.getAbsolutePath,
      "checked_errors" -> checked.collect { case (n, Some(e)) => n -> e }.toMap,
      "oracle"         -> Members.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "passes"         -> passes.toSeq)
  }

  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case scala.util.control.NonFatal(e) =>
      Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }

  /** Bench's between-query cleanup. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    graft.operators.Streaming.dropConsumedSinks(spark)
  }
}

/** Seeded `events`, `documents` and `embeddings` tables with the fixture
  * schemas (FIXTURES.md) at the row counts of the sf0.01 fixture, the
  * tables the members read. At this size their cost is almost all fixed
  * per-query and per-batch overhead, as it is at sf0.001. */
object MixTables {
  private val Words = ("row the query stream fast spark line small customer " +
    "group value hash batch sort data big filter dup key agg scan slow table " +
    "part a merge window order column join vector").split(' ')
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")

  def write(spark: SparkSession, dir: File, seed: Long): Unit = {
    val r = new java.util.SplittableRandom(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getAbsolutePath)
    def round2(x: Double): Double = math.round(x * 100) / 100.0

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val month = 30L * 86400L * 1000000L
    val evTs = Array.fill(10000)(r.nextLong(month)).sorted
    save("events", StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      evTs.indices.map { i =>
        Row(i.toLong, t0.plusNanos(evTs(i) * 1000L), r.nextLong(150),
          EventTypes(r.nextInt(5)),
          round2(-50.0 * math.log(1.0 - r.nextDouble())), s"""{"k": ${r.nextInt(100)}}""")
      })

    save("documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
      (0 until 500).map { i =>
        val text = Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")
        Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
          text.length.toLong)
      })

    save("embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))),
      (0 until 500).map { i =>
        Row(i.toLong, Array.fill(64)((gaussian(r) * 0.125).toFloat).toSeq, r.nextInt(10))
      })
  }

  private def gaussian(r: java.util.SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}
