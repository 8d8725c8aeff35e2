package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived scale-rehearsal fixture builder: FACTOR shifted+perturbed
  * copies of a driver fixture dir, so the 100 TB posture the plan audits
  * assert can be EXECUTED one decade up from the driver's largest scale
  * (the r10 verdict's "one measured decade" ask). Usage:
  *
  *   sbt "runMain graft.Harness rehearse <sf0.1 dir> target/sf1 10"
  *   SPARK_GRAFT_SF_DIR=$PWD/target/sf1 sbt "runMain graft.Bench"
  *
  * The copies are NOT verbatim: verbatim replication would multiply
  * every duplicate group 10× and every within-group pair ~45× — the
  * bench would then measure DATA blowup (quadratic pair inflation the
  * real corpus doesn't have), not plan scaling. Each copy is therefore
  * perturbed to look like genuinely new data of the same shape:
  *
  *  - events: ids and users shift per copy; timestamps shift by a whole
  *    corpus span + 35 days per copy, so per-shard arrival stays
  *    MONOTONE in sequence (the KinesisLikeLog.writeFromEvents seam
  *    invariant) and sessions/windows never straddle copies;
  *  - documents: ids shift; copies ≥1 get a copy-specific suffix on
  *    EVERY word, so every shingle/bigram/chunk differs across copies
  *    and cross-copy Jaccard is exactly 0 (a weaker every-3rd-word salt
  *    left 2/3 of bigrams shared — cross-copy Jaccard ≈ 0.33, ABOVE the
  *    engine's 0.2 near-dup threshold, which made the copies near-dups
  *    of each other and exploded LSH candidates ~50×: the rehearsal was
  *    measuring its own fixture artifact). Within-copy structure is
  *    untouched — the same transform applies to both sides of every
  *    original near-dup pair, so each copy carries the full original
  *    near-dup population;
  *  - embeddings: ids shift; copies ≥1 get their components circularly
  *    rotated by a copy-specific offset — rotation preserves the norm
  *    and histogram while making cross-copy cosine incoherent;
  *  - orders/lineitem/customer/part/supplier: FK-consistent key shifts
  *    (o_orderkey and l_orderkey move together, etc.); dates keep their
  *    range, so per-date density grows 10× — how a business 10× the
  *    size actually looks;
  *  - region/nation: broadcast dims, copied verbatim (scale does not
  *    multiply reference data).
  *
  * Everything is one distributed select per table (explode(sequence) ×
  * projection — no driver-side row loops); the handful of shift scalars
  * are bounded single-row aggregates. Idempotent via a ready marker.
  */
object ScaleRehearsal {

  /** Writes `factor` perturbed copies of the fixture at `src` to `out`,
    * unless `out` is already marked ready. */
  def build(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val ready = new java.io.File(out, "_READY")
    if (ready.exists()) {
      println(s"[scale] $out already built")
      return
    }
    new java.io.File(out).mkdirs()

    def table(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def copies(df: DataFrame): DataFrame =
      df.withColumn("c", explode(sequence(lit(0L), lit(factor - 1L))))
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t written")
    }

    // Broadcast dims: verbatim.
    for (t <- Seq("region", "nation")) write(table(t), t)

    // events — see the monotone-arrival note in the scaladoc. Read via
    // Tables.events (the fixture's ts has shipped as NTZ and as
    // INT64(NANOS); a raw read would fail unix_micros), written back as
    // TIMESTAMP_MICROS, which the same reader passes through.
    locally {
      val ev = Tables.events(spark, src)
      val b = ev.agg(
        max(col("event_id")), min(col("user_id")), max(col("user_id")),
        min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val idShift   = b.getLong(0) + 1L
      val userShift = b.getLong(2) - b.getLong(1) + 1L
      val tsShiftUs = (b.getLong(4) - b.getLong(3)) + 35L * 24 * 3600 * 1000000L
      write(copies(ev).select(
        (col("event_id") + col("c") * idShift).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + col("c") * tsShiftUs)
          .as("ts"),
        (col("user_id") + col("c") * userShift).as("user_id"),
        col("event_type"), col("value"), col("props")), "events")
    }

    // documents — per-word copy suffix detunes cross-copy similarity
    // (see the scaladoc for why it must touch EVERY word).
    locally {
      val docs   = table("documents")
      val dShift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      write(copies(docs)
        .withColumn("text",
          when(col("c") === 0L, col("text")).otherwise(array_join(
            expr("transform(split(text, ' '), w -> concat(w, c))"), " ")))
        .select(
          (col("doc_id") + col("c") * dShift).as("doc_id"),
          col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars")), "documents")
    }

    // embeddings — circular rotation by a copy-specific offset.
    locally {
      val emb    = table("embeddings")
      val vShift = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val dim    = emb.select(size(col("embedding"))).head().getInt(0)
      val off    = s"CAST((c * $dim div $factor) % $dim AS INT)"
      write(copies(emb).select(
        (col("vec_id") + col("c") * vShift).as("vec_id"),
        when(col("c") === 0L, col("embedding")).otherwise(concat(
          expr(s"slice(embedding, $off + 1, $dim - $off)"),
          expr(s"slice(embedding, 1, $off)"))).as("embedding"),
        col("label")), "embeddings")
    }

    // TPC-H tables — FK-consistent key shifts.
    locally {
      val orders   = table("orders")
      val customer = table("customer")
      val part     = table("part")
      val supplier = table("supplier")
      val oShift = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      val cShift = customer.agg(max(col("c_custkey"))).head().getLong(0) + 1L
      val pShift = part.agg(max(col("p_partkey"))).head().getLong(0) + 1L
      val sShift = supplier.agg(max(col("s_suppkey"))).head().getLong(0) + 1L
      write(copies(orders).select(
        (col("o_orderkey") + col("c") * oShift).as("o_orderkey"),
        (col("o_custkey") + col("c") * cShift).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")), "orders")
      write(copies(table("lineitem")).select(
        (col("l_orderkey") + col("c") * oShift).as("l_orderkey"),
        (col("l_partkey") + col("c") * pShift).as("l_partkey"),
        (col("l_suppkey") + col("c") * sShift).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), "lineitem")
      write(copies(customer).select(
        (col("c_custkey") + col("c") * cShift).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")), "customer")
      write(copies(part).select(
        (col("p_partkey") + col("c") * pShift).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice")), "part")
      write(copies(supplier).select(
        (col("s_suppkey") + col("c") * sShift).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier")
    }

    java.nio.file.Files.createFile(ready.toPath)
    println(s"[scale] $out ready (factor $factor of $src)")
  }
}
