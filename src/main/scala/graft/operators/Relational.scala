package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Fixtures, GraftSession, Prewarm, Q, Tables => T}

/** Batch relational operator surface (SURVEY.md §2.2): scans, projection,
  * filters, joins (broadcast / sort-merge / semi / anti / range / as-of),
  * aggregations (incl. rollup, cube, distinct), window functions, top-k,
  * set ops, scalar function packs, and batch-equivalent formulations of
  * the streaming window/session operators so they stay oracle-checkable.
  *
  * Reference has none of these (grep evidence in SURVEY.md §2.2); the
  * engine adds them per the north-star contract. Each query:
  *   - is deterministic (full ORDER BY on a unique key in both engines;
  *     explicit NULLS FIRST in the oracle since DuckDB defaults NULLS LAST
  *     while Spark defaults NULLS FIRST),
  *   - rounds floating aggregates so double summation-order noise cannot
  *     flip the driver's hash compare,
  *   - emits timestamps as formatted strings or dates (parquet timestamp
  *     logical-type annotations differ between writers).
  *
  * Scale posture (100 TB): filters/projections push into the parquet scan;
  * dimension joins are explicitly broadcast; fact-fact joins shuffle on
  * their keys only; window functions partition by high-cardinality keys;
  * nothing collects to the driver.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: scan + filter + hash aggregate.
    * At scale: partial aggregation map-side, tiny result. */
  private val q01 = Q(
    "q01_agg_pricing",
    (s, d) => {
      T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 6) AS avg_qty,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
  )

  /** Projection + selective filter; predicates and the two-column read
    * schema push down to the parquet scan. Money math runs in DECIMAL so
    * the half-way rounding ties a double product can hit are resolved
    * identically (HALF_UP on the exact decimal) by both engines, and the
    * ORDER BY includes `revenue` because (l_orderkey, l_linenumber) is not
    * unique in the synthetic data. */
  private val q02 = Q(
    "q02_filter_project",
    (s, d) => {
      T.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1996-01-01") &&
            col("l_discount").between(0.02, 0.06) &&
            col("l_quantity") < 10)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          round(
            col("l_extendedprice").cast("decimal(18,4)") *
              (lit(1).cast("decimal(18,4)") -
                col("l_discount").cast("decimal(18,4)")),
            2).cast("double").as("revenue"),
        )
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("revenue"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))),
                        2) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        AND l_discount BETWEEN 0.02 AND 0.06
        AND l_quantity < 10
      ORDER BY l_orderkey, l_linenumber, revenue"""),
  )

  /** Star join over two tiny dimensions — both explicitly broadcast so
    * the fact side never shuffles. */
  private val q03 = Q(
    "q03_join_broadcast",
    (s, d) => {
      val c = T.customer(s, d)
      val n = T.nation(s, d)
      val r = T.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_acctbal"),
        )
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""
      SELECT r_name, n_name, count(*) AS n_customers,
             round(sum(c_acctbal), 2) AS total_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""),
  )

  /** Fact-fact equi join (sort-merge/shuffled-hash territory at scale;
    * both sides shuffle on the order key only). */
  private val q04 = Q(
    "q04_join_factfact",
    (s, d) => {
      val o = T.orders(s, d).filter(
        col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val l = T.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
        )
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_items,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
  )

  /** Left-semi join (EXISTS). */
  private val q05 = Q(
    "q05_join_semi",
    (s, d) => {
      val o = T.orders(s, d)
      val bigLines =
        T.lineitem(s, d).filter(col("l_quantity") > 45).select("l_orderkey")
      o.join(bigLines, o("o_orderkey") === bigLines("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"),
        )
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),
  )

  /** Left-anti join (NOT EXISTS): customers that never ordered. */
  private val q06 = Q(
    "q06_join_anti",
    (s, d) => {
      val c = T.customer(s, d)
      val o = T.orders(s, d).select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""),
  )

  /** Range (theta) join: event pairs per user within a 5-minute window.
    * Equi key (user_id) bounds the shuffle; the range predicate is applied
    * post-shuffle, so this scales as sum(per-user pairs), not n². */
  private val q07 = Q(
    "q07_join_range",
    (s, d) => {
      val e  = T.events(s, d)
      val e1 = e.select(
        col("user_id"),
        col("ts").as("ts1"),
        col("event_id").as("id1"))
      val e2 = e.select(
        col("user_id").as("user_id2"),
        col("ts").as("ts2"),
        col("event_id").as("id2"))
      e1.join(
          e2,
          col("user_id") === col("user_id2") &&
            col("ts2") > col("ts1") &&
            col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT e1.user_id, count(*) AS n_pairs
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
      GROUP BY e1.user_id
      ORDER BY e1.user_id"""),
  )

  /** Per-group top-k via row_number window (ties broken by key → stable).
    *
    * DELIBERATELY the textbook formulation, kept as q64's
    * rewrite-comparison baseline (SURVEY round-15 note) — and therefore
    * the ONE registered query that would hot-key at scale: the window
    * hands each c_nationkey ONE task holding that nation's every
    * customer row, so a nation with 10⁹ customers is a 10⁹-row
    * single-task sort regardless of cluster size. Production callers use
    * q64's bounded-heap rewrite (WindowTopKToHeap) or
    * DistributedScan.bucketedRowNumber; q33 is the same semantics on the
    * custom plan. Do NOT copy this shape for a new operator. */
  private val q08 = Q(
    "q08_window_topk_group",
    (s, d) => {
      val w = Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      T.customer(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(
          col("c_nationkey"),
          col("rk"),
          col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_nationkey"), col("rk"))
    },
    Some("""
      SELECT c_nationkey, rk, c_custkey, round(c_acctbal, 2) AS acctbal
      FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
            FROM customer)
      WHERE rk <= 3
      ORDER BY c_nationkey, rk"""),
  )

  /** Running (cumulative) aggregate per customer over order time. */
  private val q09 = Q(
    "q09_window_running",
    (s, d) => {
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.orders(s, d)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"),
          count(lit(1)).over(w).as("running_n"),
        )
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER w, 2) AS running_total,
             count(*) OVER w AS running_n
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""),
  )

  /** lag/lead: microseconds since the user's previous event. */
  private val q10 = Q(
    "q10_window_lag",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .select(
          col("event_id"),
          col("user_id"),
          (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
            .as("micros_since_prev"),
          lead(col("event_type"), 1).over(w).as("next_type"),
        )
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id,
             epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS micros_since_prev,
             lead(event_type, 1) OVER w AS next_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id"""),
  )

  /** Global top-k: orderBy+limit plans TakeOrderedAndProject — per-partition
    * heaps then a k-row merge on the driver, no full sort at scale. */
  private val q11 = Q(
    "q11_topk_global",
    (s, d) =>
      T.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(
          col("o_orderkey"),
          round(col("o_totalprice"), 2).as("totalprice")),
    Some("""
      SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 10"""),
  )

  /** UNION (distinct) over conforming schemas. */
  private val q12 = Q(
    "q12_set_union",
    (s, d) =>
      T.customer(s, d)
        .select(col("c_nationkey").as("nationkey"))
        .union(T.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey")),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey"""),
  )

  /** INTERSECT. */
  private val q13 = Q(
    "q13_set_intersect",
    (s, d) =>
      T.customer(s, d)
        .select(col("c_nationkey").as("nationkey"))
        .intersect(T.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey"""),
  )

  /** EXCEPT. */
  private val q14 = Q(
    "q14_set_except",
    (s, d) =>
      T.customer(s, d)
        .select(col("c_nationkey").as("nationkey"))
        .except(T.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")),
    Some("""
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier
      ORDER BY nationkey"""),
  )

  /** ROLLUP hierarchy totals (NULLS FIRST pinned — engine defaults differ). */
  private val q15 = Q(
    "q15_agg_rollup",
    (s, d) =>
      T.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
  )

  /** CUBE over two low-cardinality flags. */
  private val q16 = Q(
    "q16_agg_cube",
    (s, d) =>
      T.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(l_quantity), 2) AS qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
  )

  /** Exact distinct counts (expand-based in Spark, two-phase at scale). */
  private val q17 = Q(
    "q17_agg_distinct",
    (s, d) =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"),
        )
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
  )

  /** String scalar pack: case, regexp extract, split, length, concat. */
  private val q18 = Q(
    "q18_scalar_string",
    (s, d) =>
      T.part(s, d)
        .select(
          col("p_partkey"),
          lower(col("p_brand")).as("brand_lc"),
          upper(col("p_type")).as("type_uc"),
          regexp_extract(col("p_type"), "^[a-z]+", 0).as("type_head"),
          size(split(col("p_name"), " ")).as("n_name_words"),
          length(col("p_name")).as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        )
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             lower(p_brand) AS brand_lc,
             upper(p_type) AS type_uc,
             regexp_extract(p_type, '^[a-z]+', 0) AS type_head,
             CAST(len(string_split(p_name, ' ')) AS INT) AS n_name_words,
             CAST(length(p_name) AS INT) AS name_len,
             p_brand || '|' || p_type AS brand_type
      FROM part
      ORDER BY p_partkey"""),
  )

  /** Date/time scalar pack: truncation + field extraction + grouping. */
  private val q19 = Q(
    "q19_scalar_date",
    (s, d) =>
      T.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("yr"), col("qtr"), col("mo")),
    Some("""
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
             CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
             CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY 1, 2, 3
      ORDER BY yr, qtr, mo"""),
  )

  /** JSON extraction from the events.props payload (honors the reference's
    * decode-JSON-payload semantics, subscribe_to_shard.ex:365-366).
    *
    * STRICT-typed by design (like q53's variant path): a props payload
    * whose `k` is not an integer fails the ANSI cast loudly on BOTH
    * engines rather than silently nulling — q77 is the
    * tolerate-and-count counterpart for schema-drifted input; route
    * dirty feeds through it (or q94's dead-letter split) first. */
  private val q20 = Q(
    "q20_scalar_json",
    (s, d) =>
      T.events(s, d)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             max(CAST(props->>'$.k' AS BIGINT)) AS max_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Array higher-order functions over the embedding vectors: fold
    * (aggregate), element count — all codegen-friendly built-ins. */
  private val q21 = Q(
    "q21_array_hof",
    (s, d) =>
      T.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dims"),
          round(
            sqrt(aggregate(
              col("embedding"),
              lit(0.0),
              (acc, x) => acc + x.cast("double") * x.cast("double"))),
            6).as("l2_norm"),
          round(
            aggregate(
              col("embedding"),
              lit(0.0),
              (acc, x) => acc + x.cast("double")) / size(col("embedding")),
            6).as("mean_val"),
        )
        .orderBy(col("vec_id")),
    Some("""
      SELECT vec_id,
             CAST(len(embedding) AS INT) AS dims,
             round(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
             round(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE))) / len(embedding), 6) AS mean_val
      FROM embeddings
      ORDER BY vec_id"""),
  )

  /** base64 round-trip (the reference's record payloads are base64 "Data"
    * fields, subscribe_to_shard.ex:366): encode text bytes, decode back,
    * verify length survives. */
  private val q22 = Q(
    "q22_scalar_base64",
    (s, d) =>
      T.documents(s, d)
        .select(
          col("doc_id"),
          substring(base64(col("text").cast("binary")), 1, 24).as("b64_head"),
          length(unbase64(base64(col("text").cast("binary"))))
            .as("decoded_len"),
          col("n_chars"),
        )
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             substring(to_base64(CAST(text AS BLOB)), 1, 24) AS b64_head,
             CAST(octet_length(from_base64(to_base64(CAST(text AS BLOB)))) AS INT)
               AS decoded_len,
             n_chars
      FROM documents
      ORDER BY doc_id"""),
  )

  /** q23's hourly rollup in DuckDB SQL, and the oracle of its streaming
    * twins q28, q56 and q130: a watermarked window('1 hour') drained in
    * append mode equals the date_trunc group-by over the same events. */
  private[operators] val HourlyWindowOracle = Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type""")

  /** Tumbling 1-hour event-time window aggregate — the deterministic batch
    * formulation of the streaming windowed aggregation (date_trunc group-by
    * ≡ window('1 hour') in append mode once the watermark passes). */
  private val q23 = Q(
    "q23_window_tumbling",
    (s, d) =>
      T.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("window_start"), col("event_type")),
    HourlyWindowOracle,
  )

  /** q24's 30-minute-gap sessionization in DuckDB SQL, and the oracle of
    * its streaming twin q30 (session_window in append mode). */
  private[operators] val SessionOracle = Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts, 1) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessions AS (
        SELECT user_id,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
      ), per_sess AS (
        SELECT user_id, sess_id, count(*) AS sess_len
        FROM sessions GROUP BY user_id, sess_id
      )
      SELECT user_id,
             count(*) AS n_sessions,
             max(sess_len) AS max_sess_len,
             CAST(sum(sess_len) AS BIGINT) AS n_events
      FROM per_sess
      GROUP BY user_id
      ORDER BY user_id""")

  /** Every event with its user's session number `sess_id`: a session
    * starts at the user's first event and after every gap over 30 minutes
    * (q24, and the session baskets of [[basketTypeSets]]). */
  private def sessionized(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .withColumn(
        "new_sess",
        when(
          lag(col("ts"), 1).over(wOrd).isNull ||
            (unix_micros(col("ts")) -
              unix_micros(lag(col("ts"), 1).over(wOrd))) > 1800000000L,
          1L).otherwise(0L))
      .withColumn(
        "sess_id",
        sum(col("new_sess")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Sessionization with a 30-minute inactivity gap (batch equivalent of
    * session_window): lag → new-session flag → running sum = session id →
    * two-level aggregate. */
  private val q24 = Q(
    "q24_sessionize",
    (s, d) => {
      sessionized(s, d)
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("sess_len"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          max(col("sess_len")).as("max_sess_len"),
          sum(col("sess_len")).as("n_events"),
        )
        .orderBy(col("user_id"))
    },
    SessionOracle,
  )

  /** As-of join via a single ordered window pass (no join blowup): for each
    * purchase, the user's most recent click at-or-before it. */
  private val q25 = Q(
    "q25_asof_join",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.events(s, d)
        .withColumn(
          "last_click_ts",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          date_format(col("last_click_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("last_click_ts"),
        )
        .orderBy(col("event_id"))
    },
    Some("""
      WITH marked AS (
        SELECT event_id, user_id, ts, event_type,
               max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        FROM events)
      SELECT event_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
             strftime(last_click_ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
      FROM marked
      WHERE event_type = 'purchase'
      ORDER BY event_id"""),
  )

  /** approx_count_distinct (HyperLogLog++, rsd 0.02). Sketch estimates are
    * engine-specific, so the oracle is a bounds check: Spark emits the
    * exact distinct count plus a boolean "approx within 10% of exact"
    * (5σ at rsd 0.02); the oracle emits the same exact count and literal
    * TRUE. A sketch outside tolerance therefore fails the hash compare. */
  private val q26 = Q(
    "q26_agg_approx_distinct",
    (s, d) =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts_exact"),
          approx_count_distinct(col("l_partkey"), 0.02).as("apx"))
        .select(
          col("l_returnflag"),
          col("n_parts_exact"),
          (abs(col("apx").cast("double") - col("n_parts_exact")) <=
            col("n_parts_exact").cast("double") * 0.1)
            .as("approx_in_tolerance"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts_exact,
             TRUE AS approx_in_tolerance
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
  )

  /** Map-type scalar pack (SURVEY §2.2 scalar row): construct, lookup,
    * keys/values extraction, concat, cardinality. DuckDB map subscripts
    * return single-element lists, hence the [1] indexing in the oracle. */
  private val q27 = Q(
    "q27_scalar_map",
    (s, d) =>
      T.part(s, d)
        .select(
          col("p_partkey"),
          col("p_brand"),
          col("p_type"),
          map_from_arrays(
            array(lit("brand"), lit("type")),
            array(col("p_brand"), col("p_type"))).as("m"))
        .select(
          col("p_partkey"),
          element_at(col("m"), "brand").as("brand_v"),
          element_at(col("m"), "type").as("type_v"),
          size(col("m")).as("m_card"),
          array_join(map_keys(col("m")), ",").as("keys_csv"),
          array_join(map_values(col("m")), "|").as("vals_csv"),
          size(
            map_concat(
              col("m"),
              map_from_arrays(
                array(lit("pk")),
                array(col("p_partkey").cast("string"))))).as("m3_card"),
        )
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             (m['brand'])[1] AS brand_v,
             (m['type'])[1] AS type_v,
             CAST(cardinality(m) AS INT) AS m_card,
             array_to_string(map_keys(m), ',') AS keys_csv,
             array_to_string(map_values(m), '|') AS vals_csv,
             CAST(cardinality(map(['brand', 'type', 'pk'],
                  [p_brand, p_type, CAST(p_partkey AS VARCHAR)])) AS INT)
               AS m3_card
      FROM (SELECT p_partkey, p_brand, p_type,
                   map(['brand', 'type'], [p_brand, p_type]) AS m
            FROM part)
      ORDER BY p_partkey"""),
  )

  /** The exact interpolated per-flag price median as a k-row frame
    * (l_returnflag, median_price) — q31/q40's shared exact leg.
    *
    * r19: was `percentile(l_extendedprice, 0.5)` inside the main
    * aggregate — a TypedImperativeAggregate that plans the WHOLE
    * aggregate as ObjectHashAggregate (no whole-stage codegen) and
    * buffers every value of the group in an in-memory counts map
    * (measured: +2.4 s over the same aggregate without it at sf0.1; at
    * scale the map IS the group — the q99-scaladoc liability). Now a
    * [[DistributedScan.rankSelect]] selection over 128-currency-unit
    * price bands (q99/q120's posture): the median is the value pair at
    * ranks ((n+1) div 2, n div 2 + 1), interpolated as (lo+hi)/2 —
    * exactly `percentile`'s 0.5-weighted interpolation (both reduce to
    * one rounding of (lo+hi) then an exact halving; odd n gives lo=hi,
    * the identity), so the DuckDB `quantile_cont` oracle is untouched
    * and hash-matches at every SF. Only the one band straddling each
    * target rank is ever sorted. */
  private[graft] def flagPriceMedian(
      s: SparkSession, d: String): DataFrame =
    DistributedScan.rankSelect(
        T.lineitem(s, d).select(
          col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber")),
        "l_returnflag",
        expr("CAST(floor(l_extendedprice) AS BIGINT) div 128"),
        Seq(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber")),
        col("l_extendedprice"),
        Seq("lov" -> "(n + 1) div 2", "hiv" -> "n div 2 + 1"))
      .select(col("l_returnflag"),
        round((col("lov") + col("hiv")) / 2.0, 4).as("median_price"))

  /** Statistical aggregate pack: sample stddev, Pearson correlation,
    * exact interpolated percentile (≡ DuckDB `quantile_cont`; since r19
    * computed as [[flagPriceMedian]]'s rank selection so the main
    * aggregate stays a codegen HashAggregate — see there). Rounding
    * chosen per magnitude so cross-engine summation-formula noise
    * (Welford vs central-moment accumulators) cannot flip a digit:
    * stddev ~3·10⁴ → 2 dp, corr/median per their scales. */
  private val q31 = Q(
    "q31_agg_stats",
    (s, d) =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qty_price"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
        )
        .join(broadcast(flagPriceMedian(s, d)), Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("sd_price"), col("corr_qty_price"),
          col("median_price"), col("avg_price"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(stddev_samp(l_extendedprice), 2) AS sd_price,
             round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
             round(avg(l_extendedprice), 4) AS avg_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
  )

  /** Explicit GROUPING SETS (beyond the rollup/cube shorthands of
    * q15/q16) with grouping() indicators — SQL-formulated, since the
    * grouping-sets shape is the one aggregation form the DataFrame API
    * spells via SQL. */
  private val q32 = Q(
    "q32_agg_grouping_sets",
    (s, d) => {
      T.lineitem(s, d).createOrReplaceTempView("graft_q32_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM graft_q32_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST,
                 g_flag, g_status""")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) AS INT) AS g_flag,
             CAST(grouping(l_linestatus) AS INT) AS g_status,
             count(*) AS n,
             round(sum(l_quantity), 2) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST,
               g_flag, g_status"""),
  )

  /** Per-group top-k through the custom whole-operator path
    * (graft.plans.TopKPerGroup: custom LogicalPlan → SparkStrategy →
    * bounded-heap SparkPlan, one hash shuffle, NO per-group sort) —
    * same semantics as q08's window formulation, same oracle shape, so
    * the custom physical operator is held to the DuckDB gate like every
    * built-in. */
  private val q33 = Q(
    "q33_topk_custom",
    (s, d) =>
      graft.plans.TopK
        .perGroup(
          s,
          T.customer(s, d),
          Seq(col("c_nationkey")),
          Seq(col("c_acctbal").desc, col("c_custkey").asc),
          3)
        .select(
          col("c_nationkey"),
          col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_nationkey"), col("acctbal").desc, col("c_custkey")),
    Some("""
      SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal
      FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
            FROM customer)
      WHERE rk <= 3
      ORDER BY c_nationkey, acctbal DESC, c_custkey"""),
  )

  /** Pivot (groupBy().pivot() with an explicit value list, so the output
    * schema is static and deterministic); the oracle is the equivalent
    * conditional aggregation. */
  private val q34 = Q(
    "q34_pivot",
    (s, d) =>
      T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
        .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority,
             round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f,
             round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o,
             round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
  )

  /** Null-handling scalar pack: coalesce, nullif, nvl2, greatest/least
    * over a derived nullable column. */
  private val q35 = Q(
    "q35_scalar_null",
    (s, d) =>
      T.customer(s, d)
        .select(
          col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"))
        .select(
          col("c_custkey"),
          coalesce(col("seg_nb"), lit("(redacted)")).as("seg_or_default"),
          expr("nvl2(seg_nb, 'kept', 'dropped')").as("kept_flag"),
          greatest(col("c_custkey") % 7, col("c_custkey") % 5).as("g_mod"),
          least(col("c_custkey") % 7, col("c_custkey") % 5).as("l_mod"),
        )
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey,
             coalesce(nullif(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_or_default,
             CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                  THEN 'kept' ELSE 'dropped' END AS kept_flag,
             greatest(c_custkey % 7, c_custkey % 5) AS g_mod,
             least(c_custkey % 7, c_custkey % 5) AS l_mod
      FROM customer
      ORDER BY c_custkey"""),
  )

  /** Approximate percentile (t-digest class sketch; the quantile sibling
    * of q26's HLL++). Sketch internals are engine-specific, so the
    * oracle is the q26 bounds pattern: Spark emits the exact
    * interpolated median plus "approx within 5% of exact"; the oracle
    * emits the same exact value and literal TRUE. approx_percentile at
    * accuracy 10000 bounds rank error to n/10000, far inside 5% of the
    * value on this distribution — and at 100 TB the sketch is the ONLY
    * viable plan (exact percentile is a per-group sort). */
  private val q40 = Q(
    "q40_agg_approx_quantile",
    // The exact leg is [[flagPriceMedian]]'s rank selection since r19
    // (shared with q31; bit-identical to the old in-aggregate
    // `percentile`, see there) so the sketch aggregate no longer drags
    // an every-value counts map through the same ObjectHashAggregate.
    (s, d) =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)")
            .cast("double").as("apx"))
        .join(broadcast(flagPriceMedian(s, d)
            .withColumnRenamed("median_price", "p50_exact")),
          Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("p50_exact"),
          (abs(col("apx") - col("p50_exact")) <=
            abs(col("p50_exact")) * 0.05).as("approx_in_tolerance"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
             TRUE AS approx_in_tolerance
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
  )

  /** Skew-safe two-phase aggregate: a 3-value grouping key (event_type)
    * hot-spots 3 reducers no matter how many executors exist — the
    * classic 100 TB skew wall. Salting the key into 16 subkeys spreads
    * phase 1 across 48 reducers; phase 2 re-aggregates the 48 partial
    * rows. count/max/min decompose exactly (order-independent), so the
    * result is identical to the single-phase plan the oracle runs.
    * (Spark's own partial aggregation does this WITHIN a key on one
    * node; salting does it ACROSS the shuffle, which is what saves a
    * skewed key.) */
  private val q41 = Q(
    "q41_skew_twophase_agg",
    (s, d) => {
      val partial = T.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(
          count(lit(1)).as("pn"),
          max(col("value")).as("pmax"),
          min(col("value")).as("pmin"))
      partial
        .groupBy(col("event_type"))
        .agg(
          sum(col("pn")).as("n"),
          max(col("pmax")).as("max_value"),
          min(col("pmin")).as("min_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             max(value) AS max_value, min(value) AS min_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Create the bucketed orders/lineitem tables q42 joins (idempotent per
    * session via tableExists). Public so Bench can run it during warmup:
    * the writes are one-time fixture setup (a fresh JVM's catalog is
    * empty, so leaving them inside the timed query would bill the
    * bucketing write — the pattern's amortized-away cost — to every
    * measured run). Returns the two table names. */
  def prewarmBucketedTables(s: SparkSession, d: String): (String, String) = (
    ensureBucketed(s, s"graft_orders_b_${Fixtures.tag(d)}", T.orders(s, d),
      "o_orderkey"),
    ensureBucketed(s, s"graft_lineitem_b_${Fixtures.tag(d)}", T.lineitem(s, d),
      "l_orderkey"))

  /** The bucketed-fixture write convention (8 buckets, key-sorted,
    * path-backed, idempotent per session via tableExists), shared by
    * every co-bucketed fixture builder (q42's fact tables, m12's
    * alignment tower tables) so the convention has ONE definition. */
  private[operators] def ensureBucketed(
      s: SparkSession, name: String, df: => DataFrame, key: String): String =
    Fixtures.table(s, name)(
      df.write.mode("overwrite").bucketBy(8, key).sortBy(key))

  /** Bucketed co-located fact-fact join: orders and lineitem written once
    * as bucketed tables on the join key (8 buckets, sorted), then joined
    * WITHOUT any exchange — both sides already hash-agree on bucket
    * layout, so EnsureRequirements plans no shuffle under the join
    * (BucketedJoinSpec asserts the Exchange-free plan). This is the
    * pay-the-shuffle-once posture for a 100 TB fact table that is joined
    * on the same key by every downstream query: bucket it at ingest and
    * every subsequent join is map-side. The MERGE hint keeps the plan a
    * sort-merge join so the co-location (not a broadcast) is what's
    * exercised. */
  private val q42 = Q(
    "q42_bucketed_join",
    (s, d) => {
      val (ordersB, lineitemB) = prewarmBucketedTables(s, d)
      s.table(ordersB).hint("MERGE")
        .join(
          s.table(lineitemB),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_items,
             round(sum(l_extendedprice), 2) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
  )

  /** Correlated subqueries — EXISTS, NOT EXISTS, and a correlated scalar
    * subquery in one statement, expressed in SQL because correlation is a
    * SQL-surface feature. The point is Catalyst's decorrelation: EXISTS
    * plans as a left-semi join, NOT EXISTS as left-anti, and
    * RewriteCorrelatedScalarSubquery turns the per-order sum into an
    * aggregate + left-outer join — so at 100 TB this is three shuffle-key
    * joins against lineitem (the same shapes as q04/q05/q06), never a
    * per-row subquery execution. */
  private val q43 = Q(
    "q43_subquery_decorrelate",
    (s, d) => {
      T.orders(s, d).createOrReplaceTempView("g43_orders")
      T.lineitem(s, d).createOrReplaceTempView("g43_lineitem")
      s.sql("""
        SELECT o.o_orderkey,
               round(o.o_totalprice, 2) AS total_price,
               (SELECT round(sum(l.l_extendedprice), 2)
                FROM g43_lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS items_total
        FROM g43_orders o
        WHERE EXISTS (SELECT 1 FROM g43_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity > 45)
          AND NOT EXISTS (SELECT 1 FROM g43_lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
        ORDER BY o.o_orderkey""")
    },
    Some("""
      SELECT o.o_orderkey,
             round(o.o_totalprice, 2) AS total_price,
             (SELECT round(sum(l.l_extendedprice), 2)
              FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS items_total
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        AND NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_orderkey = o.o_orderkey
                          AND l.l_returnflag = 'R')
      ORDER BY o.o_orderkey"""),
  )

  /** Distribution-rank window family — ntile / dense_rank / percent_rank /
    * cume_dist over one window. The window ORDER BY is made unique with
    * the key column so tie order (and therefore ntile bucket assignment)
    * is engine-independent; percent_rank and cume_dist are exact rational
    * values computed with the same IEEE division in both engines, emitted
    * as floor-scaled parts-per-million — floor has no tie-breaking mode,
    * while round(double, n) diverges between Spark (HALF_UP) and DuckDB
    * (nearbyint) exactly at representable half-ties, which k/n rationals
    * do hit (observed on cume_dist at sf0.1). Partitioned by nation key:
    * at scale one shuffle on the partition key, per-partition sort, no
    * global sort until the final (small) ORDER BY. */
  private val q44 = Q(
    "q44_window_rank_family",
    (s, d) => {
      // The whole distribution-rank family collapses to closed forms of
      // (row position r, group size n) because the ORDER BY carries the
      // unique c_custkey tiebreak — no peer groups, so dense_rank = r,
      // percent_rank = (r−1)/(n−1), cume_dist = r/n, and ntile is its
      // standard assignment. That turns the textbook window — ONE task
      // per nation sorting the nation's every customer — into the
      // two-level count-scan: r from DistributedScan.bucketedRowNumber
      // (value-band buckets −floor(acctbal/100), monotone in the DESC
      // key; window tasks bounded by band occupancy), n from a k-row
      // broadcast join-back. The double arithmetic mirrors the window
      // functions' own ((r−1)/(n−1) then ×1e6, both exact-integer
      // operands under 2^53), so the rows are bit-identical to the
      // textbook formulation the oracle keeps.
      val base = T.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val ranked = DistributedScan.bucketedRowNumber(
        base, col("c_nationkey"),
        (-floor(col("c_acctbal") / 100)).cast("long"),
        Seq(col("c_acctbal").desc, col("c_custkey")), "r")
      val counts = ranked.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_nat"))
      ranked.join(broadcast(counts), Seq("c_nationkey"))
        .select(
          col("c_custkey"),
          col("c_nationkey"),
          DistributedScan.ntileFromRank(4, "r", "n_nat")
            .cast("int").as("quartile"),
          col("r").cast("int").as("drank"),
          expr("""CAST(floor(CASE WHEN n_nat > 1
                 THEN (CAST(r - 1 AS DOUBLE) / CAST(n_nat - 1 AS DOUBLE))
                      * 1000000
                 ELSE CAST(0 AS DOUBLE) END) AS BIGINT)""").as("prank_ppm"),
          expr("""CAST(floor((CAST(r AS DOUBLE) / CAST(n_nat AS DOUBLE))
                 * 1000000) AS BIGINT)""").as("cdist_ppm"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_nationkey,
             ntile(4) OVER w AS quartile,
             dense_rank() OVER w AS drank,
             CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_ppm,
             CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cdist_ppm
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey"""),
  )

  /** Create the date-partitioned events table q48 scans (idempotent per
    * session, same prewarm contract as the bucketed tables): the
    * directory-per-date layout is the storage shape a 100 TB event lake
    * actually has, and the one-time partitioned write is fixture setup,
    * not operator cost. */
  def prewarmPartitionedEvents(s: SparkSession, d: String): String =
    Fixtures.table(s, s"graft_events_p_${Fixtures.tag(d)}")(T.events(s, d)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date"))

  /** Partition pruning: a date-range query over the date-partitioned
    * events lake. The filter binds to the PARTITION column, so the scan
    * plans `PartitionFilters` and reads 7 of 30 date directories —
    * listing, not scanning, eliminates 77% of the data before a single
    * row is read. At 100 TB this is the difference between a full-lake
    * scan and touching one week of files; the plan-audit suite asserts
    * the pruning actually binds. The oracle runs the same range over the
    * raw (unpartitioned) events, so the partitioned layout must be
    * lossless. */
  private val q48 = Q(
    "q48_partition_prune",
    (s, d) => {
      val t = prewarmPartitionedEvents(s, d)
      s.table(t)
        .filter(
          col("event_date") >= lit("2024-01-08") &&
            col("event_date") <= lit("2024-01-14"))
        .groupBy(col("event_date").cast("string").as("event_date"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_date"), col("event_type"))
    },
    Some("""
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      GROUP BY 1, 2
      ORDER BY 1, 2"""),
  )

  /** RANGE-frame window: trailing 1-hour sum/count per user, the frame
    * bounded by the ORDER-BY VALUE (epoch seconds), not by row offsets —
    * q09's rows-frame sibling and the time-decay analytics shape
    * (rolling rates, sliding quotas). RANGE frames include all peers of
    * the current row, so ties in epoch_s are well-defined identically in
    * both engines; the final output order is made unique with event_id.
    * Same one-shuffle-per-partition-key posture as every window op. */
  private val q51 = Q(
    "q51_window_range_frame",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-3600L, Window.currentRow)
      T.events(s, d)
        .withColumn("epoch_s", col("ts").cast("long"))
        .select(
          col("user_id"),
          col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value")).over(w), 2).as("sum_1h"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
             count(*) OVER w AS n_1h,
             round(sum(value) OVER w, 2) AS sum_1h
      FROM (SELECT user_id, event_id, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""),
  )

  /** Multi-distinct aggregation: several count(DISTINCT …) over different
    * columns in ONE aggregate — Catalyst plans this with an Expand node
    * (one duplicated input stream per distinct set) feeding a two-level
    * aggregate, the standard engine treatment; naive per-distinct
    * subqueries would scan the fact N times. Both distinct columns are
    * genuinely non-unique per group (users repeat, so do days), so each
    * Expand branch discriminates — a unique column's distinct count
    * would degenerate to count(*) and mask a broken branch. */
  private val q52 = Q(
    "q52_agg_multi_distinct",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("d_users"),
          countDistinct(to_date(col("ts"))).as("d_days"),
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             count(DISTINCT user_id) AS d_users,
             count(DISTINCT CAST(ts AS DATE)) AS d_days,
             count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Ordered collection aggregate: per user, the sorted distinct set of
    * event types as one delimited string — collect_set + sort_array +
    * concat_ws on the Spark side, string_agg(DISTINCT … ORDER BY) in
    * DuckDB. Collection aggregates are only cross-engine-deterministic
    * when an explicit total order is imposed before serialization (bare
    * collect_list order is partition-arrival order — never comparable);
    * array output itself is serialized to a scalar string because the
    * driver's comparator cannot hash array columns. One hash aggregate
    * on a high-cardinality key at scale; per-group state is bounded by
    * the tiny type vocabulary. */
  private val q50 = Q(
    "q50_agg_collect",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("event_type"))))
            .as("types_csv"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("user_id")),
    Some("""
      SELECT user_id,
             string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS types_csv,
             count(DISTINCT event_type) AS n_types
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),
  )

  /** Dynamic partition pruning: the fact side is the date-partitioned
    * lake, but the date predicate lives on a DIMENSION (a calendar dim
    * keeping only weekends), so no static partition filter exists at
    * plan time. Catalyst inserts a `dynamicpruningexpression` on the
    * fact scan's partition column, fed by the broadcast dim at runtime —
    * the fact side still reads only the 8 weekend directories of 30.
    * This is the join-shaped sibling of q48's static pruning and the
    * second core scan-elimination mechanism of a partitioned 100 TB
    * lake (star-schema queries rarely filter the fact directly). The
    * weekday classification uses `dayofweek` in both engines (numeric,
    * locale-independent); the oracle applies the same weekend predicate
    * directly to raw events, so pruning must be lossless. */
  private val q49 = Q(
    "q49_dpp_join",
    (s, d) => {
      val t = prewarmPartitionedEvents(s, d)
      // Calendar dim: all of January 2024, filtered to weekends
      // (Spark dayofweek: 1 = Sunday … 7 = Saturday).
      val dim = s
        .sql("SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-30')) AS d")
        .filter(dayofweek(col("d")).isin(1, 7))
      s.table(t)
        .join(broadcast(dim), col("event_date") === col("d"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      WHERE dayofweek(CAST(ts AS DATE)) IN (0, 6)
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Exact distinct via a custom typed Aggregator
    * ([[graft.functions.BitmapDistinct]]): per-group user bitmaps OR'd
    * map-side, one fixed-size buffer per group over the shuffle —
    * contrast q17 (count(DISTINCT …): every distinct value shuffles) and
    * q26 (HLL: approximate). The oracle is the plain distinct count,
    * which the bitmap must reproduce exactly. */
  private val q47 = Q(
    "q47_agg_bitmap_distinct",
    (s, d) => {
      val bitmapDistinct = udaf(graft.functions.BitmapDistinct)
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          bitmapDistinct(col("user_id")).as("distinct_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             count(DISTINCT user_id) AS distinct_users,
             count(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Variant-typed JSON path (SURVEY §1.3's payload mapping, honoring the
    * reference's JSON decode — subscribe_to_shard.ex:365-366): the props
    * payload is parsed ONCE into Spark 4's `variant` binary encoding and
    * every field access is a typed `variant_get` on that encoding —
    * contrast q20, where each `get_json_object` re-parses the JSON text.
    * At 100 TB this is the difference between parse-per-access and
    * parse-once-query-many for semi-structured columns (and the encoding
    * is what parquet variant shredding stores, so the parse can
    * eventually move into the scan itself). `try_variant_get` on an
    * absent path is the graceful-miss probe (NULL, never an error);
    * its count must be zero on every row. The plan keeps parse +
    * both extractions in the single pre-aggregate projection —
    * PlanAuditSpec asserts one scan and no re-parse join. */
  private val q53 = Q(
    "q53_variant_json",
    (s, d) => {
      val v = parse_json(col("props"))
      T.events(s, d)
        .select(
          col("event_type"),
          variant_get(v, "$.k", "bigint").as("k"),
          try_variant_get(v, "$.missing", "string").as("miss"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k") * col("k")).as("sum_k2"),
          min(col("k")).as("min_k"),
          count(col("miss")).as("n_miss"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(k * k) AS BIGINT) AS sum_k2,
             min(k) AS min_k,
             count(miss) AS n_miss
      FROM (SELECT event_type,
                   CAST(props->>'$.k' AS BIGINT) AS k,
                   props->>'$.missing' AS miss
            FROM events)
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Write (once) a layout copy of `df` at `path`: range-partitioned
    * into 8 and sorted on `by`, split into small files, so each file's
    * footer min/max covers a narrow range of `by`. INT96 (the legacy
    * default outside Verify's session) carries NO min/max statistics and
    * footer stats are the point of these copies, so the write pins the
    * annotated int64 micros type (without it a Bench-first session would
    * store a stat-less copy under the fixture's key). */
  private def layoutCopy(s: SparkSession, path: String, by: Column*)(
      df: => DataFrame): String =
    Fixtures.once(path)(GraftSession.withConf(s,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(df
      .repartitionByRange(8, by: _*)
      .sortWithinPartitions(by: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 2000)
      .parquet(path)))

  /** Write (once) the sort-clustered events copy q54 scans: rows
    * range-partitioned then sorted by (event_type, ts), split into small
    * files — so every parquet file covers a narrow (event_type, ts)
    * rectangle and its footer min/max stats make selective filters skip
    * whole files/row-groups without listing tricks or a catalog. This is
    * the third scan-eliminator of a 100 TB lake after q48's static and
    * q49's dynamic partition pruning: directories prune coarsely, file
    * and row-group stats prune inside a partition, and they only work
    * when the data is CLUSTERED on the filter columns — the whole point
    * of the write shape here. FileStatsClusteringSpec reads the footers
    * back and asserts a selective predicate admits a strict subset of
    * files. */
  def prewarmClusteredEvents(s: SparkSession, d: String): String =
    layoutCopy(s, clusteredEventsPath(d), col("event_type"), col("ts"))(
      T.events(s, d))

  private[graft] def clusteredEventsPath(d: String): String =
    Fixtures.warehouse("graft_events_clustered", 1, d)

  /** Selective scan over the sort-clustered lake copy: the predicate
    * binds to the clustering columns, so parquet row-group stats (and at
    * scale, file-level stats in a table format's manifest) eliminate
    * nearly all I/O — `PushedFilters` carries the predicate into the
    * reader, and because the layout is clustered the stats actually
    * discriminate (on an unclustered layout every file's min/max spans
    * the whole domain and pruning is a no-op). The oracle runs the same
    * predicate over the raw events, so the clustered rewrite must be
    * lossless. */
  private val q54 = Q(
    "q54_file_stats_prune",
    (s, d) => {
      val path = prewarmClusteredEvents(s, d)
      s.read.parquet(path)
        .filter(
          col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-10 00:00:00") &&
            col("ts") < lit("2024-01-13 00:00:00"))
        .groupBy(to_date(col("ts")).cast("string").as("day"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("day"))
    },
    Some("""
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      WHERE event_type = 'purchase'
        AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <  TIMESTAMP '2024-01-13 00:00:00'
      GROUP BY 1
      ORDER BY day"""),
  )

  /** Deterministic hash-sampling: keep a row iff the first hex nibble of
    * md5(key) is '0' — an exact 1/16 sample whose membership is a pure
    * function of the key. This, not Bernoulli/TABLESAMPLE, is the
    * restartable-at-scale sampling contract a training-data budget needs:
    * membership survives retries, repartitioning, engine changes, and
    * incremental reruns (a failed stage re-samples identically; rand()
    * would not), the same key set is selected in every table sampled on
    * the same key (sampled joins stay consistent), and widening the
    * budget (nibble IN ('0','1') = 2/16) keeps every previously selected
    * row — monotone growth, no resample churn. md5 is the same
    * byte-for-byte function in every engine, so the oracle is exact, the
    * same cross-engine-determinism argument as the d-pack's md5 keys.
    * Plan shape: the filter is a cheap map-side predicate evaluated in
    * the scan's projection — no shuffle added to whatever runs
    * downstream. */
  private val q55 = Q(
    "q55_sample_hash",
    (s, d) =>
      T.events(s, d)
        .filter(substring(md5(col("event_id").cast("string")), 1, 1) === "0")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_sampled"),
          countDistinct(col("user_id")).as("d_users"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type, count(*) AS n_sampled,
             count(DISTINCT user_id) AS d_users,
             round(sum(value), 2) AS total_value
      FROM events
      WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Stratified deterministic sampling: a fixed 100-row budget PER
    * STRATUM (event_type), the rows chosen by md5-hash order — q55's
    * uniform-rate sibling for when the budget must be allocated per
    * class regardless of class skew (a 95%-click corpus still yields 100
    * purchases). Hash-ranking keeps every property that makes q55
    * restartable at scale: membership is a pure function of the key set
    * (retries, repartitioning, and engine changes reproduce it), and
    * RAISING the quota only ADDS rows — the rank order never changes, so
    * budget growth is monotone, no resample churn. The rollup (count,
    * exact id sum, value sum) pins the exact selected row set under the
    * hash gate without emitting 500 sampled rows.
    *
    * Scale shape: rank-by-hash is just top-k with a hash sort key, so
    * the q64 optimizer rewrite applies verbatim: it turns
    * the textbook window formulation below into q33's bounded-heap
    * TopKPerGroup plan — no per-stratum WindowExec sort, the shuffle
    * carries ≤ partitions·strata·100 rows, and a 95%-click stratum
    * (event_type is LOW cardinality, so every stratum is a hot key)
    * heap-folds map-side instead of buffering its billions of rows in
    * the single task `Window.partitionBy(event_type)` would give it. */
  private val q57 = Q(
    "q57_sample_stratified",
    (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      T.events(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 100)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("event_id")).as("sum_event_id"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n_sampled,
             CAST(sum(event_id) AS BIGINT) AS sum_event_id,
             round(sum(value), 2) AS total_value
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
            FROM events)
      WHERE rk <= 100
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** CDC snapshot maintenance — the lakehouse MERGE pattern: a compacted
    * base snapshot (latest state per (user_id, event_type) entity from
    * events before the cutoff) has a changelog delta (events at/after
    * the cutoff) applied to it. Each row carries a CDC op — upsert or
    * delete — derived deterministically from event_id (`pmod(event_id,
    * 17) = 0` ⇒ tombstone) because the fixture has no op column; a real
    * changelog ships one inline. A key whose newest version is a
    * tombstone leaves the snapshot; a later upsert re-inserts it.
    * MATCHED-update, MATCHED-delete, and NOT-MATCHED-insert all collapse
    * into one union + latest-wins window, which is why the operator is a
    * single shuffle on the merge key at any scale (with the base stored
    * bucketed on the key, q42-style, the base side ships zero bytes).
    *
    * The oracle is the FULL recompute (latest state over the entire
    * changelog, no cutoff), so a green row proves the incremental merge
    * is exactly equivalent to recomputation from scratch — the
    * associativity that makes daily incremental snapshot jobs safe. The
    * late cutoff makes the proof discriminating: ~40% of keys at sf0.01
    * have no delta rows at all (the base row must survive verbatim),
    * the rest are overwritten, and tombstone-then-reupsert re-inserts.
    * Version order is (ts, event_id): all delta versions are newer than
    * all base versions, so compacting the base first cannot change the
    * winner. */
  private val q58 = Q(
    "q58_cdc_merge",
    (s, d) => {
      val cutoff = lit("2024-01-29 00:00:00").cast("timestamp")
      val key = Seq(col("user_id"), col("event_type"))
      val ev = T.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"),
          (pmod(col("event_id"), lit(17)) === 0).as("is_delete"))
      val w = Window.partitionBy(key: _*)
        .orderBy(col("ts").desc, col("event_id").desc)
      def compact(log: DataFrame): DataFrame = log
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .drop("rk")
        .filter(!col("is_delete")) // tombstone ⇒ key absent
      val base  = compact(ev.filter(col("ts") < cutoff))
      val delta = ev.filter(col("ts") >= cutoff)
      val deltaCounts = delta.groupBy(key: _*)
        .agg(count(lit(1)).as("n_delta_versions"))
      compact(base.unionByName(delta))
        .join(deltaCounts, Seq("user_id", "event_type"), "left")
        .select(
          col("user_id"),
          col("event_type"),
          col("event_id").as("last_event_id"),
          // String-format per house convention: Spark writes parquet
          // timestamps isAdjustedToUTC=true (DuckDB reads TIMESTAMPTZ)
          // while the oracle's ts is naive — identical instants would
          // still hash-mismatch as raw TimestampType.
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          round(col("value"), 2).as("last_value"),
          coalesce(col("n_delta_versions"), lit(0L)).as("n_delta_versions"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      WITH latest AS (
        SELECT user_id, event_type, event_id, ts, value,
               (event_id % 17 = 0) AS is_delete,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rk
        FROM events),
      dc AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events WHERE ts >= TIMESTAMP '2024-01-29 00:00:00'
        GROUP BY user_id, event_type)
      SELECT l.user_id,
             l.event_type,
             l.event_id AS last_event_id,
             strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
             round(l.value, 2) AS last_value,
             coalesce(dc.n, 0) AS n_delta_versions
      FROM latest l LEFT JOIN dc USING (user_id, event_type)
      WHERE l.rk = 1 AND NOT l.is_delete
      ORDER BY l.user_id, l.event_type"""),
  )

  /** The q59 join with its conf-dependent physical shape: a fact-fact
    * shuffle join where the dimension side carries a selective predicate.
    * Package-visible so PlanAuditSpec can assert the bloom injection on
    * the plan itself (the registered query returns a materialized
    * snapshot whose plan is already a LogicalRDD). */
  private[graft] def q59Inner(s: SparkSession, d: String): DataFrame = {
    val big = T.orders(s, d).filter(col("o_totalprice") > 480000)
    T.lineitem(s, d)
      .join(big, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Runtime bloom-filter semi-join reduction — the shuffle-join killer
    * feature at 100 TB: when a fact-fact join's build side carries a
    * selective filter, Catalyst's InjectRuntimeFilter plants a bloom
    * filter aggregate on the build side and a `might_contain(...,
    * xxhash64(key))` predicate on the probe side's SCAN, so the probe
    * fact table drops non-joining rows before the exchange instead of
    * shuffling 100 TB to discard 96% of it at the join. Locally the
    * default thresholds suppress injection (the probe scan must look
    * ≥ 10 GB), so the query plans and RUNS under
    * applicationSideScanSizeThreshold=0 with broadcast disabled — the
    * exact configuration a warehouse-scale deployment hits naturally —
    * and is materialized inside that [[graft.GraftSession.withConf]]
    * scope. PlanAuditSpec asserts might_contain lands on the probe
    * scan. */
  private val q59 = Q(
    "q59_bloom_semijoin",
    (s, d) => GraftSession.withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"
    )(q59Inner(s, d).transform(GraftSession.materialize)),
    Some("""
      SELECT o_orderpriority,
             count(*) AS n_lines,
             count(DISTINCT o_orderkey) AS n_orders,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 480000
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
  )

  /** Write (once) the Z-ORDER-clustered events copy q62 scans. q54's
    * linear sort clusters (event_type, ts) but only the PREFIX dimension
    * prunes on its own; interleaving the bits of two scaled dimensions
    * (user_id, ts → 8 bits each, domains measured from the data exactly
    * like production z-order writers do) makes contiguous z-ranges cover
    * small RECTANGLES in (user, time) space, so file-level min/max stats
    * discriminate for a predicate on EITHER dimension alone — the
    * multi-dimensional layout tier of a 100 TB lake (Delta/Iceberg
    * OPTIMIZE ZORDER BY). The z-value is layout-only: row content is
    * untouched, which the q62 oracle (same predicate over the raw
    * events) gates. ZOrderClusteringSpec reads the footers back and
    * asserts BOTH single-dimension predicates admit strict file
    * subsets. */
  def prewarmZOrderedEvents(s: SparkSession, d: String): String =
    layoutCopy(s, zOrderedEventsPath(d), col("zval")) {
      val ev = T.events(s, d)
      val b = ev.agg(
        min(col("user_id")), max(col("user_id")),
        min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
        .first()
      def scale8(e: String, lo: Long, hi: Long): String =
        s"greatest(0L, least(255L, CAST(floor((($e) - ${lo}.0) * 256.0" +
          s" / ${(hi - lo + 1)}.0) AS BIGINT)))"
      val u8 = scale8("CAST(user_id AS DOUBLE)", b.getLong(0), b.getLong(1))
      val t8 = scale8("CAST(unix_timestamp(ts) AS DOUBLE)",
        b.getLong(2), b.getLong(3))
      val z = (0 until 8).map(i =>
        s"shiftleft(shiftright(u8c, $i) & 1, ${2 * i + 1}) + " +
          s"shiftleft(shiftright(t8c, $i) & 1, ${2 * i})")
        .mkString(" + ")
      ev.withColumn("u8c", expr(u8))
        .withColumn("t8c", expr(t8))
        .withColumn("zval", expr(z))
        .drop("u8c", "t8c")
    }

  private[graft] def zOrderedEventsPath(d: String): String =
    Fixtures.warehouse("graft_events_zorder", 1, d)

  /** Selective two-dimension scan over the z-ordered copy: the user band
    * and the time window each bind to an interleaved dimension, so file
    * and row-group stats eliminate most I/O on both axes at once —
    * where q54's linear layout would only prune on its leading column.
    * The oracle runs the identical predicate over the raw events, so
    * the rewrite must be lossless. */
  private val q62 = Q(
    "q62_zorder_prune",
    (s, d) => {
      val path = prewarmZOrderedEvents(s, d)
      s.read.parquet(path)
        .filter(
          col("user_id").between(3, 69) &&
            col("ts") >= lit("2024-01-08 00:00:00") &&
            col("ts") < lit("2024-01-18 00:00:00"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             round(sum(value), 2) AS total_value
      FROM events
      WHERE user_id BETWEEN 3 AND 69
        AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-18 00:00:00'
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Deterministic corpus shuffle + shard assignment — the writer stage
    * of a training-data pipeline: every document lands in one of 16
    * output shards (its md5 first nibble) and within a shard the
    * training order is the md5 hex order, so the global shuffle is a
    * pure function of the key set — reproducible across engines,
    * retries, and repartitioning, exactly like q55's hash sampling but
    * for ORDERING rather than membership. The per-shard report pins the
    * whole assignment under the hash gate: row/char totals show payload
    * balance, and the first/last doc ids BY HASH ORDER pin the
    * within-shard sequence's endpoints (min_by/arg_min on the full
    * 32-nibble hash — collision-free at any scale that fits in md5).
    *
    * Scale shape: map-only hash + one shuffle on the 16-value shard key;
    * the real writer is `repartition(shard).sortWithinPartitions(hash)`
    * + maxRecordsPerFile, the q54 layout tier applied to training
    * shards. */
  private val q60 = Q(
    "q60_shuffle_shard",
    (s, d) => {
      val h = md5(col("doc_id").cast("string"))
      T.documents(s, d)
        .select(col("doc_id"), col("n_chars"), h.as("h"),
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10) AS BIGINT)")
            .as("shard"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"),
          min_by(col("doc_id"), col("h")).as("first_doc"),
          max_by(col("doc_id"), col("h")).as("last_doc"))
        .orderBy(col("shard"))
    },
    Some("""
      SELECT CAST(strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                  AS BIGINT) - 1 AS shard,
             count(*) AS n_docs,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             arg_min(doc_id, md5(CAST(doc_id AS VARCHAR))) AS first_doc,
             arg_max(doc_id, md5(CAST(doc_id AS VARCHAR))) AS last_doc
      FROM documents
      GROUP BY shard
      ORDER BY shard"""),
  )

  /** Inline observability — `Dataset.observe` (CollectMetrics): the
    * data-quality counters every production pipeline needs (row counts,
    * domain-violation counts, null rates) computed INSIDE an existing
    * pass over the data, not as a second scan — at 100 TB the difference
    * between free monitoring and doubling the job. The observed subplan
    * here is a pushed-down filtered scan; the query materializes it once
    * (the action the Observation contract requires), then returns the
    * metrics row itself so the DuckDB oracle hash-gates the OBSERVED
    * values — monitoring that is itself correctness-checked. */
  private val q65 = Q(
    "q65_observe_metrics",
    (s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val base = T.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00"))
        .observe(
          obs,
          count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(when(col("l_discount") < 0 || col("l_discount") > 0.1,
            lit(1))).as("n_bad_discount"),
          count(when(col("l_returnflag").isNull, lit(1))).as("n_null_flag"))
      // The action that both produces downstream work (a real consumer
      // would write here) and completes the observation.
      base.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((
        m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[Double],
        m("n_bad_discount").asInstanceOf[Long],
        m("n_null_flag").asInstanceOf[Long]))
        .toDF("n_rows", "sum_qty", "n_bad_discount", "n_null_flag")
    },
    Some("""
      SELECT count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             count(CASE WHEN l_discount < 0 OR l_discount > 0.1
                        THEN 1 END) AS n_bad_discount,
             count(CASE WHEN l_returnflag IS NULL THEN 1 END) AS n_null_flag
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"""),
  )

  /** Sketch RE-AGGREGATION — the property that makes approximate
    * distinct counts maintainable at 100 TB: per-day HLL sketches are
    * built once (the expensive pass over the raw events), then the
    * monthly distinct-user count comes from UNIONING the 30 daily
    * sketches — no second scan of the raw data, the exact pattern of an
    * incremental rollup table (store sketches, not counts, because
    * counts don't merge and sketches do). q26 showed the one-shot
    * estimator; this shows the two-level partial/merge lifecycle
    * (`hll_sketch_agg` → `hll_union_agg` → `hll_sketch_estimate`).
    * Correctness is gated q40-style: the merged estimate must land
    * within 5% of the exact month-level distinct count (lgConfigK=14
    * ⇒ ~0.8% standard error), with the exact count itself hash-compared
    * so the oracle pins real values, not just the boolean. */
  private val q63 = Q(
    "q63_sketch_reagg",
    (s, d) => {
      val ev = T.events(s, d)
      val daily = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val monthly = daily
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("apx"))
      val exact = ev
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("d_exact"))
      monthly.join(exact, "event_type")
        .select(
          col("event_type"),
          col("n_days"),
          col("d_exact"),
          (abs(col("apx") - col("d_exact")) <=
            col("d_exact").cast("double") * 0.05).as("approx_in_tolerance"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             count(DISTINCT CAST(ts AS DATE)) AS n_days,
             count(DISTINCT user_id) AS d_exact,
             TRUE AS approx_in_tolerance
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** The textbook window-top-k formulation under the
    * [[graft.plans.WindowTopKRewrite]] optimizer rule — the user writes
    * `row_number() OVER (...) <= k` and the rule swaps in q33's
    * bounded-heap TopKPerGroup operator (no per-group sort, the shuffle
    * carries ≤ partitions·groups·k rows). Same rows as the WindowExec
    * formulation by construction — the oracle runs the window SQL — and
    * PlanAuditSpec asserts the physical plan really is the heap operator
    * with no Window node left. Completes the extension-tier set:
    * codegen Expression, typed Aggregator, Generator, planner Strategy,
    * and now an optimizer Rule. */
  private val q64 = Q(
    "q64_topk_rewrite",
    (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
      T.lineitem(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
      FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
                 AS rk
        FROM lineitem)
      WHERE rk <= 3
      ORDER BY l_returnflag, l_orderkey, l_linenumber"""),
  )

  /** Exact stratified quantiles — the precise tier under q40's
    * approx_percentile sketch, for the strata small enough to afford it
    * (per-stratum calibration cuts, SLA percentiles, label-balance
    * audits). Interpolating percentile functions differ in FP evaluation
    * order across engines (lo + d·(hi−lo) vs (1−d)·lo + d·hi), so this
    * uses DISCRETE quantiles selected by pure integer rank arithmetic:
    * rank r(q) = ceil(q·n/100) over the per-stratum value order, value
    * picked by an exact rank match — the emitted doubles are raw
    * stored values, bit-identical in any engine, no tolerance oracle
    * needed. Tie order between equal values cannot change the picked
    * VALUE (same multiset, same rank).
    *
    * Scale shape: event_type is a ~5-value hot key, so the textbook
    * `row_number() OVER (PARTITION BY event_type ORDER BY value)` hands
    * each stratum ONE task sorting a fifth of the corpus — the rank:N:H
    * tier measured that cliff at 5.1× on a 2×10⁸-row 95%-hot stream.
    * And a FULL ranking is wasted work here anyway: the query reads four
    * exact ranks per stratum, so it runs as
    * [[DistributedScan.rankSelect]] over unit-value bands (floor(value),
    * monotone in the leading sort key) — one partial-combining
    * band-count pass, a count-scan over the band table to locate the
    * ONE band straddling each target rank, and a second scan that sorts
    * only those boundary bands' rows (~rows/bands of the corpus, window
    * tasks bounded by band occupancy). No row outside a boundary band
    * is ever ranked, shuffled on a rank key, or sorted. When even a
    * band stops fitting a task, q40's sketch IS the scale path — the
    * same exact/approx menu as q31/q40 and q26/q63. Oracle keeps the
    * textbook window SQL: counting is associative, so the rows are
    * bit-identical. */
  private val q67 = Q(
    "q67_stratified_quantiles",
    (s, d) => {
      def rank(q: Int) = s"(($q * n) + 99) div 100"
      DistributedScan.rankSelect(
          T.events(s, d)
            .select(col("event_type"), col("event_id"), col("value")),
          "event_type", floor(col("value")).cast("long"),
          Seq(col("value"), col("event_id")), col("value"),
          Seq("p25" -> rank(25), "p50" -> rank(50),
            "p90" -> rank(90), "p99" -> rank(99)))
        .select(col("event_type"), col("n"),
          col("p25"), col("p50"), col("p90"), col("p99"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events)
      SELECT event_type,
             max(n) AS n,
             min(value) FILTER (rk = ((25 * n) + 99) // 100) AS p25,
             min(value) FILTER (rk = ((50 * n) + 99) // 100) AS p50,
             min(value) FILTER (rk = ((90 * n) + 99) // 100) AS p90,
             min(value) FILTER (rk = ((99 * n) + 99) // 100) AS p99
      FROM ranked
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Sparse-domain exact distinct via the paged (roaring-style) bitmap
    * aggregate — the 64-bit sibling q47's dense bitmap cannot serve
    * (its require caps ids at 2^30). The counted key is a composite
    * (user_id, epoch-week) packed injectively into one long
    * (user << 40 | week): weekly-active dedup, the shape engagement
    * pipelines aggregate at 100 TB, where the id space is inherently
    * sparse (each user's weeks share one 2^16 page as a tiny array
    * container — ~8 bytes per entry, not a dense bitmap's id/8). Same
    * map-side page-union contract as q47: partial buffers OR on the
    * wire, never the distinct values themselves.
    * PagedBitmapDistinctSpec covers the container algebra (array →
    * bitmap upgrade at break-even, cross-kind merges); the oracle
    * gates the end-to-end counts. */
  private val q68 = Q(
    "q68_distinct_sparse_bitmap",
    (s, d) => {
      val pagedDistinct = udaf(graft.functions.PagedBitmapDistinct)
      T.events(s, d)
        .select(col("event_type"),
          (shiftleft(col("user_id"), 40) +
            expr("unix_timestamp(ts) div 604800")).as("uw"))
        .groupBy(col("event_type"))
        .agg(
          pagedDistinct(col("uw")).as("weekly_active"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             count(DISTINCT (user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 604800)) AS weekly_active,
             count(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Two-snapshot reconciliation — the FULL OUTER join shape the batch
    * surface was missing (q03–q07 cover inner/semi/anti/range; q61 covers
    * streaming outer). Revenue per customer seen by the order system is
    * reconciled against revenue per user seen by the event stream: keys on
    * either side only, presence flags, zero-coalesced totals. This is the
    * nightly "do the two systems agree" audit every ingest pipeline runs.
    *
    * Scale shape: both sides pre-aggregate to one row per key BEFORE the
    * join (partial aggregation map-side), so the full-outer shuffle
    * carries two key-sized relations, not the fact tables. */
  private val q69 = Q(
    "q69_full_outer_reconcile",
    (s, d) => {
      val a = T.orders(s, d)
        .groupBy(col("o_custkey").as("cust"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("order_total"),
          count(lit(1)).as("n_orders"))
      val b = T.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("cust"))
        .agg(
          round(sum(col("value")), 2).as("purchase_total"),
          count(lit(1)).as("n_purchases"))
      a.join(b, Seq("cust"), "full_outer")
        .select(
          col("cust"),
          col("order_total").isNotNull.as("in_orders"),
          col("purchase_total").isNotNull.as("in_events"),
          coalesce(col("order_total"), lit(0.0)).as("order_total"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("purchase_total"), lit(0.0)).as("purchase_total"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("cust"))
    },
    Some("""
      WITH a AS (
        SELECT o_custkey AS cust, round(sum(o_totalprice), 2) AS order_total,
               count(*) AS n_orders
        FROM orders GROUP BY 1),
      b AS (
        SELECT user_id AS cust, round(sum(value), 2) AS purchase_total,
               count(*) AS n_purchases
        FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT coalesce(a.cust, b.cust) AS cust,
             a.order_total IS NOT NULL AS in_orders,
             b.purchase_total IS NOT NULL AS in_events,
             coalesce(a.order_total, 0.0) AS order_total,
             coalesce(a.n_orders, 0) AS n_orders,
             coalesce(b.purchase_total, 0.0) AS purchase_total,
             coalesce(b.n_purchases, 0) AS n_purchases
      FROM a FULL OUTER JOIN b ON a.cust = b.cust
      ORDER BY cust"""),
  )

  /** Date-spine densification + forward fill — reporting pipelines need
    * every calendar day present, gaps carried forward (dashboards, SLO
    * burn-downs, training-data day-mix audits). The spine is generated
    * with sequence()/explode from a one-row bounds aggregate (never a
    * driver-side loop); missing days get the last observed revenue via
    * an ignore-nulls window, leading gaps zero-coalesced.
    *
    * Scale note: the fill window is a single global ORDER BY day — bounded
    * by CALENDAR DAYS (365/year), independent of fact volume, so the one
    * partition it runs in holds the spine, not the data. The daily
    * aggregate underneath shuffles on day as usual. */
  private val q70 = Q(
    "q70_gap_fill_spine",
    (s, d) => {
      val e = T.events(s, d)
      val daily = e.filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("revenue"))
      val spine = e
        .agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("day"))
      val fill = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("day"), "left")
        .withColumn("was_gap", col("revenue").isNull)
        .withColumn(
          "revenue_filled",
          coalesce(last(col("revenue"), ignoreNulls = true).over(fill), lit(0.0)))
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("was_gap"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          col("revenue_filled"))
        .orderBy(col("day"))
    },
    Some("""
      WITH b AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events),
      spine AS (
        SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                 CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        FROM b),
      daily AS (
        SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS revenue
        FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT strftime(s.day, '%Y-%m-%d') AS day,
             d.revenue IS NULL AS was_gap,
             coalesce(d.revenue, 0.0) AS revenue,
             coalesce(last_value(d.revenue IGNORE NULLS) OVER (
               ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
               AS revenue_filled
      FROM spine s LEFT JOIN daily d USING (day)
      ORDER BY day"""),
  )

  /** Wide-to-long melt via Dataset.unpivot — the inverse of q34's pivot,
    * closing the reshape pair. Status totals are zero-coalesced BEFORE the
    * melt so both engines agree on rows regardless of how each treats
    * NULL measures under UNPIVOT (SQL UNPIVOT drops them; melt keeps
    * them). Map-only on top of a tiny pivoted aggregate. */
  private val q71 = Q(
    "q71_unpivot_melt",
    (s, d) => {
      val wide = T.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0.0)).as("total_f"),
          coalesce(col("O"), lit(0.0)).as("total_o"),
          coalesce(col("P"), lit(0.0)).as("total_p"))
      wide.unpivot(
          Array(col("o_orderpriority")),
          Array(col("total_f"), col("total_o"), col("total_p")),
          "status", "total")
        .select(
          col("o_orderpriority"),
          // the melted variable is the source column name total_<s>;
          // surface the status letter itself
          upper(substring(col("status"), 7, 1)).as("status"),
          col("total"))
        .orderBy(col("o_orderpriority"), col("status"))
    },
    Some("""
      WITH p AS (
        SELECT o_orderpriority,
               coalesce(round(sum(CASE WHEN o_orderstatus = 'F'
                 THEN o_totalprice END), 2), 0.0) AS total_f,
               coalesce(round(sum(CASE WHEN o_orderstatus = 'O'
                 THEN o_totalprice END), 2), 0.0) AS total_o,
               coalesce(round(sum(CASE WHEN o_orderstatus = 'P'
                 THEN o_totalprice END), 2), 0.0) AS total_p
        FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, 'F' AS status, total_f AS total FROM p
      UNION ALL
      SELECT o_orderpriority, 'O' AS status, total_o AS total FROM p
      UNION ALL
      SELECT o_orderpriority, 'P' AS status, total_p AS total FROM p
      ORDER BY o_orderpriority, status"""),
  )

  /** Interval join via bin expansion — the 100 TB scale path for pure
    * range predicates. q07's range join carries a user_id equi-key, so
    * SMJ applies; a PURE interval predicate (event time inside overlapping
    * report windows) has no equi-key and degenerates to a nested loop when
    * both sides are large. The classic fix: quantize time into fixed bins,
    * expand each window to the bins it covers (sequence/explode), tag each
    * event with its single bin, equi-join on bin, refine with the exact
    * predicate. Every (event, window) pair surfaces exactly once — the
    * event owns one bin — so no post-join dedup is needed. The join is a
    * plain hash/SMJ on bin at any scale; bin width trades expansion factor
    * (window_len/bin + 1 rows per window) against per-bin selectivity.
    * Windows here: 6-hourly starts, 1-day length (4× overlap).
    *
    * Precision bound (applies to every round(sum(double), 2) money
    * rollup in the pack): the cent digits are engine-stable while group
    * sums stay within ~2^53/100; an extreme outlier value (≥ ~1e12 in
    * one event) pushes accumulation-order noise past the cent and the
    * two engines may round differently — the q104 integer-cents
    * convention is the exact path when the domain allows such values. */
  private val q72 = Q(
    "q72_interval_join_binned",
    (s, d) => {
      val binSec = 21600L // 6 h grid = the window stride
      val e = T.events(s, d)
      val windows = e
        .agg(date_trunc("day", min(col("ts"))).as("lo"), max(col("ts")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 6 hours)")).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("INTERVAL 1 DAY"))
        .withColumn(
          "bin",
          explode(expr(
            s"sequence(unix_timestamp(w_start) div $binSec, (unix_timestamp(w_end) - 1) div $binSec)")))
      val probe = e
        .select(col("ts"), col("value"))
        .withColumn("bin", expr(s"unix_timestamp(ts) div $binSec"))
      probe.join(windows, Seq("bin"))
        .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy(col("w_start"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(
          date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n_events"),
          col("total_value"))
        .orderBy(col("w_start"))
    },
    Some("""
      WITH b AS (
        SELECT date_trunc('day', min(ts)) AS lo, max(ts) AS hi FROM events),
      w AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS w_start
        FROM b)
      SELECT strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
             count(*) AS n_events,
             round(sum(e.value), 2) AS total_value
      FROM w JOIN events e
        ON e.ts >= w.w_start AND e.ts < w.w_start + INTERVAL 1 DAY
      GROUP BY w.w_start
      ORDER BY w.w_start"""),
  )

  /** Heavy-hitters sketch — approx_top_k, the frequent-items member of
    * the sketch column (q26/q63 HLL cardinality, q40 percentile). One
    * mergeable sketch accumulates map-side and combines to the driver's
    * single row: the only way to answer "top users" over 100 TB in one
    * pass without a full (user, count) shuffle. At oracle scale the
    * sketch tracks 4096 slots against a ~150-user domain, so every
    * estimate is EXACT and the DuckDB group-by oracle gates it
    * hash-for-hash; the explode → re-rank with a user_id tiebreak → cut
    * to 10 makes the emitted rows deterministic. */
  private val q74 = Q(
    "q74_approx_topk",
    (s, d) =>
      T.events(s, d)
        .agg(expr("approx_top_k(user_id, 100, 4096)").as("tk"))
        .select(explode(col("tk")).as("t"))
        .select(col("t.item").as("user_id"), col("t.count").as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(10),
    Some("""
      SELECT user_id, count(*) AS n
      FROM events
      GROUP BY user_id
      ORDER BY n DESC, user_id
      LIMIT 10"""),
  )

  /** One-time json/csv/orc copies of the 3-column documents projection
    * for q75 (one store fixture, same lifecycle as the q54/q62 layout
    * copies). Public so Bench prewarms the writes and the query times
    * the SCANS. */
  def prewarmFormatCopies(s: SparkSession, d: String): String = {
    val base = formatCopiesPath(d)
    Fixtures.once(base) {
      val proj = T.documents(s, d).select("doc_id", "lang", "n_chars")
      proj.write.mode("overwrite").json(s"$base/json")
      proj.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      proj.write.mode("overwrite").orc(s"$base/orc")
    }
  }

  private[graft] def formatCopiesPath(d: String): String =
    Fixtures.warehouse("graft_docs_formats", 1, d)

  /** Source-format breadth: the same relation read back through the
    * json-lines, csv, and orc readers, each summarized to an identical
    * fingerprint row (count, char volume, language cardinality, a
    * doc_id-weighted checksum) — a lossless round-trip proof per format,
    * gated by one oracle computed from the parquet original. Schemas are
    * EXPLICIT on the text formats: an inference pass would silently scan
    * every file twice, the wrong default at any scale. */
  private val q75 = Q(
    "q75_multiformat_scan",
    (s, d) => {
      val base   = prewarmFormatCopies(s, d)
      val schema = "doc_id BIGINT, lang STRING, n_chars BIGINT"
      def readFmt(fmt: String): DataFrame = fmt match {
        case "json" => s.read.schema(schema).json(s"$base/json")
        case "csv" =>
          s.read.schema(schema).option("header", "true").csv(s"$base/csv")
        case _ => s.read.orc(s"$base/orc")
      }
      Seq("csv", "json", "orc")
        .map { fmt =>
          readFmt(fmt).agg(
              count(lit(1)).as("n_docs"),
              sum(col("n_chars")).cast("long").as("total_chars"),
              countDistinct(col("lang")).as("n_langs"),
              sum(col("doc_id") * col("n_chars")).cast("long").as("checksum"))
            .select(
              lit(fmt).as("format"), col("n_docs"), col("total_chars"),
              col("n_langs"), col("checksum"))
        }
        .reduce(_ union _)
        .orderBy(col("format"))
    },
    Some("""
      WITH m AS (
        SELECT count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               count(DISTINCT lang) AS n_langs,
               CAST(sum(doc_id * n_chars) AS BIGINT) AS checksum
        FROM documents)
      SELECT f.format, m.n_docs, m.total_chars, m.n_langs, m.checksum
      FROM (SELECT unnest(['csv', 'json', 'orc']) AS format) f
      CROSS JOIN m
      ORDER BY f.format"""),
  )

  /** Map higher-order functions — the lambda tier q27's construction/
    * access pack stops short of: transform_keys, transform_values,
    * map_filter, map_zip_with, and a map_values fold, all in one codegen
    * pipeline (no UDF). The oracle recomputes the same VALUES by direct
    * arithmetic — maps built from known columns mean every HOF result is
    * expressible as plain scalar math, which is exactly what makes the
    * lambda path checkable cross-engine. Map-only at any scale. */
  private val q76 = Q(
    "q76_map_hof",
    (s, d) =>
      T.part(s, d)
        .select(
          col("p_partkey"),
          expr("map('size', CAST(p_size AS DOUBLE), 'price', p_retailprice)")
            .as("m1"),
          expr("map('size', 2.0D, 'price', 0.9D)").as("m2"))
        .select(
          col("p_partkey"),
          expr("size(map_filter(m1, (k, v) -> v >= 10.0D))").as("n_big"),
          expr("array_join(map_keys(transform_keys(m1, (k, v) -> upper(k))), ',')")
            .as("keys_up"),
          round(
            expr("""aggregate(
                      map_values(map_zip_with(m1, m2, (k, a, b) -> a * b)),
                      0.0D, (acc, x) -> acc + x)"""),
            2).as("weighted_sum"),
          round(
            expr("aggregate(map_values(transform_values(m1, (k, v) -> v + 1.0D)), 0.0D, (acc, x) -> acc + x)"),
            2).as("shifted_sum"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             (CASE WHEN p_size >= 10 THEN 1 ELSE 0 END
              + CASE WHEN p_retailprice >= 10.0 THEN 1 ELSE 0 END) AS n_big,
             'SIZE,PRICE' AS keys_up,
             round(CAST(p_size AS DOUBLE) * 2.0 + p_retailprice * 0.9, 2)
               AS weighted_sum,
             round((CAST(p_size AS DOUBLE) + 1.0) + (p_retailprice + 1.0), 2)
               AS shifted_sum
      FROM part
      ORDER BY p_partkey"""),
  )

  /** DuckDB's grading of the `mangled` props strings by Spark's
    * schema-bind notion of corrupt (q77's rule, which q94 routes on): a
    * row is ok iff it parses AND its k is an integer or absent. */
  private[operators] val GradedSql = """graded AS (
        SELECT event_type, raw,
               CASE WHEN json_valid(raw)
                    THEN coalesce(json_type(raw, '$.k'), 'NULL')
                         IN ('UBIGINT', 'BIGINT', 'NULL')
                    ELSE FALSE END AS ok
        FROM mangled)"""

  /** Malformed-input robustness — the PERMISSIVE parse semantics every
    * 100 TB ingest relies on: a tenth of the JSON payloads are truncated
    * (deterministically, by event_id), and the pipeline must COUNT the
    * rejects and aggregate the survivors rather than fail the job. Spark:
    * from_json yields NULL on unparseable input; DuckDB mirrors with
    * json_valid. Reject counting is pinned to WHOLE-RECORD validity by
    * disabling spark.sql.json.enablePartialResults for the query (restored
    * after, the q73/q80 conf convention): partial-results parsing is
    * version-sensitive, and a Spark that salvages the parsed-before-EOF
    * field would silently diverge from the oracle's json_valid.
    * Map-only + one k-row rollup. */
  private val q77 = Q(
    "q77_json_malformed",
    (s, d) => GraftSession.withConf(s, "spark.sql.json.enablePartialResults" -> "false") {
      T.events(s, d)
        .withColumn(
          "raw",
          expr("""CASE WHEN event_id % 10 = 0
                       THEN substring(props, 1, length(props) - 1)
                       ELSE props END"""))
        .withColumn("parsed", expr("from_json(raw, 'k INT')"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          // Count rejects on the FIELD, not the struct: PERMISSIVE
          // from_json may surface corrupt input as either a null struct
          // or a struct of nulls depending on version — k is null under
          // both (and never null in well-formed fixture payloads).
          sum(when(col("parsed.k").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("parsed.k")).cast("long").as("sum_k"))
        .orderBy(col("event_type"))
        .transform(GraftSession.materialize)
    },
    Some(s"""
      WITH mangled AS (
        SELECT event_type,
               CASE WHEN event_id % 10 = 0
                    THEN substr(props, 1, length(props) - 1)
                    ELSE props END AS raw
        FROM events),
      -- "bad" mirrors Spark's SCHEMA-BIND notion of corrupt, not mere
      -- syntactic validity: a parseable record whose k is not an integer
      -- (object/array/string/double k) is corrupt to from_json('k INT')
      -- under enablePartialResults=false, so the oracle must grade it
      -- bad too. CASE keeps json_type off malformed rows (it throws
      -- where json_valid is merely false).
      $GradedSql
      SELECT event_type, count(*) AS n,
             CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_bad,
             CAST(sum(CASE WHEN ok
                           THEN CAST(raw ->> 'k' AS INT) END) AS BIGINT)
               AS sum_k
      FROM graded
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Schema-evolution union — unionByName with allowMissingColumns, the
    * lakehouse reality q12's positional union assumes away: an old writer
    * version lacks a column the new one carries, and the union must align
    * BY NAME and null-fill, never by position (positional union silently
    * garbles when column order drifts). Old/new writers simulated by an
    * orderkey parity split; the rollup buckets the null-filled column
    * explicitly so the fill is visible in the gated output. Map-only +
    * one k-row rollup. */
  private val q78 = Q(
    "q78_union_by_name",
    (s, d) => {
      val o = T.orders(s, d)
      val v1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(
          coalesce(col("o_orderpriority"), lit("<pre-upgrade>"))
            .as("priority"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("priority"))
    },
    Some("""
      WITH unioned AS (
        SELECT o_orderkey, NULL AS o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1)
      SELECT coalesce(o_orderpriority, '<pre-upgrade>') AS priority,
             count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM unioned
      GROUP BY 1
      ORDER BY priority"""),
  )

  /** Top-k sketch re-aggregation — q63's store-sketches-not-counts
    * lifecycle for the frequent-items sketch: per-day
    * approx_top_k_accumulate states are stored, combined up to week
    * level, and estimated once — the incremental-rollup pattern that
    * answers "weekly top users" at 100 TB without re-scanning history
    * (yesterday's daily states are already on disk; today's scan is the
    * only new work). The 4096-slot sketch tracks every user at BOTH the
    * oracle scale and the sf0.1 bench scale (1500 users/week), so the
    * estimate stays exact in every regime this repo runs; the full estimate is re-ranked with
    * a user_id tiebreak and cut to 5 per week, making boundary ties
    * deterministic in both engines. */
  private val q79 = Q(
    "q79_topk_sketch_reagg",
    (s, d) => {
      T.events(s, d).createOrReplaceTempView("g79_events")
      val est = s.sql("""
        WITH daily AS (
          SELECT date_trunc('WEEK', ts) AS week, to_date(ts) AS day,
                 approx_top_k_accumulate(user_id, 4096) AS sk
          FROM g79_events GROUP BY 1, 2),
        weekly AS (
          SELECT week, approx_top_k_combine(sk, 4096) AS sk
          FROM daily GROUP BY week)
        SELECT week, explode(approx_top_k_estimate(sk, 4096)) AS t
        FROM weekly""")
      val byWeek = Window.partitionBy(col("week"))
        .orderBy(col("t.count").desc, col("t.item"))
      est
        .withColumn("rk", row_number().over(byWeek))
        .filter(col("rk") <= 5)
        .select(
          date_format(col("week"), "yyyy-MM-dd").as("week_start"),
          col("t.item").as("user_id"),
          col("t.count").as("n"))
        .orderBy(col("week_start"), col("n").desc, col("user_id"))
    },
    Some("""
      WITH counts AS (
        SELECT date_trunc('week', ts) AS week, user_id, count(*) AS n
        FROM events GROUP BY 1, 2),
      ranked AS (
        SELECT week, user_id, n,
               row_number() OVER (PARTITION BY week
                 ORDER BY n DESC, user_id) AS rk
        FROM counts)
      SELECT strftime(week, '%Y-%m-%d') AS week_start, user_id, n
      FROM ranked
      WHERE rk <= 5
      ORDER BY week_start, n DESC, user_id"""),
  )

  /** Outer generate — explode_outer's null-preserving fan-out, the
    * Generate-path semantics q21's inner explode and t10's custom
    * Generator both skip: a document whose filtered array is EMPTY must
    * survive as one null row (inner explode silently drops it — the
    * classic silent-data-loss bug in per-token pipelines that still need
    * per-document accounting). The rollup counts preserved-null rows and
    * real tokens from the SAME exploded relation, so the preservation is
    * what the oracle gates. Map-side Generate + one k-row rollup. */
  private val q81 = Q(
    "q81_explode_outer",
    (s, d) =>
      T.documents(s, d)
        .select(
          col("doc_id"),
          col("lang"),
          expr("filter(split(text, ' '), w -> length(w) >= 7)").as("lw"))
        .select(col("doc_id"), col("lang"), explode_outer(col("lw")).as("w"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("w").isNull, 1L).otherwise(0L)).as("n_without"),
          count(col("w")).as("n_words"))
        .orderBy(col("lang")),
    Some("""
      WITH arr AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '),
                 w -> length(w) >= 7) AS lw
        FROM documents)
      SELECT lang,
             count(*) AS n_rows,
             CAST(sum(CASE WHEN t.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_without,
             count(t.w) AS n_words
      FROM arr LEFT JOIN LATERAL (SELECT unnest(lw) AS w) t ON TRUE
      GROUP BY lang
      ORDER BY lang"""),
  )

  /** Count-min frequency sketch lifecycle — the fourth classic sketch
    * beside HLL (q26/q63), percentile (q40/q67), and top-k (q74/q79):
    * one mergeable CMS per event type (built map-side by the built-in
    * `count_min_sketch` aggregate, fixed seed) is point-queried for
    * probe users through the custom codegen
    * [[graft.functions.CmsEstimate]] expression — the read half Spark
    * does not ship. Estimates are engine-specific, so per the house
    * sketch-oracle convention (q26/q40) the gated output carries the
    * EXACT count plus the CMS guarantee as a boolean
    * (exact ≤ est ≤ exact + ε·N), which the oracle emits as literal
    * TRUE; ε = 10⁻⁴ keeps width (≈27k counters, still a trivial
    * sketch) ≫ the user domain at every scale this repo runs, so the
    * estimate is in fact exact.
    *
    * 100 TB shape: sketches aggregate with map-side partial merge and
    * are k rows at rest; the probe fan-out is explode over a literal
    * array; the exact side (needed only for the audit) is a filtered
    * two-key rollup. */
  private val q83 = Q(
    "q83_cms_freq",
    (s, d) => {
      val probes = Seq(0L, 7L, 42L)
      val sk = T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("count_min_sketch(user_id, CAST(0.0001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)")
            .as("sk"),
          count(lit(1)).as("n"))
      val exact = T.events(s, d)
        .filter(col("user_id").isin(probes: _*))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("exact_n"))
      sk.select(
          col("event_type"), col("n"), col("sk"),
          explode(array(probes.map(lit): _*)).as("user_id"))
        .withColumn(
          "est",
          graft.functions.GraftFunctions.cmsEstimate(s, col("sk"), col("user_id")))
        .join(exact, Seq("event_type", "user_id"), "left")
        .select(
          col("event_type"),
          col("user_id"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"),
          (col("est") >= coalesce(col("exact_n"), lit(0L)) &&
            col("est") <= coalesce(col("exact_n"), lit(0L)) +
              ceil(col("n") * lit(0.0001)).cast("long")).as("within_bounds"))
        .orderBy(col("event_type"), col("user_id"))
    },
    Some("""
      WITH probes AS (SELECT CAST(unnest([0, 7, 42]) AS BIGINT) AS user_id),
      types AS (SELECT DISTINCT event_type FROM events),
      e AS (
        SELECT event_type, user_id, count(*) AS exact_n
        FROM events WHERE user_id IN (0, 7, 42)
        GROUP BY 1, 2)
      SELECT t.event_type, p.user_id,
             coalesce(e.exact_n, 0) AS exact_n,
             TRUE AS within_bounds
      FROM types t
      CROSS JOIN probes p
      LEFT JOIN e ON e.event_type = t.event_type AND e.user_id = p.user_id
      ORDER BY t.event_type, p.user_id"""),
  )

  /** SCD2 dimension build from a change log — the lakehouse operator that
    * turns an event stream into a versioned dimension: per key, order the
    * log, keep only rows where the tracked attribute CHANGED (change
    * detection via lag), then close each version with the next change's
    * timestamp (lead) — half-open [effective_from, effective_to) spans
    * with an is_current flag on the open tail. Events stand in as the
    * change log with event_type as the tracked attribute.
    *
    * 100 TB shape: one shuffle on the key; the lag filter, row_number
    * versioning, and lead span-close all share the SAME (key, ts, id)
    * window sort, so Catalyst plans a single Sort+Window chain — change
    * detection costs one pass, not three. */
  private val q85 = Q(
    "q85_scd2_dimension",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(w))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(
          col("user_id"),
          col("version"),
          col("event_type").as("attr"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("effective_from"),
          coalesce(
            date_format(col("next_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("9999-12-31 00:00:00")).as("effective_to"),
          col("next_ts").isNull.as("is_current"))
        .orderBy(col("user_id"), col("version"))
    },
    Some("""
      WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
      changes AS (
        SELECT user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, CAST(version AS INT) AS version, event_type AS attr,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS effective_from,
             coalesce(strftime(next_ts, '%Y-%m-%d %H:%M:%S'),
                      '9999-12-31 00:00:00') AS effective_to,
             next_ts IS NULL AS is_current
      FROM changes
      ORDER BY user_id, version"""),
  )

  /** Equi-width histogram via width_bucket — the profiling primitive
    * behind every data-quality dashboard and range-partition planner:
    * order totals bucketed into 12 × 50k bins per priority class. The
    * oracle mirrors Spark's width_bucket arithmetic exactly (floor of a
    * double division by an exactly-representable width, 0 / n+1 sentinel
    * buckets for out-of-range), so both engines bin identically.
    *
    * 100 TB shape: the bucket is a map-side scalar; the rollup carries
    * (priorities × bins) groups — partial-agg friendly, k rows at rest. */
  private val q86 = Q(
    "q86_histogram",
    (s, d) =>
      T.orders(s, d)
        .select(
          col("o_orderpriority").as("priority"),
          col("o_totalprice").as("x"))
        .withColumn(
          "bucket", expr("width_bucket(x, 0.0D, 600000.0D, 12)"))
        .groupBy(col("priority"), col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("x")), 2).as("total"))
        .select(
          col("priority"),
          col("bucket"),
          // Closed-form bin edges from the bucket index, so the output
          // is a ready-to-plot histogram, not just indexes.
          ((col("bucket") - 1) * 50000.0).as("bin_lo"),
          (col("bucket") * 50000.0).as("bin_hi"),
          col("n"),
          col("total"))
        .orderBy(col("priority"), col("bucket")),
    Some("""
      WITH binned AS (
        SELECT o_orderpriority AS priority,
               CASE WHEN o_totalprice < 0.0 THEN 0
                    WHEN o_totalprice >= 600000.0 THEN 13
                    ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1
               END AS bucket,
               o_totalprice AS x
        FROM orders)
      SELECT priority, bucket,
             CAST((bucket - 1) * 50000.0 AS DOUBLE) AS bin_lo,
             CAST(bucket * 50000.0 AS DOUBLE) AS bin_hi,
             count(*) AS n, round(sum(x), 2) AS total
      FROM binned
      GROUP BY priority, bucket
      ORDER BY priority, bucket"""),
  )

  /** Data-quality audit — the health check a 100 TB pipeline runs before
    * promoting a snapshot: referential-integrity orphan counts (facts
    * pointing at missing dimension keys), null-rate, domain-range, and
    * key-uniqueness violations, one row per check with an integer ppm
    * rate. A failing check gates the publish; this query IS the gate's
    * evidence table.
    *
    * 100 TB shape: each orphan check is one left join on its key (the
    * dim side broadcast when small, SMJ when fact-fact) aggregated to a
    * single row; null/range checks are map-only scans; uniqueness is a
    * two-level rollup (count per key, then count of violators) — no
    * check ever collects rows, only counts. */
  private val q87 = Q(
    "q87_dq_audit",
    (s, d) => {
      def row(name: String, agg: DataFrame): DataFrame =
        agg.select(
          lit(name).as("check_name"),
          col("n_total"),
          col("n_bad"),
          expr("n_bad * 1000000 div n_total").as("bad_ppm"))
      // No broadcast hint on customer: it is SF-scaled (billions of keys
      // at 100 TB), so the orphan check must be free to plan a shuffled
      // join at scale; size-based planning still broadcasts it in every
      // tested regime.
      val orphanOrders = T.orders(s, d)
        .join(
          T.customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_bad"))
      val orphanLines = T.lineitem(s, d)
        .join(
          T.orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_bad"))
      val nullProps = T.events(s, d)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("props").isNull || col("props") === "", 1L)
            .otherwise(0L)).as("n_bad"))
      val dateRange = T.orders(s, d)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(
            col("o_orderdate") < lit("1992-01-01") ||
              col("o_orderdate") >= lit("1999-01-01"),
            1L).otherwise(0L)).as("n_bad"))
      val dupEvents = T.events(s, d)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("k"))
        .agg(
          sum(col("k")).as("n_total"),
          sum(when(col("k") > 1, col("k")).otherwise(0L)).as("n_bad"))
      row("lineitem_orphan_orderkey", orphanLines)
        .unionByName(row("orders_date_in_range", dateRange))
        .unionByName(row("orders_orphan_custkey", orphanOrders))
        .unionByName(row("events_dup_event_id", dupEvents))
        .unionByName(row("events_null_props", nullProps))
        .orderBy(col("check_name"))
    },
    Some("""
      WITH checks AS (
        SELECT 'lineitem_orphan_orderkey' AS check_name,
               count(*) AS n_total,
               CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bad
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders_date_in_range', count(*),
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                               OR o_orderdate >= TIMESTAMP '1999-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orders_orphan_custkey', count(*),
               CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'events_dup_event_id',
               CAST(sum(k) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT)
        FROM (SELECT event_id, count(*) AS k FROM events GROUP BY 1)
        UNION ALL
        SELECT 'events_null_props', count(*),
               CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1
                             ELSE 0 END) AS BIGINT)
        FROM events)
      SELECT check_name, n_total, n_bad,
             n_bad * 1000000 // n_total AS bad_ppm
      FROM checks
      ORDER BY check_name"""),
  )

  /** Ordered funnel analysis — the product-analytics staple that needs
    * ORDER, not just presence: users who viewed, then clicked AT OR AFTER
    * their first view, then purchased at or after that click, rolled up
    * by market segment with integer-ppm conversion rates. Built as the
    * canonical staged min-reduction (first view → first qualifying click
    * → first qualifying purchase); a presence-only semi-join triple would
    * count backwards journeys.
    *
    * 100 TB shape: each stage is one hash aggregate keyed on user_id, and
    * every stage-to-stage join is ALSO on user_id, so all five operators
    * share one shuffle partitioning (stages after the first join against
    * already-reduced one-row-per-user sets); the dimension join is
    * broadcast; output is segment-cardinality. */
  private val q88 = Q(
    "q88_funnel",
    (s, d) => {
      val f = T.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = f.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = f.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") >= col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = f.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts") >= col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        // Hint-free customer join: SF-scaled table, so the segment
        // enrichment may shuffle at 100 TB; still auto-broadcast when it
        // fits the threshold.
        .join(
          T.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"), "left")
        .groupBy(
          coalesce(col("c_mktsegment"), lit("<unknown>")).as("segment"))
        .agg(
          count(lit(1)).as("n_view"),
          count(col("c_ts")).as("n_click"),
          count(col("p_ts")).as("n_purchase"))
        .select(
          col("segment"), col("n_view"), col("n_click"), col("n_purchase"),
          expr("n_click * 1000000 div n_view").as("click_ppm"),
          expr("n_purchase * 1000000 div n_view").as("purchase_ppm"))
        .orderBy(col("segment"))
    },
    Some("""
      WITH f AS (
        SELECT user_id, event_type, ts FROM events
        WHERE event_type IN ('view', 'click', 'purchase')),
      v AS (
        SELECT user_id, min(ts) AS v_ts FROM f
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT f.user_id, min(f.ts) AS c_ts
        FROM f JOIN v USING (user_id)
        WHERE f.event_type = 'click' AND f.ts >= v.v_ts GROUP BY 1),
      p AS (
        SELECT f.user_id, min(f.ts) AS p_ts
        FROM f JOIN c USING (user_id)
        WHERE f.event_type = 'purchase' AND f.ts >= c.c_ts GROUP BY 1),
      staged AS (
        SELECT coalesce(cu.c_mktsegment, '<unknown>') AS segment,
               count(*) AS n_view, count(c.c_ts) AS n_click,
               count(p.p_ts) AS n_purchase
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        LEFT JOIN customer cu ON v.user_id = cu.c_custkey
        GROUP BY 1)
      SELECT segment, n_view, n_click, n_purchase,
             n_click * 1000000 // n_view AS click_ppm,
             n_purchase * 1000000 // n_view AS purchase_ppm
      FROM staged
      ORDER BY segment"""),
  )

  /** Range-partitioned global sort — THE distributed total-order
    * primitive (the shape behind every `ORDER BY` write, sorted export,
    * and quantile-sharded layout at 100 TB): `repartitionByRange` samples
    * the sort key, cuts boundaries, and gives every partition a disjoint
    * key range, so a global order costs one shuffle + per-partition sorts
    * — never a single-reducer sort. The sampled boundaries are
    * engine-private (no oracle can reproduce them), so the gate follows
    * the house sketch-oracle convention (q83): emit the INVARIANTS — row
    * conservation, exact global min/max, partition-count bounds, and the
    * adjacent-range non-overlap booleans — which the oracle recomputes
    * exactly or pins as literal TRUE. The per-partition (lo, hi) audit
    * runs as a min/max rollup on spark_partition_id, and the non-overlap
    * check is a lag window over ≤16 rows.
    *
    * 100 TB shape: one range Exchange over the data (the thing being
    * proven), one 16-row rollup, one 16-row window — the audit itself
    * adds no data-scale work. */
  private val q89 = Q(
    "q89_range_partition_sort",
    (s, d) => {
      val parts = T.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(16, col("o_totalprice"), col("o_orderkey"))
        .select(
          spark_partition_id().as("pid"),
          col("o_totalprice"), col("o_orderkey"))
      val perPid = parts
        .groupBy(col("pid"))
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
      val w = Window.orderBy(col("lo"), col("pid"))
      perPid
        .withColumn("prev_hi", lag(col("hi"), 1).over(w))
        .agg(
          sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_parts"),
          round(min(col("lo")), 2).as("global_lo"),
          round(max(col("hi")), 2).as("global_hi"),
          // Disjoint ranges: every partition starts at or after the
          // previous one's max (ties of the first sort key may straddle
          // a boundary because o_orderkey breaks them).
          min(when(col("prev_hi").isNull || col("prev_hi") <= col("lo"), true)
            .otherwise(false)).as("ranges_disjoint"))
        .select(
          col("n_rows"),
          (col("n_parts") >= 1 && col("n_parts") <= 16).as("n_parts_ok"),
          col("global_lo"), col("global_hi"), col("ranges_disjoint"))
    },
    Some("""
      SELECT count(*) AS n_rows,
             TRUE AS n_parts_ok,
             round(min(o_totalprice), 2) AS global_lo,
             round(max(o_totalprice), 2) AS global_hi,
             TRUE AS ranges_disjoint
      FROM orders"""),
  )

  /** Statistical anomaly detection — the z-score monitor a pipeline runs
    * over every numeric column before trusting a batch: per-group mean
    * and sample stddev set a μ+3σ threshold, and the same scan flags and
    * sums the exceedances. The threshold is ROUNDED (6 dp) before the
    * comparison on both engines, so a last-ulp difference in the
    * aggregate cannot move the boundary between them.
    *
    * 100 TB shape: two passes over the fact (one k-row stats rollup,
    * broadcast back; one flagging scan) — the textbook two-phase pattern
    * that avoids any windowed re-sort of the full data. */
  private val q90 = Q(
    "q90_anomaly_zscore",
    (s, d) => {
      val stats = T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sd"))
        .select(
          col("event_type"),
          round(col("mu"), 6).as("mean_r"),
          round(col("sd"), 6).as("sd_r"),
          round(col("mu") + lit(3.0) * col("sd"), 6).as("threshold"))
      T.events(s, d)
        .join(broadcast(stats), "event_type")
        .groupBy(col("event_type"), col("mean_r"), col("sd_r"),
          col("threshold"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") > col("threshold"), 1L).otherwise(0L))
            .as("n_outliers"),
          round(sum(when(col("value") > col("threshold"), col("value"))
            .otherwise(lit(0.0))), 2).as("outlier_sum"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH stats AS (
        SELECT event_type,
               round(avg(value), 6) AS mean_r,
               round(stddev_samp(value), 6) AS sd_r,
               round(avg(value) + CAST(3.0 AS DOUBLE) * stddev_samp(value),
                     6) AS threshold
        FROM events GROUP BY 1)
      SELECT e.event_type, s.mean_r, s.sd_r, s.threshold,
             count(*) AS n,
             CAST(sum(CASE WHEN e.value > s.threshold THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
             round(sum(CASE WHEN e.value > s.threshold THEN e.value
                            ELSE CAST(0.0 AS DOUBLE) END), 2)
               AS outlier_sum
      FROM events e JOIN stats s USING (event_type)
      GROUP BY 1, 2, 3, 4
      ORDER BY e.event_type"""),
  )

  /** Composed analytics — the TPC-H Q10 shape end-to-end in ONE query:
    * returned-item revenue per customer for a quarter, a 4-table join
    * (fact-fact lineitem⋈orders on the key, broadcast customer-side
    * dimensions), a date-range filter that pushes into the orders scan, a
    * returnflag filter that pushes into the lineitem scan, a high-
    * cardinality rollup, and a global top-20 planned as
    * TakeOrderedAndProject. The individual shapes are q01–q11's; this row
    * proves they COMPOSE — one plan, every piece in its right place.
    * Ranked on the rounded revenue with custkey tie-break (t06 rule). */
  private val q91 = Q(
    "q91_tpch_composed",
    (s, d) => {
      val o = T.orders(s, d)
        .filter(
          col("o_orderdate") >= lit("1996-10-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = T.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val c = T.customer(s, d)
        .join(
          broadcast(T.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"), col("n_name"))
      // nation broadcasts (25 rows, hinted above); customer is SF-scaled,
      // so its join carries NO hint — Q10's customer side must be free to
      // shuffle at scale, and it still auto-broadcasts in tested regimes.
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
          col("c_mktsegment"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"),
          round(max(col("c_acctbal")), 2).as("acctbal"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""
      SELECT c.c_custkey, c.c_name, n.n_name, c.c_mktsegment,
             round(sum(l.l_extendedprice
                       * (CAST(1.0 AS DOUBLE) - l.l_discount)), 2) AS revenue,
             count(*) AS n_items,
             round(max(c.c_acctbal), 2) AS acctbal
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
        AND l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_mktsegment
      ORDER BY revenue DESC, c.c_custkey
      LIMIT 20"""),
  )

  /** Nested array-of-structs tier — the document-model shape (an order
    * with its line items INSIDE it) that q21's scalar-array and q76's map
    * HOFs don't reach: build the nested record with
    * collect_list(struct(...)), NORMALIZE its order with sort_array
    * (collect_list order is partition-dependent — unsorted nested arrays
    * are a nondeterminism bug, not a style choice; linenumber is unique
    * per order so the struct sort is total), then compute entirely inside
    * the nested value: lambda projection, filtered existence, a
    * sequential double fold (deterministic because the array order is),
    * and positional access. Every HOF is codegen (no UDFs).
    *
    * 100 TB shape: one shuffle to nest (the groupBy), then map-only —
    * exactly how document stores are built from relational facts. */
  private val q93 = Q(
    "q93_nested_structs",
    (s, d) =>
      T.lineitem(s, d)
        .select(col("l_orderkey"),
          struct(
            col("l_linenumber").as("ln"),
            col("l_quantity").as("qty"),
            col("l_extendedprice").as("price")).as("item"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("item"))).as("items"))
        .select(
          col("l_orderkey"),
          size(col("items")).as("n_lines"),
          round(
            expr("aggregate(items, 0.0D, (acc, x) -> acc + x.price)"), 2)
            .as("total_price"),
          expr("array_max(transform(items, x -> x.qty))")
            .cast("double").as("max_qty"),
          expr("element_at(items, 1).price").as("first_line_price"),
          (expr("size(filter(items, x -> x.price > 50000.0D))") > 0)
            .as("has_big_line"))
        .filter(col("n_lines") >= 5)
        .orderBy(col("l_orderkey")),
    Some("""
      WITH nested AS (
        SELECT l_orderkey,
               list_sort(list(struct_pack(
                 ln := l_linenumber, qty := l_quantity,
                 price := l_extendedprice))) AS items
        FROM lineitem
        GROUP BY l_orderkey)
      SELECT l_orderkey,
             len(items) AS n_lines,
             round(list_sum(list_transform(items, x -> x.price)), 2)
               AS total_price,
             CAST(list_max(list_transform(items, x -> x.qty)) AS DOUBLE)
               AS max_qty,
             items[1].price AS first_line_price,
             len(list_filter(items, x -> x.price > CAST(50000.0 AS DOUBLE)))
               > 0 AS has_big_line
      FROM nested
      WHERE len(items) >= 5
      ORDER BY l_orderkey"""),
  )

  /** Incremental rollup maintenance — the materialized-view lifecycle
    * for ALGEBRAIC aggregates: yesterday's per-key states (count + sum,
    * the mergeable decomposition that also serves avg — never the avg
    * itself, which does not merge) combined with today's delta states
    * must equal the full recompute, key for key. q58 proves this for
    * latest-wins ROW semantics, q63/q79 for sketches; this row is the
    * plain-sums member that makes the store-states-not-results rule
    * explicit. The oracle IS the full recompute over the whole table.
    *
    * 100 TB shape: each side is one partial-aggregated rollup on the
    * key, the merge is a k-row unionByName + second rollup — the daily
    * incremental job never rescans history. */
  private val q95 = Q(
    "q95_incremental_rollup",
    (s, d) => {
      val cutoff = lit("2024-01-29 00:00:00").cast("timestamp")
      def states(part: DataFrame): DataFrame = part
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value")).as("sum_v"))
      val base  = states(T.events(s, d).filter(col("ts") < cutoff))
      val delta = states(T.events(s, d).filter(col("ts") >= cutoff))
      base.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(
          sum(col("n")).as("n"),
          sum(col("sum_v")).as("merged_sum"))
        .select(
          col("event_type"),
          col("n"),
          round(col("merged_sum"), 2).as("total_value"),
          round(col("merged_sum") / col("n"), 6).as("avg_value"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             round(sum(value), 2) AS total_value,
             round(sum(value) / count(*), 6) AS avg_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Interpolated percentiles — the CONTINUOUS tier completing the
    * quantile column: q40 is the sketch, q67 the exact discrete rank;
    * this is exact percentile_cont (linear interpolation at index
    * p·(n−1), the classic definition both engines implement), computed
    * once per group via the multi-percentile array form so the sort is
    * paid once for all three points. Rounded at 6 dp so an
    * interpolation-arithmetic ulp cannot split the engines.
    *
    * 100 TB shape: exact percentiles need the group's values — one
    * shuffle on the group key, k rows out; when the group won't fit,
    * q40's sketch is the documented fallback. */
  private val q96 = Q(
    "q96_percentile_cont",
    (s, d) =>
      T.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("ps"))
        .select(
          col("event_type"), col("n"),
          round(element_at(col("ps"), 1), 6).as("p50"),
          round(element_at(col("ps"), 2), 6).as("p90"),
          round(element_at(col("ps"), 3), 6).as("p99"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type, count(*) AS n,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90,
             round(quantile_cont(value, 0.99), 6) AS p99
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Equi-DEPTH histogram — q86's complement: instead of fixed-width
    * bins with varying counts, ntile(8) cuts each group into bins of
    * (near-)equal population and reports each bin's value range — the
    * boundary report a range-partitioner, histogram-equalizer, or
    * data-profile page actually wants on skewed data, where equi-width
    * bins collapse into one overloaded bucket. The ntile ordering is
    * made total with the key tie-break, so both engines cut identically.
    *
    * 100 TB shape: o_orderpriority is a ~5-value hot key, so a textbook
    * `ntile(8) OVER (PARTITION BY priority ORDER BY price)` hands each
    * stratum ONE task sorting a fifth of the order book. The cut runs
    * instead as q44's closed-form pair: rank from
    * [[DistributedScan.bucketedRowNumber]] over 128-currency-unit price
    * bands (floor(price/128), monotone in the sort key — window tasks
    * bounded by band occupancy), group size n from a k-row
    * partial-combining count broadcast back, and the bin is
    * [[DistributedScan.ntileFromRank]]'s pure integer arithmetic on
    * (rank, n) — bit-identical to the SQL-standard ntile the oracle
    * keeps. The k×8-row rollup rides map-side combine. For a GLOBAL
    * equi-depth profile at scale, q40's approx_percentile sketch is the
    * documented path. */
  private val q99 = Q(
    "q99_histogram_equidepth",
    (s, d) => {
      val base = T.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          col("o_totalprice"), col("o_orderkey"))
      val ranked = DistributedScan.bucketedRowNumber(
        base, col("priority"),
        floor(col("o_totalprice") / 128).cast("long"),
        Seq(col("o_totalprice"), col("o_orderkey")), "r")
      val counts = base.groupBy(col("priority"))
        .agg(count(lit(1)).as("n_grp"))
      ranked.join(broadcast(counts), Seq("priority"))
        .select(col("priority"), col("o_totalprice"),
          DistributedScan.ntileFromRank(8, "r", "n_grp")
            .cast("int").as("bucket"))
        .groupBy(col("priority"), col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy(col("priority"), col("bucket"))
    },
    Some("""
      WITH binned AS (
        SELECT o_orderpriority AS priority, o_totalprice,
               ntile(8) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders)
      SELECT priority, bucket, count(*) AS n,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
      FROM binned
      GROUP BY priority, bucket
      ORDER BY priority, bucket"""),
  )

  /** Time-weighted average (TWAP) — the time-in-state operator behind
    * market data, sensor rollups, and billing meters: a value holds from
    * its event until the NEXT event, so the mean must weight by holding
    * duration, not by observation count (a burst of identical readings
    * would otherwise dominate). lead() supplies each interval's end; the
    * last observation per key has no duration and drops out. Weights are
    * integer microseconds (exact in both engines); only the final ratio
    * is floating, rounded at 6 dp.
    *
    * 100 TB shape: one shuffle on the key, one window pass, one rollup —
    * and the window and rollup share the partitioning. */
  private val q97 = Q(
    "q97_time_weighted_avg",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn(
          "dur_us",
          unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
        .filter(col("dur_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dur_us")).as("total_dur_us"),
          round(
            sum(col("value") * col("dur_us")) / sum(col("dur_us")), 6)
            .as("twap"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH spans AS (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
                 - epoch_us(ts) AS dur_us
        FROM events)
      SELECT user_id, count(*) AS n_intervals,
             CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
             round(sum(value * dur_us) / sum(dur_us), 6) AS twap
      FROM spans
      WHERE dur_us IS NOT NULL
      GROUP BY user_id
      ORDER BY user_id"""),
  )

  /** Null-safe join semantics — `<=>` (IS NOT DISTINCT FROM), the
    * equality tier a plain equi-join silently gets wrong: rows whose key
    * IS NULL drop out of `=` joins, so a dimension with an explicit
    * "unclassified" NULL member never matches them. Keys are made
    * nullable with nullif (urgent orders lose their class), the
    * dimension is built WITH a NULL member, and the null-safe join
    * routes every fact row to exactly one dimension row — including the
    * NULL↔NULL matches the standard join would discard.
    *
    * 100 TB shape: `<=>` on a broadcast dim plans a BroadcastHashJoin
    * (null-safe equality is still hash-able — Spark treats NULL as a
    * regular key value here), so the safety costs nothing. */
  private val q98 = Q(
    "q98_nullsafe_join",
    (s, d) => {
      val facts = T.orders(s, d)
        .select(
          col("o_orderkey"),
          col("o_totalprice"),
          expr("nullif(substring(o_orderpriority, 1, 1), '1')").as("pk"))
      val dim = facts.select(col("pk")).distinct()
        .withColumn(
          "label",
          coalesce(concat(lit("class_"), col("pk")), lit("unclassified")))
      // Aliased sides: dim derives from facts, so the two `pk`s would
      // otherwise name one attribute.
      facts.as("f")
        .join(broadcast(dim.as("d")), col("f.pk") <=> col("d.pk"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("label"))
    },
    Some("""
      WITH facts AS (
        SELECT o_orderkey, o_totalprice,
               nullif(substr(o_orderpriority, 1, 1), '1') AS pk
        FROM orders),
      dim AS (
        SELECT pk,
               coalesce('class_' || pk, 'unclassified') AS label
        FROM (SELECT DISTINCT pk FROM facts))
      SELECT d.label, count(*) AS n,
             round(sum(f.o_totalprice), 2) AS total
      FROM facts f JOIN dim d ON f.pk IS NOT DISTINCT FROM d.pk
      GROUP BY d.label
      ORDER BY d.label"""),
  )

  /** Cohort churn — the retention primitive every growth dashboard leads
    * with: the distinct active-user sets of two adjacent periods, full-
    * outer reconciled into retained / churned / new counts plus an
    * integer-ppm retention rate. Built as two distinct-aggregates and
    * one full-outer on the user key (q69's reconcile shape applied to
    * set membership), so the fact table is reduced BEFORE any join.
    *
    * 100 TB shape: each period's distinct-set is one shuffle on user_id
    * with map-side partial dedup; the reconcile joins two already-
    * deduped sets on the same key. */
  private val q105 = Q(
    "q105_cohort_churn",
    (s, d) => {
      val cutoff = lit("2024-01-29 00:00:00").cast("timestamp")
      val prev = T.events(s, d).filter(col("ts") < cutoff)
        .select(col("user_id")).distinct().withColumn("in_prev", lit(1))
      val cur = T.events(s, d).filter(col("ts") >= cutoff)
        .select(col("user_id")).distinct().withColumn("in_cur", lit(1))
      prev.join(cur, Seq("user_id"), "fullOuter")
        .agg(
          sum(when(col("in_prev") === 1, 1L).otherwise(0L)).as("n_prev"),
          sum(when(col("in_cur") === 1, 1L).otherwise(0L)).as("n_cur"),
          sum(when(col("in_prev") === 1 && col("in_cur") === 1, 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(col("in_prev") === 1 && col("in_cur").isNull, 1L)
            .otherwise(0L)).as("n_churned"),
          sum(when(col("in_prev").isNull && col("in_cur") === 1, 1L)
            .otherwise(0L)).as("n_new"))
        .select(
          col("n_prev"), col("n_cur"), col("n_retained"),
          col("n_churned"), col("n_new"),
          expr("n_retained * 1000000 div greatest(n_prev, 1)")
            .as("retention_ppm"))
    },
    Some("""
      WITH prev AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts < TIMESTAMP '2024-01-29 00:00:00'),
      cur AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts >= TIMESTAMP '2024-01-29 00:00:00'),
      merged AS (
        SELECT p.user_id AS pu, c.user_id AS cu
        FROM prev p FULL JOIN cur c ON p.user_id = c.user_id)
      SELECT CAST(sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_prev,
             CAST(sum(CASE WHEN cu IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cur,
             CAST(sum(CASE WHEN pu IS NOT NULL AND cu IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN pu IS NOT NULL AND cu IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
             CAST(sum(CASE WHEN pu IS NULL AND cu IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN pu IS NOT NULL AND cu IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) * 1000000
               // greatest(CAST(sum(CASE WHEN pu IS NOT NULL THEN 1
                                        ELSE 0 END) AS BIGINT), 1)
               AS retention_ppm
      FROM merged"""),
  )

  /** Trailing-interval velocity rule — the TIME-typed RANGE frame (q51's
    * frame is value-typed): for every event, how many events did the
    * same user produce in the trailing hour INCLUDING this one, and does
    * that breach the rate threshold — the fraud/abuse velocity primitive
    * run at ingest. The frame orders on integer microseconds, so the
    * window bound is exact arithmetic in both engines (inclusive on both
    * ends by the RANGE definition). Flag counts roll up per event type.
    *
    * 100 TB shape: one shuffle on user_id, one sort, one running frame —
    * the velocity state a streaming deployment would keep per key is
    * exactly this frame's contents. */
  private val q103 = Q(
    "q103_velocity_flags",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      T.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("n_trailing_1h", count(lit(1)).over(w))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("n_trailing_1h") >= 4, 1L).otherwise(0L))
            .as("n_flagged"),
          max(col("n_trailing_1h")).as("max_velocity"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH v AS (
        SELECT user_id, event_type,
               count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                 AS n_trailing_1h
        FROM events)
      SELECT event_type, count(*) AS n,
             CAST(sum(CASE WHEN n_trailing_1h >= 4 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flagged,
             CAST(max(n_trailing_1h) AS BIGINT) AS max_velocity
      FROM v
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Source-precedence merge — q58's axis rotated from time to TRUST:
    * when the same key arrives from multiple feeds, the highest-
    * precedence source wins regardless of arrival order (corrections
    * feed beats the bulk feed; manual override beats both). Simulated
    * with a corrections feed carrying adjusted prices for every 10th
    * order; the merge is one union + min(struct(precedence, ...)) per
    * key — same single-shuffle shape as the CDC merge, different
    * ordering dimension.
    *
    * 100 TB shape: one shuffle on the merge key; the rollup makes the
    * winner counts per source visible, proving precedence engaged. */
  private val q104 = Q(
    "q104_precedence_merge",
    (s, d) => {
      // Money as exact integer cents throughout (round() before the cast
      // per the q102 rule; the 10% uplift is integer `* 11 div 10`), so
      // the merge and its totals carry no float at any stage.
      val bulk = T.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          lit(2).as("prec"), lit("bulk").as("src"))
      val corrections = T.orders(s, d)
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10")
            .as("cents"),
          lit(1).as("prec"), lit("corrections").as("src"))
      bulk.unionByName(corrections)
        .groupBy(col("o_orderkey"))
        .agg(min(struct(col("prec"), col("src"), col("cents"))).as("win"))
        .select(col("o_orderkey"),
          col("win.src").as("src"), col("win.cents").as("cents"))
        .groupBy(col("src"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"))
        .orderBy(col("src"))
    },
    Some("""
      WITH unioned AS (
        SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
                 AS cents,
               2 AS prec, 'bulk' AS src
        FROM orders
        UNION ALL
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 11 // 10,
               1, 'corrections'
        FROM orders WHERE o_orderkey % 10 = 0),
      won AS (
        SELECT o_orderkey, src, cents,
               row_number() OVER (PARTITION BY o_orderkey
                                  ORDER BY prec, src, cents) AS rk
        FROM unioned)
      SELECT src, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM won WHERE rk = 1
      GROUP BY src
      ORDER BY src"""),
  )

  /** Period-over-period report — a window over an AGGREGATED series
    * (every prior window query runs over raw rows): monthly revenue per
    * market segment, with the previous month's value, the absolute
    * delta, and the signed change in integer ppm pulled in by lag()
    * OVER the monthly rollup. The composition matters at scale: the
    * window runs over k×months rows, not the fact table — aggregate
    * first, analyze the series second.
    *
    * Money stays summed-then-rounded; the ppm change divides the two
    * ROUNDED month totals cast to integer cents, so the ratio is exact
    * integer arithmetic in both engines. */
  private val q102 = Q(
    "q102_mom_change",
    (s, d) => {
      val monthly = T.orders(s, d)
        // Hint-free: customer is SF-scaled (see q87/q91); auto-broadcasts
        // when small, shuffles when it isn't.
        .join(
          T.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(
          col("c_mktsegment").as("segment"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
      val w = Window.partitionBy(col("segment")).orderBy(col("month"))
      monthly
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        // round() before the long cast: revenue*100 sits within 1 ulp of
        // an integer, and a raw double→long cast TRUNCATES in Spark while
        // DuckDB's cast rounds — round() lands both on the integer.
        .withColumn(
          "cents", round(col("revenue") * 100).cast("long"))
        .withColumn(
          "prev_cents", round(col("prev_revenue") * 100).cast("long"))
        .select(
          col("segment"), col("month"), col("revenue"),
          coalesce(col("prev_revenue"), lit(0.0)).as("prev_revenue"),
          round(col("revenue") - coalesce(col("prev_revenue"), lit(0.0)), 2)
            .as("delta"),
          coalesce(
            expr("(cents - prev_cents) * 1000000 div prev_cents"),
            lit(0L)).as("change_ppm"))
        .orderBy(col("segment"), col("month"))
    },
    Some("""
      WITH monthly AS (
        SELECT c.c_mktsegment AS segment,
               strftime(o.o_orderdate, '%Y-%m') AS month,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      laged AS (
        SELECT segment, month, revenue,
               lag(revenue) OVER (PARTITION BY segment ORDER BY month)
                 AS prev_revenue
        FROM monthly)
      SELECT segment, month, revenue,
             coalesce(prev_revenue, 0.0) AS prev_revenue,
             round(revenue - coalesce(prev_revenue, 0.0), 2) AS delta,
             coalesce(
               (CAST(round(revenue * 100) AS BIGINT)
                - CAST(round(prev_revenue * 100) AS BIGINT)) * 1000000
                 // CAST(round(prev_revenue * 100) AS BIGINT),
               0) AS change_ppm
      FROM laged
      ORDER BY segment, month"""),
  )

  /** Each event's predecessor type `prev` in its user's (ts, event_id)
    * order, as (prev, curr) pairs for the events that have one: the
    * transition edges of q106's Markov chain and q117's PageRank graph. */
  private def transitions(events: DataFrame): DataFrame = {
    val seqW = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev", lag(col("event_type"), 1).over(seqW))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("curr"))
  }

  /** [[transitions]] in DuckDB SQL, before the non-null filter. */
  private val transitionSeqSql = """seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events)"""

  /** First-order Markov transition matrix over the event stream — the
    * sequence-model view of user behavior (what follows what, and with
    * what probability) that funnels (q88) and sessionization (q24) only
    * see implicitly. Each user's events are ordered by (ts, event_id)
    * — the same deterministic total order every sequence query here
    * uses — and lag(1) pairs each event with its predecessor; the
    * per-(prev, curr) counts normalize into row-stochastic transition
    * probabilities as exact integer ppm (t15's convention), so the row
    * is bit-identical in both engines with no float rounding contract.
    *
    * Scale shape (100 TB): one shuffle on user_id for the lag window
    * (per-user sequences are short and skew-free), then the transition
    * count aggregates with map-side combine onto a |event_types|² grid —
    * tiny — and the normalizing sum is a window over that grid, not the
    * raw events. */
  private val q106 = Q(
    "q106_markov_transitions",
    (s, d) => {
      transitions(T.events(s, d))
        .groupBy(col("prev"), col("curr"))
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn(
          "p_ppm",
          expr(
            "n_transitions * 1000000 div " +
              "sum(n_transitions) OVER (PARTITION BY prev)"))
        .orderBy(col("prev"), col("curr"))
    },
    Some(s"""
      WITH $transitionSeqSql,
      trans AS (
        SELECT prev, event_type AS curr, count(*) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, curr)
      SELECT prev, curr, CAST(n AS BIGINT) AS n_transitions,
             CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev)
                  AS BIGINT) AS p_ppm
      FROM trans ORDER BY prev, curr"""),
  )

  /** Last-touch attribution — every purchase is credited to the user's
    * most recent PRECEDING non-purchase event (the "channel"), the
    * classic marketing-attribution shape and the one window feature no
    * other query exercises: last(_, ignoreNulls) over an UNBOUNDED
    * PRECEDING .. 1 PRECEDING frame, i.e. a conditional carry-forward
    * along the event sequence (q10's lag can only reach a FIXED offset
    * back; attribution needs "latest matching", any distance back).
    * Purchases with no prior event credit the 'direct' channel. Money
    * rolls up as exact integer cents (q104's convention) and the
    * touch-to-purchase latency as exact integer µs, so the row needs no
    * float rounding contract.
    *
    * Scale shape (100 TB): one shuffle on user_id for the carry-forward
    * window — same partitioning q24/q88/q106 ride — then a map-side
    * combined aggregate onto the |event_types|-row channel grid. The
    * running frame is O(1) state per row (Spark keeps the last non-null,
    * not the frame). */
  private val q107 = Q(
    "q107_attribution",
    (s, d) => {
      val touch = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nonPurchase = when(col("event_type") =!= "purchase",
        col("event_type"))
      val touchUs = when(col("event_type") =!= "purchase",
        unix_micros(col("ts")))
      T.events(s, d)
        .withColumn("channel",
          coalesce(last(nonPurchase, ignoreNulls = true).over(touch),
            lit("direct")))
        .withColumn("touch_us",
          last(touchUs, ignoreNulls = true).over(touch))
        .filter(col("event_type") === "purchase")
        .groupBy(col("channel"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(expr("CAST(round(value * 100) AS BIGINT)"))
            .as("revenue_cents"),
          sum(coalesce(unix_micros(col("ts")) - col("touch_us"), lit(0L)))
            .as("gap_us_total"))
        .select(
          col("channel"), col("n_purchases"), col("revenue_cents"),
          expr("gap_us_total div n_purchases").as("mean_gap_us"))
        .orderBy(col("channel"))
    },
    Some("""
      WITH touched AS (
        SELECT event_type, ts, value,
               coalesce(
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER w,
                 'direct') AS channel,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN epoch_us(ts) END IGNORE NULLS)
                 OVER w AS touch_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT channel,
             CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
             CAST(sum(coalesce(epoch_us(ts) - touch_us, 0))
                  // count(*) AS BIGINT) AS mean_gap_us
      FROM touched WHERE event_type = 'purchase'
      GROUP BY channel ORDER BY channel"""),
  )

  /** Behavioral path mining — the top-10 most common 3-step event paths
    * across all users, the "how do users actually move through the
    * product" view that q106's one-step transition matrix marginalizes
    * away (a frequent A→B and a frequent B→C do not imply A→B→C; the
    * trigram count measures it directly). Two lags on ONE window spec
    * keep it to a single user_id shuffle+sort (q85's shared-window
    * discipline), and the global top-10 rides the (n DESC, path) order
    * with the path string as the unique tie-break, so the cut line is
    * deterministic in both engines.
    *
    * Scale shape (100 TB): one user_id shuffle for both lags, map-side
    * combined counts onto the |event_types|³ grid (≤125 rows here,
    * bounded by the type vocabulary cubed — never by the corpus), and
    * the limit plans as TakeOrderedAndProject: bounded per-partition
    * heaps, no global sort. */
  private val q108 = Q(
    "q108_path_mining",
    (s, d) => {
      val seqW = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T.events(s, d)
        .withColumn("p1", lag(col("event_type"), 1).over(seqW))
        .withColumn("p2", lag(col("event_type"), 2).over(seqW))
        .filter(col("p2").isNotNull)
        .select(concat_ws(">", col("p2"), col("p1"), col("event_type"))
          .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path"))
        .limit(10)
    },
    Some("""
      WITH seq AS (
        SELECT event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT p2 || '>' || p1 || '>' || event_type AS path,
             CAST(count(*) AS BIGINT) AS n_paths
      FROM seq WHERE p2 IS NOT NULL
      GROUP BY path ORDER BY n_paths DESC, path LIMIT 10"""),
  )

  /** Session market-basket analysis — which event types CO-OCCUR in the
    * same 30-minute session, with the independence-baseline lift that
    * separates "these go together" from "both are just common". Distinct
    * from q106/q108, which count ORDERED adjacent steps: co-occurrence is
    * unordered and session-scoped (a view and a purchase an hour of
    * clicks apart in one session still pair). lift = P(ab)/(P(a)·P(b))
    * in exact integer ppm over exact session counts, so the row needs no
    * float contract; >1e6 means attraction, <1e6 repulsion.
    *
    * Scale shape (100 TB): q24's sessionization rides ONE user_id
    * shuffle, and the (user_id, sess_id) rollup reuses it (hash
    * partitioning on a subset of the grouping key satisfies the
    * distribution — no second exchange, plan-asserted). Pair generation
    * is map-side: each session's SORTED distinct-type set (≤|event_types|
    * elements) expands to its unordered pairs via nested array
    * transforms — the corpus never self-joins (the DuckDB oracle does,
    * but an oracle needn't share the plan, only the semantics). The pair
    * and singles aggregates land on ≤|Σ|² / |Σ| -row grids with map-side
    * combine, and the two singles joins broadcast genuinely
    * vocabulary-bounded sides (5 rows — d09's class, not the SF-scaled
    * tables round 9 un-pinned). The corpus is read ONCE: the session
    * type-sets collapse to their power-set histogram (groupBy the sorted
    * set itself — at most 2^|event_types| rows), which is eagerly
    * materialized (d12's shared-stage convention) so the three
    * consumers — pairs, singles, total — derive from the tiny histogram
    * rather than re-running the sessionization pass each; plan-asserted:
    * the final plan scans no parquet at all. The histogram trick assumes
    * a TYPE-sized vocabulary (here 5 → ≤32 set shapes); for an
    * item-sized one (thousands of SKUs), drop the tset groupBy and
    * aggregate the exploded pairs/singles straight off the session sets
    * — same map-side expansion, grids keyed by item instead. The ppm product
    * 1e6·n_ab·n_tot stays
    * within int64 while sessions < ~3e6 per corpus slice; beyond that,
    * compute lift on sampled session counts or switch the ratio to
    * double — bound documented loud, s06's convention. */
  private[graft] def basketTypeSets(
      s: SparkSession, d: String): DataFrame = {
    sessionized(s, d)
      .groupBy(col("user_id"), col("sess_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("tset"))
      .groupBy(col("tset"))
      .agg(count(lit(1)).as("n_sets"))
  }

  private val q109 = Q(
    "q109_basket_lift",
    (s, d) => {
      val tsets = basketTypeSets(s, d).transform(GraftSession.materialize)
      val pairs = tsets
        .select(col("n_sets"), explode(expr(
          """flatten(transform(tset, (x, i) ->
               transform(slice(tset, i + 2, size(tset)),
                 y -> named_struct('a', x, 'b', y))))""")).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"), col("n_sets"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("n_sets")).as("n_ab"))
      val singles = tsets
        .select(explode(col("tset")).as("et"), col("n_sets"))
        .groupBy(col("et"))
        .agg(sum(col("n_sets")).as("n_et"))
      val tot = tsets.agg(sum(col("n_sets")).as("n_tot"))
      pairs
        .join(broadcast(singles.select(
          col("et").as("a"), col("n_et").as("n_a"))), "a")
        .join(broadcast(singles.select(
          col("et").as("b"), col("n_et").as("n_b"))), "b")
        .crossJoin(broadcast(tot))
        .select(
          col("a"), col("b"), col("n_ab"),
          expr("n_ab * 1000000 div n_tot").as("support_ppm"),
          expr("n_ab * 1000000 * n_tot div (n_a * n_b)").as("lift_ppm"))
        .orderBy(col("a"), col("b"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts, 1) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
                         > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sess AS (
        SELECT user_id, event_type,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
      ), st AS (
        SELECT DISTINCT user_id, sess_id, event_type FROM sess
      ), tot AS (
        SELECT count(*) AS n_tot
        FROM (SELECT DISTINCT user_id, sess_id FROM st)
      ), singles AS (
        SELECT event_type AS et, count(*) AS n_et FROM st GROUP BY 1
      ), pairs AS (
        SELECT s1.event_type AS a, s2.event_type AS b, count(*) AS n_ab
        FROM st s1
        JOIN st s2 ON s1.user_id = s2.user_id AND s1.sess_id = s2.sess_id
                  AND s1.event_type < s2.event_type
        GROUP BY 1, 2)
      SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
             CAST(n_ab * 1000000 // n_tot AS BIGINT) AS support_ppm,
             CAST(n_ab * 1000000 * n_tot // (sa.n_et * sb.n_et) AS BIGINT)
               AS lift_ppm
      FROM pairs, tot
      JOIN singles sa ON sa.et = a
      JOIN singles sb ON sb.et = b
      ORDER BY a, b"""),
  )

  /** Daily series gap-fill with LINEAR INTERPOLATION — the time-series
    * imputation q70's spine-fill stops short of: q70 carries the last
    * value forward, this reconstructs missing days as the exact
    * integer-cents lerp between the nearest known days ((vp·(dn−i) +
    * vn·(i−dp)) div (dn−dp) — single non-negative numerator, so Spark's
    * truncating `div` and DuckDB's flooring `//` agree; a signed series
    * would need explicit floor-div alignment, bound documented loud).
    * Leading/trailing gaps clamp to the nearest known value. Each day's
    * known value is its LAST event's amount (max (ts, event_id), q58's
    * recency rule) in integer cents; the report pins the filled series
    * per user via exact count/sum and a position-weighted checksum
    * (Σ filled·(day+1)) — any divergence anywhere in the series shifts
    * it.
    *
    * Scale shape (100 TB): no calendar-spine join — the Spark plan
    * collapses events to user-days (shuffle 1, map-side combined, the
    * per-user payload bounded at 30 rows by the reporting month), then
    * assembles each user's 30-day series as a SORTED in-memory array
    * (shuffle 2, tiny) and interpolates with O(30²) array HOFs entirely
    * map-side. The DuckDB oracle takes the textbook spine + IGNORE-NULLS
    * window formulation instead — same semantics, deliberately different
    * construction. The Jan-2024 spine is the fixture's reporting month
    * (a real pipeline parameterizes it). */
  private val q110 = Q(
    "q110_gap_interpolate",
    (s, d) =>
      T.events(s, d)
        .selectExpr(
          "user_id",
          "datediff(CAST(ts AS DATE), DATE'2024-01-01') AS day",
          "CAST(round(value * 100) AS BIGINT) AS cents",
          "unix_micros(ts) AS tsu",
          "event_id")
        .groupBy(col("user_id"), col("day"))
        .agg(max(struct(col("tsu"), col("event_id"), col("cents")))
          .as("last"))
        .select(col("user_id"), col("day").cast("int").as("day"),
          col("last.cents").as("cents"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
          .as("known"))
        .selectExpr(
          "user_id",
          "CAST(size(known) AS BIGINT) AS n_known",
          """transform(sequence(0, 29), i -> CASE
               WHEN exists(known, k -> k.day = i) THEN
                 named_struct('i', i,
                   'f', element_at(filter(known, k -> k.day = i), 1).cents,
                   'kind', 0)
               WHEN size(filter(known, k -> k.day < i)) = 0 THEN
                 named_struct('i', i,
                   'f', element_at(filter(known, k -> k.day > i), 1).cents,
                   'kind', 2)
               WHEN size(filter(known, k -> k.day > i)) = 0 THEN
                 named_struct('i', i,
                   'f', element_at(filter(known, k -> k.day < i), -1).cents,
                   'kind', 2)
               ELSE named_struct('i', i,
                 'f', (element_at(filter(known, k -> k.day < i), -1).cents
                         * (element_at(filter(known, k -> k.day > i), 1).day - i)
                       + element_at(filter(known, k -> k.day > i), 1).cents
                         * (i - element_at(filter(known, k -> k.day < i), -1).day))
                      div (element_at(filter(known, k -> k.day > i), 1).day
                           - element_at(filter(known, k -> k.day < i), -1).day),
                 'kind', 1)
             END) AS series""")
        .selectExpr(
          "user_id",
          "n_known",
          "CAST(size(filter(series, x -> x.kind = 1)) AS BIGINT) AS n_interp_mid",
          "CAST(size(filter(series, x -> x.kind = 2)) AS BIGINT) AS n_edge",
          "aggregate(series, 0L, (a, x) -> a + x.f) AS cents_sum",
          "aggregate(series, 0L, (a, x) -> a + x.f * CAST(x.i + 1 AS BIGINT)) AS cents_wsum")
        .orderBy(col("user_id")),
    Some("""
      WITH ev AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      known AS (SELECT user_id, day, cents FROM ev WHERE rn = 1),
      spine AS (
        SELECT u.user_id, d.day
        FROM (SELECT DISTINCT user_id FROM known) u,
             (SELECT unnest(range(0, 30)) AS day) d),
      j AS (
        SELECT s.user_id, s.day, k.cents,
               CASE WHEN k.cents IS NOT NULL THEN s.day END AS kday
        FROM spine s LEFT JOIN known k USING (user_id, day)),
      w AS (
        SELECT user_id, day, cents,
               last_value(kday IGNORE NULLS) OVER wp AS pd,
               last_value(cents IGNORE NULLS) OVER wp AS pv,
               first_value(kday IGNORE NULLS) OVER wf AS nd,
               first_value(cents IGNORE NULLS) OVER wf AS nv
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      filled AS (
        SELECT user_id, day,
               CASE WHEN cents IS NOT NULL THEN cents
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd)
               END AS f,
               CASE WHEN cents IS NOT NULL THEN 0
                    WHEN pv IS NULL OR nv IS NULL THEN 2
                    ELSE 1 END AS kind
        FROM w)
      SELECT user_id,
             CAST(count(*) FILTER (kind = 0) AS BIGINT) AS n_known,
             CAST(count(*) FILTER (kind = 1) AS BIGINT) AS n_interp_mid,
             CAST(count(*) FILTER (kind = 2) AS BIGINT) AS n_edge,
             CAST(sum(f) AS BIGINT) AS cents_sum,
             CAST(sum(f * (day + 1)) AS BIGINT) AS cents_wsum
      FROM filled GROUP BY user_id ORDER BY user_id"""),
  )

  /** Conversion-window funnel — of each day's signups, how many reach a
    * purchase within 24 HOURS (and how fast): the time-bounded funnel
    * q88's unordered-lifetime funnel cannot express, and the one window
    * mechanic nothing else exercises — a bounded FORWARD-looking
    * conditional RANGE frame (q103's trailing frame mirrored ahead;
    * q107's carry reaches backward unbounded). `min(purchase_ts) OVER
    * (ORDER BY tsu RANGE BETWEEN 1 FOLLOWING AND 24h FOLLOWING)` finds
    * each signup's first in-window conversion in one pass — no
    * signup×purchase self-join, no re-scan per signup. Exact integer µs
    * end to end; the same-instant tie is excluded by the 1-µs frame
    * start identically in both engines (RANGE peers are by value).
    *
    * Scale shape (100 TB): one user_id shuffle for the window (the
    * q24/q106 partitioning), then a map-side combined rollup onto the
    * 30-row day grid. The 24 h bound also bounds WINDOW STATE at
    * executor level: Spark holds only the frame's rows, so state per
    * user is one day of events, not the user's history. */
  private val q111 = Q(
    "q111_conversion_window",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("tsu"))
        .rangeBetween(1L, 86400000000L)
      T.events(s, d)
        .selectExpr("user_id", "event_type", "unix_micros(ts) AS tsu")
        .withColumn("np",
          min(when(col("event_type") === "purchase", col("tsu"))).over(w))
        .filter(col("event_type") === "signup")
        .selectExpr(
          "CAST(tsu div 86400000000 - 19723 AS INT) AS day",
          "np", "tsu")
        .groupBy(col("day"))
        .agg(
          count(lit(1)).as("n_signups"),
          count(col("np")).as("n_converted"),
          sum(expr("np - tsu")).as("lat_total"))
        .selectExpr(
          "day", "n_signups", "n_converted",
          "n_converted * 1000000 div n_signups AS conv_ppm",
          """CASE WHEN n_converted = 0 THEN 0L
             ELSE lat_total div n_converted END AS mean_latency_us""")
        .orderBy(col("day"))
    },
    Some("""
      WITH w AS (
        SELECT user_id, event_type, epoch_us(ts) AS tsu,
               min(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 1 FOLLOWING
                             AND 86400000000 FOLLOWING) AS np
        FROM events)
      SELECT CAST(tsu // 86400000000 - 19723 AS INT) AS day,
             CAST(count(*) AS BIGINT) AS n_signups,
             CAST(count(np) AS BIGINT) AS n_converted,
             CAST(count(np) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
             CAST(CASE WHEN count(np) = 0 THEN 0
                  ELSE sum(np - tsu) // count(np) END AS BIGINT)
               AS mean_latency_us
      FROM w WHERE event_type = 'signup'
      GROUP BY day ORDER BY day"""),
  )

  /** q112's point-in-time versioned join in DuckDB SQL, and the oracle of
    * its streaming twin q114: the microbatch union of purchases is the
    * purchase set. */
  private[operators] val PitEnrichOracle = Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tsu
        FROM events),
      dim AS (
        SELECT user_id AS d_user, tsu AS from_tsu,
               lead(tsu) OVER (PARTITION BY user_id
                               ORDER BY tsu, event_id) AS to_tsu,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY tsu, event_id) AS version
        FROM ev WHERE event_type = 'signup'),
      f AS (SELECT user_id, tsu, value FROM ev
            WHERE event_type = 'purchase')
      SELECT CAST(coalesce(d.version, 0) AS INT) AS version,
             CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users,
             round(sum(f.value), 2) AS revenue
      FROM f LEFT JOIN dim d
        ON d.d_user = f.user_id AND f.tsu >= d.from_tsu
           AND (d.to_tsu IS NULL OR f.tsu < d.to_tsu)
      GROUP BY 1 ORDER BY 1""")

  /** Point-in-time (PIT) join of facts to a versioned dimension — the
    * lakehouse lookup q85's SCD2 build exists to serve: each fact row is
    * matched to the dimension version whose half-open validity tile
    * contains the fact's timestamp. Signups are the dimension changes
    * (per-user version tiles, q85's lead-close convention), purchases
    * are the facts; a purchase before its user's first signup falls in
    * version 0 ("pre-signup"), the open tail catches everything after
    * the last change. Distinct from q25's as-of join: as-of pairs each
    * fact with the LATEST prior observation by sort, PIT joins against
    * materialized validity INTERVALS — the shape a warehouse dimension
    * table actually has. Rolls up purchases/users/revenue per version.
    *
    * 100 TB shape: the dimension build shares ONE user_id shuffle+sort
    * (row_number and lead on the same window), and the PIT lookup is an
    * EQUI join on user_id — co-partitioned sort-merge, with the tile
    * range as a residual join filter, never a range/nested-loop join;
    * per-user tile counts are bounded by the user's change count, so the
    * residual scan per joined key is small and skew follows the fact
    * key distribution, not the tile layout. All interval arithmetic in
    * exact integer unix micros. */
  private val q112 = Q(
    "q112_pit_versioned_join",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val ev = T.events(s, d)
        .selectExpr(
          "user_id", "event_id", "event_type", "value",
          "unix_micros(ts) AS tsu")
      val dim = ev.filter(col("event_type") === "signup")
        .withColumn("version", row_number().over(w))
        .withColumn("to_tsu", lead(col("tsu"), 1).over(w))
        .select(
          col("user_id").as("d_user"), col("version"),
          col("tsu").as("from_tsu"), col("to_tsu"))
      val facts = ev.filter(col("event_type") === "purchase")
      facts
        .join(
          dim,
          facts("user_id") === dim("d_user") &&
            facts("tsu") >= dim("from_tsu") &&
            (dim("to_tsu").isNull || facts("tsu") < dim("to_tsu")),
          "left")
        .groupBy(coalesce(col("version"), lit(0)).as("version"))
        .agg(
          count(lit(1)).as("n_purchases"),
          count_distinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("revenue"))
        .orderBy(col("version"))
    },
    PitEnrichOracle,
  )

  /** Semi-structured extraction through Spark 4's VARIANT type — the
    * modern alternative to q27/q76's from_json schema bind: parse_json
    * ONCE into the binary VARIANT encoding, then typed path access
    * (variant_get with a target type, try_variant_get for paths that may
    * be absent — the probed '$.missing' must come back NULL, not error).
    * At 100 TB the difference is architectural: from_json re-parses the
    * string per query with a full schema bind, while a VARIANT column is
    * parsed once at ingest and every downstream query does cheap typed
    * field taps on the binary encoding (and lakehouse shredding can
    * push the taps to the scan). The DuckDB oracle mirrors with its JSON
    * type. Rolls up typed taps per event_type in exact integers.
    *
    * 100 TB shape: parse + taps are map-only; the rollup is one shuffle
    * to the |event_types| grid with map-side partial aggregation. */
  private val q113 = Q(
    "q113_variant_extract",
    (s, d) =>
      T.events(s, d)
        .selectExpr(
          "event_type",
          "variant_get(parse_json(props), '$.k', 'bigint') AS k",
          "try_variant_get(parse_json(props), '$.missing', 'bigint') AS miss")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          count_distinct(col("k")).as("k_distinct"),
          count(col("miss")).as("n_missing_path"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(json_extract(props, '$.k')) AS BIGINT) AS n_with_k,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                  AS BIGINT) AS k_sum,
             CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                  AS BIGINT) AS k_min,
             CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                  AS BIGINT) AS k_max,
             CAST(count(DISTINCT CAST(json_extract_string(props, '$.k')
                  AS BIGINT)) AS BIGINT) AS k_distinct,
             CAST(count(json_extract(props, '$.missing')) AS BIGINT)
               AS n_missing_path
      FROM events
      GROUP BY event_type ORDER BY event_type"""),
  )

  /** Per-user EWMA via an array-domain FOLD — the order-dependent
    * recurrence (e₀ = v₀; eₜ = ⌊(eₜ₋₁ + vₜ)/2⌋, α = 1/2 in exact integer
    * cents) that no window frame can express: every step depends on the
    * previous step's OUTPUT, not on a frame of inputs. The correct
    * distributed shape for a per-key sequential recurrence in batch is
    * exactly this: one shuffle brings each user's purchases together,
    * sort_array fixes the (ts, event_id) order inside the array domain,
    * and aggregate() runs the left fold map-side — the recurrence never
    * crosses a partition boundary, and state is bounded by the per-user
    * purchase count, not the corpus (q110's array-domain discipline
    * applied to a recurrence instead of an interpolation). DuckDB
    * mirrors with list(ORDER BY) + list_reduce, whose first element
    * seeds the accumulator exactly like the slice-init fold here; with
    * α = 1/2 every step is an integer halving, so there is no float
    * accumulation to diverge and floor/truncate agree (cents ≥ 0). The
    * smoothed spend level is a classic user-behavior feature for
    * training-data curation. */
  private val q115 = Q(
    "q115_ewma_fold",
    (s, d) =>
      T.events(s, d)
        .filter(col("event_type") === "purchase")
        .selectExpr(
          "user_id", "unix_micros(ts) AS tsu", "event_id",
          "CAST(round(value * 100) AS BIGINT) AS cents")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sort_array(
            collect_list(struct(col("tsu"), col("event_id"), col("cents"))))
            .as("seq"))
        .selectExpr(
          "user_id", "n_purchases",
          "seq[size(seq) - 1].cents AS last_cents",
          """aggregate(slice(seq, 2, greatest(size(seq) - 1, 0)),
                       seq[0].cents,
                       (acc, x) -> (acc + x.cents) div 2) AS ewma_cents""")
        .orderBy(col("user_id")),
    Some("""
      WITH p AS (
        SELECT user_id, epoch_us(ts) AS tsu, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      agg AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_purchases,
               list(cents ORDER BY tsu, event_id) AS vs
        FROM p GROUP BY user_id)
      SELECT user_id, n_purchases,
             vs[len(vs)] AS last_cents,
             CAST(list_reduce(vs, (acc, x) -> (acc + x) // 2) AS BIGINT)
               AS ewma_cents
      FROM agg ORDER BY user_id"""),
  )

  /** Grouped winsorization — the robust-statistics outlier clip a
    * training-data curation pass runs before trusting per-source means
    * (a handful of fat-finger values otherwise dominate the report and
    * any downstream normalization). Clip boundaries are per-group p05/p95
    * DISCRETE quantiles by q67's pure integer rank arithmetic (rank
    * ceil(q·n/100) over the (cents, event_id) order) — interpolating
    * percentiles differ in FP evaluation order across engines, discrete
    * rank selection is bit-exact — and the clip itself, the clipped-tail
    * counts, and the before/after means all run in exact integer cents.
    *
    * Scale shape (100 TB): event_type is a ~5-value hot key, so the
    * old one-shuffle plan's per-stratum ranking sort ran in ONE task
    * holding a fifth of the corpus — the rank:N:H tier's measured 5.1×
    * cliff. The p05/p95 boundaries are two exact ranks per stratum, so
    * they run as [[DistributedScan.rankSelect]] over 16-cent value
    * bands (cents div 16, monotone in the sort key): band counts by
    * partial aggregate, a count-scan locating the one band straddling
    * each boundary rank, and a sort of only those bands' rows — no row
    * outside a boundary band is ever ranked. The k-row bounds table
    * broadcasts back onto the raw rows; the clip, the clipped-tail
    * counts, and both means ride one k-row map-side-combined rollup
    * that never sees a rank. Groups too large even per band fall back
    * to q40's sketch boundaries; the clip stays exact. Oracle keeps the
    * textbook window SQL — counting is associative, the rows are
    * bit-identical. */
  private val q116 = Q(
    "q116_winsorize",
    (s, d) => {
      def rank(q: Int) = s"(($q * n) + 99) div 100"
      val base = T.events(s, d)
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val bounds = DistributedScan.rankSelect(
          base, "event_type", expr("cents div 16"),
          Seq(col("cents"), col("event_id")), col("cents"),
          Seq("lo" -> rank(5), "hi" -> rank(95)))
        .select(col("event_type"), col("lo"), col("hi"))
      base.join(broadcast(bounds), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("lo")).as("p05_cents"),
          min(col("hi")).as("p95_cents"),
          sum(when(col("cents") < col("lo"), 1L).otherwise(0L))
            .as("n_clipped_low"),
          sum(when(col("cents") > col("hi"), 1L).otherwise(0L))
            .as("n_clipped_high"),
          expr("sum(cents) div count(1)").as("mean_cents"),
          expr("sum(least(greatest(cents, lo), hi)) div count(1)")
            .as("mean_winsorized_cents"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      r AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY cents, event_id) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM e),
      b AS (
        SELECT event_type,
               min(cents) FILTER (rk = ((5 * n) + 99) // 100) AS lo,
               min(cents) FILTER (rk = ((95 * n) + 99) // 100) AS hi
        FROM r GROUP BY event_type)
      SELECT r.event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(lo) AS BIGINT) AS p05_cents,
             CAST(min(hi) AS BIGINT) AS p95_cents,
             CAST(count(*) FILTER (cents < lo) AS BIGINT) AS n_clipped_low,
             CAST(count(*) FILTER (cents > hi) AS BIGINT)
               AS n_clipped_high,
             CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents,
             CAST(sum(least(greatest(cents, lo), hi)) // count(*)
                  AS BIGINT) AS mean_winsorized_cents
      FROM r JOIN b ON b.event_type = r.event_type
      GROUP BY r.event_type
      ORDER BY r.event_type"""),
  )

  /** PageRank power iteration over the behavioral transition graph —
    * the stationary-importance view of q106's Markov matrix (which event
    * types the stream keeps flowing INTO, damping for teleportation),
    * and the one iterative fixpoint computation on the batch surface
    * that propagates a WEIGHTED sum (d07's components propagate a min
    * label — different algebra, different convergence). Four unrolled
    * iterations with damping 0.85, all in exact integer ppm: rank⁰ =
    * ⌊10⁶/k⌋, per-edge contribution ⌊rank·w/out⌋, rankⁿ⁺¹ =
    * ⌊15·10⁴/k⌋ + ⌊85·10⁴·Σcontrib/10⁶⌋ — floor at every step, so both
    * engines walk bit-identical integer states and the oracle is the
    * same four iterations as CTEs. Dangling mass (a node with no
    * out-edges) deliberately leaks, identically on both sides.
    *
    * Scale shape (100 TB): the heavy work is q106's shape — one user_id
    * shuffle for the lag window, map-side combine onto the |types|²
    * edge grid; the iterations then run on the aggregated graph where
    * the rank vector is broadcast-sized by construction (the node
    * domain is the event taxonomy). For a graph whose NODES are
    * corpus-scaled (user→user), the same loop shuffles rank⊳edges on
    * node id per iteration, materialized per round — d07's
    * discipline; the per-round plan here is already that join. */
  private val q117 = Q(
    "q117_pagerank",
    (s, d) => {
      val ev = T.events(s, d)
      // The aggregated graph is |types|²-row tiny; materializing it
      // (d07's iterate-checkpoint discipline) makes each
      // unrolled iteration a join against materialized blocks instead of
      // replaying the corpus-scale lag window 4× in one plan.
      val trans = transitions(ev)
        .groupBy(col("prev"), col("curr"))
        .agg(count(lit(1)).as("w"))
        .transform(GraftSession.materialize)
      val edges = trans
        .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("prev"))))
      val nodes = ev.select(col("event_type").as("node")).distinct()
        .withColumn("k", count(lit(1)).over(Window.partitionBy()))
        .transform(GraftSession.materialize)
      var ranks = nodes.select(col("node"), expr("1000000 div k").as("rank"))
      for (_ <- 1 to 4) {
        val contrib = edges
          .join(ranks.withColumnRenamed("node", "rnode"),
            col("prev") === col("rnode"))
          .select(col("curr"), expr("(rank * w) div outw").as("c"))
          .groupBy(col("curr"))
          .agg(sum(col("c")).as("contrib"))
        ranks = nodes
          .join(contrib, col("node") === col("curr"), "left")
          .select(col("node"),
            expr("(150000 div k) + (850000 * coalesce(contrib, 0L)) div 1000000")
              .as("rank"))
      }
      val outs = trans.groupBy(col("prev")).agg(sum(col("w")).as("out_transitions"))
      nodes.select(col("node"))
        .join(outs, col("node") === col("prev"), "left")
        .join(ranks.withColumnRenamed("node", "rnode").withColumnRenamed("rank", "rank_ppm"),
          col("node") === col("rnode"))
        .select(col("node"),
          coalesce(col("out_transitions"), lit(0L)).as("out_transitions"),
          col("rank_ppm"))
        .orderBy(col("node"))
    },
    Some {
      // The four unrolled iterations differ only in which rank CTE they
      // read — generated from one template instead of hand-copied
      // (semantics are pinned by the replay spec; DuckDB has no
      // recursive-CTE form that keeps this integer-exact across both
      // engines, hence unrolling at all).
      val iters = (1 to 4).map { i =>
        s"""r$i AS (SELECT n.node,
               (150000 // k) + (850000 * coalesce(c.contrib, 0)) // 1000000
                 AS rank
             FROM nodes n CROSS JOIN kk LEFT JOIN (
               SELECT e.curr AS node, sum((r.rank * e.w) // e.outw) AS contrib
               FROM edges e JOIN r${i - 1} r ON r.node = e.prev GROUP BY 1) c
               ON c.node = n.node)"""
      }.mkString(",\n      ")
      s"""
      WITH $transitionSeqSql,
      trans AS (
        SELECT prev, event_type AS curr, CAST(count(*) AS BIGINT) AS w
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      edges AS (
        SELECT prev, curr, w, sum(w) OVER (PARTITION BY prev) AS outw
        FROM trans),
      nodes AS (SELECT DISTINCT event_type AS node FROM events),
      kk AS (SELECT count(*) AS k FROM nodes),
      r0 AS (SELECT node, 1000000 // k AS rank FROM nodes, kk),
      $iters,
      outs AS (SELECT prev AS node, sum(w) AS out_transitions
               FROM trans GROUP BY 1)
      SELECT n.node,
             CAST(coalesce(o.out_transitions, 0) AS BIGINT)
               AS out_transitions,
             CAST(r.rank AS BIGINT) AS rank_ppm
      FROM nodes n
      LEFT JOIN outs o ON o.node = n.node
      JOIN r4 r ON r.node = n.node
      ORDER BY n.node"""
    },
  )

  /** Rolling exact median — a HOLISTIC aggregate in a moving window
    * frame, the one window mechanic the surface lacked: q51's RANGE
    * frame sums are algebraic (O(1) per slide), a median must see the
    * frame's whole multiset, which is why monitoring pipelines that
    * want outlier-robust "typical spend over the last N purchases"
    * features pay for it only on BOUNDED frames. Trailing 10-purchase
    * median per user in exact integer cents; the emitted value is
    * 2×median (an even frame interpolates the midpoint of two cents
    * values, so doubling keeps every result an exact integer — no float
    * rounding contract), alongside the frame population for
    * short-history rows.
    *
    * Scale shape (100 TB): one shuffle on user_id (the q106/q107
    * sequence partitioning), then O(frame)=O(10) work per row inside
    * the sorted partition — bounded-frame holistic is the documented
    * contract; an UNBOUNDED holistic frame would be quadratic and q40's
    * sketch is the fallback for that shape. */
  private val q118 = Q(
    "q118_rolling_median",
    (s, d) => {
      val frame = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      T.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("n_frame", count(lit(1)).over(frame))
        .withColumn("med_x2_cents",
          round(percentile(col("cents"), lit(0.5)).over(frame) * 2)
            .cast("long"))
        .select(col("user_id"), col("event_id"), col("tsu"), col("cents"),
          col("n_frame"), col("med_x2_cents"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, epoch_us(ts) AS tsu,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) OVER w AS BIGINT) AS n_frame,
             CAST(round(quantile_cont(CAST(round(value * 100) AS BIGINT),
                                      0.5) OVER w * 2) AS BIGINT)
               AS med_x2_cents
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""),
  )

  /** Grouped MAD (median-absolute-deviation) robust outlier monitor —
    * the robust sibling of q90's μ+3σ z-score rule: a single fat-finger
    * value inflates σ enough to hide ITSELF, while the median/MAD pair
    * has a 50% breakdown point, which is why data-quality monitors on
    * money columns use it. Everything stays exact integers via the
    * doubling trick used twice: med2 = lower+upper discrete median pair
    * of cents (2×median, q118's contract), dev2 = |2·cents − med2|
    * (2×deviation), mad2 = the same pair trick over dev2 (4×MAD), and
    * the classic |x−med| > 3·MAD rule becomes 2·dev2 > 3·mad2 — every
    * comparison bit-identical across engines, no float anywhere. The
    * degenerate mad2=0 group (>50% of values identical) flags every
    * deviating row, the documented MAD behavior.
    *
    * Scale shape (100 TB): event_type is a ~5-value hot key, so the old
    * one-exchange plan's two per-stratum ranking sorts each ran in ONE
    * task holding a fifth of the corpus — the rank:N:H tier's measured
    * 5.1× cliff, twice. Each median is a PAIR of exact ranks per
    * stratum, so both selections run as [[DistributedScan.rankSelect]]
    * (p09's two-pass posture with selection instead of full ranking):
    * pass 1 picks the cents median pair over 16-cent value bands →
    * med2 broadcast back; pass 2 picks the dev2 = |2·cents − med2|
    * median pair over 32-unit bands → mad2. Only the bands straddling
    * a median rank are ever sorted (~rows/bands of the corpus each
    * pass); the final rollup reads the raw rows plus two broadcast
    * k-row boundary tables — no rank ever reaches it. Oracle keeps the
    * textbook window SQL — counting is associative, the rows are
    * bit-identical. */
  private val q120 = Q(
    "q120_mad_outliers",
    (s, d) => {
      val loRk = "(n + 1) div 2"
      val hiRk = "n div 2 + 1"
      val base = T.events(s, d)
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val medTab = DistributedScan.rankSelect(
          base, "event_type", expr("cents div 16"),
          Seq(col("cents"), col("event_id")), col("cents"),
          Seq("lov" -> loRk, "hiv" -> hiRk))
        .select(col("event_type"), (col("lov") + col("hiv")).as("med2"))
      val dev = base.join(broadcast(medTab), Seq("event_type"))
        .withColumn("dev2", abs(lit(2) * col("cents") - col("med2")))
      val madTab = DistributedScan.rankSelect(
          dev, "event_type", expr("dev2 div 32"),
          Seq(col("dev2"), col("event_id")), col("dev2"),
          Seq("lov" -> loRk, "hiv" -> hiRk))
        .select(col("event_type"), (col("lov") + col("hiv")).as("mad2"))
      dev.join(broadcast(madTab), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("med2")).as("med_x2_cents"),
          min(col("mad2")).as("mad_x4_cents"),
          sum(when(lit(2) * col("dev2") > lit(3) * col("mad2"), 1L)
            .otherwise(0L)).as("n_outliers"),
          max(col("dev2")).as("max_dev_x2_cents"))
        .withColumn("outlier_ppm",
          expr("(1000000 * n_outliers) div n_events"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      r AS (
        SELECT event_type, event_id, cents,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY cents, event_id) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM e),
      m AS (
        SELECT *,
               min(CASE WHEN rk = (n + 1) // 2 THEN cents END)
                 OVER (PARTITION BY event_type)
             + min(CASE WHEN rk = n // 2 + 1 THEN cents END)
                 OVER (PARTITION BY event_type) AS med2
        FROM r),
      dv AS (
        SELECT *, abs(2 * cents - med2) AS dev2,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(2 * cents - med2), event_id) AS rk2
        FROM m),
      md AS (
        SELECT *,
               min(CASE WHEN rk2 = (n + 1) // 2 THEN dev2 END)
                 OVER (PARTITION BY event_type)
             + min(CASE WHEN rk2 = n // 2 + 1 THEN dev2 END)
                 OVER (PARTITION BY event_type) AS mad2
        FROM dv)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(med2) AS BIGINT) AS med_x2_cents,
             CAST(min(mad2) AS BIGINT) AS mad_x4_cents,
             CAST(count(*) FILTER (2 * dev2 > 3 * mad2) AS BIGINT)
               AS n_outliers,
             CAST(max(dev2) AS BIGINT) AS max_dev_x2_cents,
             CAST((1000000 * count(*) FILTER (2 * dev2 > 3 * mad2))
                  // count(*) AS BIGINT) AS outlier_ppm
      FROM md
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** Linear multi-touch attribution — the allocation mechanic q107's
    * last-touch rule collapses away: every view/click in the 24 h before
    * a purchase shares the credit EQUALLY, and the split must conserve
    * money exactly (Σ shares = purchase cents, per purchase, always).
    * Each touch binds to the NEXT purchase within 24 h (min-struct over
    * a forward RANGE frame — q111's bounded forward-looking shape); the
    * equal split uses p08's largest-remainder discipline in pure integer
    * cents: base = cents div k, the first (cents mod k) touches in
    * (ts, event_id) order get one extra cent. Purchases no touch chose
    * roll up under the '(direct)' channel — chosen-by-no-touch is NOT
    * "no touch in the preceding 24 h" (an intervening purchase may have
    * captured them), so directness comes from an anti-join against the
    * chosen-purchase set, not a backward frame. The split runs on
    * |cents| with the sign reapplied, so refunds (negative values)
    * conserve exactly on both engines — see the inline comment.
    *
    * Scale shape (100 TB): the binding window is ONE shuffle on user_id;
    * the ranking window re-keys on (user_id, purchase) — bounded second
    * shuffle, no row inflation (each touch appears once); the anti-join
    * probes a purchase-id projection and the channel rollup is k rows.
    * Never a touch×purchase join — the frame does the pairing. */
  private val q121 = Q(
    "q121_linear_attribution",
    (s, d) => {
      val dayUs = 86400000000L
      val ev = T.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
        .rangeBetween(0, dayUs)
      val bound = ev.withColumn("np",
        min(when(col("event_type") === "purchase",
          struct(col("tsu"), col("event_id"), col("cents")))).over(wNext))
      val touches = bound
        .filter(col("event_type").isin("view", "click")
          && col("np").isNotNull)
        .select(col("user_id"), col("event_type").as("channel"),
          col("tsu"), col("event_id"),
          col("np.event_id").as("p_id"), col("np.cents").as("p_cents"))
      val perP = Window.partitionBy(col("user_id"), col("p_id"))
      // Sign-safe largest remainder: split |cents| and reapply the sign,
      // because Spark's `div` truncates toward zero while DuckDB's `//`
      // floors (they disagree below zero), and a raw `rk <= cents % k`
      // would never award remainder cents to a NEGATIVE purchase
      // (refund). On |cents| both engines agree and Σ shares = cents
      // exactly, either sign — the t20 truncate-vs-floor hazard class,
      // closed instead of documented.
      val alloc = touches
        .withColumn("rk",
          row_number().over(perP.orderBy(col("tsu"), col("event_id"))))
        .withColumn("k", count(lit(1)).over(perP))
        .withColumn("share",
          (when(col("p_cents") < 0, -1L).otherwise(1L)) *
            (expr("abs(p_cents) div k")
              + when(col("rk") <= expr("abs(p_cents) % k"), 1L)
                .otherwise(0L)))
      val chosen = alloc.select(col("p_id")).distinct()
      val direct = ev.filter(col("event_type") === "purchase")
        .join(chosen, col("event_id") === col("p_id"), "left_anti")
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(col("cents")), lit(0L)).as("attributed_cents"))
        .select(lit("(direct)").as("channel"), col("n_events"),
          col("attributed_cents"))
      alloc.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("share")).as("attributed_cents"))
        .unionByName(direct)
        .orderBy(col("channel"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      bound AS (
        SELECT *, min(CASE WHEN event_type = 'purchase'
                           THEN [tsu, event_id, cents] END)
               OVER (PARTITION BY user_id ORDER BY tsu
                     RANGE BETWEEN CURRENT ROW AND 86400000000 FOLLOWING)
               AS np
        FROM ev),
      touches AS (
        SELECT user_id, event_type AS channel, tsu, event_id,
               np[2] AS p_id, np[3] AS p_cents
        FROM bound
        WHERE event_type IN ('view', 'click') AND np IS NOT NULL),
      alloc AS (
        SELECT channel,
               (CASE WHEN p_cents < 0 THEN -1 ELSE 1 END)
                 * (abs(p_cents) // k
                    + CASE WHEN rk <= abs(p_cents) % k THEN 1 ELSE 0 END)
                 AS share
        FROM (
          SELECT *,
                 row_number() OVER (PARTITION BY user_id, p_id
                   ORDER BY tsu, event_id) AS rk,
                 count(*) OVER (PARTITION BY user_id, p_id) AS k
          FROM touches)),
      rolled AS (
        SELECT channel, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(share) AS BIGINT) AS attributed_cents
        FROM alloc GROUP BY channel
        UNION ALL
        SELECT '(direct)' AS channel, CAST(count(*) AS BIGINT) AS n_events,
               CAST(coalesce(sum(cents), 0) AS BIGINT) AS attributed_cents
        FROM ev
        WHERE event_type = 'purchase'
          AND event_id NOT IN (SELECT DISTINCT p_id FROM touches))
      SELECT * FROM rolled ORDER BY channel"""),
  )

  /** Key-skew audit: per-event-type Gini coefficient + top-key share of
    * the user_id distribution — the partition-skew health report a
    * 100 TB operator reads BEFORE picking join/agg strategies (q41's
    * salting and AQE skew-join are the cures; this is the diagnosis,
    * kept as a first-class query the way d16 keeps dedup health). Gini
    * from the ascending-ordered counts in one pass of pure integer
    * arithmetic: G = (2·Σ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ), emitted as
    * floor-ppm — both engines walk identical BIGINTs, no float.
    *
    * Domain bound: the ppm numerator needs n·T·10⁶ < 2⁶³ (n keys,
    * T events per group) — safe through n=10⁶ keys at T=10⁹ rows per
    * group; past that the same formula runs in DECIMAL(38), loudly, on
    * both engines (s06's overflow posture).
    *
    * Scale shape (100 TB): the (event_type, user_id) rollup shuffles
    * once with map-side combine — but the old plan then ranked those
    * k·users count rows in a per-event_type window, i.e. ONE task
    * sorting a fifth of the user population (at 10⁹ users that is the
    * same cliff the rank:N:H tier measured at 5.1×). The Gini rank i
    * therefore runs as [[DistributedScan.bucketedRowNumber]] with a
    * composite (c, user_id div 4096) STRUCT bucket — lexicographically
    * monotone in the (c, user_id) sort order, and the user_id sub-band
    * keeps a bucket bounded even when most users share one count (c=1
    * is the hot band in any heavy-tailed corpus, where a value band
    * alone would recreate the cliff). The report stays a k-row
    * aggregate; the count table is computed twice inside the count-scan
    * (p09's documented trade) and carries counts only, never payload.
    * Oracle keeps the textbook window SQL — counting is associative,
    * the rows are bit-identical. */
  private val q122 = Q(
    "q122_skew_gini",
    (s, d) => {
      val cnt = T.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
      DistributedScan.bucketedRowNumber(
        cnt, col("event_type"),
        struct(col("c"), expr("user_id div 4096").as("ub")),
        Seq(col("c"), col("user_id")), "i")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("c")).as("n_events"),
          sum(col("i") * col("c")).as("s1"),
          max(col("c")).as("maxc"))
        .select(col("event_type"), col("n_users"), col("n_events"),
          expr("""(1000000 * (2 * s1 - (n_users + 1) * n_events))
                  div (n_users * n_events)""").as("gini_ppm"),
          expr("(1000000 * maxc) div n_events").as("top_share_ppm"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH cnt AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY c, user_id) AS i
        FROM cnt),
      agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(sum(i * c) AS BIGINT) AS s1,
               CAST(max(c) AS BIGINT) AS maxc
        FROM rk GROUP BY event_type)
      SELECT event_type, n_users, n_events,
             CAST((1000000 * (2 * s1 - (n_users + 1) * n_events))
                  // (n_users * n_events) AS BIGINT) AS gini_ppm,
             CAST((1000000 * maxc) // n_events AS BIGINT) AS top_share_ppm
      FROM agg ORDER BY event_type"""),
  )

  /** Multiset set-operations — EXCEPT ALL / INTERSECT ALL, the
    * bag-semantics tier q13/q14's DISTINCT set ops collapse away: a
    * duplicate-forensics reconcile needs MULTIPLICITY (how many extra
    * copies one extract carries beyond the other), and the engines'
    * bag algebra must agree exactly (except_all keeps max(m_a − m_b, 0)
    * copies, intersect_all keeps min(m_a, m_b)). The bag on the A side
    * is customer keys with one copy per ORDER (natural duplication);
    * the B side is the customer dimension (one copy each). Each bag
    * result rolls up per key and the two labeled rollups union, so the
    * output is deterministic while the multiplicities stay the tested
    * object: for a customer with n ≥ 1 orders the except row carries
    * n − 1 and the intersect row exactly 1, and order-less customers
    * appear in neither — invariants the replay spec pins.
    *
    * Scale shape (100 TB): both ops plan as hash aggregates over the
    * key with count-compare semantics — one shuffle each side, no
    * row-by-row anti semantics; the rollup reuses the key partitioning. */
  private val q123 = Q(
    "q123_except_all",
    (s, d) => {
      val bagA = T.orders(s, d).select(col("o_custkey").as("key"))
      val bagB = T.customer(s, d).select(col("c_custkey").as("key"))
      val ex = bagA.exceptAll(bagB)
        .groupBy(col("key"))
        .agg(count(lit(1)).as("multiplicity"))
        .withColumn("op", lit("except_all"))
      val in = bagA.intersectAll(bagB)
        .groupBy(col("key"))
        .agg(count(lit(1)).as("multiplicity"))
        .withColumn("op", lit("intersect_all"))
      ex.unionByName(in)
        .select(col("op"), col("key"), col("multiplicity"))
        .orderBy(col("op"), col("key"))
    },
    Some("""
      WITH bag_a AS (SELECT o_custkey AS key FROM orders),
      bag_b AS (SELECT c_custkey AS key FROM customer),
      ex AS (
        SELECT 'except_all' AS op, key,
               CAST(count(*) AS BIGINT) AS multiplicity
        FROM (SELECT key FROM bag_a EXCEPT ALL SELECT key FROM bag_b)
        GROUP BY key),
      ins AS (
        SELECT 'intersect_all' AS op, key,
               CAST(count(*) AS BIGINT) AS multiplicity
        FROM (SELECT key FROM bag_a INTERSECT ALL SELECT key FROM bag_b)
        GROUP BY key)
      SELECT op, key, multiplicity FROM ex
      UNION ALL
      SELECT op, key, multiplicity FROM ins
      ORDER BY op, key"""),
  )

  /** Sliding distinct cardinality — a SET-VALUED moving-frame aggregate,
    * the behavioral-diversity feature (how many DISTINCT event types in
    * the last 10 events) that neither an algebraic frame sum (q51) nor
    * a holistic median (q118) expresses: the frame's value is a set, and
    * distinctness must be evaluated per frame. Both engines materialize
    * the frame as a list in row order and count distinct elements
    * (collect_list → array_distinct → size ≡ list ∘ list_distinct ∘
    * len), so ties and duplicates resolve identically with no reliance
    * on either engine's DISTINCT-inside-window support.
    *
    * Scale shape (100 TB): one user_id shuffle, O(frame)=O(10) work per
    * row inside the sorted partition — q118's bounded-frame holistic
    * contract extended to set values; an unbounded distinct frame is
    * the q26/q63 sketch tier's job instead. */
  private val q124 = Q(
    "q124_sliding_distinct",
    (s, d) => {
      val frame = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      T.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"), col("ts"), col("event_type"))
        .withColumn("n_frame", count(lit(1)).over(frame))
        .withColumn("k_distinct",
          size(array_distinct(collect_list(col("event_type")).over(frame)))
            .cast("long"))
        .select(col("user_id"), col("event_id"), col("tsu"),
          col("n_frame"), col("k_distinct"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, epoch_us(ts) AS tsu,
             CAST(count(*) OVER w AS BIGINT) AS n_frame,
             CAST(len(list_distinct(list(event_type) OVER w)) AS BIGINT)
               AS k_distinct
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""),
  )

  /** Time-series subsequence motif search — z-normalized subsequence
    * matching over per-user value series (the streaming-similarity
    * EDBT'19 shape; UCR-suite / Matrix-Profile's unit query): find the
    * top-10 length-8 windows across ALL user series whose z-normalized
    * shape is closest to a query motif (a monotone ramp — "steadily
    * climbing spend"). Pointwise monitors (q90 z-score, q115 EWMA,
    * q118 rolling median) see levels; this sees SHAPE, invariant to
    * each window's own offset and scale.
    *
    * Both engines compute the window statistics from the SAME 8-element
    * array in the same order (Spark `aggregate` folds left-to-right,
    * DuckDB list_sum over the windowed list), so μ/σ² are bit-identical
    * and the flat-window filter (σ² ≤ 1e-12, z undefined) can never
    * disagree; the final order is on the ROUNDED distance with a
    * unique (user_id, event_id) tie-break.
    *
    * Scale shape (100 TB): the window frame is the census `entity`
    * class — user_id partitions with an 8-row bounded frame, never a
    * corpus-sized sort; scoring is map-side arithmetic against a
    * LITERAL query motif (no join at all), and the global top-10 plans
    * as TakeOrderedAndProject (bounded heap), never a full sort. */
  private val q128 = Q(
    "q128_subseq_match",
    (s, d) => {
      val L = 8
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.currentRow, L - 1)
      T.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("w", collect_list(col("value")).over(w))
        .filter(size(col("w")) === L)
        .withColumn("mu",
          expr(s"aggregate(w, CAST(0.0 AS DOUBLE), (a, x) -> a + x) / $L"))
        .withColumn("sq",
          expr("aggregate(w, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"))
        .withColumn("v2", col("sq") / L - col("mu") * col("mu"))
        .filter(col("v2") > 1e-12)
        .withColumn("dist",
          expr(s"""aggregate(transform(sequence(1, $L),
              i -> power((element_at(w, i) - mu) / sqrt(v2)
                         - (i - 4.5) / sqrt(5.25), 2)),
            CAST(0.0 AS DOUBLE), (a, x) -> a + x)"""))
        .select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsu"),
          (round(col("dist"), 6) + lit(0.0)).as("dist"))
        .orderBy(col("dist"), col("user_id"), col("event_id"))
        .limit(10)
    },
    Some("""
      WITH win AS (
        SELECT user_id, event_id, epoch_us(ts) AS tsu,
               list(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS w
        FROM events),
      stats AS (
        SELECT user_id, event_id, tsu, w,
               list_sum(w) / 8 AS mu,
               list_sum(list_transform(w, x -> x * x)) AS sq
        FROM win WHERE len(w) = 8),
      scored AS (
        SELECT user_id, event_id, tsu,
               sq / 8 - mu * mu AS v2,
               list_sum(list_transform(range(1, 9),
                 i -> pow((w[i] - mu) / sqrt(sq / 8 - mu * mu)
                          - (i - 4.5) / sqrt(5.25), 2))) AS dist
        FROM stats)
      SELECT user_id, event_id, tsu,
             round(dist, 6) + CAST(0.0 AS DOUBLE) AS dist
      FROM scored
      WHERE v2 > 1e-12
      ORDER BY round(dist, 6) + CAST(0.0 AS DOUBLE), user_id, event_id
      LIMIT 10"""),
  )

  /** The pack's write-once fixtures (catalog tables, layout and format
    * copies): one-time writes, so the queries measure the SCAN of a
    * maintained layout, not its build. */
  val fixtures: Seq[Prewarm] = Seq(
    Prewarm("bucketed", prewarmBucketedTables),
    Prewarm("partitioned", prewarmPartitionedEvents),
    Prewarm("clustered", prewarmClusteredEvents),
    Prewarm("zorder", prewarmZOrderedEvents),
    Prewarm("formats", prewarmFormatCopies))

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13,
    q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27,
    q31, q32, q33, q34, q35, q40, q41, q42, q43, q44, q47, q48, q49, q50,
    q51, q52, q53, q54, q55, q57, q58, q59, q60, q62, q63, q64, q65, q67,
    q68, q69, q70, q71, q72, q74, q75, q76, q77, q78, q79, q81, q83, q85,
    q86, q87, q88, q89, q90, q91, q93, q95, q96, q97, q98, q99, q102,
    q103, q104, q105, q106, q107, q108, q109, q110, q111, q112, q113,
    q115, q116, q117, q118, q120, q121, q122, q123, q124, q128)
}
