package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftSession, Q, Tables => T}

/** Text-analysis operators over the documents table: language-ID
  * (stopword/n-gram heuristic), quality scoring, token counting
  * (whitespace + regex tokenizer), positional rolling-hash document
  * fingerprinting, and corpus term statistics.
  *
  * All map-only per document except term stats (one shuffle on term);
  * everything stays in whole-stage codegen (built-in functions + HOFs,
  * no UDFs).
  */
object TextAnalysis {

  private[operators] val stopEn = Seq("the", "a", "of", "to", "and", "in")
  private val stopDe = Seq("der", "die", "das", "und", "ein")
  private val stopEs = Seq("el", "la", "los", "de", "y")
  private val stopFr = Seq("le", "la", "les", "et", "un")
  private val stopZh = Seq("de", "shi", "le", "bu")

  private[operators] def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  // Shared language-ID scoring — t01 emits the per-doc scores, t12 rolls
  // the predictions into a confusion matrix. One definition per engine
  // dialect so the classifier and its eval can never drift apart.
  private val langScores = Seq(
    "en" -> stopEn, "de" -> stopDe, "es" -> stopEs,
    "fr" -> stopFr, "zh" -> stopZh)
  private val langScoreExprs = langScores.map { case (l, ws) =>
    s"size(filter(ws, w -> w IN ${inList(ws)})) / CAST(size(ws) AS DOUBLE) AS s_$l"
  }
  private val langPredExpr =
    """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |     WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |     WHEN s_fr >= s_zh THEN 'fr'
      |     ELSE 'zh' END AS pred_lang""".stripMargin.replaceAll("\n", " ")
  private def langScored(
      s: org.apache.spark.sql.SparkSession, d: String) =
    T.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .selectExpr(
        Seq("doc_id") ++ langScoreExprs ++
          Seq(langPredExpr, "lang AS actual_lang"): _*)
  // DuckDB mirror: `scored` = raw ratios, `pred` = scores + argmax.
  private val langScoredCteSql = s"""scored AS (
        SELECT doc_id, lang,
               len(list_filter(ws, w -> w IN ${inList(stopEn)})) / CAST(len(ws) AS DOUBLE) AS s_en,
               len(list_filter(ws, w -> w IN ${inList(stopDe)})) / CAST(len(ws) AS DOUBLE) AS s_de,
               len(list_filter(ws, w -> w IN ${inList(stopEs)})) / CAST(len(ws) AS DOUBLE) AS s_es,
               len(list_filter(ws, w -> w IN ${inList(stopFr)})) / CAST(len(ws) AS DOUBLE) AS s_fr,
               len(list_filter(ws, w -> w IN ${inList(stopZh)})) / CAST(len(ws) AS DOUBLE) AS s_zh
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)),
      pred AS (
        SELECT doc_id, s_en, s_de,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS pred_lang,
               lang AS actual_lang
        FROM scored)"""

  /** Language ID: stopword-hit-ratio per language wordlist, argmax with a
    * fixed preference order on ties (word-soup fixtures tie at 0 for the
    * non-en lists, so this degenerates deterministically — the mechanism
    * is what's exercised). */
  private val t01 = Q(
    "t01_text_langid",
    (s, d) =>
      langScored(s, d)
        .selectExpr(
          "doc_id",
          "round(s_en, 6) AS score_en",
          "round(s_de, 6) AS score_de",
          "pred_lang",
          "actual_lang")
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $langScoredCteSql
      SELECT doc_id,
             round(s_en, 6) AS score_en,
             round(s_de, 6) AS score_de,
             pred_lang,
             actual_lang
      FROM pred
      ORDER BY doc_id"""),
  )

  /** Quality scoring: length, average word length, stopword ratio →
    * weighted 0..1 score + tier.
    *
    * Every ratio is rounded via EXACT integer arithmetic
    * (round6(a/b) = (2·a·10⁶ + b) div (2·b), half-up for positives) and
    * only then divided by 10⁶ into a double — so no engine-dependent
    * double-rounding tie can occur (round 1 failed on doc 168's
    * 0.5271875 exactly-representable half-way score). The tier is derived
    * from the integer-scaled score, so bucketing is identical too.
    *
    * score = 0.4·min(nw/50,1) + 0.3·nstop/nw + 0.3·min(avg_wlen/8,1)
    * scaled by 10⁶ over common denominator 8·nw:
    *   num = 8000·min(nw,50)·8·nw + 2400000·nstop + 300000·min(m, 8·nw)
    * where m = n_chars − nw + 1 (sum of word lengths).
    */
  private val t02 = Q(
    "t02_text_quality",
    (s, d) =>
      T.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .selectExpr(
          "doc_id",
          "CAST(size(ws) AS BIGINT) AS nw",
          "CAST(n_chars - (size(ws) - 1) AS BIGINT) AS m",
          s"CAST(size(filter(ws, w -> w IN ${inList(stopEn)})) AS BIGINT) AS nstop")
        .selectExpr(
          "doc_id",
          "CAST(nw AS INT) AS n_words",
          "CAST((2 * m * 1000000 + nw) div (2 * nw) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS avg_word_len",
          "CAST((2 * nstop * 1000000 + nw) div (2 * nw) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS stopword_ratio",
          """(2 * (8000 * least(nw, 50) * 8 * nw
                   + 2400000 * nstop
                   + 300000 * least(m, 8 * nw))
              + 8 * nw) div (2 * 8 * nw) AS score_scaled""")
        .selectExpr(
          "doc_id", "n_words", "avg_word_len", "stopword_ratio",
          "CAST(score_scaled AS DOUBLE) / CAST(1000000 AS DOUBLE) AS quality_score",
          """CASE WHEN score_scaled >= 600000 THEN 'high'
                  WHEN score_scaled >= 400000 THEN 'medium'
                  ELSE 'low' END AS tier""")
        .orderBy(col("doc_id")),
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS nw,
               CAST(n_chars - (len(ws) - 1) AS BIGINT) AS m,
               CAST(len(list_filter(ws, w -> w IN ${inList(stopEn)})) AS BIGINT) AS nstop
        FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)),
      sc AS (
        SELECT doc_id,
               CAST(nw AS INT) AS n_words,
               CAST((2 * m * 1000000 + nw) // (2 * nw) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS avg_word_len,
               CAST((2 * nstop * 1000000 + nw) // (2 * nw) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS stopword_ratio,
               (2 * (8000 * least(nw, 50) * 8 * nw
                     + 2400000 * nstop
                     + 300000 * least(m, 8 * nw))
                + 8 * nw) // (2 * 8 * nw) AS score_scaled
        FROM m)
      SELECT doc_id, n_words, avg_word_len, stopword_ratio,
             CAST(score_scaled AS DOUBLE) / CAST(1000000 AS DOUBLE) AS quality_score,
             CASE WHEN score_scaled >= 600000 THEN 'high'
                  WHEN score_scaled >= 400000 THEN 'medium'
                  ELSE 'low' END AS tier
      FROM sc
      ORDER BY doc_id"""),
  )

  /** Token counting: whitespace tokens, regex (BPE-ish word/punct)
    * tokens, distinct tokens, type-token ratio. */
  private val t03 = Q(
    "t03_token_stats",
    (s, d) =>
      T.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .selectExpr(
          "doc_id",
          "size(ws) AS n_ws_tokens",
          "CAST(regexp_count(text, '[a-z0-9]+') AS INT) AS n_re_tokens",
          "size(array_distinct(ws)) AS n_distinct",
          "round(size(array_distinct(ws)) / CAST(size(ws) AS DOUBLE), 6) AS ttr")
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(len(ws) AS INT) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re_tokens,
             CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
             round(len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6) AS ttr
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
      ORDER BY doc_id"""),
  )

  /** Positional rolling-hash fingerprint: Σ position·value(word) mod p,
    * value(word) = first 16 bits of md5 — order-sensitive, so permuted
    * documents fingerprint differently (unlike a bag-of-words hash). */
  private val t04 = Q(
    "t04_text_fingerprint",
    (s, d) => {
      val nib = (j: Int) =>
        s"(instr('0123456789abcdef', substring(md5(w), $j, 1)) - 1)"
      val wordVal =
        s"CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT)"
      T.documents(s, d)
        .selectExpr(
          "doc_id",
          s"""aggregate(
                transform(split(text, ' '), (w, i) -> CAST(i + 1 AS BIGINT) * $wordVal),
                CAST(0 AS BIGINT), (acc, x) -> acc + x)
              % CAST(1000000007 AS BIGINT) AS fingerprint""")
        .orderBy(col("doc_id"))
    },
    Some {
      val nib = (j: Int) =>
        s"(strpos('0123456789abcdef', substr(md5(ws[i]), $j, 1)) - 1)"
      val wordVal =
        s"CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT)"
      s"""
      SELECT doc_id,
             CAST(list_sum(list_transform(range(1, len(ws) + 1),
                    i -> i * $wordVal)) AS BIGINT)
               % CAST(1000000007 AS BIGINT) AS fingerprint
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      ORDER BY doc_id"""
    },
  )

  /** Corpus term statistics: occurrences + document frequency per term —
    * the one shuffling op here (explode → hash agg on term). */
  private val t05 = Q(
    "t05_term_stats",
    (s, d) =>
      T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"))
        .agg(
          count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("doc_freq"))
        .orderBy(col("n_occurrences").desc, col("term"))
        .limit(100),
    Some("""
      SELECT term, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS doc_freq
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term
      ORDER BY n_occurrences DESC, term
      LIMIT 100"""),
  )

  /** TF-IDF with per-document top-5 terms: tf = in-doc occurrences,
    * idf = ln((N+1)/(df+1)) + 1 (smoothed), ranked per doc on the ROUNDED
    * score (so a last-ulp ln() difference between engines cannot reorder
    * near-ties) with the term as tie-breaker.
    *
    * Scale shape: one explode + two hash aggregates (term stats shuffle
    * on term, tf on (doc, term)), the corpus size joined in as a
    * broadcast scalar, and a per-doc window for the top-5 — every join
    * key is high-cardinality. */
  private val t06 = Q(
    "t06_tfidf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = words.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val ndocs = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(dfreq, "term")
        .crossJoin(broadcast(ndocs))
        .withColumn(
          "tfidf",
          round(
            col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0),
            4))
      val w = Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },
    Some("""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT t.doc_id, t.term,
               round(t.tf * (ln((nd.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 4)
                 AS tfidf
        FROM tf t JOIN dfreq d USING (term), nd),
      ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term ASC) AS rk
        FROM scored)
      SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf
      FROM ranked WHERE rk <= 5
      ORDER BY doc_id, rk"""),
  )

  /** Intra-document repetition: 1 − distinct/total trigram ratio — high
    * values flag boilerplate loops, keyword stuffing, and degenerate
    * generations (a standard pre-training quality filter alongside t02's
    * surface stats). Total trigrams come straight from the token count;
    * distinct ones from the fused WordNgrams kernel (d05's trigram
    * shingler reused as a quality signal). Map-only. */
  private val t07 = Q(
    "t07_text_repetition",
    (s, d) =>
      T.documents(s, d)
        .select(
          col("doc_id"),
          (size(split(col("text"), " ")) - 2).as("total_tg"),
          size(graft.functions.GraftFunctions.wordNgrams(s, col("text"), 3))
            .as("distinct_tg"))
        .filter(col("total_tg") >= 1)
        .select(
          col("doc_id"),
          col("total_tg"),
          col("distinct_tg"),
          round(
            lit(1.0) - col("distinct_tg") / col("total_tg").cast("double"),
            6).as("repetition"))
        .orderBy(col("doc_id")),
    // CAST(... AS INT): DuckDB len() yields BIGINT where Spark size()
    // yields INT — the driver's schema gate compares types (same reason
    // t02/t03/t06 cast).
    Some("""
      SELECT doc_id,
             CAST(total_tg AS INT) AS total_tg,
             CAST(distinct_tg AS INT) AS distinct_tg,
             round(1.0 - distinct_tg / CAST(total_tg AS DOUBLE), 6)
               AS repetition
      FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) - 2 AS total_tg,
               len(list_distinct(list_transform(
                 range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2]))) AS distinct_tg
        FROM documents)
      WHERE total_tg >= 1
      ORDER BY doc_id"""),
  )

  /** BPE-ish subword unit counting: each word contributes ceil(len/4)
    * units — fixed 4-char chunking as the deterministic stand-in for a
    * BPE merge table (real BPE's table is corpus-trained; the pipeline
    * metrics of interest — total unit count and units-per-token
    * "fertility", the standard tokenizer-cost measures for LLM data
    * budgeting — are the same computation over any segmenter).
    * Map-only per-row arithmetic; the HOF lambdas are interpreted, which
    * is fine off the hot path (one short array per document — contrast
    * the fused codegen kernels used where per-row work dominates,
    * [[graft.functions.WordNgrams]]). */
  private val t08 = Q(
    "t08_token_bpe",
    (s, d) =>
      T.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn(
          "units",
          expr("aggregate(transform(ws, w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), 0L, (a, x) -> a + x)"))
        .selectExpr(
          "doc_id",
          "size(ws) AS n_tokens",
          "units AS n_units",
          // floor-scaled ppm, not round(double, 6): units/n_tokens is a
          // ratio of small integers, exactly the class of double that CAN
          // land on a representable half-tie (odd/128), where Spark's
          // HALF_UP and DuckDB's ties-to-even disagree — the q44 lesson.
          "CAST(floor(CAST(units AS DOUBLE) / size(ws) * 1000000) AS BIGINT) AS fertility_ppm",
          "CAST(array_max(transform(ws, w -> length(w))) AS INT) AS max_word_len")
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(len(ws) AS INT) AS n_tokens,
             CAST(units AS BIGINT) AS n_units,
             CAST(floor(CAST(units AS DOUBLE) / len(ws) * 1000000) AS BIGINT) AS fertility_ppm,
             CAST(list_max(list_transform(ws, w -> len(w))) AS INT) AS max_word_len
      FROM (
        SELECT doc_id, ws,
               list_sum(list_transform(ws,
                 w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS units
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      ORDER BY doc_id"""),
  )

  /** PII scrubbing: regexp redaction of emails then numbers, emitting the
    * scrubbed-text hash plus per-class match counts — the standard
    * pre-training redaction pass (and its audit trail: the counts are
    * what a pipeline monitors, the hash is what this oracle gates, so a
    * divergent redaction anywhere in 100 TB is caught byte-for-byte).
    * The fixture corpus carries no raw PII (documents.text is a word
    * soup — verified digit- and @-free), so the input is a PII-shaped
    * contact line derived deterministically from customer columns in
    * BOTH engines; the operator under test is the redactor, not the
    * synthesis. Email is scrubbed before numbers so the email's own
    * digits never double-count. Patterns stay in the syntax intersection
    * of Java regex (Spark) and RE2 (DuckDB): character classes, +, and
    * bounded repetition only. Map-only per row — no shuffle before the
    * final (tiny) sort. */
  private val t09 = Q(
    "t09_pii_scrub",
    (s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe   = "[0-9]+"
      T.customer(s, d)
        .withColumn(
          "contact",
          concat(
            col("c_name"), lit(" <c"), col("c_custkey"),
            lit("@example-mail.com> ref "),
            floor(col("c_acctbal")).cast("bigint"),
            lit(" seg "), col("c_mktsegment")))
        .withColumn("n_email", regexp_count(col("contact"), lit(emailRe)))
        .withColumn("s1", regexp_replace(col("contact"), emailRe, "<EMAIL>"))
        .withColumn("n_num", regexp_count(col("s1"), lit(numRe)))
        .select(
          col("c_custkey"),
          col("n_email"),
          col("n_num"),
          md5(regexp_replace(col("s1"), numRe, "<NUM>")).as("scrub_md5"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey,
             CAST(len(regexp_extract_all(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_email,
             CAST(len(regexp_extract_all(s1, '[0-9]+')) AS INT) AS n_num,
             md5(regexp_replace(s1, '[0-9]+', '<NUM>', 'g')) AS scrub_md5
      FROM (
        SELECT c_custkey, contact,
               regexp_replace(contact,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS s1
        FROM (
          SELECT c_custkey,
                 concat(c_name, ' <c', c_custkey, '@example-mail.com> ref ',
                        CAST(floor(c_acctbal) AS BIGINT),
                        ' seg ', c_mktsegment) AS contact
          FROM customer))
      ORDER BY c_custkey"""),
  )

  /** Positional term statistics through the custom Generator
    * ([[graft.functions.PosNgramExplode]], the UDTF extension tier):
    * LATERAL VIEW fans each document out to its (pos, bigram) windows in
    * ONE fused pass — where the t05-style built-in formulation pays
    * split → transform → posexplode as separate interpreted passes with
    * the full gram array materialized per row — then aggregates
    * per-gram occurrence, document frequency, and earliest position
    * (first_pos is the burstiness/template signal: boilerplate grams
    * live at position 0). Same scale shape as t05: generate is
    * map-side, one shuffle on the gram key, top-100 bounded by the
    * unique (count DESC, gram) order. */
  private val t10 = Q(
    "t10_pos_ngrams",
    (s, d) => {
      T.documents(s, d).createOrReplaceTempView("g_t10_docs")
      s.sql("""
        SELECT gram,
               count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS doc_freq,
               CAST(min(pos) AS BIGINT) AS first_pos
        FROM g_t10_docs
        LATERAL VIEW pos_ngrams(text, 2) g AS pos, gram
        GROUP BY gram
        ORDER BY n_occurrences DESC, gram
        LIMIT 100""")
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
      grams AS (
        SELECT doc_id, i - 1 AS pos, w[i] || ' ' || w[i + 1] AS gram
        FROM toks, unnest(range(1, len(w))) AS t(i))
      SELECT gram, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS doc_freq,
             CAST(min(pos) AS BIGINT) AS first_pos
      FROM grams
      GROUP BY gram
      ORDER BY n_occurrences DESC, gram
      LIMIT 100"""),
  )

  /** Sequence packing for a fixed context window: documents are laid out
    * in a deterministic stream order (lang, doc_id), concatenated, and
    * chunked at a 2048-token budget — each document's bin is where its
    * FIRST token lands (concat-then-chunk packing, the standard
    * pretraining layout where sequences are concatenated and split at
    * context boundaries; documents may straddle bins). The per-bin
    * rollup — docs starting in the bin, their total tokens — is the
    * packing-efficiency audit a data pipeline runs before training.
    *
    * The bin index is floor(exclusive-prefix-sum / budget): pure integer
    * arithmetic over a window cumsum, so both engines agree exactly.
    * Scale shape: the running sum is [[DistributedScan.exclusivePrefixSum]]
    * — the two-level scan, NOT `sum over Window.partitionBy(lang)`: a
    * language is a LOW-cardinality stream key (one language can be half
    * a 100 TB corpus), so the single-window formulation hands that
    * stream ONE task holding its every row. The scan blocks the stream
    * into 4096-doc_id ranges (block sums partial-combine; the only
    * per-lang window runs over the one-row-per-block table; the
    * within-block cumsum's partition is bounded at 4096 rows) — integer
    * addition is associative, so the rows are EXACTLY the textbook
    * window's, which stays as the oracle SQL. */
  private val t11 = Q(
    "t11_seq_packing",
    (s, d) => {
      val sized = T.documents(s, d)
        .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).as("toks"))
      DistributedScan.exclusivePrefixSum(
          sized, col("lang"), col("doc_id"), col("toks"), "prior")
        // integer division (`div`), not `/`: Spark's `/` routes two longs
        // through DOUBLE, whose quotient can misround at large prefix
        // sums; DuckDB's `//` on BIGINT is the exact mirror.
        .withColumn("bin", expr("prior div 2048"))
        .groupBy(col("lang"), col("bin"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("bigint").as("tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("bin"))
    },
    Some("""
      WITH sized AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS toks
        FROM documents),
      placed AS (
        SELECT lang, doc_id, toks,
               COALESCE(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS prior
        FROM sized)
      SELECT lang, CAST(prior // 2048 AS BIGINT) AS bin,
             count(*) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS tokens,
             min(doc_id) AS first_doc,
             max(doc_id) AS last_doc
      FROM placed
      GROUP BY 1, 2
      ORDER BY lang, bin"""),
  )

  /** Language-ID confusion matrix — the EVAL companion to t01: the
    * classifier's predictions rolled up against the labeled language,
    * each cell carrying its exact-ppm share of the actual-language row
    * (integer division, so the matrix hashes identically in any engine).
    * The first artifact anyone deploying a classifier at corpus scale
    * publishes — and the input to threshold tuning.
    *
    * Scale shape: map-only scoring, one (actual, pred) shuffle over at
    * most |langs|² cells, row totals via a window over those cells. */
  private val t12 = Q(
    "t12_langid_confusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byActual = Window.partitionBy(col("actual_lang"))
      langScored(s, d)
        .groupBy(col("actual_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_actual", sum(col("n")).over(byActual))
        .select(
          col("actual_lang"),
          col("pred_lang"),
          col("n"),
          expr("(n * 1000000) div n_actual").as("cell_ppm"))
        .orderBy(col("actual_lang"), col("pred_lang"))
    },
    Some(s"""
      WITH $langScoredCteSql
      SELECT actual_lang, pred_lang, count(*) AS n,
             (count(*) * 1000000)
               // CAST(sum(count(*)) OVER (PARTITION BY actual_lang)
                  AS BIGINT) AS cell_ppm
      FROM pred
      GROUP BY actual_lang, pred_lang
      ORDER BY actual_lang, pred_lang"""),
  )

  /** BM25 retrieval scoring — the ranking function behind virtually every
    * lexical search/dedup-retrieval stack (and the lexical half of hybrid
    * RAG retrieval): score every document against a fixed query term set
    * with the Robertson/Okapi formula (k1 = 1.2, b = 0.75, idf =
    * ln(1 + (N − df + 0.5)/(df + 0.5))), emit the top 20. Shares t05/t06's
    * tokenizer definition (whitespace split) so term statistics cannot
    * drift between the stats and retrieval queries. Ranking happens on the
    * ROUNDED score with doc_id tie-break — the t06 rule, so a last-ulp
    * ln() divergence cannot reorder near-ties.
    *
    * Scale shape: the query-term filter pushes into the explode output
    * BEFORE the (doc, term) rollup, so only |Q| terms' postings ever
    * shuffle; df and the corpus stats are broadcast scalars (|Q| rows and
    * 1 row); the final top-20 is TakeOrderedAndProject, never a global
    * sort. */
  private val t13 = Q(
    "t13_bm25",
    (s, d) => {
      val qTerms = Seq("spark", "vector", "merge")
      val docs = T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(
          col("doc_id"),
          col("ws"),
          size(col("ws")).cast("double").as("dl"))
      // dl values are whole numbers, so both engines' avg() sums are
      // exact in double and avgdl is bit-identical.
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .withColumn(
          "contrib",
          log(lit(1.0) +
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * (lit(1.2) + lit(1.0))) /
            (col("tf") +
              lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("contrib")), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, ws
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
      words AS (SELECT doc_id, dl, unnest(ws) AS term FROM docs),
      tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM words
        WHERE term IN ('spark', 'vector', 'merge')
        GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
      SELECT t.doc_id,
             round(sum(
               ln(CAST(1.0 AS DOUBLE) +
                  (s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                    / (d.df + CAST(0.5 AS DOUBLE)))
               * (t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
               / (t.tf + CAST(1.2 AS DOUBLE)
                   * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                      + CAST(0.75 AS DOUBLE) * t.dl / s.avgdl))), 4)
               AS score
      FROM tf t JOIN dfreq d USING (term), stats s
      GROUP BY t.doc_id
      ORDER BY score DESC, doc_id ASC
      LIMIT 20"""),
  )

  /** LM vocabulary caps — the 100 TB contract for every scoring
    * operator that broadcasts a corpus-trained LM (t14, t24, t25/t26):
    * the LM an executor sees is the top-K entries by training-slice
    * frequency (ties broken on the md5 of the entry so both engines
    * rank identically) plus ONE pooled OOV bucket carrying the entire
    * residual mass, so the broadcast is ≤ K+1 rows BY CONSTRUCTION at
    * any corpus size — a web-scale bigram vocabulary is O(10⁹+)
    * entries, and an uncapped broadcast flips to a worse-than-shuffle
    * plan (BASELINE tier 3f's measured cold case). The OOV bucket is
    * ZERO-COUNT: below-cap and unseen entries take only the add-one
    * pseudo-count, exactly what unseen entries scored uncapped, so a
    * quality filter still scores them LOW. (The alternative — pooling
    * the residual mass into the bucket — rewards unseen text with the
    * whole tail's probability; measured on the fixture it INVERTS
    * t25's target-vs-raw perplexity signal, 15.5 vs 5.7.) The
    * effective smoothing vocabulary is |top| + (1 if any mass fell
    * below the cap else 0), so on a corpus whose vocabulary FITS the
    * cap the scores equal the uncapped LM bit-for-bit (CappedLmSpec
    * pins both directions). The
    * caps here are sized to BIND on the synthetic fixture vocabulary
    * (31 unigrams / ~900 target bigrams at every SF) so the OOV path
    * itself sits under the DuckDB oracle gate; a production corpus
    * would run the same mechanism at K ~ 10⁵-10⁶. */
  val UnigramLmCap = 24
  val BigramLmCap  = 512
  val ContextLmCap = 24

  /** Unigram language-model surprisal — the cheapest member of the
    * perplexity-filter family every pre-training corpus runs (docs whose
    * mean negative log-likelihood under a corpus LM is extreme are
    * boilerplate, noise, or wrong-language): train the unigram LM on the
    * corpus itself (term counts, add-one smoothing, capped at
    * [[UnigramLmCap]] terms + one OOV bucket), then score each
    * document's avg −ln p(term) in nats/token. Shares the t05 tokenizer.
    *
    * 100 TB shape: the LM is the t05 term-count rollup reduced to the
    * top-K entries by a bounded-heap TakeOrderedAndProject, BROADCAST
    * back against the exploded corpus (≤ K rows on the wire no matter
    * the corpus vocabulary); OOV tokens coalesce to the zero-count
    * bucket; the 1-row (total, v_eff) scalar rides a broadcast
    * singleton cross; scoring is map-side + one doc_id rollup.
    * Rounded at 4 dp per the t06 rule. */
  private val t14 = Q(
    "t14_unigram_surprisal",
    (s, d) => {
      val words = T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf  = words.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val top = tf
        .orderBy(col("cnt").desc, md5(col("term")).asc)
        .limit(UnigramLmCap)
      // 1-row scalar: total token mass and the effective smoothing
      // vocabulary (|top| + 1 iff any mass fell below the cap — the
      // term that makes capped ≡ uncapped when the cap is slack).
      val sc = tf.agg(coalesce(sum(col("cnt")), lit(0L)).as("total"))
        .crossJoin(top.agg(
          coalesce(sum(col("cnt")), lit(0L)).as("top_mass"),
          count(lit(1)).as("k_actual")))
        .select(
          col("total"),
          (col("k_actual") +
            when(col("total") > col("top_mass"), lit(1L))
              .otherwise(lit(0L))).as("v_eff"))
      words
        .join(broadcast(top), Seq("term"), "left")
        .crossJoin(broadcast(sc))
        .withColumn(
          "nll",
          -log((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
            (col("total") + col("v_eff"))))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          round(sum(col("nll")) / count(lit(1)), 4).as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT term, count(*) AS cnt FROM words GROUP BY 1),
      top AS (
        SELECT term, cnt FROM (
          SELECT term, cnt,
                 row_number() OVER (ORDER BY cnt DESC, md5(term) ASC) AS rk
          FROM tf)
        WHERE rk <= $UnigramLmCap),
      sc AS (
        SELECT total,
               k_actual + CASE WHEN total > top_mass THEN 1 ELSE 0 END
                 AS v_eff
        FROM (SELECT
                (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM tf)
                  AS total,
                (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM top)
                  AS top_mass,
                (SELECT count(*) FROM top) AS k_actual))
      SELECT w.doc_id, count(*) AS n_tokens,
             round(sum(-ln((coalesce(t.cnt, 0) + CAST(1.0 AS DOUBLE))
                           / (sc.total + sc.v_eff))) / count(*), 4)
               AS avg_nll
      FROM words w LEFT JOIN top t USING (term), sc
      GROUP BY w.doc_id
      ORDER BY w.doc_id"""),
  )

  /** Lexical diversity — type-token ratio and hapax rate, the
    * vocabulary-richness signals under t07's trigram repetition:
    * template spam repeats a tiny vocabulary (low TTR), while natural
    * prose keeps a long tail of once-used words (high hapax share).
    * Entirely integer arithmetic (ppm ratios over exact counts), so the
    * row is exact in both engines — no rounding convention needed.
    *
    * 100 TB shape: one explode + per-doc two-level rollup, all keyed on
    * doc_id — map-side combine does the heavy lifting. */
  private val t15 = Q(
    "t15_lexical_diversity",
    (s, d) =>
      T.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("k")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
          expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))
        .orderBy(col("doc_id")),
    Some("""
      WITH tf AS (
        SELECT doc_id, term, count(*) AS k
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY 1, 2),
      per_doc AS (
        SELECT doc_id,
               CAST(sum(k) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax
        FROM tf GROUP BY 1)
      SELECT doc_id, n_tokens, n_types, n_hapax,
             n_types * 1000000 // n_tokens AS ttr_ppm,
             n_hapax * 1000000 // n_types AS hapax_ppm
      FROM per_doc
      ORDER BY doc_id"""),
  )

  /** Zipf-exponent fit per language — the corpus-health diagnostic that
    * catches template/machine-generated text at the DISTRIBUTION level
    * where t15's per-doc TTR cannot: natural language's rank-frequency
    * curve is a power law (log-log slope near -1), while templated spam
    * flattens it (near 0) and a degenerate generator steepens it. Fit is
    * ordinary least squares of ln(freq) on ln(rank) over each language's
    * top-100 terms via the codegen'd `regr_slope` aggregate — identical
    * closed form in DuckDB, so only float accumulation order differs
    * (round(_,3) absorbs it; the fit inputs themselves are exact integer
    * counts). Rank ties break lexically so both engines rank
    * identically.
    *
    * Scale shape (100 TB): explode → (lang, word) count with map-side
    * combine; the per-lang top-100 runs as the two-phase bounded-heap
    * TopKPerGroup, NOT a window rank — the vocabulary is data-bounded
    * (billions of distinct terms at warehouse scale), so a rank window
    * partitioned on the handful of languages would hand one language's
    * entire vocabulary to ONE sort task. The heap keeps ≤ 100 rows per
    * lang per map task; the only window left numbers the ≤ 100
    * survivors per language (the regression needs ln(rank) as an input,
    * so rank can't just be discarded — it is recomputed on the k-row
    * output, a k-bounded frame by construction). The regression itself
    * is an O(1)-state aggregate over ≤ 100 rows per language. */
  private val t16 = Q(
    "t16_zipf_slope",
    (s, d) => {
      val rk = Window
        .partitionBy(col("lang"))
        .orderBy(col("n").desc, col("word"))
      val freq = T.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("lang"), col("word"))
        .agg(count(lit(1)).as("n"))
      graft.plans.TopK
        .perGroup(s, freq, Seq(col("lang")),
          Seq(col("n").desc, col("word").asc), 100)
        .withColumn("rk", row_number().over(rk))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_terms"),
          round(regr_slope(log(col("n")), log(col("rk"))), 3)
            .as("zipf_slope"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents),
      freq AS (SELECT lang, word, count(*) AS n
               FROM words GROUP BY lang, word),
      ranked AS (
        SELECT lang, n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n DESC, word) AS rk
        FROM freq)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
             round(regr_slope(ln(n), ln(rk)), 3) AS zipf_slope
      FROM ranked WHERE rk <= 100
      GROUP BY lang ORDER BY lang"""),
  )

  /** One BPE training iteration — the corpus-wide adjacent-symbol-pair
    * count whose argmax IS the next merge rule (Sennrich et al. 2016,
    * §3.2). t08 *applies* a tokenizer cost model; this is the job that
    * *learns* one: with symbols initialized to characters, count every
    * adjacent character pair weighted by word frequency and emit the
    * top-20 merge candidates. The cut line is (n_pair DESC, pair) with
    * the pair string as the unique tie-break, exact in both engines
    * (pure integer arithmetic end to end).
    *
    * Scale shape (100 TB): the corpus collapses to its word-frequency
    * table FIRST (one shuffle on `w`, map-side combined, bounded by the
    * vocabulary — tiny vs the corpus), so pair generation runs over
    * DISTINCT words only, weighted by `wf`; the second shuffle carries
    * the char-bigram alphabet (≤ |Σ|² keys) and the top-20 plans as
    * TakeOrderedAndProject (bounded per-partition heaps, no global
    * sort). This two-level rollup is exactly how a production BPE
    * trainer's first iteration distributes. The `length(w) >= 2` guard
    * is load-bearing: `sequence(1, 0)` auto-descends to [1, 0] (the m07
    * bug class) where the oracle's `range(1, 1)` is empty, so 1-char and
    * empty words must be excluded before pair generation on BOTH
    * engines rather than relying on the sequence being empty. */
  private val t17 = Q(
    "t17_bpe_pair_learn",
    (s, d) =>
      T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("wf"))
        .filter(length(col("w")) >= 2)
        .select(
          explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"),
          col("wf"))
        .groupBy(col("pair"))
        .agg(sum(col("wf")).as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair"))
        .limit(20),
    Some("""
      WITH wf AS (
        SELECT w, count(*) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      pairs AS (
        SELECT substr(w, i, 2) AS pair, wf
        FROM (SELECT w, wf, unnest(range(1, len(w))) AS i
              FROM wf WHERE len(w) >= 2))
      SELECT pair, CAST(sum(wf) AS BIGINT) AS n_pair
      FROM pairs GROUP BY pair
      ORDER BY n_pair DESC, pair LIMIT 20"""),
  )

  /** Per-source language composition — the provenance report a curation
    * run reads next to t01's per-document language ID: what language is
    * each SOURCE actually in, how mixed is it, and how dominant is its
    * majority language (exact integer ppm). A source whose top-language
    * share drops round-over-round is drifting (scraper broke, mirror
    * changed); a many-language source needs per-language routing before
    * a monolingual filter eats it. Majority ties break to the
    * lexicographically first language — deterministic on both engines.
    *
    * Scale shape (100 TB): one shuffle to the (source, lang) grid
    * (map-side partial agg), then a window over the k-source frame —
    * the grid is |sources|×|langs|, catalog-bounded, not data-bounded;
    * n_langs falls out of the same grid as count-over-partition, no
    * distinct aggregation. */
  private val t18 = Q(
    "t18_source_lang_mix",
    (s, d) => {
      val srcW  = Window.partitionBy(col("source"))
      val rankW = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("lang"))
      T.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_docs", sum(col("n")).over(srcW))
        .withColumn("n_langs", count(lit(1)).over(srcW))
        .withColumn("rk", row_number().over(rankW))
        .filter(col("rk") === 1)
        .select(
          col("source"), col("n_docs"), col("n_langs"),
          col("lang").as("top_lang"),
          expr("n * 1000000 div n_docs").as("top_ppm"))
        .orderBy(col("source"))
    },
    Some("""
      WITH grid AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source, lang),
      ranked AS (
        SELECT source, lang, n,
               CAST(sum(n) OVER (PARTITION BY source) AS BIGINT)
                 AS n_docs,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                 AS n_langs,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n DESC, lang) AS rk
        FROM grid)
      SELECT source, n_docs, n_langs, lang AS top_lang,
             CAST(n * 1000000 // n_docs AS BIGINT) AS top_ppm
      FROM ranked WHERE rk = 1 ORDER BY source"""),
  )

  /** Cross-source vocabulary overlap matrix — the redundancy report
    * BETWEEN provenances that t18 (composition within a source) and d09
    * (corpus vs a benchmark probe) don't cover: pairwise Jaccard over
    * each source's distinct vocabulary, the first-order signal for
    * "these two crawls are the same corpus re-labeled" before paying
    * for document-level near-dup (d02) across them. Exact integer ppm
    * on distinct-word sets; each unordered pair reported once
    * (src_a < src_b).
    *
    * Scale shape (100 TB): the corpus collapses map-side to the
    * DISTINCT (source, word) grid — vocabulary-bounded, like t16's rank
    * shuffle, text never survives the explode — and the grid is
    * materialized ONCE ([[GraftSession.materialize]]) so its
    * three consumers (sizes, both join sides) never re-scan the corpus;
    * the pair join is an equi-join on word over that grid (k sources ⇒
    * ≤ k rows per word; never a corpus self-join), then a k²-row
    * rollup. */
  private val t19 = Q(
    "t19_source_overlap",
    (s, d) => {
      val grid = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .distinct()
        .transform(GraftSession.materialize)
      val sizes = grid.groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"))
      val a = grid.toDF("src_a", "word")
      val b = grid.toDF("src_b", "word_b")
      val inter = a
        .join(b, col("word") === col("word_b") && col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.toDF("src_a", "n_a"), "src_a")
        .join(sizes.toDF("src_b", "n_b"), "src_b")
        .select(
          col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_common"),
          expr("n_common * 1000000 div (n_a + n_b - n_common)")
            .as("jaccard_ppm"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some("""
      WITH grid AS (
        SELECT DISTINCT source, word FROM (
          SELECT source, unnest(string_split(text, ' ')) AS word
          FROM documents)),
      sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM grid
        GROUP BY source),
      inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM grid a JOIN grid b
          ON a.word = b.word AND a.source < b.source
        GROUP BY 1, 2)
      SELECT i.src_a, i.src_b,
             sa.n AS n_a, sb.n AS n_b, i.n_common,
             CAST(i.n_common * 1000000 // (sa.n + sb.n - i.n_common)
                  AS BIGINT) AS jaccard_ppm
      FROM inter i
      JOIN sizes sa ON sa.source = i.src_a
      JOIN sizes sb ON sb.source = i.src_b
      ORDER BY i.src_a, i.src_b"""),
  )

  /** Contrastive source vocabulary — which terms CHARACTERIZE each
    * source against the rest of the corpus, the provenance fingerprint
    * a curation pass reads when t18's language mix looks uniform but one
    * crawl is secretly all boilerplate (the "distinctive words" report,
    * the log-odds idea made engine-exact): for each (source, term),
    * lift = the term's floor-ppm rate INSIDE the source minus its
    * floor-ppm rate in the REST of the corpus, both divisions on
    * non-negative integers (a signed division would split on the
    * engines' truncate-vs-floor disagreement; a log-odds z-score would
    * split on libm — the subtraction of two exact ppm rates ranks the
    * same phenomenon). Top-3 per source by (lift, term), ties exact.
    *
    * Domain bound (q122's posture): a CONTRASTIVE report needs ≥2
    * sources — on a single-source corpus `t_all - t_src` is zero and
    * Spark's non-ANSI div would emit NULL rest_ppm rows (DuckDB errors
    * loudly) rather than anything meaningful. The fixture has 20
    * sources; a caller with one source wants t05's plain term stats,
    * not a contrast against an empty rest.
    *
    * Scale shape (100 TB): the corpus pays ONE (source, term) explode +
    * rollup with map-side combine into the grid, materialized once
    * (four consumers, one build). The grid is
    * vocabulary-SIZED, not vocabulary-"bounded-small": at 100 TB the
    * distinct-term count is billions (URLs, typos, code tokens), so
    * none of the rates may run as a window over it — `sum OVER
    * (PARTITION BY ())` is ONE task buffering the whole vocabulary, and
    * the per-source sum is one task per source. Every total is instead
    * a partial-combining aggregate joined back: source totals broadcast
    * (catalog-sized), term totals equi-join on `term` (each term's key
    * group ≤ #sources rows — a stop word is NOT a hot join key here
    * because the grid already collapsed its corpus frequency), and the
    * global total is a 1-row broadcast cross join. The top-3 rank runs
    * as the two-phase bounded-heap TopKPerGroup (the q33/q57 operator —
    * map-side ≤ 3 rows per source per task, never a per-source
    * WindowExec sort over the vocabulary); the only Window left numbers
    * the ≤ 3 survivor rows per source — a k-bounded frame by
    * construction (plan-pinned). */
  private val t20 = Q(
    "t20_source_terms",
    (s, d) => {
      val grid = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("f"))
        .transform(GraftSession.materialize) // computed once, four consumers
      val srcTot  = grid.groupBy(col("source")).agg(sum(col("f")).as("t_src"))
      val termTot = grid.groupBy(col("term")).agg(sum(col("f")).as("f_term"))
      val allTot  = grid.agg(sum(col("f")).as("t_all"))
      val rated = grid
        .join(broadcast(srcTot), Seq("source"))
        .join(termTot, Seq("term"))
        .crossJoin(broadcast(allTot))
        .select(col("source"), col("term"),
          expr("(1000000 * f) div t_src").as("src_ppm"),
          expr("(1000000 * (f_term - f)) div (t_all - t_src)")
            .as("rest_ppm"))
        .withColumn("lift_ppm", col("src_ppm") - col("rest_ppm"))
      graft.plans.TopK
        .perGroup(s, rated, Seq(col("source")),
          Seq(col("lift_ppm").desc, col("term").asc), 3)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("lift_ppm").desc, col("term"))))
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("term"), col("src_ppm"), col("rest_ppm"), col("lift_ppm"))
        .orderBy(col("source"), col("rk"))
    },
    Some("""
      WITH grid AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY source, term),
      rated AS (
        SELECT source, term,
               CAST((1000000 * f) // sum(f) OVER (PARTITION BY source)
                    AS BIGINT) AS src_ppm,
               CAST((1000000 * (sum(f) OVER (PARTITION BY term) - f))
                    // (sum(f) OVER ()
                        - sum(f) OVER (PARTITION BY source))
                    AS BIGINT) AS rest_ppm
        FROM grid),
      ranked AS (
        SELECT *, src_ppm - rest_ppm AS lift_ppm,
               row_number() OVER (PARTITION BY source
                 ORDER BY src_ppm - rest_ppm DESC, term) AS rk
        FROM rated)
      SELECT source, CAST(rk AS BIGINT) AS rk, term, src_ppm, rest_ppm,
             lift_ppm
      FROM ranked WHERE rk <= 3
      ORDER BY source, rk"""),
  )

  /** Source saturation curve — the "is this source exhausted?" signal a
    * crawl scheduler reads: as ingestion proceeds (doc_id is the arrival
    * order), what fraction of each new slice's content is NOVEL versus
    * already seen anywhere in the corpus so far? Every doc's distinct
    * word bigrams are marked first-occurrence-or-repeat against the
    * GLOBAL ingestion order (a gram first seen in doc 7 is a repeat in
    * doc 300 even across sources — marginal novelty is what a scheduler
    * buys with the next crawl dollar), then rolled up per source into
    * five ingestion-order buckets (ntile over doc_id within source).
    * A healthy fresh source holds its novelty ppm flat across buckets; a
    * saturating or templated one decays toward zero — the curve t19's
    * static overlap matrix and d14's dedup can't show, because both are
    * order-blind.
    *
    * Scale shape (100 TB): global first-occurrence is PARTIAL
    * AGGREGATION, never a gram-hash window: a min(doc_id) over
    * Window.partitionBy(h) hands a stop-word bigram — present in
    * essentially every document — ONE task and an unbounded window
    * buffer at 100 TB. Instead `groupBy(h).agg(min(doc_id))` combines
    * map-side (the hottest gram hash reaches its reducer as one row per
    * upstream partition), and because each doc's grams are DISTINCT
    * (wordNgrams dedups), "novel grams in this doc" is simply the count
    * of hash-groups whose global min lands on it — so the join-back
    * keys on near-unique doc_id, never on the gram hash, and the
    * (source × 5) rollup closes the grid. Grams reduce to md5 before
    * the first exchange, so raw text never shuffles; every shuffle row
    * is a fixed-width (hash|doc_id|count) tuple.
    *
    * The ingestion-order bucket is ntile's CLOSED FORM over the
    * count-scan rank, not an ntile window: `ntile(5) OVER (PARTITION BY
    * source ORDER BY doc_id)` would hand each source ONE task buffering
    * every row — and the frame here would carry each doc's gram ARRAY,
    * not just metadata. Instead the per-source position comes from
    * [[graft.operators.DistributedScan.bucketedRowNumber]] on the
    * (doc_id, source, n_grams) METADATA projection (`doc_id div 4096`
    * is monotone in the order key and caps every window task at 4096
    * rows by construction), the per-source count joins back from a
    * k-row broadcast, and the tile is the SQL-standard assignment
    * (first n mod k buckets get one extra row) computed in integer
    * arithmetic — exactly the rows ntile emits, so the oracle keeps the
    * textbook SQL. */
  private val t21 = Q(
    "t21_source_saturation",
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.functions.GraftFunctions.wordNgrams(s, col("text"), 2)
            .as("grams"))
        .filter(size(col("grams")) >= 1)
      val meta = docs.select(
        col("doc_id"), col("source"),
        size(col("grams")).cast("long").as("n_grams_doc"))
      val ranked = DistributedScan.bucketedRowNumber(
        meta, col("source"), expr("doc_id div 4096L"),
        Seq(col("doc_id")), "r")
      val srcCounts = ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      val dims = ranked
        .join(broadcast(srcCounts), Seq("source"))
        .withColumn("bucket",
          DistributedScan.ntileFromRank(5, "r", "n_src").cast("long"))
        .select(col("doc_id"), col("source"), col("bucket"),
          col("n_grams_doc"))
      val novelPerDoc = docs
        .select(col("doc_id"), explode(col("grams")).as("gram"))
        .select(col("doc_id"), md5(col("gram")).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_novel_doc"))
      dims
        .join(novelPerDoc, Seq("doc_id"), "left")
        .groupBy(col("source"), col("bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_grams_doc")).as("n_grams"),
          sum(coalesce(col("n_novel_doc"), lit(0L))).as("n_novel"))
        .select(col("source"), col("bucket"), col("n_docs"),
          col("n_grams"), col("n_novel"),
          expr("(1000000 * n_novel) div n_grams").as("novel_ppm"))
        .orderBy(col("source"), col("bucket"))
    },
    Some("""
      WITH shingled AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1])) AS grams
        FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
              FROM documents)
        WHERE len(ws) >= 2),
      bucketed AS (
        SELECT doc_id, source, grams,
               CAST(ntile(5) OVER (PARTITION BY source ORDER BY doc_id)
                    AS BIGINT) AS bucket
        FROM shingled),
      grams AS (
        SELECT doc_id, source, bucket, md5(g) AS h
        FROM (SELECT doc_id, source, bucket, unnest(grams) AS g
              FROM bucketed)),
      marked AS (
        SELECT source, bucket, doc_id,
               doc_id = min(doc_id) OVER (PARTITION BY h) AS is_first
        FROM grams)
      SELECT source, bucket,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
             CAST((1000000 * sum(CASE WHEN is_first THEN 1 ELSE 0 END))
                  // count(*) AS BIGINT) AS novel_ppm
      FROM marked
      GROUP BY source, bucket
      ORDER BY source, bucket"""),
  )

  /** Within-document duplicate-LINE fraction — the repeated-segment
    * member of the published pre-training repetition filters (Rae et
    * al. 2021's Gopher rules drop a document when too many of its lines
    * or line characters are duplicates), distinct from t07 (n-gram
    * distinct ratio: local wording loops) and from d14/d15 (CROSS-doc
    * span dedup/boilerplate): this one flags a single document that
    * repeats its own whole segments — scraper pagination echoes,
    * retry-concatenated bodies, degenerate generation loops. "Lines"
    * are d14's fixed [[Dedup.ChunkWords]]-word chunks (the corpus has
    * no newlines — one shared width, so the line definition cannot
    * drift between the dedup pack and this filter). Emits both the
    * line-count and the character-mass variants as exact integer ppm:
    * Gopher gates on each separately (short repeated lines vs one huge
    * repeated block score very differently under the two).
    *
    * Scale shape (100 TB): map-only chunking (no shingle explosion),
    * then two partial-combining aggregates — (doc_id, chunk-md5) then
    * doc_id. No window, no join; shuffle rows carry (doc_id, 128-bit
    * hash, length) triples, never chunk text (d14's wire rule). A
    * repeated chunk collapses map-side, so even a document that is ONE
    * line times a million reaches the reducer as one row. */
  private val t22 = Q(
    "t22_dup_line_fraction",
    (s, d) => {
      val cw = Dedup.ChunkWords
      val w     = split(col("text"), " ")
      val nCh   = ceil(size(w) / lit(cw.toDouble)).cast("int")
      val lines = transform(
        sequence(lit(0), nCh - 1),
        i => array_join(slice(w, i * cw + 1, lit(cw)), " "))
      T.documents(s, d)
        .select(col("doc_id"), explode(lines).as("line"))
        .select(col("doc_id"), md5(col("line")).as("h"),
          length(col("line")).cast("long").as("len"))
        .groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("n_occ"), max(col("len")).as("len"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n_occ")).as("n_lines"),
          (sum(col("n_occ")) - count(lit(1))).as("n_dup_lines"),
          sum((col("n_occ") - 1) * col("len")).as("dup_chars"),
          sum(col("n_occ") * col("len")).as("line_chars"))
        .select(
          col("doc_id"), col("n_lines"), col("n_dup_lines"),
          expr("n_dup_lines * 1000000 div n_lines").as("dup_line_ppm"),
          expr("dup_chars * 1000000 div line_chars").as("dup_char_ppm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
      lines AS (
        SELECT doc_id,
               unnest(list_transform(
                 range(0, CAST(ceil(len(w) / ${Dedup.ChunkWords}.0) AS INT)),
                 i -> array_to_string(
                   w[i*${Dedup.ChunkWords}+1 : i*${Dedup.ChunkWords}+${Dedup.ChunkWords}],
                   ' '))) AS line
        FROM ws),
      occ AS (
        SELECT doc_id, line, count(*) AS n_occ, max(len(line)) AS l
        FROM lines GROUP BY doc_id, line)
      SELECT doc_id,
             CAST(sum(n_occ) AS BIGINT) AS n_lines,
             CAST(sum(n_occ) - count(*) AS BIGINT) AS n_dup_lines,
             CAST((sum(n_occ) - count(*)) * 1000000 // sum(n_occ)
               AS BIGINT) AS dup_line_ppm,
             CAST(sum((n_occ - 1) * l) * 1000000 // sum(n_occ * l)
               AS BIGINT) AS dup_char_ppm
      FROM occ GROUP BY doc_id ORDER BY doc_id"""),
  )

  /** Top-n-gram character mass — the OTHER half of the published
    * repetition-filter family (Gopher gates on "fraction of characters
    * contained in the most frequent 2/3/4-gram" alongside t22's
    * duplicate-line fractions): for each document, the word bigram
    * whose occurrences cover the most characters, emitted as exact
    * integer ppm of the document's characters. Catches the failure t22
    * structurally cannot — a document stuck repeating one PHRASE at
    * varying offsets never produces two identical 16-word lines, but
    * its top bigram's mass explodes. "Top" means largest character
    * mass (count × length — the quantity the gate reads), ties on mass
    * breaking to the higher count; any remaining tie is an exact-value
    * tie, so the emitted numbers are deterministic without naming the
    * bigram (the gate reads the fraction, not the string). Overlapping occurrences
    * each count their full span (the standard cheap accounting), so
    * ppm can exceed 1e6 on degenerate single-token loops — a feature:
    * those are exactly the documents the gate drops first.
    *
    * Scale shape (100 TB): adjacent-pair generation is map-only (no
    * shingle explosion beyond 1 row per word), then one partial-
    * combining aggregate onto (doc_id, bigram-md5) and a struct-max
    * argmax per doc_id (d10's partial-combining selection pattern — no
    * window, no join). Shuffle rows carry (doc_id, hash, length)
    * triples, never bigram text. */
  private val t23 = Q(
    "t23_top_ngram_mass",
    (s, d) =>
      T.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(
          col("doc_id"), col("n_chars"),
          explode(expr(
            "transform(sequence(1, size(w) - 1), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
            .as("bg"))
        .select(col("doc_id"), col("n_chars"), md5(col("bg")).as("h"),
          length(col("bg")).cast("long").as("len"))
        .groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("n"), max(col("len")).as("len"),
          max(col("n_chars")).as("n_chars"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_bigrams"),
          max(struct((col("n") * col("len")).as("mass"), col("n")))
            .as("top"),
          max(col("n_chars")).as("n_chars"))
        .select(
          col("doc_id"), col("n_bigrams"),
          col("top.n").as("top_cnt"),
          col("top.mass").as("top_mass"),
          expr("top.mass * 1000000 div n_chars").as("top_char_ppm"))
        .orderBy(col("doc_id")),
    Some("""
      WITH ws AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS w
        FROM documents),
      bg AS (
        SELECT doc_id, n_chars, w[i] || ' ' || w[i+1] AS bg
        FROM (SELECT doc_id, n_chars, w, unnest(range(1, len(w))) AS i
              FROM ws WHERE len(w) >= 2)),
      cnt AS (
        SELECT doc_id, max(n_chars) AS n_chars, bg, count(*) AS n,
               max(len(bg)) AS l
        FROM bg GROUP BY doc_id, bg),
      ranked AS (
        SELECT doc_id, n_chars, n, n * l AS mass,
               sum(n) OVER (PARTITION BY doc_id) AS nb,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n * l DESC, n DESC) AS rk
        FROM cnt)
      SELECT doc_id,
             CAST(nb AS BIGINT) AS n_bigrams,
             CAST(n AS BIGINT) AS top_cnt,
             CAST(mass AS BIGINT) AS top_mass,
             CAST(mass * 1000000 // n_chars AS BIGINT) AS top_char_ppm
      FROM ranked WHERE rk = 1
      ORDER BY doc_id"""),
  )

  /** DSIR-style importance weight — data selection via importance
    * resampling (Xie et al. 2023): score every document by the mean
    * per-token log-likelihood RATIO between a target-domain unigram LM
    * and a raw-corpus LM, the weight a curation run then resamples by
    * to tilt a huge raw corpus toward a small high-quality target. The
    * target here is the lexicographically first source (a
    * deterministic stand-in for "the curated slice"); both LMs use
    * t14's add-one smoothing over the SHARED corpus vocabulary, so
    * every term is scorable under both and the ratio never divides by
    * zero. Positive nats/token = looks like the target; negative =
    * looks like everything else. Rounded at 4 dp per the t06 rule
    * (exact integer counts in, one float fold out).
    *
    * Scale shape (100 TB): one (source-tagged) explode → term-level
    * count pair with map-side combine (one row per vocab term carrying
    * BOTH counts — not two LM tables to reconcile), reduced to the
    * top-[[UnigramLmCap]] entries by TOTAL corpus frequency via a
    * bounded-heap TakeOrderedAndProject and BROADCAST back against the
    * exploded corpus (≤ K rows on the wire — t14's capped-LM contract
    * with a second count column); the 1-row target-source scalar rides
    * an allow-listed broadcast singleton cross (the p05/p08 pattern).
    * Scoring is map-side; the only other shuffle is the doc_id rollup.
    *
    * OOV convention: unlike t14 (where a high-surprisal OOV floor IS
    * the filter's correct behavior), a log-likelihood RATIO's OOV
    * bucket must be NEUTRAL — llr = 0, no evidence for either slice.
    * Scoring the zero-count bucket through both smoothed LMs instead
    * yields the constant ln((total_r+v)/(total_t+v)) > 0 for every
    * OOV token (the slices' sizes differ, the unseen probabilities
    * don't), which tilts every rare-vocabulary doc toward the target
    * — measured as an INVERTED fixture discrimination. */
  private val t24 = Q(
    "t24_dsir_weight",
    (s, d) => {
      val docs = T.documents(s, d)
      val words = docs.select(
        col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("term"))
      val tgt = docs.agg(min(col("source")).as("tgt"))
      val lm = words.crossJoin(broadcast(tgt))
        .groupBy(col("term"))
        .agg(
          sum(when(col("source") === col("tgt"), 1L).otherwise(0L))
            .as("cnt_t"),
          sum(when(col("source") =!= col("tgt"), 1L).otherwise(0L))
            .as("cnt_r"))
      val top = lm
        .orderBy((col("cnt_t") + col("cnt_r")).desc, md5(col("term")).asc)
        .limit(UnigramLmCap)
      val sc = lm.agg(
          coalesce(sum(col("cnt_t")), lit(0L)).as("total_t"),
          coalesce(sum(col("cnt_r")), lit(0L)).as("total_r"))
        .crossJoin(top.agg(
          coalesce(sum(col("cnt_t")), lit(0L)).as("top_t"),
          coalesce(sum(col("cnt_r")), lit(0L)).as("top_r"),
          count(lit(1)).as("k_actual")))
        .select(
          col("total_t"), col("total_r"),
          (col("k_actual") +
            when(col("total_t") + col("total_r") >
                col("top_t") + col("top_r"), lit(1L))
              .otherwise(lit(0L))).as("v_eff"))
      words
        .join(broadcast(top), Seq("term"), "left")
        .crossJoin(broadcast(sc))
        .withColumn(
          "llr",
          when(col("cnt_t").isNull, lit(0.0)).otherwise(
            log((col("cnt_t") + lit(1.0))
                / (col("total_t") + col("v_eff")))
              - log((col("cnt_r") + lit(1.0))
                / (col("total_r") + col("v_eff")))))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          // + 0.0 collapses IEEE negative zero (a target-source doc can
          // round to exactly -0.0 on one engine and +0.0 on the other).
          (round(sum(col("llr")) / count(lit(1)), 4) + lit(0.0))
            .as("dsir_nats"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH tgt AS (SELECT min(source) AS tgt FROM documents),
      words AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents),
      lm AS (
        SELECT term,
               sum(CASE WHEN source = (SELECT tgt FROM tgt)
                   THEN 1 ELSE 0 END) AS cnt_t,
               sum(CASE WHEN source <> (SELECT tgt FROM tgt)
                   THEN 1 ELSE 0 END) AS cnt_r
        FROM words GROUP BY 1),
      top AS (
        SELECT term, cnt_t, cnt_r FROM (
          SELECT term, cnt_t, cnt_r,
                 row_number() OVER (ORDER BY cnt_t + cnt_r DESC,
                                    md5(term) ASC) AS rk
          FROM lm)
        WHERE rk <= $UnigramLmCap),
      sc AS (
        SELECT total_t, total_r,
               k_actual + CASE WHEN total_t + total_r > top_t + top_r
                               THEN 1 ELSE 0 END AS v_eff
        FROM (SELECT
                (SELECT CAST(coalesce(sum(cnt_t), 0) AS BIGINT) FROM lm)
                  AS total_t,
                (SELECT CAST(coalesce(sum(cnt_r), 0) AS BIGINT) FROM lm)
                  AS total_r,
                (SELECT CAST(coalesce(sum(cnt_t), 0) AS BIGINT) FROM top)
                  AS top_t,
                (SELECT CAST(coalesce(sum(cnt_r), 0) AS BIGINT) FROM top)
                  AS top_r,
                (SELECT count(*) FROM top) AS k_actual))
      SELECT w.doc_id, count(*) AS n_tokens,
             round(sum(CASE WHEN l.cnt_t IS NULL THEN CAST(0.0 AS DOUBLE)
                       ELSE ln((l.cnt_t + CAST(1.0 AS DOUBLE))
                               / (sc.total_t + sc.v_eff))
                          - ln((l.cnt_r + CAST(1.0 AS DOUBLE))
                               / (sc.total_r + sc.v_eff)) END)
                   / count(*), 4)
               + CAST(0.0 AS DOUBLE) AS dsir_nats
      FROM words w LEFT JOIN top l USING (term), sc
      GROUP BY w.doc_id
      ORDER BY w.doc_id"""),
  )

  // ---- shared bigram-LM scoring (t25 + t26) -------------------------
  // CCNet-style LM quality scoring (Wenzek et al. 2020): perplexity of
  // every document under a language model trained on a reference slice.
  // CCNet's KenLM 5-gram is stood in for by an add-one-smoothed BIGRAM
  // LM trained on the lexicographically first source (t24's
  // deterministic "curated slice" convention):
  //   P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V)
  // with c(·) counted over the target slice's bigram stream (contexts
  // counted FROM the bigram rows, so Σ_w P(w | ctx) = 1 exactly) and V
  // the whole-corpus unigram vocabulary, so unseen contexts and words
  // score 1/V instead of dividing by zero.
  //
  // Scale shape (100 TB): one bigram explode per pass (map-side; only
  // md5 keys leave the scan — never raw n-gram strings), the LM and
  // context tables built by partial-combining aggregates over the
  // TARGET slice only, each reduced to its top-K entries by a
  // bounded-heap TakeOrderedAndProject ([[BigramLmCap]] bigrams /
  // [[ContextLmCap]] contexts — ties broken on the md5 key, the t14
  // convention) and broadcast back at ≤ K rows no matter the slice's
  // vocabulary; below-cap entries coalesce to 0, the exact probability
  // never-seen entries always scored, so the cap only ever moves an
  // entry toward the unseen floor — it cannot reward unseen text (the
  // zero-count-OOV rationale at [[UnigramLmCap]]). The 1-row
  // target-source and vocabulary scalars ride allow-listed broadcast
  // singleton crosses, and the per-doc rollup's shuffle collapses to
  // ~1 row per doc by map-side combine (a doc's bigrams are
  // co-partitioned with the doc). The bigram projection is recomputed
  // per consumer rather than checkpointed — it is a cheap stateless
  // map of the scan (the t24 posture).
  private def bigramScored(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = T.documents(s, d)
    val tgt = docs.agg(min(col("source")).as("tgt"))
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("term"))
      // Distinct over md5 keys, not raw strings, so the count's partial
      // aggregate ships fixed-width hashes (identical count modulo a
      // 128-bit collision — the same equivalence the oracle CTE notes).
      .agg(countDistinct(md5(col("term"))).cast("long").as("v"))
    def bigrams = docs
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS c, " +
            "concat(element_at(w, i), ' ', element_at(w, i + 1)) AS b))"))
          .as("p"))
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("p.c")).as("ch"), md5(col("p.b")).as("bh"))
    val target = bigrams.crossJoin(broadcast(tgt))
      .filter(col("source") === col("tgt"))
    val lmB = target.groupBy(col("bh")).agg(count(lit(1)).as("cnt_b"))
    val lmC = target.groupBy(col("ch")).agg(count(lit(1)).as("cnt_c"))
    val topB = lmB.orderBy(col("cnt_b").desc, col("bh").asc)
      .limit(BigramLmCap)
    val topC = lmC.orderBy(col("cnt_c").desc, col("ch").asc)
      .limit(ContextLmCap)
    bigrams
      .join(broadcast(topB), Seq("bh"), "left")
      .join(broadcast(topC), Seq("ch"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("llh",
        log((coalesce(col("cnt_b"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cnt_c"), lit(0L)) + col("v"))))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (-sum(col("llh")) / count(lit(1))).as("ce_raw"))
  }
  // DuckDB mirror of the scoring pipeline, shared by both oracles so
  // the two engines' LM definitions cannot drift (raw strings instead
  // of md5 keys for the GROUPING — identical counts modulo a 128-bit
  // collision — but the top-K tie-break ranks on md5 of the entry, the
  // exact key Spark ranks on).
  private val bigramLmCteSql = s"""tgt AS (
        SELECT min(source) AS tgt FROM documents),
      vocab AS (
        SELECT count(DISTINCT term) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS term
              FROM documents)),
      bg AS (
        SELECT doc_id, lang, source, w[i] AS c, w[i] || ' ' || w[i+1] AS b
        FROM (SELECT doc_id, lang, source, w, unnest(range(1, len(w))) AS i
              FROM (SELECT doc_id, lang, source,
                           string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 2)),
      lm_b_all AS (
        SELECT b, count(*) AS cnt_b FROM bg
        WHERE source = (SELECT tgt FROM tgt) GROUP BY 1),
      lm_c_all AS (
        SELECT c, count(*) AS cnt_c FROM bg
        WHERE source = (SELECT tgt FROM tgt) GROUP BY 1),
      lm_b AS (
        SELECT b, cnt_b FROM (
          SELECT b, cnt_b,
                 row_number() OVER (ORDER BY cnt_b DESC, md5(b) ASC) AS rk
          FROM lm_b_all)
        WHERE rk <= $BigramLmCap),
      lm_c AS (
        SELECT c, cnt_c FROM (
          SELECT c, cnt_c,
                 row_number() OVER (ORDER BY cnt_c DESC, md5(c) ASC) AS rk
          FROM lm_c_all)
        WHERE rk <= $ContextLmCap),
      ce AS (
        SELECT g.doc_id, g.lang,
               count(*) AS n_bigrams,
               -sum(ln((coalesce(lm_b.cnt_b, 0) + CAST(1.0 AS DOUBLE))
                       / (coalesce(lm_c.cnt_c, 0) + vocab.v)))
                 / count(*) AS ce_raw
        FROM bg g
        LEFT JOIN lm_b USING (b)
        LEFT JOIN lm_c ON g.c = lm_c.c, vocab
        GROUP BY g.doc_id, g.lang)"""

  /** LM perplexity scoring — the CCNet quality filter (Wenzek et al.
    * 2020): per-document cross-entropy (nats/bigram) and perplexity
    * under the reference-slice bigram LM (see [[bigramScored]]). Low
    * perplexity = looks like the curated slice; the downstream filter
    * keeps the head of this score's distribution (t26 draws the
    * buckets). Rounded at 4 dp per the t06/t24 rule. */
  private val t25 = Q(
    "t25_lm_perplexity",
    (s, d) =>
      bigramScored(s, d)
        .select(
          col("doc_id"), col("n_bigrams"),
          (round(col("ce_raw"), 4) + lit(0.0)).as("cross_entropy"),
          (round(exp(col("ce_raw")), 4) + lit(0.0)).as("perplexity"))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $bigramLmCteSql
      SELECT doc_id,
             CAST(n_bigrams AS BIGINT) AS n_bigrams,
             round(ce_raw, 4) + CAST(0.0 AS DOUBLE) AS cross_entropy,
             round(exp(ce_raw), 4) + CAST(0.0 AS DOUBLE) AS perplexity
      FROM ce
      ORDER BY doc_id"""),
  )

  /** CCNet head/middle/tail buckets — the published corpus split
    * (Wenzek et al. 2020 §4.3): per-LANGUAGE perplexity terciles over
    * t25's score, the partition CCNet publishes its crawl in and the
    * knob downstream recipes cite ("head+middle of CCNet"). Ranking
    * runs on the ROUNDED score (4 dp) with doc_id tie-break so the
    * order is engine-stable, not on raw double sums.
    *
    * Scale shape: lang is a ~5-value hot key — the textbook
    * `ntile(3) OVER (PARTITION BY lang ORDER BY ce)` is one task
    * sorting a fifth of the corpus (the q67 cliff, measured ≥18× at
    * tier 3e). So the rank comes from
    * [[DistributedScan.bucketedRowNumber]] over centinat value bands
    * (`floor(ce·100)` — monotone in the order key, a deterministic
    * function of it so ties never straddle bands), the per-lang count
    * joins back from a k-row broadcast, and the tercile is
    * [[DistributedScan.ntileFromRank]]'s closed form — bit-identical
    * rows to the textbook oracle with no lang-sized sort task. */
  private val t26 = Q(
    "t26_ccnet_buckets",
    (s, d) => {
      // NOT checkpointed (r19 probe): the three consumers' re-expansions
      // of the LM chain dedupe through exchange reuse already — an eager
      // checkpoint here measured flat-to-worse (3.2/4.1 s vs 3.2 s
      // isolated) because it serializes the chain's materialization
      // before any consumer starts.
      val ce = bigramScored(s, d)
        .select(col("doc_id"), col("lang"),
          (round(col("ce_raw"), 4) + lit(0.0)).as("ce"))
      val ranked = DistributedScan.bucketedRowNumber(
        ce, col("lang"), floor(col("ce") * 100).cast("long"),
        Seq(col("ce"), col("doc_id")), "rk")
      // Counted from the pre-rank frame: the count is fully determined
      // by `ce`, so the branch must not re-expand bucketedRowNumber's
      // offsets join just to count rows.
      val langN = ce.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"))
      ranked
        .join(broadcast(langN), Seq("lang"))
        .withColumn("t",
          DistributedScan.ntileFromRank(3, "rk", "n_lang"))
        .select(
          col("doc_id"), col("lang"), col("ce"),
          when(col("t") === 1, "head")
            .when(col("t") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $bigramLmCteSql,
      scored AS (
        SELECT doc_id, lang,
               round(ce_raw, 4) + CAST(0.0 AS DOUBLE) AS ce
        FROM ce),
      rk AS (
        SELECT doc_id, lang, ce,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY ce, doc_id) AS t
        FROM scored)
      SELECT doc_id, lang, ce,
             CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
      FROM rk
      ORDER BY doc_id"""),
  )

  /** Heaps'-law vocabulary-growth fit — V(N) ≈ K·N^β per source
    * (Heaps 1978), the corpus-scaling statistic next to t16's Zipf
    * slope (frequency space) and t21's saturation curve (novelty-ppm
    * space): β near 1 = the source keeps minting new vocabulary (raw
    * crawl), β well below 1 = vocabulary saturating (templated/
    * boilerplate source) — the "how much NEW text is this source
    * really adding" number a crawl scheduler reads. The fit is
    * ordinary least squares of ln V against ln N over every doc
    * position in doc_id ingestion order.
    *
    * Scale shape (100 TB): per-doc token counts and per-doc
    * first-occurrence (novelty) counts are partial-combining
    * aggregates over md5 term keys (t21's pattern — raw terms never
    * shuffle); the two cumulative series run as
    * [[DistributedScan.exclusivePrefixSum]] (bounded two-level scan,
    * window tasks ≤ 4096 rows by construction — no source-sized sort
    * task); the OLS itself is a plain five-moment aggregate (n, Σx,
    * Σy, Σxy, Σx²) — the regression never materializes a curve. */
  private val t27 = Q(
    "t27_heaps_law",
    (s, d) => {
      val words = T.documents(s, d)
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .select(col("source"), col("doc_id"), md5(col("term")).as("h"))
      val tok = words.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("nt"))
      val nov = words.groupBy(col("source"), col("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("nv"))
      val base = tok.join(nov, Seq("source", "doc_id"), "left")
        .select(col("source"), col("doc_id"), col("nt"),
          coalesce(col("nv"), lit(0L)).as("nv"))
      val c1 = DistributedScan.exclusivePrefixSum(
        base, col("source"), col("doc_id"), col("nt"), "ct_ex")
      val c2 = DistributedScan.exclusivePrefixSum(
        c1, col("source"), col("doc_id"), col("nv"), "cv_ex")
      c2
        .withColumn("ct", col("ct_ex") + col("nt"))
        .withColumn("cv", col("cv_ex") + col("nv"))
        .filter(col("ct") > 0 && col("cv") > 0)
        .withColumn("x", log(col("ct").cast("double")))
        .withColumn("y", log(col("cv").cast("double")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nv")).as("vocab"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("den",
          col("n_docs") * col("sxx") - col("sx") * col("sx"))
        .withColumn("beta",
          when(col("den") === 0, lit(0.0))
            .otherwise((col("n_docs") * col("sxy")
              - col("sx") * col("sy")) / col("den")))
        .select(
          col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
          (round(col("beta"), 4) + lit(0.0)).as("heaps_beta"),
          (round((col("sy") - col("beta") * col("sx")) / col("n_docs"), 4)
            + lit(0.0)).as("heaps_logk"))
        .orderBy(col("source"))
    },
    Some("""
      WITH w AS (
        SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tok AS (
        SELECT source, doc_id, count(*) AS nt FROM w GROUP BY 1, 2),
      fo AS (
        SELECT source, term, min(doc_id) AS doc_id FROM w GROUP BY 1, 2),
      nov AS (
        SELECT source, doc_id, count(*) AS nv FROM fo GROUP BY 1, 2),
      base AS (
        SELECT t.source, t.doc_id, t.nt, coalesce(n.nv, 0) AS nv
        FROM tok t LEFT JOIN nov n
          ON t.source = n.source AND t.doc_id = n.doc_id),
      cum AS (
        SELECT source, nt, nv,
               sum(nt) OVER (PARTITION BY source ORDER BY doc_id) AS ct,
               sum(nv) OVER (PARTITION BY source ORDER BY doc_id) AS cv
        FROM base),
      xy AS (
        SELECT source, nt, nv,
               ln(CAST(ct AS DOUBLE)) AS x, ln(CAST(cv AS DOUBLE)) AS y
        FROM cum WHERE ct > 0 AND cv > 0),
      ols AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(sum(nv) AS BIGINT) AS vocab,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM xy GROUP BY 1),
      fit AS (
        SELECT source, n_docs, n_tokens, vocab, sx, sy,
               CASE WHEN n_docs * sxx - sx * sx = 0 THEN 0.0
                    ELSE (n_docs * sxy - sx * sy)
                         / (n_docs * sxx - sx * sx) END AS beta
        FROM ols)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, vocab,
             round(beta, 4) + CAST(0.0 AS DOUBLE) AS heaps_beta,
             round((sy - beta * sx) / n_docs, 4) + CAST(0.0 AS DOUBLE)
               AS heaps_logk
      FROM fit
      ORDER BY source"""),
  )

  val all: Seq[Q] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13,
      t14, t15, t16, t17, t18, t19, t20, t21, t22, t23, t24, t25, t26,
      t27)
}
