package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Text analysis over `documents` (SURVEY §D) — the per-document
  * scoring stages of an LLM training-data pipeline: token stats,
  * quality scoring, language ID, canonical fingerprinting.
  *
  * Everything is per-row `functions._` expressions (no UDFs, no
  * shuffle except the final presentation sort), so the ops scale
  * linearly with document count: at 100 TB this is a map-only pass
  * over the parquet scan with column pruning down to
  * (doc_id, text[, lang]). Caveat: the higher-order pieces
  * (`aggregate`/`transform`/`filter` lambdas) run interpreted, not
  * whole-stage-codegen'd — measured cheap here (every txt query
  * ≤0.7 s at sf0.1); promote to native Expressions only if they
  * become hot (the SimHash64/MinHash128 pattern).
  */
object TextOps extends Suite {

  import Tok.{toks, toksSql}

  // ---- txt_stats: token/char counts, distinct-token ratio -----------
  // n_subtokens is a BPE-ish count: maximal letter runs, digit runs,
  // and single other non-space characters each count as one subword
  // (the shape of GPT-2's pretokenizer, simplified to a regex both
  // engines' regex dialects treat identically).
  private val subtokRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private def txtStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        col("text"), toks.as("t"))
      // empty/whitespace-only docs divide by zero below: Spark yields
      // NULL, DuckDB yields inf/NaN — exclude them in BOTH engines
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("n_chars"),
        size(col("t")).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit(subtokRe)).cast("long").as("n_subtokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        aggregate(col("t"), lit(0), (acc, x) => acc + length(x))
          .cast("long").as("sum_token_len"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_tokens"), 6))
      .withColumn("avg_token_len",
        round(col("sum_token_len").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")

  private val txtStatsSql =
    s"""SELECT doc_id, n_chars, n_tokens, n_subtokens, n_distinct, sum_token_len,
      |  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
      |  ROUND(CAST(sum_token_len AS DOUBLE) / n_tokens, 6) AS avg_token_len
      |FROM (
      |  SELECT doc_id, length(text) AS n_chars,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(len(regexp_extract_all(text, '$subtokRe')) AS BIGINT) AS n_subtokens,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_token_len
      |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents) x
      |  WHERE len(t) > 0) y
      |ORDER BY doc_id""".stripMargin

  // ---- txt_quality: composite quality score -------------------------
  // Components (all per-row, identical op tree on both engines):
  //   len_score  = min(1, n_chars/500)     — longer docs score higher
  //   uniq_ratio = n_distinct/n_tokens     — repetition penalty
  //   stop_ratio = |stopword tokens|/n_tokens — fluency proxy
  //   quality    = 0.5*len_score + 0.3*uniq_ratio + 0.2*stop_ratio
  private val stopwords = Seq("the", "a", "and", "of", "to")

  /** Shared quality pipeline (also feeds PipelineOps): per-doc
    * (doc_id, lang, n_tokens, components, quality), zero-token docs
    * excluded. Kept in ONE place so the curate/budget ops and
    * txt_quality can never drift. */
  private[operators] def qualityScored(spark: SparkSession, dir: String): DataFrame =
    scoreQuality(Tables.documents(spark, dir))

  /** The scorer itself, over ANY frame with (doc_id, lang, text) —
    * batch or streaming. `carry` names extra columns to pass through
    * untouched (opt-in, NOT automatic: documents carries its own
    * n_chars/source, which must not leak into the scored schema), so
    * a streaming caller keeps its event-time column for
    * watermarking. */
  private[graft] def scoreQuality(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val passthrough = carry.map(col)
    docs
      .select(Seq(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars"), toks.as("t")) ++ passthrough: _*)
      .filter(size(col("t")) > 0) // see txt_stats: zero-token guard
      .select(Seq(col("doc_id"), col("lang"),
        size(col("t")).cast("long").as("n_tokens"),
        least(lit(1.0), col("n_chars").cast("double") / 500.0).as("len_score"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t")))
          .as("uniq_ratio"),
        (size(filter(col("t"), x => x.isInCollection(stopwords)))
          .cast("double") / size(col("t"))).as("stop_ratio")) ++ passthrough: _*)
      .withColumn("len_score", round(col("len_score"), 6))
      .withColumn("uniq_ratio", round(col("uniq_ratio"), 6))
      .withColumn("stop_ratio", round(col("stop_ratio"), 6))
      // score from the already-rounded components in exact decimal —
      // a double round(x,6) here can land on a .5e-7 tie that Spark
      // and DuckDB break differently (seen at sf0.1); the decimal
      // weighted sum has scale 7 exactly, so no rounding happens at
      // all and the double cast is the correctly-rounded conversion
      // on both engines.
      .withColumn("quality",
        (col("len_score").cast(DecimalType(8, 6)) * lit(0.5).cast(DecimalType(2, 1)) +
          col("uniq_ratio").cast(DecimalType(8, 6)) * lit(0.3).cast(DecimalType(2, 1)) +
          col("stop_ratio").cast(DecimalType(8, 6)) * lit(0.2).cast(DecimalType(2, 1)))
          .cast("double"))
  }

  private def txtQuality(spark: SparkSession, dir: String): DataFrame =
    qualityScored(spark, dir).drop("lang").orderBy("doc_id")

  /** DuckDB twin of [[qualityScored]] (SELECT fragment, no ORDER BY)
    * — the ONE place the quality SQL lives; txt_quality's oracle and
    * PipelineOps' oracles both derive from it. */
  private[operators] val qualityScoredSql: String = {
    val inList = stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id, lang, n_tokens,
      |  ROUND(len_score, 6) AS len_score,
      |  ROUND(uniq_ratio, 6) AS uniq_ratio,
      |  ROUND(stop_ratio, 6) AS stop_ratio,
      |  CAST(
      |    CAST(ROUND(len_score, 6) AS DECIMAL(8,6)) * CAST(0.5 AS DECIMAL(2,1)) +
      |    CAST(ROUND(uniq_ratio, 6) AS DECIMAL(8,6)) * CAST(0.3 AS DECIMAL(2,1)) +
      |    CAST(ROUND(stop_ratio, 6) AS DECIMAL(8,6)) * CAST(0.2 AS DECIMAL(2,1))
      |  AS DOUBLE) AS quality
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    LEAST(1.0, CAST(length(text) AS DOUBLE) / 500.0) AS len_score,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio,
      |    CAST(len(list_filter(t, x -> x IN ($inList))) AS DOUBLE) / len(t) AS stop_ratio
      |  FROM (SELECT doc_id, lang, text, $toksSql AS t FROM documents) x
      |  WHERE len(t) > 0) y""".stripMargin
  }

  private val txtQualitySql =
    s"""SELECT doc_id, n_tokens, len_score, uniq_ratio, stop_ratio, quality
      |FROM ($qualityScoredSql) q
      |ORDER BY doc_id""".stripMargin

  // ---- txt_langid: stopword-overlap language ID ---------------------
  // Fixed per-language marker lists; predicted language = argmax of
  // marker hits with lexicographically-smallest tie-break (the
  // CASE chain is ordered by language code). On real corpora the
  // marker lists discriminate; the synthetic corpus shares one
  // vocabulary, so accuracy is incidental — the contract is that both
  // engines compute the identical deterministic heuristic.
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "los", "que", "por", "una"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和"),
  )

  /** (doc_id, lang, s_*, pred_lang) — shared by txt_langid (the
    * per-doc listing) and txt_langid_eval (the calibration report). */
  private def langScored(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang")) ++ langMarkers.map {
        case (code, words) =>
          size(filter(toks, x => x.isInCollection(words)))
            .cast("long").as(s"s_$code")
      }: _*)
    val m = greatest(langMarkers.map { case (c, _) => col(s"s_$c") }: _*)
    val pred = langMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (c, _)) => when(acc.isNotNull, acc)
        .otherwise(when(col(s"s_$c") === m, lit(c)))
    }
    scored.withColumn("pred_lang", pred)
  }

  private def txtLangid(spark: SparkSession, dir: String): DataFrame =
    langScored(spark, dir)
      .withColumn("is_match", col("lang") === col("pred_lang"))
      .orderBy("doc_id")

  private val txtLangidSql = {
    val scoreCols = langMarkers.map { case (c, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(t, x -> x IN ($inList))) AS BIGINT) AS s_$c"
    }.mkString(",\n      |    ")
    val m = langMarkers.map { case (c, _) => s"s_$c" }.mkString("GREATEST(", ", ", ")")
    val caseChain = langMarkers.map { case (c, _) =>
      s"WHEN s_$c = m THEN '$c'"
    }.mkString(" ")
    s"""SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
      |  CASE $caseChain END AS pred_lang,
      |  lang = (CASE $caseChain END) AS is_match
      |FROM (
      |  SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh, $m AS m
      |  FROM (
      |  SELECT doc_id, lang,
      |    $scoreCols
      |  FROM (SELECT doc_id, lang, $toksSql AS t FROM documents) x) y) z
      |ORDER BY doc_id""".stripMargin
  }

  // ---- txt_langid_eval: classifier calibration report ---------------
  // Per-language precision/recall/F1 of the langid heuristic against
  // the labeled `lang` column — the calibration report a curation
  // team reads before trusting a language gate (a filter with 0.6
  // recall on a tail language silently deletes that language from
  // the corpus). Counts are exact integers from two alphabet-sized
  // aggregates over the shared prediction frame (n_actual per true
  // lang + n_correct, n_predicted per predicted lang) full-outer
  // joined on the code; the ratios round via the half-up integer
  // micro-division contract, with F1 computed from the integer
  // identity F1 = 2·correct/(actual+predicted) — no compounding of
  // two rounded ratios.
  // Scale: one corpus pass (the map-only scorer), two tiny aggs, a
  // ≤alphabet² join — nothing after the first agg grows with the
  // corpus.
  /** Half-up integer micro-division (the txt_lm_perplexity rounding
    * contract) over non-negative integer SQL fragments. */
  private def microDiv(num: String, den: String): Column =
    (expr(s"(2 * ($num) * 1000000L + ($den)) div (2 * ($den))")
      .cast("double") / lit(1000000.0))

  private def txtLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val p = langScored(spark, dir).select(col("lang"), col("pred_lang"))
    val act = p.groupBy(col("lang").as("code"))
      .agg(count(lit(1)).as("n_actual"),
        count(when(col("pred_lang") === col("lang"), lit(1))).as("n_correct"))
    val prd = p.groupBy(col("pred_lang").as("code"))
      .agg(count(lit(1)).as("n_predicted"))
    act.join(prd, Seq("code"), "full_outer")
      .select(col("code"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      // undefined ratios (nothing predicted / nothing actual) emit an
      // explicit 0.0, NOT NULL — a NULL double materializes as NaN on
      // one engine and None on the other and breaks the hash compare
      // (the NULLable-numeric trap); the zero counts disambiguate
      .withColumn("prec",
        when(col("n_predicted") > 0, microDiv("n_correct", "n_predicted"))
          .otherwise(lit(0.0)))
      .withColumn("rec",
        when(col("n_actual") > 0, microDiv("n_correct", "n_actual"))
          .otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("n_actual") + col("n_predicted") > 0,
          microDiv("n_correct * 2", "n_actual + n_predicted"))
          .otherwise(lit(0.0)))
      .orderBy("code")
  }

  private val txtLangidEvalSql = {
    val scoreCols = langMarkers.map { case (c, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(t, x -> x IN ($inList))) AS BIGINT) AS s_$c"
    }.mkString(",\n      |    ")
    val m = langMarkers.map { case (c, _) => s"s_$c" }
      .mkString("GREATEST(", ", ", ")")
    val caseChain = langMarkers.map { case (c, _) =>
      s"WHEN s_$c = m THEN '$c'"
    }.mkString(" ")
    s"""WITH scored AS (
      |  SELECT lang, CASE $caseChain END AS pred_lang
      |  FROM (
      |    SELECT lang, s_de, s_en, s_es, s_fr, s_zh, $m AS m
      |    FROM (SELECT lang,
      |      $scoreCols
      |    FROM (SELECT lang, $toksSql AS t FROM documents) x) y) z),
      |act AS (
      |  SELECT lang AS code, CAST(COUNT(*) AS BIGINT) AS n_actual,
      |    CAST(COUNT(CASE WHEN pred_lang = lang THEN 1 END) AS BIGINT)
      |      AS n_correct
      |  FROM scored GROUP BY 1),
      |prd AS (
      |  SELECT pred_lang AS code, CAST(COUNT(*) AS BIGINT) AS n_predicted
      |  FROM scored GROUP BY 1),
      |j AS (
      |  SELECT COALESCE(a.code, p.code) AS code,
      |    COALESCE(n_actual, 0) AS n_actual,
      |    COALESCE(n_predicted, 0) AS n_predicted,
      |    COALESCE(n_correct, 0) AS n_correct
      |  FROM act a FULL OUTER JOIN prd p ON a.code = p.code)
      |SELECT code, n_actual, n_predicted, n_correct,
      |  CASE WHEN n_predicted > 0 THEN
      |    CAST((2 * n_correct * 1000000 + n_predicted) // (2 * n_predicted)
      |      AS DOUBLE) / 1000000.0 ELSE 0.0 END AS prec,
      |  CASE WHEN n_actual > 0 THEN
      |    CAST((2 * n_correct * 1000000 + n_actual) // (2 * n_actual)
      |      AS DOUBLE) / 1000000.0 ELSE 0.0 END AS rec,
      |  CASE WHEN n_actual + n_predicted > 0 THEN
      |    CAST((2 * n_correct * 2 * 1000000 + n_actual + n_predicted)
      |      // (2 * (n_actual + n_predicted)) AS DOUBLE) / 1000000.0
      |  END AS f1
      |FROM j ORDER BY code""".stripMargin
  }

  // ---- txt_fingerprint: canonical content fingerprint ---------------
  // md5 over the sorted distinct token set — whitespace/ordering/
  // duplication-insensitive content identity (the canonical key for
  // exact-ish dedup at scale).
  // The order-sensitive companion is a classic modular polynomial
  // rolling hash (Karp–Rabin) over per-token codes — same fold
  // structure on both engines, modulus keeps every intermediate
  // below bigint overflow (DuckDB errors on overflow; Java wraps).
  private def txtFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(toks)), " ")).as("fp"),
        aggregate(
          transform(toks, x => (ascii(x) * length(x)).cast("long")),
          lit(0L),
          (acc, v) => (acc * 31 + v) % 1000000007L).as("rolling_fp"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  private val txtFingerprintSql =
    s"""SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(t, x -> CAST(ascii(x) * length(x) AS BIGINT))),
      |    (acc, v) -> (acc * 31 + v) % 1000000007) AS rolling_fp,
      |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
      |FROM (SELECT doc_id, $toksSql AS t FROM documents) x
      |ORDER BY doc_id""".stripMargin

  // ---- txt_ngram_topk: top-k word bigrams per language --------------
  // Corpus-vocabulary analysis: the k most frequent word bigrams per
  // language. The ranking is two-phase so it survives 100 TB: bigram
  // counts partition by (lang, hash(bigram) % 32) for a bucket-local
  // top-k (any global top-k row is top-k in its bucket), then the
  // final window ranks only langs × 32 × k candidate rows — no
  // single task ever sorts a language's full bigram vocabulary. The
  // oracle is the plain one-window formulation, so the hash gate
  // proves the two-phase plan is semantics-preserving.
  private val ngramK = 10
  private val ngramBuckets = 32

  private def txtNgramTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), toks.as("t")).filter(size(col("t")) > 1)
    val bigrams = docs.select(col("lang"),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val counts = bigrams.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
    val bucketed = Window
      .partitionBy(col("lang"), pmod(hash(col("bigram")), lit(ngramBuckets)))
      .orderBy(desc("n"), col("bigram"))
    val candidates = counts
      .withColumn("rk0", row_number().over(bucketed))
      .filter(col("rk0") <= ngramK).drop("rk0")
    candidates
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("n"), col("bigram")))
        .cast("long"))
      .filter(col("rk") <= ngramK)
      .orderBy("lang", "rk")
  }

  private val txtNgramTopkSql =
    s"""WITH t AS (SELECT lang, $toksSql AS t FROM documents),
      |b AS (SELECT lang,
      |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram
      |  FROM t WHERE len(t) > 1)
      |SELECT lang, bigram, n, rk FROM (
      |  SELECT lang, bigram, COUNT(*) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY COUNT(*) DESC, bigram) AS rk
      |  FROM b GROUP BY 1, 2) x
      |WHERE rk <= $ngramK
      |ORDER BY lang, rk""".stripMargin

  // ---- txt_repetition: Gopher-style repetition filters --------------
  // Per-doc repetition signals (Rae et al., "Scaling Language Models:
  // Methods, Analysis & Insights from Training Gopher", 2021 §A1.1 —
  // the repetition family of quality filters):
  //   top_tok_frac    — most-frequent-token share of all tokens
  //   dup_bigram_frac — 1 − distinct bigrams / total bigrams
  //   dup_3gram_frac  — 1 − distinct 3-grams / total 3-grams
  // All per-row array expressions: at 100 TB this is a map-only pass
  // (no shuffle at all — the presentation sort is the only exchange
  // and exists for the oracle, not the pipeline form). The flag
  // compares the UNROUNDED doubles — both engines build them through
  // the identical op sequence, so the cut is deterministic.
  private val repTopFrac = 0.15
  private val repDupBigram = 0.10

  private def txtRepetition(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val bigrams = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => concat(a, lit(" "), b))
    val trigrams = transform(slice(t, lit(1), size(t) - 2),
      (x, i) => concat_ws(" ", x, element_at(t, i + 2), element_at(t, i + 3)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(t) >= 3)
      // top-token count = longest run in the SORTED token array — one
      // O(L log L) pass instead of the O(L²) count-per-distinct-token
      // fold (same integer, so the oracle keeps the direct form);
      // acc = (prev token, current run, best run)
      .withColumn("top_n", aggregate(array_sort(t),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(run, acc.getField("best")).as("best"))
        },
        acc => acc.getField("best")))
      .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
        (col("top_n").cast("double") /
          size(t).cast("double")).as("top_tok_frac"),
        (lit(1.0) - size(array_distinct(bigrams)).cast("double") /
          (size(t) - 1).cast("double")).as("dup_bigram_frac"),
        (lit(1.0) - size(array_distinct(trigrams)).cast("double") /
          (size(t) - 2).cast("double")).as("dup_3gram_frac"))
      .withColumn("is_repetitive",
        col("top_tok_frac") >= repTopFrac ||
          col("dup_bigram_frac") >= repDupBigram)
      .withColumn("top_tok_frac", round(col("top_tok_frac"), 6))
      .withColumn("dup_bigram_frac", round(col("dup_bigram_frac"), 6))
      .withColumn("dup_3gram_frac", round(col("dup_3gram_frac"), 6))
      .orderBy("doc_id")
  }

  private val txtRepetitionSql =
    s"""SELECT doc_id, n_tokens,
      |  ROUND(top_tok_frac, 6) AS top_tok_frac,
      |  ROUND(dup_bigram_frac, 6) AS dup_bigram_frac,
      |  ROUND(dup_3gram_frac, 6) AS dup_3gram_frac,
      |  top_tok_frac >= $repTopFrac OR dup_bigram_frac >= $repDupBigram
      |    AS is_repetitive
      |FROM (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(list_max(list_transform(list_distinct(t),
      |      x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
      |      / CAST(len(t) AS DOUBLE) AS top_tok_frac,
      |    1.0 - CAST(len(list_distinct(
      |        [t[i] || ' ' || t[i+1] for i in range(1, len(t))]))
      |      AS DOUBLE) / CAST(len(t) - 1 AS DOUBLE) AS dup_bigram_frac,
      |    1.0 - CAST(len(list_distinct(
      |        [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |         for i in range(1, len(t) - 1)]))
      |      AS DOUBLE) / CAST(len(t) - 2 AS DOUBLE) AS dup_3gram_frac
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
      |  WHERE len(t) >= 3) y
      |ORDER BY doc_id""".stripMargin

  // ---- txt_boilerplate: corpus-common-shingle flagging --------------
  // The cross-document companion to txt_repetition (C4's boilerplate
  // line filter re-expressed over word 3-grams, since this corpus has
  // no newlines): a shingle is "boilerplate" when it appears in ≥
  // boilerDf distinct documents; a document is flagged when ≥
  // boilerFrac of its distinct shingles are boilerplate.
  // Scale shape: explode distinct shingle HASHES (narrow longs, one
  // codegen'd shingle_hash3 pass — never shingle strings), one hash
  // agg for document frequency, one shuffle join back on the hash,
  // one per-doc agg. Every stage partitions by shingle or doc_id —
  // at 100 TB nothing is driver-side and no stage needs the full
  // vocabulary resident. The oracle replays the same set logic on
  // shingle strings (set identity survives hashing; same contract as
  // dedup_ngram_jaccard).
  private val boilerDf = 5
  private val boilerFrac = 0.08

  private def txtBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr("shingle_hash3(t)")).as("sh"))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("nd"))
    sh.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") >= boilerDf, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boiler_frac",
        col("n_common").cast("double") / col("n_shingles").cast("double"))
      .withColumn("is_boiler", col("boiler_frac") >= boilerFrac)
      .withColumn("boiler_frac", round(col("boiler_frac"), 6))
      .orderBy("doc_id")
  }

  private val txtBoilerplateSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
      |s AS (SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |     for i in range(1, len(t) - 1)])) AS sh
      |  FROM t WHERE len(t) >= 3),
      |g AS (SELECT sh, COUNT(*) AS nd FROM s GROUP BY sh),
      |d AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |    CAST(SUM(CASE WHEN g.nd >= $boilerDf THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_common
      |  FROM s JOIN g USING (sh) GROUP BY s.doc_id)
      |SELECT doc_id, n_shingles, n_common,
      |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
      |    AS boiler_frac,
      |  CAST(n_common AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= $boilerFrac
      |    AS is_boiler
      |FROM d ORDER BY doc_id""".stripMargin

  // ---- txt_scrub: PII redaction -------------------------------------
  // The redaction pass every public-corpus pipeline runs before
  // training: emails, North-American phone shapes, and dotted-quad
  // IPs replaced with typed placeholder tokens, plus per-doc match
  // counts for the scrub report. Patterns stay inside the
  // character-class subset that Java regex (Spark) and RE2-ish
  // dialects (DuckDB) treat identically — no backreferences, no
  // lookaround, no \\b (word-boundary semantics differ). Map-only.
  // The synthetic corpus contains no PII, so the driver oracle
  // hash-verifies the identity transform over 5k real docs (i.e.
  // cross-engine regex agreement); the crafted-doc spec proves the
  // redaction itself.
  private val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  private def txtScrub(spark: SparkSession, dir: String): DataFrame = {
    // order matters (emails contain dots that could half-match the IP
    // pattern): scrub email → phone → ip, counting on the RAW text
    val counts = piiPatterns.map { case (name, re, _) =>
      regexp_count(col("text"), lit(re)).cast("long").as(s"n_$name")
    }
    val scrubbed = piiPatterns.foldLeft(col("text")) {
      case (c, (_, re, token)) => regexp_replace(c, re, token)
    }
    Tables.documents(spark, dir)
      .select(Seq(col("doc_id")) ++ counts :+
        md5(scrubbed).as("scrubbed_fp") :+
        (length(col("text")) - length(scrubbed)).cast("long")
          .as("chars_removed"): _*)
      .orderBy("doc_id")
  }

  private val txtScrubSql = {
    val countCols = piiPatterns.map { case (name, re, _) =>
      s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$name"
    }.mkString(",\n      |  ")
    val scrubbed = piiPatterns.foldLeft("text") {
      case (c, (_, re, token)) => s"regexp_replace($c, '$re', '$token', 'g')"
    }
    s"""SELECT doc_id,
      |  $countCols,
      |  md5($scrubbed) AS scrubbed_fp,
      |  CAST(length(text) - length($scrubbed) AS BIGINT) AS chars_removed
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- txt_readability: Flesch reading-ease from portable counts ----
  // The readability gate corpus filters use (Flesch 1948): 206.835 −
  // 1.015·(words/sentences) − 84.6·(syllables/words), with sentences
  // = [.!?]+ runs (floored at 1) and syllables ≈ [aeiouy]+ vowel
  // groups — the standard heuristic when no dictionary is available.
  // All three inputs are exact BIGINT counts from regexes in the
  // Java∩DuckDB-identical subset, so the one double expression (same
  // op structure both engines) is bit-identical before rounding.
  // Map-only over the pruned (doc_id, text) scan.
  private def txtReadability(spark: SparkSession, dir: String): DataFrame = {
    val words = size(Tok.toks).cast("long")
    val sentences = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val syllables = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch", round(
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 6))
      .orderBy("doc_id")
  }

  private val txtReadabilitySql =
    s"""WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(${Tok.toksSql}) AS BIGINT) AS n_words,
      |    GREATEST(CAST(1 AS BIGINT),
      |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
      |      AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  ROUND(206.835
      |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch
      |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin

  // ---- txt_lm_perplexity: unigram-LM perplexity quality score -------
  // The CCNet quality signal (Wenzek et al., "CCNet: Extracting High
  // Quality Monolingual Datasets from Web Crawl Data", 2020 §4.3 —
  // there a per-language 5-gram Kneser-Ney LM; here a per-language
  // unigram MLE, which exercises the identical engine shape): train
  // token log-probs from the corpus itself, score each doc by
  // cross-entropy, ppl = exp(ce). Low ppl ≈ in-distribution fluent
  // text; high ppl ≈ junk. Scale shape: TRAIN is one (lang, token)
  // hash agg (vocabulary-sized — bounded regardless of corpus size)
  // + a langs-row total; SCORE is a broadcast map-side join of the
  // model onto the exploded corpus + one doc_id shuffle. Nothing
  // driver-side; the model frame is the only small side.
  // Cross-engine exactness: each vocab entry's logp is quantized ONCE
  // to DECIMAL(12,6) (ln is the only non-correctly-rounded IEEE op,
  // and it runs per distinct (lang, token), not per occurrence); the
  // per-doc sum is exact decimal (order-independent), and ce/ppl are
  // single IEEE div/exp ops per row from identical inputs. No
  // smoothing needed: the model is trained on the scored corpus, so
  // every token is in-vocab (scoring foreign data needs add-k — the
  // join becomes left + coalesce to the smoothed floor).
  private def txtLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("lang"), explode(col("t")).as("tok"))
    val counts = occ.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("lang").agg(sum(col("cnt")).as("total"))
    val model = counts.join(totals, Seq("lang"))
      .select(col("lang"), col("tok"),
        round(log(col("cnt").cast("double")) - log(col("total").cast("double")), 6)
          .cast(DecimalType(12, 6)).as("logp"))
    // ce rounding happens in INTEGER micro-units: slp is scale-6
    // decimal, so slp/n lands on exact .5e-7 ties that double
    // rounding breaks differently per engine (seen at sf0.1);
    // (2m+n) div (2n) is half-up over positive longs — deterministic
    // everywhere. ce/ppl are then single IEEE ops from exact inputs.
    occ.join(broadcast(model), Seq("lang", "tok"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).cast("long").as("n_tokens"), sum(col("logp")).as("slp"))
      .withColumn("m", (col("slp") * lit(-1000000L)).cast("long"))
      .withColumn("micros", expr("(2*m + n_tokens) div (2*n_tokens)"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("micros").cast("double") / lit(1000000.0)).as("ce"),
        round(exp(col("m").cast("double") /
          (col("n_tokens") * lit(1000000L)).cast("double")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  private val txtLmPerplexitySql =
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
      |occ AS (SELECT doc_id, lang, unnest(t) AS tok FROM t WHERE len(t) > 0),
      |c AS (SELECT lang, tok, COUNT(*) AS cnt FROM occ GROUP BY 1, 2),
      |tot AS (SELECT lang, SUM(cnt) AS total FROM c GROUP BY 1),
      |m AS (SELECT lang, tok,
      |    CAST(ROUND(LN(CAST(cnt AS DOUBLE)) - LN(CAST(total AS DOUBLE)), 6)
      |      AS DECIMAL(12,6)) AS logp
      |  FROM c JOIN tot USING (lang)),
      |d AS (SELECT occ.doc_id, occ.lang,
      |    CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(m.logp) AS slp
      |  FROM occ JOIN m USING (lang, tok) GROUP BY 1, 2),
      |i AS (SELECT doc_id, lang, n_tokens,
      |    CAST(slp * -1000000 AS BIGINT) AS mm FROM d)
      |SELECT doc_id, lang, n_tokens,
      |  CAST((2*mm + n_tokens) // (2*n_tokens) AS DOUBLE) / 1000000.0 AS ce,
      |  ROUND(EXP(CAST(mm AS DOUBLE) / CAST(n_tokens * 1000000 AS DOUBLE)), 6)
      |    AS ppl
      |FROM i ORDER BY doc_id""".stripMargin

  // ---- txt_line_dedup: cross-document duplicate-line removal --------
  // The line-level dedup every web-corpus pipeline runs between
  // document dedup and training (C4 drops repeated boilerplate lines;
  // MassiveText/Gopher and RefinedWeb remove lines duplicated across
  // documents): a "line" here is a fixed 10-token chunk (this corpus
  // has no newlines — real deployments split on '\n'; only the
  // segmenter expression changes). A chunk appearing in ≥2 DISTINCT
  // documents is removed from ALL of them, and each document
  // reconstructs from its surviving chunks in position order.
  // Scale shape: chunking is map-only; the duplicate census is one
  // hash agg on the chunk's md5 (the 16-byte digest shuffles, never
  // the chunk text); the flag joins back on the digest; and the
  // reconstruction is one doc_id agg whose sort-by-position happens
  // inside the aggregated array (no global window). Four exchanges
  // total regardless of corpus size.
  private val lineTokens = 10

  private def txtLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("n_chunks", expr(s"(size(t) + ${lineTokens - 1}) div $lineTokens"))
    val chunks = docs
      .select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          j => array_join(
            slice(col("t"), j * lineTokens + 1, lit(lineTokens)), " ")))
          .as(Seq("pos", "chunk")))
      .withColumn("ch", md5(col("chunk")))
    val census = chunks.groupBy("ch")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val kept = chunks.join(census, Seq("ch")).filter(col("nd") < 2)
    val recon = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          e => e.getField("chunk")), " ")).as("kept_fp"))
    docs.select("doc_id", "n_chunks")
      .join(recon, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks").cast("long").as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"),
        col("kept_fp"))
      .orderBy("doc_id")
  }

  private val txtLineDedupSql =
    s"""WITH t AS (
      |  SELECT doc_id, t,
      |    CAST((len(t) + ${lineTokens - 1}) // $lineTokens AS BIGINT)
      |      AS n_chunks
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
      |  WHERE len(t) > 0),
      |ch AS (
      |  SELECT doc_id, j AS pos,
      |    array_to_string(
      |      t[($lineTokens*j + 1):($lineTokens*j + $lineTokens)], ' ')
      |      AS chunk
      |  FROM t, range(0, 100000) r(j) WHERE j < n_chunks),
      |census AS (
      |  SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS nd
      |  FROM ch GROUP BY 1),
      |kept AS (
      |  SELECT ch.doc_id, ch.pos, ch.chunk FROM ch
      |  JOIN census ON census.h = md5(ch.chunk) WHERE census.nd < 2),
      |recon AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    md5(string_agg(chunk, ' ' ORDER BY pos)) AS kept_fp
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, t.n_chunks,
      |  COALESCE(r.n_kept, 0) AS n_kept,
      |  t.n_chunks - COALESCE(r.n_kept, 0) AS n_removed,
      |  r.kept_fp
      |FROM t LEFT JOIN recon r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- txt_tfidf: top-5 characteristic terms per document -----------
  // The classic corpus-statistics scorer (Sparck Jones 1972): per
  // language, idf = ln(N/df) over document frequency; per doc, the
  // top-5 tokens by tf·idf — the keyword/topic signal curation
  // pipelines use for domain tagging and near-topic sampling.
  // Scale shape mirrors txt_lm_perplexity: the (lang, token) df
  // model is vocabulary-sized and BROADCASTS onto the per-doc tf
  // frame; ranking windows partition by doc_id. Determinism: idf is
  // quantized ONCE per vocab entry to scale-6 decimal (ln is the
  // only non-correctly-rounded op, run per distinct (lang, token));
  // scores are exact decimal tf·idf products ranked with a token
  // tie-break, and cast to double only in the projection.
  private val tfidfK = 5

  private def txtTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docsT = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("t"))
      .filter(size(col("t")) > 0)
    val tf = docsT
      .select(col("doc_id"), col("lang"), explode(col("t")).as("tok"))
      .groupBy("doc_id", "lang", "tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("lang", "tok").agg(count(lit(1)).as("df"))
    val nd = docsT.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val model = df.join(broadcast(nd), Seq("lang"))
      .select(col("lang"), col("tok"),
        round(log(col("n_docs").cast("double") / col("df")), 6)
          .cast(DecimalType(12, 6)).as("idf"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score_dec"), col("tok"))
    tf.join(broadcast(model), Seq("lang", "tok"))
      .withColumn("score_dec", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= tfidfK)
      .select(col("doc_id"), col("rank"), col("tok"),
        col("score_dec").cast("double").as("score"))
      .orderBy("doc_id", "rank")
  }

  private val txtTfidfSql =
    s"""WITH t AS (
      |  SELECT doc_id, lang, $toksSql AS t FROM documents),
      |tf AS (
      |  SELECT doc_id, lang, tok, COUNT(*) AS tf
      |  FROM (SELECT doc_id, lang, unnest(t) AS tok FROM t
      |        WHERE len(t) > 0) occ
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT lang, tok, COUNT(*) AS df FROM tf GROUP BY 1, 2),
      |nd AS (SELECT lang, COUNT(*) AS n_docs FROM t WHERE len(t) > 0
      |  GROUP BY 1),
      |m AS (SELECT lang, tok,
      |    CAST(ROUND(LN(CAST(n_docs AS DOUBLE) / df), 6) AS DECIMAL(12,6))
      |      AS idf
      |  FROM df JOIN nd USING (lang)),
      |s AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf * m.idf AS score_dec,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * m.idf DESC, tf.tok) AS rank
      |  FROM tf JOIN m ON m.lang = tf.lang AND m.tok = tf.tok)
      |SELECT doc_id, rank, tok, CAST(score_dec AS DOUBLE) AS score
      |FROM s WHERE rank <= $tfidfK
      |ORDER BY doc_id, rank""".stripMargin

  // ---- txt_entropy: token Shannon entropy quality signal ------------
  // Per-doc token-distribution entropy H = ln(n) − (1/n)·Σ c·ln(c)
  // (Shannon 1948) plus the normalized efficiency H / ln(types) —
  // the information-density quality signal: near-zero entropy means
  // a doc is one token stamped repeatedly (spam/boilerplate), high
  // efficiency means tokens are spread evenly. Complements
  // txt_repetition's top-token fractions with a single
  // whole-distribution number.
  // Cross-engine exactness (txt_tfidf's ln-quantization contract):
  // ln(c) is quantized ONCE per count value to scale-6 decimal, so
  // Σ c·lnq(c) is an exact decimal sum (order-independent); H and
  // the efficiency ratio then assemble ENTIRELY in integer
  // micro-units with half-up division ((2m+n) div (2n),
  // txt_lm_perplexity's contract) — the double form
  // ROUND(lnq(n) − s/n, 6) landed on a real .5e-7 tie at sf0.1
  // (doc 1328: 2.962292 vs 2.962293) because Spark rounds the
  // shortest repr while DuckDB rounds the exact binary value. The
  // numerator lnq(n)·n − Σc·lnq(c) is ≥ 0 by concavity (exactly 0
  // for single-type docs, where both sides share one quantized ln),
  // so the positive-operand half-up identity holds. Scale: explode + one (doc_id, tok) count agg + one
  // doc_id agg riding the same partitioning — the standard two-level
  // token aggregation, map-side combined, nothing quadratic.
  // Zero-token documents — the degenerate docs a quality report most
  // wants to surface — stay in the output (explode_outer emits their
  // placeholder row; counts go conditional) as n_toks=0 / n_types=0 /
  // NULL entropy, with no extra join.
  private def txtEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode_outer(toks).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(col("tok")).as("c"))
    tf.groupBy("doc_id", "lang")
      .agg(sum(col("c")).as("n_toks"),
        count(when(col("c") > 0, lit(1))).cast("long").as("n_types"),
        sum(when(col("c") > 0,
          (col("c").cast(DecimalType(18, 6)) *
            round(log(col("c").cast("double")), 6).cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)))).as("s"))
      // all integer micro-units from here: lnn_u = lnq(n)·10⁶,
      // s_u = s·10⁶ (exact: s is scale-6 decimal), numerator ≥ 0
      .withColumn("lnn_u",
        (round(log(col("n_toks").cast("double")), 6).cast(DecimalType(12, 6))
          * 1000000).cast("long"))
      .withColumn("s_u", (col("s") * 1000000L).cast("long"))
      .withColumn("e_u",
        when(col("n_toks") > 0, expr(
          "(2 * (lnn_u * n_toks - s_u) + n_toks) div (2 * n_toks)")))
      .withColumn("lnt_u",
        (round(log(col("n_types").cast("double")), 6).cast(DecimalType(12, 6))
          * 1000000).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("n_types"),
        (col("e_u").cast("double") / lit(1000000.0)).as("entropy"),
        when(col("n_types") > 1,
          expr("(2 * e_u * 1000000L + lnt_u) div (2 * lnt_u)")
            .cast("double") / lit(1000000.0))
          .as("efficiency"))
      .orderBy("doc_id")
  }

  private val txtEntropySql =
    s"""WITH tf AS (
      |  SELECT doc_id, lang, tok, COUNT(*) AS c
      |  FROM (SELECT doc_id, lang, unnest(${Tok.toksSql}) AS tok
      |        FROM documents) u
      |  GROUP BY 1, 2, 3),
      |agg AS (
      |  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_toks,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    SUM(CAST(CAST(c AS DECIMAL(18,6))
      |      * CAST(ROUND(ln(c), 6) AS DECIMAL(18,6)) AS DECIMAL(18,6))) AS s
      |  FROM tf GROUP BY 1, 2),
      |ent AS (
      |  SELECT d.doc_id, d.lang,
      |    COALESCE(a.n_toks, 0) AS n_toks,
      |    COALESCE(a.n_types, 0) AS n_types,
      |    CASE WHEN a.n_toks > 0 THEN
      |      (2 * (CAST(CAST(ROUND(ln(a.n_toks), 6) AS DECIMAL(12,6))
      |              * 1000000 AS BIGINT)
      |            * a.n_toks
      |            - CAST(a.s * 1000000 AS BIGINT))
      |       + a.n_toks) // (2 * a.n_toks) END AS e_u
      |  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id)
      |SELECT doc_id, lang, n_toks, n_types,
      |  CAST(e_u AS DOUBLE) / 1000000.0 AS entropy,
      |  CASE WHEN n_types > 1 THEN
      |    CAST((2 * e_u * 1000000
      |          + CAST(CAST(ROUND(ln(n_types), 6) AS DECIMAL(12,6))
      |              * 1000000 AS BIGINT))
      |      // (2 * CAST(CAST(ROUND(ln(n_types), 6) AS DECIMAL(12,6))
      |              * 1000000 AS BIGINT))
      |      AS DOUBLE) / 1000000.0 END AS efficiency
      |FROM ent ORDER BY doc_id""".stripMargin

  // ---- txt_bpe_train: byte-pair-encoding merge-rule training --------
  // The tokenizer-training step of an LLM data pipeline (Sennrich et
  // al. 2016 "Neural Machine Translation of Rare Words with Subword
  // Units"; the GPT-2 trainer runs the same loop over a
  // word-frequency table): start from characters, repeatedly find
  // the corpus-wide most frequent ADJACENT symbol pair and merge it
  // into one symbol, emitting the ordered merge-rule table a
  // tokenizer then applies. Done Spark-first the way the paper's own
  // implementation works: the corpus collapses ONCE to the
  // (word, count) vocabulary — all further rounds are vocab-sized,
  // never corpus-sized — and each round is (a) one weighted pair
  // aggregation over the symbolized vocab, (b) a deterministic
  // top-K candidate cut via TakeOrdered (count DESC, then
  // lexicographic (p1, p2) — a total order), (c) a map-only merge of
  // the round's ADMITTED pairs back into every word, with the new
  // vocab eagerly checkpointed so no round replays earlier rounds'
  // lineage (sim_kmeans' loop pattern).
  // BATCHED merges (the standard production trick — one Spark job
  // per merge RULE would be a 50k-sequential-job driver wall at a
  // real vocabulary size): each round admits every top-K candidate
  // that shares NO symbol with any higher-ranked candidate.
  // Symbol-disjoint merges commute — an occurrence of '<p><q>' and
  // one of '<r><s>' with {p,q}∩{r,s}=∅ can never overlap in the
  // delimited string, and a merged '<pq>' can't create or destroy a
  // '<r><s>' boundary — so applying the batch as one fold is
  // order-independent, and the rule a tokenizer applies is the same
  // as K classic rounds would emit whenever their winners are
  // disjoint. Admission is a pure predicate over the candidate set
  // (conflict-with-higher-ranked, NOT greedy-sequential), so both
  // engines evaluate it as a relational anti-join with identical
  // results. Merge count demonstrated: up to rounds×K = 64 rules.
  // Cross-engine exactness: symbols ride as a '<a><b><c>'-delimited
  // string — adjacent symbols share no delimiter, so the round's
  // merge is ONE literal replace() whose left-to-right
  // non-overlapping semantics agree between Java and DuckDB ('aaa'
  // merging (a,a) gives (aa,a) in both); the documents' charset is
  // [a-y ] so '<'/'>' can never collide with token text. Pair
  // counts are exact integer sums; there is no floating point
  // anywhere. The oracle unrolls all rounds as CTEs (kmCtes' form),
  // replaying symbolization, pair counting, argmax, and merge —
  // the hash gate verifies the whole training loop.
  // Scale: the only corpus-sized stage is the initial token count;
  // each round shuffles the vocab-sized pair frame once, the ≤K-row
  // admitted batch broadcasts back, and the merge is map-only. This
  // is exactly how production BPE trainers stay tractable at 100 TB —
  // they train on the frequency table, not the corpus — and batching
  // bounds the sequential-round count at vocab_size/K jobs.
  private val bpeRounds = 8
  private val bpeBatchK = 16

  /** Run the training loop once per (session, dataset): returns
    * (final symbolized vocab after all merges, per-round 1-row merge
    * frames). Shared by txt_bpe_train (emits the rules) and
    * txt_bpe_apply (encodes with the final vocab — in BPE, applying
    * all merges to the vocabulary IS the encoder for every word in
    * it) through Memo.bpeTrain. */
  private def bpeTrainLoop(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) =
    Memo(Memo.bpeTrain, spark, dir)(bpeTrainCompute(spark, dir))

  private[graft] def invalidateBpeMemo(): Unit = Memo.clear(Memo.bpeTrain)

  private def bpeTrainCompute(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val vocab0 = Tables.documents(spark, dir)
      .select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("w"))
      .withColumn("s",
        concat(lit("<"), expr("array_join(split(word, ''), '><')"), lit(">")))
      .transform(Ckpt.stage)
    def pairs(vocab: DataFrame): DataFrame = vocab
      .withColumn("a", split(expr("trim(BOTH '<>' FROM s)"), "><"))
      .select(col("w"),
        explode(expr("arrays_zip(slice(a, 1, size(a) - 1), " +
          "slice(a, 2, size(a) - 1))")).as("pr"))
      .groupBy(col("pr.0").as("p1"), col("pr.1").as("p2"))
      .agg(sum(col("w")).as("cnt"))
    // per round: top-K candidates by the (cnt DESC, p1, p2) total
    // order, then admit a candidate iff NO higher-ranked candidate
    // shares a symbol with it (anti-join over the ≤K-row frame —
    // slightly more conservative than greedy admission, but a pure
    // set predicate both engines evaluate identically). A dry round
    // (fully-merged vocab) admits zero pairs: the global collect_list
    // still yields its one empty-array row, so the fold is a no-op
    // rather than an empty crossJoin annihilating the vocabulary.
    val (vocabN, merges) =
      (1 to bpeRounds).foldLeft((vocab0, List.empty[DataFrame])) {
        case ((vocab, acc), round) =>
          val cand = pairs(vocab)
            .orderBy(desc("cnt"), col("p1"), col("p2")).limit(bpeBatchK)
          val higher = (col("y.cnt") > col("x.cnt")) ||
            (col("y.cnt") === col("x.cnt") &&
              ((col("y.p1") < col("x.p1")) ||
                (col("y.p1") === col("x.p1") && col("y.p2") < col("x.p2"))))
          val shares =
            col("y.p1") === col("x.p1") || col("y.p1") === col("x.p2") ||
              col("y.p2") === col("x.p1") || col("y.p2") === col("x.p2")
          val admitted = cand.as("x")
            .join(broadcast(cand.as("y")), higher && shares, "left_anti")
            .select(lit(round.toLong).as("round"), col("p1"), col("p2"),
              col("cnt"))
            .transform(Ckpt.stage)
          // symbol-disjoint merges commute (header proof), but both
          // engines fold in the same lexicographic (p1, p2) order
          // anyway so the contract doesn't rest on that argument
          val rules = admitted.agg(
            sort_array(collect_list(struct(col("p1"), col("p2")))).as("rs"))
          val next = vocab.crossJoin(broadcast(rules))
            .withColumn("s", expr(
              "aggregate(rs, s, (acc, r) -> replace(acc, " +
                "concat('<', r.p1, '><', r.p2, '>'), " +
                "concat('<', r.p1, r.p2, '>')))"))
            .select("word", "w", "s")
            .transform(Ckpt.stage)
          (next, admitted :: acc)
      }
    (vocabN, merges.reverse)
  }

  private def txtBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (_, merges) = bpeTrainLoop(spark, dir)
    merges.reduce(_ unionAll _)
      .select("round", "p1", "p2", "cnt")
      .orderBy(col("round"), desc("cnt"), col("p1"), col("p2"))
  }

  /** The unrolled training CTE chain (v0..v8, c1..c8, b1..b8) shared
    * by the train and apply oracles — candidate cut, conflict
    * admission, and the lexicographic batch fold all replayed
    * relationally, so the hash gate verifies the batched loop end to
    * end. Rules fold as chr(1)-delimited strings (the corpus charset
    * is [a-y ] + the <> delimiters, so chr(1) can't collide);
    * list_prepend seeds the fold with the word's own symbol string.
    * Every round CTE is MATERIALIZED: c$r/b$r/v$r are each referenced
    * more than once, and DuckDB's default inlining re-expands the
    * whole v-chain per reference — ~3 expansions per round compounds
    * to 3^8 over 8 rounds, which turned the sf0.01 oracle from 0.1 s
    * into minutes. */
  private val bpeCtes: String = {
    def round(r: Int) =
      s"""e$r AS MATERIALIZED (
        |  SELECT w, a, unnest(generate_series(1, len(a) - 1)) AS i
        |  FROM (SELECT w, string_split(trim(s, '<>'), '><') AS a
        |        FROM v${r - 1}) x),
        |c$r AS MATERIALIZED (
        |  SELECT a[i] AS p1, a[i + 1] AS p2, CAST(SUM(w) AS BIGINT) AS cnt
        |  FROM e$r GROUP BY 1, 2
        |  ORDER BY cnt DESC, p1, p2 LIMIT $bpeBatchK),
        |b$r AS MATERIALIZED (
        |  SELECT $r AS round, x.p1, x.p2, x.cnt FROM c$r x
        |  WHERE NOT EXISTS (SELECT 1 FROM c$r y
        |    WHERE (y.cnt > x.cnt OR (y.cnt = x.cnt AND (y.p1 < x.p1
        |        OR (y.p1 = x.p1 AND y.p2 < x.p2))))
        |      AND (y.p1 IN (x.p1, x.p2) OR y.p2 IN (x.p1, x.p2)))),
        |v$r AS MATERIALIZED (
        |  SELECT word, w,
        |    list_reduce(list_prepend(s, r.rules), (acc, x) ->
        |      replace(acc,
        |        '<' || split_part(x, chr(1), 1) || '><' ||
        |          split_part(x, chr(1), 2) || '>',
        |        '<' || split_part(x, chr(1), 1) ||
        |          split_part(x, chr(1), 2) || '>')) AS s
        |  FROM v${r - 1}, (SELECT COALESCE(
        |      list(p1 || chr(1) || p2 ORDER BY p1, p2),
        |      CAST([] AS VARCHAR[])) AS rules FROM b$r) r)""".stripMargin
    s"""vocab AS MATERIALIZED (
      |  SELECT tok AS word, COUNT(*) AS w
      |  FROM (SELECT unnest($toksSql) AS tok FROM documents) t
      |  GROUP BY 1),
      |v0 AS MATERIALIZED (
      |  SELECT word, w,
      |    '<' || array_to_string(string_split(word, ''), '><') || '>' AS s
      |  FROM vocab),
      |${(1 to bpeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  // ---- txt_bpe_apply: encode the corpus with the trained merges -----
  // The encode step a trained tokenizer performs, and the report that
  // evaluates the training: per document, whitespace-token count,
  // character count (the symbol count before any merge), BPE symbol
  // count after all merges, and the chars-per-symbol compression the
  // merge table bought. In BPE the fully-merged VOCABULARY is the
  // encoder for every word in it (training applies each rule
  // corpus-wide), so the encode is a broadcast join of the
  // vocab-sized symbol table onto the exploded corpus — no per-doc
  // reprocessing of the merge rules. Symbol counts are exact
  // integers derived from the delimited string; the chars-per-symbol
  // ratio rounds in INTEGER micro-units ((2m+n) div (2n), the
  // txt_lm_perplexity contract — integer/integer quotients DO land
  // on exact .5e-7 ties that double rounding breaks differently per
  // engine). Zero-token documents stay in the report (explode_outer
  // + conditional counts, txt_entropy's convention) as n_words=0 /
  // NULL compression — the degenerate rows a tokenization-coverage
  // audit exists to surface.
  // Scale: one corpus explode + one doc_id agg (map-side combined) —
  // the trained vocab broadcasts (it is KBs at any corpus scale the
  // way merge tables are) and everything else rides the token
  // explode the text suite already pays.
  private def txtBpeApply(spark: SparkSession, dir: String): DataFrame = {
    val (vocabN, _) = bpeTrainLoop(spark, dir)
    val symtab = vocabN
      .withColumn("n_sym",
        size(split(expr("trim(BOTH '<>' FROM s)"), "><")).cast("long"))
      .select(col("word"), col("n_sym"), length(col("word")).cast("long").as("n_chr"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode_outer(toks).as("word"))
      .join(broadcast(symtab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(col("word")).as("n_words"),
        coalesce(sum(col("n_chr")), lit(0L)).as("n_chars"),
        coalesce(sum(col("n_sym")), lit(0L)).as("n_bpe"))
      .withColumn("compression",
        when(col("n_bpe") > 0,
          expr("(2 * n_chars * 1000000L + n_bpe) div (2 * n_bpe)")
            .cast("double") / lit(1000000.0)))
      .orderBy("doc_id")
  }

  private val txtBpeApplySql: String =
    s"""WITH $bpeCtes,
      |symtab AS (
      |  SELECT word, CAST(len(string_split(trim(s, '<>'), '><')) AS BIGINT)
      |      AS n_sym,
      |    CAST(len(word) AS BIGINT) AS n_chr
      |  FROM v$bpeRounds),
      |corpus AS (
      |  SELECT doc_id, unnest($toksSql) AS word FROM documents),
      |agg AS (
      |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(st.n_chr) AS BIGINT) AS n_chars,
      |    CAST(SUM(st.n_sym) AS BIGINT) AS n_bpe
      |  FROM corpus c JOIN symtab st USING (word)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(a.n_words, 0) AS n_words,
      |  COALESCE(a.n_chars, 0) AS n_chars,
      |  COALESCE(a.n_bpe, 0) AS n_bpe,
      |  CASE WHEN a.n_bpe > 0 THEN
      |    CAST((2 * a.n_chars * 1000000 + a.n_bpe) // (2 * a.n_bpe)
      |      AS DOUBLE) / 1000000.0 END AS compression
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---- txt_bpe_fertility: per-language tokenizer-fit report ----------
  // The fertility audit run before committing a tokenizer to a
  // multilingual corpus (BLOOM/XLM-R lesson: a vocabulary trained on
  // a skewed mix tokenizes tail languages into far more symbols per
  // word, silently taxing their effective context and training
  // budget): per language, symbols-per-word under the trained vocab
  // (fertility), plus the OOV share the apply step would drop.
  // Composes the SAME memoized training loop and broadcast symtab as
  // txt_bpe_apply; the oracle rides the shared bpeCtes chain — one
  // vocabulary definition, three consumers. Ratios through the
  // half-up micro contract with denominators FLOORED AT 1 (a
  // language with zero matched words reports fertility 0, not a NULL
  // double — the pandas NaN trap).
  // Scale: one corpus explode joined to the broadcast vocab, one
  // language-sized agg. Nothing after the agg grows with the corpus.
  private def txtBpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val (vocabN, _) = bpeTrainLoop(spark, dir)
    val symtab = vocabN
      .withColumn("n_sym",
        size(split(expr("trim(BOTH '<>' FROM s)"), "><")).cast("long"))
      .select(col("word"), col("n_sym"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), explode_outer(toks).as("word"))
      .join(broadcast(symtab), Seq("word"), "left")
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(col("word")).as("n_words"),
        count(col("n_sym")).as("n_matched"),
        coalesce(sum(col("n_sym")), lit(0L)).as("n_bpe"))
      .withColumn("fertility", expr(
        """(2 * n_bpe * 1000000 + greatest(n_matched, 1L))
          | div (2 * greatest(n_matched, 1L))""".stripMargin)
        .cast("double") / 1000000L)
      .withColumn("oov_rate", expr(
        """(2 * (n_words - n_matched) * 1000000 + greatest(n_words, 1L))
          | div (2 * greatest(n_words, 1L))""".stripMargin)
        .cast("double") / 1000000L)
      .orderBy("lang")
  }

  private val txtBpeFertilitySql: String =
    s"""WITH $bpeCtes,
      |symtab AS (
      |  SELECT word, CAST(len(string_split(trim(s, '<>'), '><')) AS BIGINT)
      |    AS n_sym
      |  FROM v$bpeRounds),
      |corpus AS (
      |  -- explode_outer twin: a zero-token doc keeps one NULL-word
      |  -- row (bare unnest would drop the doc from n_docs)
      |  SELECT lang, doc_id,
      |    unnest(CASE WHEN len(t) = 0 THEN [CAST(NULL AS VARCHAR)]
      |      ELSE t END) AS word
      |  FROM (SELECT lang, doc_id, $toksSql AS t FROM documents) d),
      |joined AS (
      |  SELECT c.lang, c.doc_id, c.word, st.n_sym
      |  FROM corpus c LEFT JOIN symtab st USING (word)),
      |agg AS (
      |  SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(COUNT(word) AS BIGINT) AS n_words,
      |    CAST(COUNT(n_sym) AS BIGINT) AS n_matched,
      |    CAST(COALESCE(SUM(n_sym), 0) AS BIGINT) AS n_bpe
      |  FROM joined GROUP BY 1)
      |SELECT lang, n_docs, n_words, n_matched, n_bpe,
      |  CAST((2 * n_bpe * 1000000 + GREATEST(n_matched, 1))
      |    // (2 * GREATEST(n_matched, 1)) AS DOUBLE) / 1000000
      |    AS fertility,
      |  CAST((2 * (n_words - n_matched) * 1000000 + GREATEST(n_words, 1))
      |    // (2 * GREATEST(n_words, 1)) AS DOUBLE) / 1000000 AS oov_rate
      |FROM agg ORDER BY lang""".stripMargin

  private val txtBpeTrainSql: String =
    s"""WITH $bpeCtes
      |SELECT CAST(round AS BIGINT) AS round, p1, p2, cnt
      |FROM (${(1 to bpeRounds).map(r => s"SELECT * FROM b$r")
        .mkString("\nUNION ALL\n")}) u
      |ORDER BY round, cnt DESC, p1, p2""".stripMargin

  // ---- txt_quality_distill: train a linear quality gate in-engine ---
  // The distillation step every 100 TB curation pipeline ends up
  // needing (CCNet's fastText gate, GPT-3's LR-over-features quality
  // classifier): an expensive teacher signal — here the
  // distinct-token-ratio rule 2·n_distinct ≥ n_tokens, observed with
  // 5% deterministic label noise (doc_id % 20 flips, the teacher's
  // disagreement rate) — is distilled into a LINEAR scorer over cheap
  // per-doc counts so the full-corpus pass is one map-only dot
  // product. Training is full-batch gradient descent run INSIDE the
  // engine, and every step is exact integer arithmetic so the DuckDB
  // oracle replays all 8 rounds bit-for-bit:
  //   · features min-max scale to milli-units via the half-up integer
  //     contract (ft_scaler's trick — raw distinct/token counts are
  //     collinear and condition GD badly);
  //   · the sigmoid is the HARD sigmoid p = clamp(½ + z/4, 0, 1) kept
  //     in quarter-nano units (4e9·p = clamp(2e9 + z_nano, 0, 4e9)) —
  //     piecewise-linear, so no transcendental ever enters the hash
  //     compare (exp() differs in ulps across engines);
  //   · gradients Σ err·x accumulate in DECIMAL(38,0) (int64 dies
  //     near 3e9 docs: |err·x| ≤ 4e12/row) and the update
  //     Δw = η_r·G/(4N) rounds via the SIGN-SAFE half-up micro
  //     contract (Spark div truncates, DuckDB // floors — they only
  //     agree on non-negative operands, so divide |G| and reapply the
  //     sign);
  //   · the learning rate is the 1/t schedule η_r = 32/r — the
  //     standard convex-descent rate, and deterministic.
  // Output: one row per round (0 = untrained baseline) with the
  // post-update micro-weights and that round's training accuracy —
  // the descent curve itself is what the hash gate verifies
  // (0.56 majority baseline → ~0.89 at round 8 against the 0.95
  // noise ceiling, stable across sf0.001/0.01/0.1).
  // Scale: the corpus is touched once per round by a map-only
  // crossJoin with the ONE-ROW broadcast weight frame followed by a
  // d+1-column aggregate (map-side combined — each task emits one
  // partial row); weights checkpoint per round like sim_kmeans'
  // centroids, so no round replays prior lineage. Nothing that
  // shuffles grows with the corpus; 8 rounds = 16 tiny jobs.
  private val qdRounds = 8
  private val qdEta = 32 // η_r = qdEta / r

  /** (doc_id, y, x1s, x2s): noisy teacher label + milli-scaled
    * features, checkpointed once per (session, dir). */
  private def qdFeatures(spark: SparkSession, dir: String): DataFrame =
    Memo(Memo.qdFeatures, spark, dir) {
      val feat = Tables.documents(spark, dir)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"),
          abs(when(lit(2) * size(array_distinct(col("t"))) >=
              size(col("t")), lit(1L)).otherwise(lit(0L)) -
            when(col("doc_id") % 20 === 0, lit(1L)).otherwise(lit(0L)))
            .as("y"),
          size(array_distinct(col("t"))).cast("long").as("x1"),
          size(col("t")).cast("long").as("x2"))
      val st = feat.agg(
        min("x1").as("mn1"), max("x1").as("mx1"),
        min("x2").as("mn2"), max("x2").as("mx2"))
      def sc(x: String, mn: String, mx: String): Column =
        when(col(mx) === col(mn), lit(0L)).otherwise(expr(
          s"(2 * ($x - $mn) * 1000 + ($mx - $mn)) div (2 * ($mx - $mn))"))
      feat.crossJoin(broadcast(st))
        .select(col("doc_id"), col("y"),
          sc("x1", "mn1", "mx1").as("x1s"), sc("x2", "mn2", "mx2").as("x2s"))
        .transform(Ckpt.stage)
    }

  /** Frozen distillation artifact: the trained micro-weights plus the
    * train-time min-max scaler bounds — what a production gate ships
    * to its serving/streaming side (the scaler freezes at train time;
    * a stream re-fitting it on live data would shift every score). */
  final case class DistillModel(wb: Long, w1: Long, w2: Long,
      mn1: Long, mx1: Long, mn2: Long, mx2: Long)

  /** Train on `dir` and freeze the artifact: last-round weights from
    * the SAME loop the registered query hash-verifies, plus the raw
    * feature bounds the scaler was fit on. The two collects pull back
    * one row each — the model, never data. Memoized in
    * Memo.distillModel (r15): auc and calibration each re-ran the full
    * 8-round loop to read three weights. */
  private[graft] def distillTrain(spark: SparkSession, dir: String)
      : DistillModel =
    Memo(Memo.distillModel, spark, dir)(distillTrainCompute(spark, dir))

  private[graft] def invalidateDistillMemo(): Unit =
    Memo.clear(Memo.distillModel)

  private def distillTrainCompute(spark: SparkSession, dir: String)
      : DistillModel = {
    val last = txtQualityDistill(spark, dir)
      .filter(col("round") === qdRounds).select("wb", "w1", "w2").head()
    val st = Tables.documents(spark, dir)
      .select(toks.as("t")).filter(size(col("t")) > 0)
      .select(size(array_distinct(col("t"))).cast("long").as("x1"),
        size(col("t")).cast("long").as("x2"))
      .agg(min("x1"), max("x1"), min("x2"), max("x2")).head()
    DistillModel(last.getLong(0), last.getLong(1), last.getLong(2),
      st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
  }

  /** Map-only scoring against a frozen [[DistillModel]] — the
    * serving-side twin of the training loop's `scored` frame. `docs`
    * must carry `text`; raw features are CLAMPED to the train-time
    * scaler range (so the non-negative half-up identity holds and an
    * outlier stream doc can't extrapolate past the hard sigmoid's
    * design range — standard frozen-scaler serving semantics). Emits
    * the quarter-nano score `pq`, probability `p`, and `admitted`
    * (p ≥ ½). Stateless: safe on any micro-batch plan. */
  private[graft] def distillScore(docs: DataFrame, m: DistillModel)
      : DataFrame = {
    def scl(raw: String, mn: Long, mx: Long): String =
      if (mx == mn) "0L"
      else s"(2 * (least(greatest($raw, ${mn}L), ${mx}L) - ${mn}L)" +
        s" * 1000 + ${mx - mn}L) div ${2 * (mx - mn)}L"
    docs
      .withColumn("x1", size(array_distinct(toks)).cast("long"))
      .withColumn("x2", size(toks).cast("long"))
      .filter(col("x2") > 0)
      .withColumn("zn", expr(
        s"${m.wb}L * 1000 + ${m.w1}L * (${scl("x1", m.mn1, m.mx1)})" +
          s" + ${m.w2}L * (${scl("x2", m.mn2, m.mx2)})"))
      .withColumn("pq",
        least(greatest(lit(2000000000L) + col("zn"), lit(0L)),
          lit(4000000000L)))
      .withColumn("p", col("pq").cast("double") / lit(4.0e9))
      .withColumn("admitted", col("pq") >= 2000000000L)
      .drop("zn")
  }

  private def txtQualityDistill(spark: SparkSession, dir: String): DataFrame = {
    val fs = qdFeatures(spark, dir)
    val d = DecimalType(38, 0)
    def scored(w: DataFrame): DataFrame = fs.crossJoin(broadcast(w))
      .withColumn("zn", col("wb") * 1000L +
        col("w1") * col("x1s") + col("w2") * col("x2s"))
      .withColumn("pq",
        least(greatest(lit(2000000000L) + col("zn"), lit(0L)),
          lit(4000000000L)))
    def metricsRow(r: Int, w: DataFrame): DataFrame = {
      val m = scored(w).agg(
        count(when((col("pq") >= 2000000000L) === (col("y") === 1L),
          lit(1))).as("n_correct"),
        count(lit(1)).as("n"))
      w.crossJoin(m).select(lit(r.toLong).as("round"),
        col("wb"), col("w1"), col("w2"), col("n_correct"), col("n"),
        microDiv("n_correct", "n").as("acc"))
    }
    // the weight state is THREE LONGS; each round's update runs as a
    // Spark aggregation + the exact integer update EXPRESSION (same
    // arithmetic as before, bit-identical), but the resulting 1-row
    // frame is pulled back as a control-plane head() and re-enters
    // the next round as LITERALS instead of an eagerly staged 1-row
    // frame (r16). Same job count (the rounds are inherently
    // sequential — head() is the round's one action, exactly as the
    // staging job was), but no block-manager round-trip per round and
    // the 9 metric rows below aggregate against literal weights, so
    // the final union job carries no broadcast joins (64 jobs ->
    // measured drop). The collect is 3 longs/round — the same
    // bounded-model-state class as distillTrain's 1-row head().
    var w = spark.range(1).select(lit(0L).as("wb"), lit(0L).as("w1"),
      lit(0L).as("w2"))
    val rows = List.newBuilder[DataFrame]
    rows += metricsRow(0, w)
    for (r <- 1 to qdRounds) {
      val g = scored(w)
        .withColumn("err", col("y") * 4000000000L - col("pq"))
        .agg(sum((col("err") * 1000L).cast(d)).as("gb"),
          sum((col("err") * col("x1s")).cast(d)).as("g1"),
          sum((col("err") * col("x2s")).cast(d)).as("g2"),
          count(lit(1)).as("n"))
      // D = 4·r·N·1e6 converts the quarter-nano gradient sum to a
      // micro-weight step at rate η_r = qdEta/r (units in the header)
      val den = s"(4 * $r * CAST(n AS DECIMAL(38, 0)) * 1000000)"
      def u(gc: String, wc: String) =
        s"""CAST($wc + (CASE WHEN $gc >= 0
           |  THEN (2 * $qdEta * $gc + $den) div (2 * $den)
           |  ELSE -((2 * $qdEta * (- $gc) + $den) div (2 * $den))
           |END) AS BIGINT) AS $wc""".stripMargin
      val row = g.crossJoin(w)
        .selectExpr(u("gb", "wb"), u("g1", "w1"), u("g2", "w2"))
        .head()
      w = spark.range(1).select(
        lit(row.getLong(0)).as("wb"), lit(row.getLong(1)).as("w1"),
        lit(row.getLong(2)).as("w2"))
      rows += metricsRow(r, w)
    }
    rows.result().reduce(_ unionAll _).orderBy("round")
  }

  /** The full training chain (teacher features → scaled fs → weight
    * frames w0..w{qdRounds}) as CTEs — shared by the distill oracle
    * and the calibration oracle so both replay ONE training
    * definition. */
  private[operators] val qdChainCtes: String = {
    def round(r: Int) = {
      val den = s"(CAST(4 * $r AS BIGINT) * n * 1000000)"
      def u(gc: String, wc: String) =
        s"""CAST($wc + (CASE WHEN $gc >= 0
           |      THEN (2 * $qdEta * $gc + $den) // (2 * $den)
           |      ELSE -((2 * $qdEta * (- $gc) + $den) // (2 * $den))
           |    END) AS BIGINT) AS $wc""".stripMargin
      s"""g$r AS MATERIALIZED (
        |  SELECT SUM(err * 1000) AS gb, SUM(err * x1s) AS g1,
        |    SUM(err * x2s) AS g2, COUNT(*) AS n
        |  FROM (SELECT x1s, x2s, y * 4000000000 - LEAST(GREATEST(
        |      2000000000 + wb * 1000 + w1 * x1s + w2 * x2s, 0),
        |      4000000000) AS err
        |    FROM fs, w${r - 1}) e),
        |w$r AS MATERIALIZED (
        |  SELECT ${u("gb", "wb")},
        |    ${u("g1", "w1")},
        |    ${u("g2", "w2")}
        |  FROM g$r, w${r - 1}),
        |m$r AS MATERIALIZED (
        |  SELECT COUNT(CASE WHEN (pq >= 2000000000) = (y = 1)
        |      THEN 1 END) AS n_correct, COUNT(*) AS n
        |  FROM (SELECT y, LEAST(GREATEST(2000000000 + wb * 1000 +
        |      w1 * x1s + w2 * x2s, 0), 4000000000) AS pq
        |    FROM fs, w$r) p)""".stripMargin
    }
    s"""feat AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(abs((CASE WHEN 2 * len(list_distinct(t)) >= len(t)
      |        THEN 1 ELSE 0 END) -
      |      (CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END)) AS BIGINT) AS y,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS x1,
      |    CAST(len(t) AS BIGINT) AS x2
      |  FROM (SELECT doc_id, $toksSql AS t FROM documents) d
      |  WHERE len(t) > 0),
      |fs AS MATERIALIZED (
      |  SELECT doc_id, y,
      |    CASE WHEN mx1 = mn1 THEN 0
      |      ELSE (2 * (x1 - mn1) * 1000 + (mx1 - mn1))
      |        // (2 * (mx1 - mn1)) END AS x1s,
      |    CASE WHEN mx2 = mn2 THEN 0
      |      ELSE (2 * (x2 - mn2) * 1000 + (mx2 - mn2))
      |        // (2 * (mx2 - mn2)) END AS x2s
      |  FROM feat, (SELECT min(x1) AS mn1, max(x1) AS mx1,
      |      min(x2) AS mn2, max(x2) AS mx2 FROM feat) st),
      |w0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS w1,
      |  CAST(0 AS BIGINT) AS w2),
      |m0 AS (
      |  SELECT COUNT(CASE WHEN y = 1 THEN 1 END) AS n_correct,
      |    COUNT(*) AS n FROM fs),
      |${(1 to qdRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private val txtQualityDistillSql: String = {
    def row(r: Int) =
      s"""SELECT CAST($r AS BIGINT) AS round, wb, w1, w2, n_correct, n,
        |  CAST((2 * n_correct * 1000000 + n) // (2 * n) AS DOUBLE)
        |    / 1000000.0 AS acc
        |FROM w$r, m$r""".stripMargin
    s"""WITH $qdChainCtes
      |${(0 to qdRounds).map(row).mkString("\nUNION ALL\n")}
      |ORDER BY round""".stripMargin
  }

  // ---- txt_distill_calibration: reliability diagram of the gate -----
  // The calibration audit a probabilistic gate needs before its
  // scores are used as sampling weights or thresholds (Guo et al.
  // 2017: accuracy alone hides systematic over/under-confidence):
  // the trained distill model's predicted probability, bucketed into
  // score deciles, against the teacher's empirical positive rate per
  // bucket — mean_p ≈ pos_rate everywhere = calibrated; the signed
  // gap column is the per-bucket reliability residual. Composes the
  // SAME artifacts the distill suite trains and hash-verifies: the
  // model is distillTrain's last-round weights (a 1-row collect —
  // the model, never data), features are the memoized checkpointed
  // fs frame, and the quarter-nano hard-sigmoid score is replayed
  // with the identical clamp arithmetic, so every number here is
  // exact integer work until the final micro→double casts. The
  // oracle re-runs the full 8-round training chain via the shared
  // qdChainCtes and scores fs against w8 — one training definition,
  // two consumers.
  // Scale: scoring is map-only over the checkpointed feature frame;
  // the bucket agg is ≤10 rows. Σpq (quarter-nano, ≤ 4e9/doc) runs
  // in DECIMAL(38,0)/HUGEINT in BOTH engines (ADVICE r9, applied) —
  // the exact contract holds to ~10²⁸ docs, not int64's ~10⁹.
  private def txtDistillCalibration(spark: SparkSession,
      dir: String): DataFrame = {
    val m = distillTrain(spark, dir)
    qdFeatures(spark, dir)
      .withColumn("pq", least(greatest(lit(2000000000L) +
        (lit(m.wb) * 1000L + lit(m.w1) * col("x1s") +
          lit(m.w2) * col("x2s")), lit(0L)), lit(4000000000L)))
      .withColumn("bucket", least(expr("pq div 400000000"), lit(9L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pq").cast(DecimalType(38, 0))).as("spq"),
        sum(col("y")).as("npos"))
      // mean p in micro = halfup(Σpq / (4000·n)): pq is quarter-nano,
      // so Σpq/(4e9·n)·1e6 = Σpq/(4000·n)
      .withColumn("mean_p_micro",
        expr("(2 * spq + 4000 * n_docs) div (8000 * n_docs)"))
      .withColumn("emp_micro",
        expr("(2 * npos * 1000000 + n_docs) div (2 * n_docs)"))
      .select(col("bucket"), col("n_docs"),
        (col("mean_p_micro").cast("double") / 1000000L).as("mean_p"),
        (col("emp_micro").cast("double") / 1000000L).as("pos_rate"),
        ((col("mean_p_micro") - col("emp_micro")).cast("double") /
          1000000L).as("gap"))
      .orderBy("bucket")
  }

  private val txtDistillCalibrationSql =
    s"""WITH $qdChainCtes,
      |cal AS (
      |  SELECT y, LEAST(GREATEST(2000000000 + wb * 1000 + w1 * x1s
      |      + w2 * x2s, 0), 4000000000) AS pq
      |  FROM fs, w$qdRounds),
      |b AS (
      |  SELECT LEAST(pq // 400000000, 9) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    SUM(pq) AS spq,
      |    CAST(SUM(y) AS BIGINT) AS npos
      |  FROM cal GROUP BY 1),
      |s AS (
      |  SELECT bucket, n_docs,
      |    (2 * spq + 4000 * n_docs) // (8000 * n_docs) AS mean_p_micro,
      |    (2 * npos * 1000000 + n_docs) // (2 * n_docs) AS emp_micro
      |  FROM b)
      |SELECT bucket, n_docs,
      |  CAST(mean_p_micro AS DOUBLE) / 1000000 AS mean_p,
      |  CAST(emp_micro AS DOUBLE) / 1000000 AS pos_rate,
      |  CAST(mean_p_micro - emp_micro AS DOUBLE) / 1000000 AS gap
      |FROM s ORDER BY bucket""".stripMargin

  // ---- txt_distill_auc: exact ROC-AUC of the gate ---------------------
  // The third leg of the gate-eval triad (descent curve = fit,
  // calibration = probability quality, THIS = ranking quality): the
  // Mann–Whitney AUC of the distilled score against the teacher
  // label, exactly — AUC = (concordant + ½·ties) / (P·N) over all
  // positive×negative pairs, computed from per-distinct-score
  // (np, nn) counts so no pair frame ever materializes. The
  // negatives-below cumsum is TWO-PHASE (q_orders_backlog's idiom:
  // within-score-decile windows + a 10-row broadcast triangle-join
  // offset — no single task sorts the score axis; the oracle runs
  // the plain one-window form, so the hash gate proves the two-phase
  // plan semantics-preserving). AUC and Gini (2·AUC−1) land through
  // ONE half-up micro division; everything before it is exact
  // integer work in DECIMAL(38,0)/HUGEINT (ADVICE r9, applied:
  // 2c+t ≤ 2·P·N brushes int64 near 10⁹ docs, so the pair-count
  // products and sums are widened in BOTH engines).
  // Scale: map-only scoring over the checkpointed feature frame,
  // one distinct-score agg, score-sized windows, a 1-row report.
  private def txtDistillAuc(spark: SparkSession, dir: String): DataFrame = {
    val m = distillTrain(spark, dir)
    val byScore = qdFeatures(spark, dir)
      .withColumn("pq", least(greatest(lit(2000000000L) +
        (lit(m.wb) * 1000L + lit(m.w1) * col("x1s") +
          lit(m.w2) * col("x2s")), lit(0L)), lit(4000000000L)))
      .groupBy("pq")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
      .withColumn("bkt", least(expr("pq div 400000000"), lit(9L)))
      .transform(Ckpt.stage)
    val wB = Window.partitionBy("bkt").orderBy("pq")
    val within = byScore.withColumn("nn_below_in",
      coalesce(sum(col("nn")).over(
        wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val btot = byScore.groupBy("bkt").agg(sum(col("nn")).as("b_nn"))
    val offs = btot.as("a")
      .join(broadcast(btot.as("b")), col("b.bkt") < col("a.bkt"), "left")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(coalesce(sum(col("b.b_nn")), lit(0L)).as("off"))
    // pair-count products and their sums run in DECIMAL(38,0)/HUGEINT
    // in both engines (ADVICE r9, applied): c,t ≤ P·N which brushes
    // int64 near 10⁹ docs — widened, the exact contract holds to the
    // 38-digit ceiling
    val d38 = DecimalType(38, 0)
    within.join(broadcast(offs), Seq("bkt"))
      .select((col("np").cast(d38) *
          (col("nn_below_in") + col("off")).cast(d38)).as("conc"),
        (col("np").cast(d38) * col("nn").cast(d38)).as("tie"),
        col("np"), col("nn"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        count(lit(1)).as("n_scores"),
        sum(col("conc")).as("c"), sum(col("tie")).as("t"))
      .withColumn("auc_micro", expr(
        """(2 * (2 * c + t) * 1000000
          |   + 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
          | div (4 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)""".stripMargin))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        (col("auc_micro").cast("double") / 1000000L).as("auc"),
        ((col("auc_micro") * 2 - 1000000L).cast("double") / 1000000L)
          .as("gini"))
  }

  private val txtDistillAucSql =
    s"""WITH $qdChainCtes,
      |cal AS (
      |  SELECT y, LEAST(GREATEST(2000000000 + wb * 1000 + w1 * x1s
      |      + w2 * x2s, 0), 4000000000) AS pq
      |  FROM fs, w$qdRounds),
      |bys AS (
      |  SELECT pq, CAST(SUM(y) AS BIGINT) AS np,
      |    CAST(SUM(1 - y) AS BIGINT) AS nn
      |  FROM cal GROUP BY 1),
      |cum AS (
      |  SELECT pq, np, nn,
      |    CAST(COALESCE(SUM(nn) OVER (ORDER BY pq
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS nn_below
      |  FROM bys),
      |agg AS (
      |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
      |    CAST(SUM(nn) AS BIGINT) AS n_neg,
      |    CAST(COUNT(*) AS BIGINT) AS n_scores,
      |    SUM(CAST(np AS HUGEINT) * nn_below) AS c,
      |    SUM(CAST(np AS HUGEINT) * nn) AS t
      |  FROM cum),
      |s AS (
      |  SELECT n_pos, n_neg, n_scores,
      |    (2 * (2 * c + t) * 1000000
      |        + 2 * CAST(n_pos AS HUGEINT) * n_neg)
      |      // (4 * CAST(n_pos AS HUGEINT) * n_neg) AS auc_micro
      |  FROM agg)
      |SELECT n_pos, n_neg, n_scores,
      |  CAST(auc_micro AS DOUBLE) / 1000000 AS auc,
      |  CAST(auc_micro * 2 - 1000000 AS DOUBLE) / 1000000 AS gini
      |FROM s""".stripMargin

  // ---- txt_keyphrases: RAKE keyphrase extraction --------------------
  // Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
  // phrases are the maximal token runs between stopword delimiters,
  // each word scores deg(w)/freq(w) over the corpus-wide phrase set
  // (freq = phrase instances containing w; deg = Σ instance length,
  // self included), and a phrase scores the sum of its member words —
  // phrases built from words that co-occur in long, frequent runs
  // win. This is the corpus-level variant (per-doc RAKE shares the
  // same stats pass); runs longer than 4 tokens are discarded as
  // non-phrases, the paper's usual cap. Scoring is exact: deg/freq
  // goes through the half-up micro contract (both positive) and a
  // phrase's score is an integer sum of member micro-scores, so the
  // top-20 ranking (score, count, text — fully deterministic) is
  // hash-stable cross-engine.
  // Scale: one posexplode pass; the run-id window rides the doc_id
  // partitioning; phrase assembly aggs on (doc_id, run); word stats
  // collapse to the vocabulary (map-side combined) and join back by
  // broadcast; the final top-20 is a distributed TakeOrdered, not a
  // global window.
  private val rakeStops = Seq("a", "the")
  private val rakeMaxLen = 4
  private val rakeK = 20

  private def txtKeyphrases(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val toksPos = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("is_stop",
        col("tok").isin(rakeStops.map(x => x: Any): _*))
      .withColumn("run",
        sum(when(col("is_stop"), 1).otherwise(0)).over(byDoc))
    // the phrase frame feeds BOTH the word-stats leg and the
    // phrase-count leg: eager-checkpoint it so the corpus explode +
    // run window run once, not once per leg
    val phrases = toksPos.filter(!col("is_stop"))
      .groupBy(col("doc_id"), col("run"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("phrase"),
        count(lit(1)).as("len"))
      .filter(col("len") <= rakeMaxLen)
      .transform(Ckpt.stage)
    val words = phrases.select(col("len"),
      explode(split(col("phrase"), " ")).as("w"))
    val wordStats = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("wscore_u",
        expr("(2 * deg * 1000000 + freq) div (2 * freq)"))
    // every instance of a phrase text carries the same member words,
    // so score once per DISTINCT text (explode the counted phrase,
    // not each instance) and let the instance count ride along
    val phraseCounts = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    phraseCounts
      .withColumn("w", explode(split(col("phrase"), " ")))
      .join(broadcast(wordStats.select("w", "wscore_u")), Seq("w"))
      .groupBy("phrase", "n_occurrences")
      .agg(sum(col("wscore_u")).as("score_u"))
      .select(col("phrase"), col("n_occurrences"),
        (col("score_u").cast("double") / lit(1000000.0)).as("score"))
      .orderBy(desc("score"), desc("n_occurrences"), col("phrase"))
      .limit(rakeK)
      .orderBy(desc("score"), desc("n_occurrences"), col("phrase"))
  }

  private val txtKeyphrasesSql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
      |tp0 AS (
      |  SELECT doc_id,
      |    unnest([{'pos': i, 'tok': t[i]}
      |            for i in range(1, len(t) + 1)]) AS s
      |  FROM d),
      |tp AS (
      |  SELECT doc_id, s.pos AS pos, s.tok AS tok,
      |    s.tok IN ('${rakeStops.mkString("','")}') AS is_stop
      |  FROM tp0),
      |runs AS (
      |  SELECT doc_id, pos, tok, is_stop,
      |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY doc_id ORDER BY pos
      |       ROWS UNBOUNDED PRECEDING) AS run
      |  FROM tp),
      |phrases AS (
      |  SELECT doc_id, run, string_agg(tok, ' ' ORDER BY pos) AS phrase,
      |    COUNT(*) AS len
      |  FROM runs WHERE NOT is_stop
      |  GROUP BY doc_id, run HAVING COUNT(*) <= $rakeMaxLen),
      |words AS (
      |  SELECT len, unnest(string_split(phrase, ' ')) AS w FROM phrases),
      |ws AS (
      |  SELECT w, COUNT(*) AS freq, SUM(len) AS deg FROM words GROUP BY w),
      |wsu AS (
      |  SELECT w, (2 * deg * 1000000 + freq) // (2 * freq) AS wscore_u
      |  FROM ws),
      |pc AS (
      |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      |  FROM phrases GROUP BY phrase),
      |pw AS (
      |  SELECT phrase, n_occurrences,
      |    unnest(string_split(phrase, ' ')) AS w
      |  FROM pc),
      |sc AS (
      |  SELECT phrase, n_occurrences,
      |    CAST(SUM(wscore_u) AS BIGINT) AS score_u
      |  FROM pw JOIN wsu USING (w) GROUP BY phrase, n_occurrences)
      |SELECT phrase, n_occurrences,
      |  CAST(score_u AS DOUBLE) / 1000000.0 AS score
      |FROM sc
      |ORDER BY score DESC, n_occurrences DESC, phrase
      |LIMIT $rakeK""".stripMargin

  // ---- txt_zipf: rank-frequency power-law fit ------------------------
  // The corpus-statistics sanity check (Zipf 1949; Piantadosi 2014's
  // review): fit log f = a + s·log r over the top `zipfRanks` vocab
  // ranks by EXACT least squares on ln-quantized integers — natural
  // text lands s ≈ −1; a corpus of boilerplate, template spam, or
  // synthetic junk visibly doesn't. One row out: type/token counts
  // (the Heaps'-law inputs), the top token, the fitted slope and
  // intercept (micro-nats).
  // Exactness: x = lnq(rank), y = lnq(freq) are integer micro-nats;
  // the normal-equation sums Σx², Σxy run in DECIMAL(38,0)/HUGEINT
  // (n·Σxy·10⁶ ≈ 10²⁷ at 1000 ranks); slope = (nΣxy − ΣxΣy)/(nΣx² −
  // (Σx)²) and intercept = (Σy·den − num·Σx)/(n·den) take the
  // SIGN-SAFE half-up division (slope is negative; Spark div
  // truncates, DuckDB // floors — the abs-then-reapply-sign form is
  // the established dodge). den > 0 because the 1..n ranks are
  // distinct.
  // Scale: the corpus collapses ONCE to the (token, freq) vocabulary
  // (map-side combined), checkpointed for its two readers; the
  // top-1000 cut is a distributed TakeOrdered (freq DESC, token — no
  // global window, deterministic under ties), and rank assignment is
  // a count-of-greater self-join on the CONSTANT-sized top frame —
  // never a single-partition sort of anything corpus-scaled.
  private val zipfRanks = 1000

  private def txtZipf(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val vocab = Tables.documents(spark, dir)
      .select(explode(Tok.toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .transform(Ckpt.stage)
    val top = vocab.orderBy(col("freq").desc, col("tok").asc)
      .limit(zipfRanks).transform(Ckpt.stage)
    val ranked = top
      .join(broadcast(top.select(col("tok").as("btok"),
          col("freq").as("bfreq"))),
        col("bfreq") > col("freq") ||
          (col("bfreq") === col("freq") && col("btok") < col("tok")),
        "left")
      .groupBy("tok", "freq")
      .agg((count(col("btok")) + 1).as("rnk"))
    val sums = ranked.select(Num.lnqU(col("rnk")).as("x"),
        Num.lnqU(col("freq")).as("y"), col("rnk"), col("tok"),
        col("freq"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
        max(when(col("rnk") === 1, col("tok"))).as("top_token"),
        max(when(col("rnk") === 1, col("freq"))).as("top_freq"))
    val tot = vocab.agg(count(lit(1)).as("n_types"),
      sum(col("freq")).as("n_tokens"))
    sums.crossJoin(broadcast(tot))
      .withColumn("num", col("n").cast(d38) * col("sxy") -
        col("sx").cast(d38) * col("sy").cast(d38))
      .withColumn("den", col("n").cast(d38) * col("sxx") -
        col("sx").cast(d38) * col("sx").cast(d38))
      .withColumn("bnum", col("sy").cast(d38) * col("den") -
        col("num") * col("sx").cast(d38))
      .select(col("n_types"), col("n_tokens"), col("n").as("n_ranks"),
        col("top_token"), col("top_freq"),
        (expr("""(case when num < 0 then -1 else 1 end) *
          |  ((2 * abs(num) * 1000000 + den) div (2 * den))"""
          .stripMargin).cast("double") / lit(1000000.0)).as("zipf_slope"),
        (expr("""(case when bnum < 0 then -1 else 1 end) *
          |  ((2 * abs(bnum) + n * den) div (2 * n * den))"""
          .stripMargin).cast("double") / lit(1000000.0))
          .as("zipf_intercept"))
  }

  private val txtZipfSql =
    s"""WITH toks AS (
      |  SELECT unnest(${Tok.toksSql}) AS tok FROM documents),
      |vocab AS MATERIALIZED (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM toks GROUP BY 1),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(freq) AS BIGINT) AS n_tokens FROM vocab),
      |top AS MATERIALIZED (
      |  SELECT tok, freq FROM vocab
      |  ORDER BY freq DESC, tok ASC LIMIT $zipfRanks),
      |ranked AS (
      |  SELECT a.tok, a.freq,
      |    CAST(1 + COUNT(b.btok) AS BIGINT) AS rnk
      |  FROM top a LEFT JOIN (SELECT tok AS btok, freq AS bfreq
      |      FROM top) b
      |    ON b.bfreq > a.freq OR (b.bfreq = a.freq AND b.btok < a.tok)
      |  GROUP BY 1, 2),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(${Num.lnqUSql("rnk")}) AS BIGINT) AS sx,
      |    CAST(SUM(${Num.lnqUSql("freq")}) AS BIGINT) AS sy,
      |    SUM(CAST(${Num.lnqUSql("rnk")} AS HUGEINT)
      |      * ${Num.lnqUSql("rnk")}) AS sxx,
      |    SUM(CAST(${Num.lnqUSql("rnk")} AS HUGEINT)
      |      * ${Num.lnqUSql("freq")}) AS sxy,
      |    MAX(CASE WHEN rnk = 1 THEN tok END) AS top_token,
      |    MAX(CASE WHEN rnk = 1 THEN freq END) AS top_freq
      |  FROM ranked),
      |fit AS (
      |  SELECT *, n * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    n * sxx - CAST(sx AS HUGEINT) * sx AS den
      |  FROM sums)
      |SELECT n_types, n_tokens, n AS n_ranks, top_token, top_freq,
      |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(num) * 1000000 + den) // (2 * den)) AS DOUBLE)
      |    / 1000000.0 AS zipf_slope,
      |  CAST((CASE WHEN sy * den - num * sx < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(sy * den - num * sx) + n * den) // (2 * n * den))
      |    AS DOUBLE) / 1000000.0 AS zipf_intercept
      |FROM fit CROSS JOIN tot""".stripMargin

  // ---- txt_code_detect: code-vs-prose corpus screen ------------------
  // The "is this document source code" gate an LLM-data pipeline runs
  // to route code into its own mixture bucket (or out of a
  // prose-only corpus): per document the count of code-indicative
  // symbols ({};()=[]<>), with the code DECISION taken on the exact
  // integer inequality sym·1000 > 20·n_chars (2% symbol density) —
  // no float at the boundary — rolled up per source: doc counts,
  // code share, and the mean symbol density (both half-up micro).
  // The per-char counting is length(text) − length(strip) inside
  // codegen on both engines (DuckDB needs the 'g' regexp flag — its
  // regexp_replace defaults to FIRST match, Spark's to all).
  // Scale: one map-only pass + an alphabet-sized source agg
  // (map-side combined); nothing shuffles but the per-source cells.
  // Empty documents count as prose (0·1000 > 20·0 is false),
  // divisions guard on n_chars ≥ 1 per doc via the corpus having
  // non-empty text, and the share quotient's denominator is the
  // per-source doc count (≥ 1 by grouping).
  private def txtCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    val sym = length(col("text")) -
      length(regexp_replace(col("text"), "[{};()=\\[\\]<>]", ""))
    Tables.documents(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("n_chars"),
        sym.cast("long").as("sym"))
      .withColumn("is_code",
        (col("sym") * 1000 > col("n_chars") * 20).cast("int"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("is_code")), lit(0L)).as("n_code"),
        sum(col("sym")).as("sym_total"),
        sum(col("n_chars")).as("chars_total"))
      .select(col("source"), col("n_docs"), col("n_code"),
        (expr("(2 * n_code * 1000000 + n_docs) div (2 * n_docs)")
          .cast("double") / lit(1000000.0)).as("code_share"),
        (expr("(2 * sym_total * 1000000 + chars_total) " +
          "div (2 * chars_total)").cast("double") / lit(1000000.0))
          .as("mean_sym_density"))
      .orderBy("source")
  }

  private val txtCodeDetectSql =
    """WITH d AS (
      |  SELECT source,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(regexp_replace(text,
      |      '[{};()=\[\]<>]', '', 'g')) AS BIGINT) AS sym
      |  FROM documents),
      |g AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COALESCE(SUM(CASE WHEN sym * 1000 > n_chars * 20
      |      THEN 1 END), 0) AS BIGINT) AS n_code,
      |    CAST(SUM(sym) AS BIGINT) AS sym_total,
      |    CAST(SUM(n_chars) AS BIGINT) AS chars_total
      |  FROM d GROUP BY 1)
      |SELECT source, n_docs, n_code,
      |  CAST((2 * n_code * 1000000 + n_docs) // (2 * n_docs) AS DOUBLE)
      |    / 1000000.0 AS code_share,
      |  CAST((2 * sym_total * 1000000 + chars_total)
      |    // (2 * chars_total) AS DOUBLE) / 1000000.0
      |    AS mean_sym_density
      |FROM g ORDER BY source""".stripMargin

  // ---- txt_ngram_novelty: corpus-order redundancy curve --------------
  // The marginal-value curve a data buyer reads before paying for
  // more of a source (RefinedWeb/FineWeb-style "how fast does new
  // data stop being new"): docs in ingestion order (doc_id is the
  // order contract), each doc's DISTINCT word-3-gram shingles split
  // into NOVEL (corpus-first occurrence — min first-seen doc is this
  // doc) vs seen-before, reported as the novelty ratio per corpus
  // DECILE of that order. A flattening curve means additional
  // ingestion buys mostly repeats — the quantitative trigger for
  // dedup/curation budget shifts. Shingles ride the codegen'd
  // shingle_hash3 longs (set identity survives hashing — dedup suite
  // contract); the oracle replays the same set logic on shingle
  // strings. Deciles are pure integer arithmetic over broadcast
  // min/max ids — NOT ntile (a global ntile is the unpartitioned-
  // window shape the plan audit forbids). Ratios go through the
  // half-up integer micro contract (non-negative).
  // Scale: one corpus-sized shingle explode + one hash-keyed
  // first-seen agg + one hash join back + one doc agg; the decile
  // report is 10 rows. Nothing post-agg grows with the corpus.
  private def txtNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr("shingle_hash3(t)")).as("sh"))
    val first = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    val perDoc = sh.join(first, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_doc") === col("doc_id"), lit(1)))
          .as("n_novel"))
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    docs.crossJoin(broadcast(bounds))
      .withColumn("decile",
        expr("((doc_id - lo) * 10) div (hi - lo + 1)"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_novel"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_shingles")).as("n_shingles"),
        sum(col("n_novel")).as("n_novel"))
      .withColumn("novelty",
        expr("""(2 * n_novel * 1000000 + greatest(n_shingles, 1L))
          | div (2 * greatest(n_shingles, 1L))""".stripMargin)
          .cast("double") / 1000000L)
      .orderBy("decile")
  }

  private val txtNgramNoveltySql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
      |s AS (SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |     for i in range(1, len(t) - 1)])) AS sh
      |  FROM t WHERE len(t) >= 3),
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh),
      |d AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |    CAST(COUNT(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
      |      AS n_novel
      |  FROM s JOIN f USING (sh) GROUP BY 1),
      |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
      |bucketed AS (
      |  SELECT ((doc_id - lo) * 10) // (hi - lo + 1) AS decile,
      |    COALESCE(d.n_shingles, 0) AS n_shingles,
      |    COALESCE(d.n_novel, 0) AS n_novel
      |  FROM documents CROSS JOIN b
      |  LEFT JOIN d USING (doc_id)),
      |agg AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
      |    CAST(SUM(n_novel) AS BIGINT) AS n_novel
      |  FROM bucketed GROUP BY 1)
      |SELECT decile, n_docs, n_shingles, n_novel,
      |  CAST((2 * n_novel * 1000000 + GREATEST(n_shingles, 1))
      |    // (2 * GREATEST(n_shingles, 1)) AS DOUBLE) / 1000000
      |    AS novelty
      |FROM agg ORDER BY decile""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("txt_stats", txtStats, Some(txtStatsSql)),
    Op("txt_quality", txtQuality, Some(txtQualitySql)),
    Op("txt_langid", txtLangid, Some(txtLangidSql)),
    Op("txt_langid_eval", txtLangidEval, Some(txtLangidEvalSql)),
    Op("txt_fingerprint", txtFingerprint, Some(txtFingerprintSql)),
    Op("txt_ngram_topk", txtNgramTopk, Some(txtNgramTopkSql)),
    Op("txt_repetition", txtRepetition, Some(txtRepetitionSql)),
    Op("txt_boilerplate", txtBoilerplate, Some(txtBoilerplateSql)),
    Op("txt_scrub", txtScrub, Some(txtScrubSql)),
    Op("txt_readability", txtReadability, Some(txtReadabilitySql)),
    Op("txt_lm_perplexity", txtLmPerplexity, Some(txtLmPerplexitySql)),
    Op("txt_line_dedup", txtLineDedup, Some(txtLineDedupSql)),
    Op("txt_tfidf", txtTfidf, Some(txtTfidfSql)),
    Op("txt_entropy", txtEntropy, Some(txtEntropySql)),
    Op("txt_bpe_train", txtBpeTrain, Some(txtBpeTrainSql)),
    Op("txt_bpe_apply", txtBpeApply, Some(txtBpeApplySql)),
    Op("txt_bpe_fertility", txtBpeFertility, Some(txtBpeFertilitySql)),
    Op("txt_quality_distill", txtQualityDistill, Some(txtQualityDistillSql)),
    Op("txt_keyphrases", txtKeyphrases, Some(txtKeyphrasesSql)),
    Op("txt_zipf", txtZipf, Some(txtZipfSql)),
    Op("txt_code_detect", txtCodeDetect, Some(txtCodeDetectSql)),
    Op("txt_ngram_novelty", txtNgramNovelty, Some(txtNgramNoveltySql)),
    Op("txt_distill_calibration", txtDistillCalibration,
      Some(txtDistillCalibrationSql)),
    Op("txt_distill_auc", txtDistillAuc, Some(txtDistillAucSql)),
  )
}
