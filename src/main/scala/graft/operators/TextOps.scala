package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures
import graft.sources.Tables._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (north star): quality features, token counting,
  * tokenization (explode), content hashing for exact dedup.
  *
  * All features are pure per-row expressions (whole-stage codegen'd, no
  * UDFs), so at 100 TB they pipeline directly over the scan with zero
  * shuffles; only the final aggregations shuffle, on small keyspaces.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace-delimited word count, robust across engines:
    * (#spaces + 1) on single-space-joined text.
    */
  private def wordCnt(text: org.apache.spark.sql.Column) =
    (length(text) - length(regexp_replace(text, " ", "")) + lit(1))

  /** THE quality gate — one definition of the len/alpha/punct keep rule,
    * consumed by `text_quality_score` (the scorer) and
    * `curate_quality_filter` (the filter) so the rule cannot drift
    * between them. Adds `len`, `alpha_ratio`, `punct_ratio`, `q_keep`
    * columns; [[qualityRatioSql]] / [[qualityKeepSql]] are the oracle-SQL
    * twins of the same expressions.
    */
  private[operators] def qualityGate(df: DataFrame): DataFrame = df
    // one fused scan for both character classes (VectorExprsSpec pins it
    // equal to the regexp_count formulation); WSCG subexpression
    // elimination evaluates the kernel once per row for both fields
    .withColumn("cc", graft.functions.TextExprs.charClassCounts(col("text")))
    .withColumn("len", length(col("text")))
    .withColumn("alpha_ratio", round(
      col("cc.n_alpha").cast("double") / col("len"), 4))
    .withColumn("punct_ratio", round(
      col("cc.n_punct").cast("double") / col("len"), 4))
    .withColumn("q_keep",
      col("len") >= 50 && col("alpha_ratio") >= 0.5 &&
        col("punct_ratio") <= 0.2)
    .drop("cc")

  /** DuckDB twin of [[qualityGate]]'s ratio columns — select-list
    * fragment expecting `text` in scope (emits alpha_ratio/punct_ratio).
    */
  private[operators] val qualityRatioSql: String =
    // \x0B: RE2's \s omits the vertical tab that Java's \s (and the
    // kernel) count as whitespace — spell it out so a VT in a document
    // cannot flip punct_ratio between the engines
    """round(CAST(length(regexp_extract_all(text, '[A-Za-z]'))
         AS DOUBLE) / length(text), 4) AS alpha_ratio,
       round(CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s\x0B]'))
         AS DOUBLE) / length(text), 4) AS punct_ratio"""

  /** DuckDB twin of the keep predicate over len/alpha_ratio/punct_ratio. */
  private[operators] val qualityKeepSql: String =
    "len >= 50 AND alpha_ratio >= 0.5 AND punct_ratio <= 0.2"

  /** The fixed demo query for `text_bm25_top`; [[bm25Top]] itself takes
    * any term list.
    */
  val Bm25Query: Seq[String] = Seq("stream", "join", "vector")

  /** Okapi BM25 top-20 (k1=1.2, b=0.75) of each document against
    * `terms`. idf = ln(1 + (N−df+0.5)/(df+0.5)) (the non-negative
    * variant), tf part = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)). The
    * global statistics frame is ONE row regardless of corpus size.
    */
  private[operators] def bm25Top(df: DataFrame, terms: Seq[String]): DataFrame =
    bm25Scores(df, terms)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** The un-truncated scoring frame behind [[bm25Top]] — one row per
    * document. Exposed so the hybrid-retrieval fusion can take its own
    * arm-sized top-N without re-deriving the scoring arithmetic (the
    * two MUST be bit-identical or the fused ranks drift from the
    * lexical query's).
    */
  private[operators] def bm25Scores(df: DataFrame, terms: Seq[String])
      : DataFrame = {
    require(terms.nonEmpty, "bm25: need at least one query term")
    val toks = split(col("text"), " ")
    val base = df.select(
      col("doc_id") +: size(toks).cast("long").as("dl") +:
        terms.indices.map(i =>
          size(filter(toks, x => x === terms(i))).cast("long").as(s"tf$i")): _*)
    val aggs = count(lit(1)).as("n") +: sum(col("dl")).as("sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val g = base.agg(aggs.head, aggs.tail: _*)
    val k1 = lit(1.2)
    val b = lit(0.75)
    val avgdl = col("sumdl").cast("double") / col("n")
    // per-term score — the parenthesization mirrors bm25OracleSql
    // token for token so double arithmetic agrees bit-for-bit
    def part(i: Int) = {
      val tf = col(s"tf$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * ((tf * lit(2.2)) /
        (tf + k1 * (lit(1.0) - b + b * (col("dl").cast("double") / avgdl))))
    }
    base.crossJoin(broadcast(g))
      .withColumn("bm25", round(terms.indices.map(part).reduce(_ + _), 4))
      .select(col("doc_id"), col("dl"), col("bm25"))
  }

  /** DuckDB twin of [[bm25Top]], generated from the same term list.
    * Terms are embedded as SQL string literals — escape quotes so a
    * term like "don't" yields valid SQL matching Spark's exact
    * array-element equality.
    */
  private def bm25OracleSql(terms: Seq[String]): String = {
    val (ctes, parts) = bm25OracleCore(terms)
    s"""WITH $ctes
         SELECT doc_id, dl, round($parts, 4) AS bm25
         FROM t, g ORDER BY bm25 DESC, doc_id LIMIT 20"""
  }

  /** The reusable pieces of [[bm25OracleSql]]: the `d`/`t`/`g` CTE chain
    * and the per-document score expression (reads from `t, g`). Shared
    * with the hybrid-retrieval oracle so the lexical arm's DuckDB
    * arithmetic is the SAME text, not a drift-prone copy.
    */
  private[operators] def bm25OracleCore(terms: Seq[String])
      : (String, String) = {
    def q(t: String) = t.replace("'", "''")
    val tfCols = terms.indices.map(i =>
      s"CAST(len(list_filter(ts, x -> x = '${q(terms(i))}')) AS BIGINT) AS tf$i")
      .mkString(",\n             ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val parts = terms.indices.map(i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * " +
        s"((CAST(tf$i AS DOUBLE) * 2.2) / (CAST(tf$i AS DOUBLE) + " +
        "1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / " +
        "(CAST(sumdl AS DOUBLE) / n)))))")
      .mkString("\n           + ")
    val ctes =
      s"""d AS (SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents),
         t AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
             $tfCols
           FROM d),
         g AS (SELECT count(*) AS n, sum(dl) AS sumdl, $dfCols FROM t)"""
    (ctes, parts)
  }

  /** OOV bucket token. Tokens come from splitting on the space character, so
    * no real token can CONTAIN a space — a space-bracketed sentinel
    * cannot collide with any token in any corpus.
    */
  private[graft] val LmUnk = " unk "

  private[graft] def lmMinCountOf(s: SparkSession): Int =
    s.conf.getOption("spark.graft.text.lmMinCount")
      .map(_.toInt).getOrElse(1)

  /** Top-K vocabulary cap (`spark.graft.text.lmTopK`, default 0 = off):
    * keep only the K most frequent tokens (ties broken by token value,
    * so the cut is deterministic), everything else → the OOV bucket.
    * Unlike a count floor — whose kept set still grows with any corpus
    * whose rare tail keeps crossing the floor — this HARD-bounds the
    * model: c1 ≤ K+1 rows, c2 ≤ observed bigrams over a (K+1)-token
    * alphabet, at any corpus size. Composes with the floor (the cap
    * applies to floor survivors); a K ≥ |vocab| cap keeps everything
    * and reproduces the exact model bit-for-bit.
    */
  private[graft] def lmTopKOf(s: SparkSession): Int =
    s.conf.getOption("spark.graft.text.lmTopK")
      .map(_.toInt).getOrElse(0)

  /** The bigram stream + model tables behind [[lmPerplexity]] (sf1/sf10
    * model sizes per minCount in NOTES.md, round 8): `bi` is the
    * (doc_id, pos, w1, w2) scoring stream (OOV-mapped when pruning),
    * `c2`/`c1` the model, `vocab` the 1-row effective-V aggregate.
    */
  private[graft] final case class LmModel(
      bi: DataFrame, c2: DataFrame, c1: DataFrame, vocab: DataFrame)

  private[graft] def lmModel(df: DataFrame, minCount: Int,
      topK: Int = 0): LmModel = {
    val base = df.select(col("doc_id"), split(col("text"), " ").as("ts"))
    val biRaw = base.filter(size(col("ts")) >= 2)
      // sequence(0, n) DESCENDS when n < 0 — the size guard above is
      // load-bearing, not cosmetic
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ts")) - 2),
        i => struct(element_at(col("ts"), i + 1).as("w1"),
          element_at(col("ts"), i + 2).as("w2")))).as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val (bi, vocab) =
      if (minCount <= 1 && topK <= 0) {
        // exact mode: no token-frequency pass, no joins — the gated plan
        (biRaw.localCheckpoint(false),
          base.select(explode(col("ts")).as("w"))
            .agg(countDistinct(col("w")).as("v")))
      } else {
        val tokCounts = base.select(explode(col("ts")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        val floored = tokCounts.filter(col("cnt") >= minCount)
        // the top-K cut is a TakeOrdered of K rows (driver-bounded by
        // construction — K is the model-size knob, not data-sized),
        // materialized ONCE: vv, k1 and k2 all read this frame, and
        // without the checkpoint each would re-execute the cut
        // independently — correctness would then hang on the
        // (cnt desc, w) tie-break staying a total order forever, where
        // one shared K-row materialization makes the kept set a single
        // fact by construction (the floored-only branch needs neither:
        // a deterministic filter over the already-checkpointed counts)
        val kept = (if (topK > 0)
            floored.orderBy(col("cnt").desc, col("w")).limit(topK)
              .localCheckpoint(false)
          else floored).select(col("w"))
        // V = |kept| + 1 iff any token pruned (the ⟨unk⟩ symbol joins
        // the vocabulary only when it can occur) — so a floor/cap that
        // prunes nothing yields the exact model verbatim
        val vv = kept.agg(count(lit(1)).as("kn"))
          .crossJoin(tokCounts.agg(count(lit(1)).as("tn")))
          .select((col("kn") +
            when(col("tn") > col("kn"), 1L).otherwise(0L)).as("v"))
        // OOV-map both positions via left-semi-shaped left joins on the
        // kept vocabulary (AQE broadcasts it — pruning is what makes it
        // a small model artifact); inner-join keys stay w1/w2 so the
        // scoring probe below is unchanged
        val k1 = kept.withColumn("k1", lit(1))
        val k2 = kept.toDF("w2").withColumn("k2", lit(1))
        val mapped = biRaw
          .join(k1.withColumnRenamed("w", "w1"), Seq("w1"), "left")
          .join(k2, Seq("w2"), "left")
          .select(col("doc_id"), col("pos"),
            when(col("k1").isNotNull, col("w1")).otherwise(lit(LmUnk))
              .as("w1"),
            when(col("k2").isNotNull, col("w2")).otherwise(lit(LmUnk))
              .as("w2"))
          .localCheckpoint(false)
        (mapped, vv)
      }
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // context counts marginalize the (much smaller) bigram-count table:
    // c1(w1) = Σ_w2 c2(w1,w2) — no second corpus-sized shuffle
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    LmModel(bi, c2, c1, vocab)
  }

  /** Corpus-bigram-LM perplexity per document (the CCNet / Wenzek et al.
    * LREC'20 quality signal: docs far from the corpus distribution —
    * high perplexity — are noise; suspiciously low ones are boilerplate).
    * Add-one-smoothed bigram model trained on the corpus itself:
    * P(w₂|w₁) = (c₂(w₁,w₂)+1) / (c₁(w₁)+V), c₁ counting CONTEXT
    * occurrences (non-final positions) and V the corpus vocabulary.
    *
    * Scale shape: the LM build is two map-side-combinable counts; scoring
    * joins the bigram stream to the LM on its key (vocabulary-bounded
    * tables — AQE broadcasts them when they fit, the CCNet deployment
    * shape where the LM is a small model artifact). Cross-engine
    * determinism: per-bigram ln is rounded to 12 decimals (absorbing
    * last-ulp libm drift, same device as text_bm25_top), then the
    * per-doc sum is a STRICT LEFT FOLD in position order on both engines
    * — `aggregate` over the pos-sorted collected list here,
    * `list_reduce(list_prepend(0.0, list(... ORDER BY pos)))` in DuckDB
    * — never a parallel `sum()` whose association order is
    * engine-internal (DuckDB's windowed/grouped sums use segment trees;
    * Spark's partial aggs combine in partition order).
    *
    * Scale modes (defaults off = exact): the model tables grow with
    * VOCABULARY, not corpus size, so the bounding knobs are vocabulary
    * knobs, both collapsing pruned tokens into one OOV bucket BEFORE
    * bigram extraction with V = |kept| + 1 iff anything was pruned:
    *  - `spark.graft.text.lmMinCount` — CCNet-style frequency floor;
    *    right when the corpus has a genuine rare tail (measured on a
    *    Zipf-tail fixture, NOTES.md round 8: floor 5 keeps 20% of the
    *    vocabulary / 50% of the bigram keys). A floor alone does NOT
    *    guarantee sub-vocab growth — a tail whose counts keep crossing
    *    the floor as the corpus grows (or ScaleUp's adversarial shape,
    *    where every minted token has head-sized counts and NOTHING
    *    prunes) grows the kept set with the vocabulary.
    *  - `spark.graft.text.lmTopK` ([[lmTopKOf]]) — the HARD bound:
    *    keep the K most frequent tokens, so c1 ≤ K+1 and c2 is capped
    *    by the observed bigrams over a (K+1)-token alphabet at ANY
    *    corpus size (measured: model rows flat across a 10× decade
    *    while the raw vocabulary grew 10×).
    * With both unset the plan is the historical exact kernel
    * byte-for-byte (no vocab joins exist) — that is the oracle-gated
    * default; CorpusStatsSpec pins pruned == exact when nothing prunes
    * (both knobs) and closed-form pruned corpora for both.
    */
  private[graft] def lmPerplexity(df: DataFrame): DataFrame = {
    val m = lmModel(df, lmMinCountOf(df.sparkSession),
      lmTopKOf(df.sparkSession))
    val (bi, c2, c1, vocab) = (m.bi, m.c2, m.c1, m.vocab)
    val scored = bi
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lnp", round(
        log((col("c2") + lit(1.0)) / (col("c1") + col("v"))), 12))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        array_sort(collect_list(struct(col("pos"), col("lnp")))).as("arr"))
      .withColumn("sum_lnp",
        aggregate(col("arr"), lit(0.0), (acc, x) => acc + x.getField("lnp")))
      .withColumn("nll", round(-col("sum_lnp") / col("n_bigrams"), 6))
      .withColumn("ppl", round(exp(-col("sum_lnp") / col("n_bigrams")), 4))
      .select(col("doc_id"), col("n_bigrams"), col("nll"), col("ppl"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[lmPerplexity]] — same counts, same rounded ln,
    * same left-fold order.
    */
  private val lmPerplexityOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
                  FROM documents),
       bi0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                 i -> struct_pack(pos := i - 1,
                   w1 := ts[CAST(i AS INT)],
                   w2 := ts[CAST(i AS INT) + 1]))) AS bg
               FROM d WHERE len(ts) >= 2),
       bi AS (SELECT doc_id, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2
              FROM bi0),
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
       c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       vv AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(ts) AS w FROM d)),
       sc AS (SELECT bi.doc_id, bi.pos,
                round(ln((c2.c2 + 1.0) / (c1.c1 + vv.v)), 12) AS lnp
              FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
                JOIN c1 ON bi.w1 = c1.w1, vv),
       agg AS (SELECT doc_id, count(*) AS n_bigrams,
                 list_reduce(list_prepend(0.0, list(lnp ORDER BY pos)),
                   (a, x) -> a + x) AS s
               FROM sc GROUP BY doc_id)
       SELECT doc_id, n_bigrams,
         round(-s / n_bigrams, 6) AS nll,
         round(exp(-s / n_bigrams), 4) AS ppl
       FROM agg ORDER BY doc_id"""

  val queries: Map[String, Q] = Map(
    // Per-document quality features: length, word/token/stopword counts,
    // average word length. Everything codegen'd scalar expressions.
    "text_stats" -> ((s, d) => {
      documents(s, d)
        .withColumn("len", length(col("text")))
        .withColumn("word_cnt", wordCnt(col("text")))
        .withColumn("tok_cnt", regexp_count(col("text"), lit("\\w+")))
        .withColumn("stop_cnt", element_at(graft.functions.TextExprs
          .wordSetCounts(col("text"), Seq(Seq("the", "a"))), 1))
        .withColumn("avg_word_len",
          (col("len") - (col("word_cnt") - 1)).cast("double") / col("word_cnt"))
        .select(col("doc_id"), col("len"), col("word_cnt"), col("tok_cnt"),
          col("stop_cnt"), col("avg_word_len"))
        .orderBy(col("doc_id"))
    }),

    // Corpus stats per language (counts + exact integer sums → exact avg).
    "text_lang_stats" -> ((s, d) => {
      documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          avg(col("n_chars")).as("avg_chars"))
        .orderBy(col("lang"))
    }),

    // Tokenization as a table-generating op (explode) + top-20 vocabulary.
    "text_top_tokens" -> ((s, d) => {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // Approximate top tokens via the Misra–Gries sketch — the bounded-
    // memory path when the vocabulary itself is data-sized (URLs, user
    // agents at 100 TB): each task ships ≤ m counters, never the
    // vocabulary. Capacity 256 exceeds the testdata vocabulary, where MG
    // is provably exact — so this runs against the same exact-count
    // oracle as text_top_tokens; SketchSpec pins the approximation-regime
    // bounds at tiny capacity.
    "text_heavy_hitters" -> ((s, d) => {
      documents(s, d)
        .agg(graft.functions.HeavyHitters.heavyHitters(256)(
          split(col("text"), " ")).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h._1").as("token"), col("h._2").as("est_n"))
        .orderBy(col("est_n").desc, col("token"))
        .limit(10)
    }),

    // Language-ID by n-gram/marker-word heuristic: per-language stopword
    // occurrence scores, argmax with fixed priority. Pure scalar regexes —
    // zero shuffles at any scale.
    "text_lang_id" -> ((s, d) => {
      // the four stopword languages score in ONE fused scan
      // (WordSetCounts); zh is a char-class and keeps its regex count
      val wsc = graft.functions.TextExprs.wordSetCounts(col("text"),
        TextFeatures.LangStopwords.map(_._2))
      val scored = documents(s, d).withColumn("wsc", wsc)
      val withScores = TextFeatures.LangStopwords.zipWithIndex
        .foldLeft(scored) { case (df, ((lang, _), i)) =>
          df.withColumn(s"s_$lang", element_at(col("wsc"), i + 1))
        }
        .withColumn("s_zh", TextFeatures.langScore(col("text"),
          TextFeatures.LangMarkers.toMap.apply("zh")))
      val scores = TextFeatures.LangMarkers.map {
        case (lang, _) => lang -> col(s"s_$lang")
      }
      withScores
        .withColumn("pred_lang", TextFeatures.langPredict(scores))
        .select(col("doc_id") +: scores.map(_._2) :+ col("pred_lang"): _*)
        .orderBy(col("doc_id"))
    }),

    // Document fingerprint: polynomial rolling hash over the character
    // stream (order-sensitive, unlike bag-of-words hashes).
    "text_fingerprint" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          TextFeatures.rollingFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish token classes: word / number / punctuation token counts per
    // document (the tokenizer-regex shape used for token-count estimates).
    "text_token_classes" -> ((s, d) => {
      // all three classes from the single-pass kernel (run counts for
      // word/number, char count for punct) — was three regex scans
      documents(s, d)
        .withColumn("cc",
          graft.functions.TextExprs.charClassCounts(col("text")))
        .select(col("doc_id"), col("cc.alpha_runs").as("n_word"),
          col("cc.digit_runs").as("n_num"), col("cc.n_punct").as("n_punct"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: the training-data filter — ratio features plus a
    // composite keep/drop decision, all integer-ratio arithmetic (IEEE
    // division of exact ints → deterministic across engines). The gate
    // itself lives in [[qualityGate]], shared with curate_quality_filter.
    "text_quality_score" -> ((s, d) => {
      qualityGate(documents(s, d))
        .withColumn("n_stop", element_at(graft.functions.TextExprs
          .wordSetCounts(col("text"),
            Seq(TextFeatures.LangStopwords.toMap.apply("en"))), 1))
        .withColumn("word_cnt", wordCnt(col("text")))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") / col("word_cnt"), 4))
        .select(col("doc_id"), col("len"), col("alpha_ratio"),
          col("punct_ratio"), col("stop_ratio"), col("q_keep").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF top terms: tf and df from one tokenization pass, idf as exact
    // integer ratio N/df in IEEE double (deterministic across engines).
    // The df table is VOCABULARY-sized — heavy-tailed and unbounded at
    // 100 TB, so it is NOT broadcast-hinted: the tf⋈df join shuffles on the
    // token (both sides already hash-partitioned by the token from their
    // aggregations, so the join adds no extra exchange on the df side), and
    // AQE broadcasts at runtime only when the vocabulary is actually small.
    // The 1-row corpus count is genuinely bounded → broadcast. Top-k via
    // TakeOrderedAndProject.
    "text_tfidf_top" -> ((s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tok.groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * (col("n").cast("double") / col("df")), 4))
        .select(col("doc_id"), col("token"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("token"))
        .limit(20)
    }),

    // Okapi BM25 (Robertson et al., TREC-3) of every document against a
    // fixed demo query — the retrieval scorer a training-data pipeline
    // runs for corpus search and hard-negative mining. Everything except
    // one O(1)-row global aggregate (N, Σdl, per-term df — broadcast by
    // construction) is row-local: per-term tf comes from an array filter
    // over the tokenized row, so the plan is scan → tiny agg → broadcast
    // cross join → TakeOrderedAndProject. The per-doc score sums the
    // per-term parts in FIXED query order (term0 + term1 + term2) so
    // double addition is deterministic and the DuckDB twin can replay it
    // exactly; ln agreement measured at 19995/20000 bit-exact vs libm
    // with round(,4) absorbing the last-ulp stragglers.
    "text_bm25_top" -> ((s, d) => bm25Top(documents(s, d), Bm25Query)),

    // Corpus-LM perplexity scoring (CCNet quality signal) — see
    // [[lmPerplexity]].
    "text_lm_perplexity" -> ((s, d) => lmPerplexity(documents(s, d))),

    // Repetition detection: the within-document quality signal (heavily
    // repeated n-grams mark boilerplate/spam; cf. Rae et al., Gopher
    // appendix A "repetition filters"). rep_ratio = 1 − distinct/total
    // trigrams. Distinct counting runs on narrow postings (codegen'd
    // hash aggregate), never per-row array_distinct.
    "text_repetition" -> ((s, d) => {
      // distinct trigram count = the size of the row-local sorted
      // distinct gram set — BOTH outputs come from one scan with zero
      // shuffles (the posting groupBy + join formulation this replaces
      // shuffled every trigram for a per-row property). Short docs
      // (n_tri = 0, no postings) were dropped by the old inner join;
      // the filter reproduces that.
      val toks = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"),
          greatest(size(toks) - 2, lit(0)).cast("long").as("n_tri"),
          size(graft.functions.TextExprs.sortedDistinctLongs(
            graft.functions.TextExprs.tokenNgramHashes(col("text"), 3)))
            .cast("long").as("n_distinct"))
        .filter(col("n_tri") > 0)
        .withColumn("rep_ratio", round(
          lit(1.0) - col("n_distinct").cast("double") / col("n_tri"), 4))
        .orderBy(col("doc_id"))
    }),

    // Normalization: lowercase → strip non-alphanumerics (keeping
    // spaces) → collapse space runs — the canonical pre-tokenization
    // cleanup. Emits lengths plus the sha256 of the normalized text (the
    // join/dedup key downstream consumers want) instead of the text
    // itself, so the output never ships the corpus back. Pure codegen'd
    // scalar expressions: zero shuffles before the final sort.
    "text_normalize" -> ((s, d) => {
      // lower() is Spark's (unicode case mapping); strip+collapse is the
      // fused one-pass kernel, spec-pinned equal to the regex chain
      val norm = graft.functions.TextExprs
        .asciiStripCollapse(lower(col("text")))
      documents(s, d)
        .select(col("doc_id"), length(col("text")).as("len_raw"),
          length(norm).as("len_norm"), sha2(norm, 256).as("norm_hash"))
        .orderBy(col("doc_id"))
    }),

    // Token Shannon entropy — the vocabulary-diversity quality signal
    // (low = boilerplate/repetition, high = diverse text; the complement
    // of text_repetition's n-gram view). Row-local fused kernel: zero
    // shuffles before the final sort, vs two posting shuffles for the
    // explode+count formulation. round(4) absorbs cross-engine float
    // summation order.
    "text_entropy" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          round(graft.functions.TextExprs.tokenEntropy(col("text")), 4)
            .as("token_entropy"))
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing — the redaction pass every published training-data
    // pipeline runs before release (emails, IPv4s, phone-shaped
    // numbers). See [[piiScrub]].
    "text_pii_scrub" -> ((s, d) => piiScrub(documents(s, d))),

    // Exact dedup by content hash (sha256) — at 100 TB this is the
    // hash-groupBy dedup: shuffle on a 32-byte key, never on the text.
    "dedup_exact" -> ((s, d) => {
      documents(s, d)
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("text_hash"))
        .orderBy(col("keep_id"))
    }),
  )

  /** PII patterns, written in the REGEX SUBSET THE TWO ENGINES AGREE ON:
    * explicit character classes and counted repetition only — no \d, \w,
    * \b, \s (the measured Java-vs-RE2 divergence class: Java's are
    * Unicode-aware where RE2's are ASCII, and \b doesn't exist in RE2's
    * default mode). One definition shared by the query, the DuckDB
    * oracle, and the closed-form spec.
    */
  private[graft] val EmailPat =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  private[graft] val Ipv4Pat = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
  private[graft] val PhonePat = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"

  /** PII scrub: per-doc match counts (each pattern counted independently
    * on the RAW text) plus the md5 of the text after sequential
    * email → IP → phone replacement — emitted as counts + fingerprint,
    * never the text, like [[text_normalize|the normalize query]]. All
    * row-local byte scans (the fused
    * [[graft.functions.TextExprs.PiiScan]] kernel — one expression, no
    * regex engine, zero shuffles before the final sort); the DuckDB
    * oracle replays both the counts
    * (regexp_extract_all) and the same replacement chain with the 'g'
    * flag (DuckDB replaces FIRST-match-only by default — a silent
    * half-scrub if forgotten). The synthetic corpus is alphabetic, so
    * at the gate the scrub is the identity transform and counts are 0 —
    * the REDACTION semantics are pinned closed-form on adversarial
    * micro-docs in CorpusStatsSpec; the gate proves the two engines'
    * regex dialects agree over the full corpus.
    */
  private[graft] def piiScrub(docs: DataFrame): DataFrame = {
    val scan = graft.functions.TextExprs.piiScan(col("text"))
    docs.select(col("doc_id"),
      scan.getField("n_emails").as("n_emails"),
      scan.getField("n_ips").as("n_ips"),
      scan.getField("n_phones").as("n_phones"),
      md5(scan.getField("scrubbed")).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  /** The original 6-regex-pass formulation of [[piiScrub]] — 3
    * `regexp_count` over the raw text + the 3-stage sequential
    * `regexp_replace` chain. Kept as the semantic REFERENCE for the
    * fused byte-scan kernel ([[graft.functions.TextExprs.PiiScan]]):
    * TextOpsSpec asserts row-for-row equality of the two forms over
    * adversarial corpora (ScalaCheck + closed-form traps). Measured at
    * sf0.1 the composed form is regex-engine bound (6 engine passes + 3
    * intermediate string materializations per row); the kernel scans
    * bytes once per pass with a zero-match fast path.
    */
  private[graft] def piiScrubComposed(docs: DataFrame): DataFrame = {
    val scrub = regexp_replace(regexp_replace(regexp_replace(col("text"),
      EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"), PhonePat, "<PHONE>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Pat)).cast("long").as("n_ips"),
      regexp_count(col("text"), lit(PhonePat)).cast("long").as("n_phones"),
      md5(scrub).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  val oracles: Map[String, String] = Map(
    "text_pii_scrub" ->
      s"""SELECT doc_id,
           CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '$EmailPat', '<EMAIL>', 'g'),
             '$Ipv4Pat', '<IP>', 'g'),
             '$PhonePat', '<PHONE>', 'g')) AS scrub_md5
         FROM documents ORDER BY doc_id""",
    "text_entropy" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
           FROM t GROUP BY doc_id, tok),
         n AS (SELECT doc_id, sum(c) AS n FROM c GROUP BY doc_id)
         SELECT c.doc_id, CAST(n.n AS BIGINT) AS n_tokens,
           round(log2(n.n) - sum(c.c * log2(c.c)) / n.n, 4) AS token_entropy
         FROM c JOIN n USING (doc_id)
         GROUP BY c.doc_id, n.n
         ORDER BY doc_id""",
    "text_lang_id" ->
      """SELECT doc_id,
           CAST(length(regexp_extract_all(text, '\b(the|a|is|of|and)\b')) AS INT) AS s_en,
           CAST(length(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS INT) AS s_de,
           CAST(length(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS INT) AS s_fr,
           CAST(length(regexp_extract_all(text, '\b(el|los|las|y|es)\b')) AS INT) AS s_es,
           CAST(length(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS INT) AS s_zh,
           CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             WHEN s_es >= s_zh THEN 'es'
             ELSE 'zh'
           END AS pred_lang
         FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, greatest(length(text),1)+1),
                 i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    "text_token_classes" ->
      """SELECT doc_id,
           CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_word,
           CAST(length(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_num,
           CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INT) AS n_punct
         FROM documents ORDER BY doc_id""",
    "text_stats" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS len,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) AS word_cnt,
         CAST(length(regexp_extract_all(text, '\w+')) AS INT) AS tok_cnt,
         CAST(length(regexp_extract_all(text, '\b(the|a)\b')) AS INT) AS stop_cnt,
         CAST(length(text) - (length(text) - length(replace(text, ' ', '')) + 1 - 1) AS DOUBLE)
           / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_word_len
         FROM documents ORDER BY doc_id""",
    "text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         avg(n_chars) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_top_tokens" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    // exact counts: MG at capacity ≥ |vocab| never subtracts (see
    // graft.functions.HeavyHitters) — the sketch output IS the true count
    "text_heavy_hitters" ->
      """SELECT token, count(*) AS est_n FROM (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
         GROUP BY token ORDER BY est_n DESC, token LIMIT 10""",
    "text_quality_score" ->
      s"""WITH t AS (
           SELECT doc_id, CAST(length(text) AS INT) AS len,
             $qualityRatioSql,
             length(regexp_extract_all(text, '\\b(the|a|is|of|and)\\b')) AS n_stop,
             length(text) - length(replace(text, ' ', '')) + 1 AS word_cnt
           FROM documents)
         SELECT doc_id, len, alpha_ratio, punct_ratio,
           round(CAST(n_stop AS DOUBLE) / word_cnt, 4) AS stop_ratio,
           ($qualityKeepSql) AS keep
         FROM t ORDER BY doc_id""",
    "text_bm25_top" -> bm25OracleSql(Bm25Query),
    "text_lm_perplexity" -> lmPerplexityOracle,
    "text_tfidf_top" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, token,
           round(tf * (CAST(n AS DOUBLE) / df), 4) AS score
         FROM tf JOIN df USING (token), n
         ORDER BY score DESC, doc_id, token LIMIT 20""",
    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tri AS (SELECT doc_id,
             CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_tri,
             CAST(len(list_distinct(list_transform(
               range(1, greatest(len(t)-2, 0)+1),
               i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
                    || ' ' || t[CAST(i AS INT)+2]))) AS BIGINT) AS n_distinct
           FROM d)
         SELECT doc_id, n_tri, n_distinct,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_tri, 4) AS rep_ratio
         FROM tri WHERE n_tri > 0 ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
         sha256(text) AS text_hash
         FROM documents GROUP BY sha256(text) ORDER BY keep_id""",
    "text_normalize" ->
      """WITH n AS (
           SELECT doc_id, CAST(length(text) AS INT) AS len_raw,
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               '  +', ' ', 'g') AS norm
           FROM documents)
         SELECT doc_id, len_raw, CAST(length(norm) AS INT) AS len_norm,
           sha256(norm) AS norm_hash
         FROM n ORDER BY doc_id""",
  )
}
