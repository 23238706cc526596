package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language-ID (n-gram/stopword heuristic), quality scoring, token counting,
  * and rolling-hash document fingerprinting.
  *
  * All of these are built from codegen'd `org.apache.spark.sql.functions`
  * plus the native Catalyst expressions in [[graft.functions]] (tokenizer,
  * fingerprint, word n-grams, stopword counting and language ID all
  * evaluate in place over UTF8String/ArrayData inside whole-stage
  * codegen); the `*Udf`/`*Hof` members here are reference forms kept for
  * the FunctionsSpec bit-identity cross-checks, not operator paths.
  */
object TextAnalysis {

  /** Whitespace tokenizer (split on runs of whitespace, drop empties).
    * Routed through the native kernel
    * ([[graft.functions.HashKernels.whitespaceTokens]]); [[tokensHof]] is the
    * reference regex/higher-order form it is spec-asserted bit-identical
    * to (and the form every DuckDB oracle replays). */
  def tokens(text: Column): Column =
    graft.functions.GraftExpressions.whitespaceTokens(text)

  /** Reference form of [[tokens]], kept for the FunctionsSpec cross-check. */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Token count, pure column expression (stays in whole-stage codegen). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece regex split — letters runs, digit
    * runs, and single punctuation marks each count as one token. */
  def bpeishTokenCount(text: Column): Column = {
    // one array pass; regexp_extract_all is codegen'd in Spark 4
    size(regexp_extract_all(text, lit("[\\p{L}]+|[0-9]+|[^\\s\\p{L}0-9]"), lit(0)))
  }

  // Tiny embedded stopword lists for the n-gram-free language heuristic.
  // Public knowledge (most frequent function words per language).
  private[graft] val stops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "des", "que", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "una", "que", "en", "por", "con")
  )

  /** Heuristic language ID: fraction of tokens that are stopwords of each
    * candidate language; argmax, `und` (undetermined) if all scores are 0.
    * Implemented as a scalar UDF (single pass over the token array). */
  val langIdUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) "und"
    else {
      val lower = toks.map(_.toLowerCase)
      var best = "und"; var bestHits = 0
      // deterministic iteration order: sorted language keys
      stops.toSeq.sortBy(_._1).foreach { case (lang, sw) =>
        val swSet = sw.toSet
        val hits = lower.count(swSet.contains)
        if (hits > bestHits) { best = lang; bestHits = hits }
      }
      best
    }
  }

  def langId(text: Column): Column =
    graft.functions.GraftExpressions.langId(tokens(text))

  /** Reference form of the quality path's stopword counter, kept for the
    * FunctionsSpec cross-check. */
  private[graft] def stopHitsHof(toks: Column): Column = {
    val enStops = stops("en")
    val lowerToks = transform(toks, x => lower(x))
    size(filter(lowerToks, x => x.isin(enStops: _*)))
  }

  /** Quality scoring signals, all pure column expressions. Returns the input
    * frame with `n_tokens`, `mean_token_len`, `punct_ratio`, `upper_ratio`,
    * `stopword_ratio`, `quality_score` appended. */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val nChar = length(t)
    // native counter ([[graft.functions.HashKernels.stopHits]]);
    // [[stopHitsHof]] is the reference higher-order chain it is
    // spec-asserted bit-identical to
    val stopHits = graft.functions.GraftExpressions.stopHits(toks, "en")
    df.withColumn("n_tokens", nTok)
      .withColumn(
        "mean_token_len",
        when(nTok > 0, (nChar - (nTok - lit(1))).cast("double") / nTok).otherwise(lit(0.0)))
      .withColumn(
        "punct_ratio",
        when(nChar > 0,
          (nChar - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double") / nChar)
          .otherwise(lit(0.0)))
      .withColumn(
        "upper_ratio",
        when(nChar > 0,
          (nChar - length(regexp_replace(t, "[A-Z]", ""))).cast("double") / nChar)
          .otherwise(lit(0.0)))
      .withColumn(
        "stopword_ratio",
        when(nTok > 0, stopHits.cast("double") / nTok).otherwise(lit(0.0)))
      .withColumn(
        "quality_score",
        // bounded [0,1]: reward stopword presence + moderate token length,
        // penalize punctuation soup. Deterministic, branch-free.
        greatest(lit(0.0), least(lit(1.0),
          lit(0.5) * least(col("stopword_ratio") * 4, lit(1.0))
            + lit(0.3) * least(col("n_tokens").cast("double") / 50.0, lit(1.0))
            + lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 5, lit(1.0))))))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.3.2: duplicate
    * and top n-gram fractions — the standard "remove repetitious documents
    * before training" gate). Per document:
    *
    *  - `dup_word_frac`:   fraction of tokens that are repeats of an
    *                       earlier token (1 − |distinct|/|tokens|)
    *  - `dup_bigram_frac`: same over word bigrams
    *  - `top_bigram_frac`: fraction of all bigram slots occupied by the
    *                       single most frequent bigram
    *
    * Scale shape: pure per-row scalar expressions over the native
    * tokenizer and n-gram kernels — no shuffle, no UDF, stays in
    * whole-stage codegen. The top-bigram count is the max gram frequency =
    * the longest equal run of the SORTED gram array, computed by the
    * native [[graft.functions.HashKernels.maxSortedRun]] kernel (one sort + one linear
    * pass, O(L log L) per row; [[topRunHof]] is the interpreted
    * `aggregate(sort_array(...))` reference fold it is spec-asserted
    * equal to) — the naive count-each-distinct-gram form is O(L²) string
    * comparisons, which stalls on exactly the long clean documents a
    * repetition gate must wave through. Adds/overwrites the three signal
    * columns on `df` (standard `withColumn` semantics). */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    // temp columns carry a graft-reserved prefix so a caller column can't
    // collide and get silently dropped; tokenize ONCE and feed the bound
    // token column into the gram kernel (inlining wordNgrams(text) would
    // tokenize every row twice unless subexpression elimination fires)
    val t = "__graft_rep_t"
    val b = "__graft_rep_b"
    df.withColumn(t, tokens(col(textCol)))
      .withColumn(b, graft.functions.GraftExpressions.wordNgrams(col(t), 2))
      .withColumn("dup_word_frac",
        when(size(col(t)) > 0,
          (size(col(t)) - size(array_distinct(col(t)))).cast("double")
            / size(col(t))).otherwise(lit(0.0)))
      .withColumn("dup_bigram_frac",
        when(size(col(b)) > 0,
          (size(col(b)) - size(array_distinct(col(b)))).cast("double")
            / size(col(b))).otherwise(lit(0.0)))
      .withColumn("top_bigram_frac",
        when(size(col(b)) > 0,
          graft.functions.GraftExpressions.maxSortedRun(col(b)).cast("double")
            / size(col(b))).otherwise(lit(0.0)))
      .drop(t, b)
  }

  /** Reference form of the top-bigram counter — the interpreted
    * `aggregate(sort_array(...))` longest-equal-run fold the native
    * [[graft.functions.HashKernels.maxSortedRun]] kernel replaces; kept for the
    * FunctionsSpec equality cross-check. */
  private[graft] def topRunHof(b: Column): Column =
    aggregate(
      sort_array(b),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"),
          st.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))

  /** 64-bit polynomial rolling-hash fingerprint of the whole document
    * (base 1000003, over UTF-16 code units). Deterministic, order-sensitive:
    * two documents share a fingerprint iff (modulo collisions) they are
    * byte-identical — the exact-dedup key that avoids shuffling full text.
    *
    * Reference form, kept for the FunctionsSpec bit-identity cross-check;
    * [[fingerprint]] routes through the native kernel
    * ([[graft.functions.HashKernels.polyHash]]). */
  val fingerprintUdf = udf { (s: String) =>
    if (s == null) 0L
    else {
      var h = 1125899906842597L
      var i = 0
      while (i < s.length) { h = h * 1000003L + s.charAt(i).toLong; i += 1 }
      h
    }
  }

  def fingerprint(text: Column): Column =
    graft.functions.GraftExpressions.fingerprint64(text)

  /** Character k-shingles of a document as an array column (distinct).
    * Guarded: Spark's `sequence(a,b)` is descending when a > b, so short
    * documents must produce an empty array, not a reversed range. */
  def shingles(text: Column, k: Int): Column = {
    val n = length(text) - (k - 1)
    when(n >= 1,
      array_distinct(transform(sequence(lit(1), n), i => substring(text, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-grams as an array column. Routed through the native kernel
    * ([[graft.functions.HashKernels.wordNgrams]]); [[wordNgramsHof]] is the
    * reference higher-order form it is spec-asserted bit-identical to. */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.GraftExpressions.wordNgrams(tokens(text), n)

  /** DISTINCT word n-grams (first-occurrence order, exactly
    * `array_distinct(wordNgrams(...))`) with the dedup fused into the
    * native kernel — duplicate gram strings are never materialized. This
    * is the gram-explosion input of [[graft.pipeline.Dedup.ngramJaccard]],
    * the hottest per-row loop of the n-gram dedup path. */
  def distinctWordNgrams(text: Column, n: Int): Column =
    graft.functions.GraftExpressions.wordNgrams(tokens(text), n, distinct = true)

  /** Reference form of [[wordNgrams]], kept for the FunctionsSpec
    * cross-check (same descending-sequence guard as [[shingles]]).
    *
    * The tokenization is bound ONCE per row as a lambda variable (the
    * 1-element-array `transform` trick): inlining `tokens(text)` into the
    * inner lambda would re-run the split per n-gram element — O(T²)
    * work per document, which dominated the whole ngram-Jaccard
    * pipeline (7s of a 10s query just materializing grams at sf0.1). */
  private[graft] def wordNgramsHof(text: Column, n: Int): Column =
    element_at(transform(array(tokens(text)), toks => {
      val m = size(toks) - (n - 1)
      when(m >= 1,
        transform(sequence(lit(0), m - 1), i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }), 1)
}
