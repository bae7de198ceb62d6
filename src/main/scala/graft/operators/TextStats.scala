package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale document pipelines:
  * token counting, quality scoring, stopword-based language ID, and
  * rolling-hash fingerprinting.
  *
  * Everything is a per-row projection over built-in codegen'd
  * functions (regexp_*, split, higher-order array ops) — no UDFs, no
  * shuffles: these scale linearly with documents and pipeline into
  * whatever scan they are composed over. All ratios are ratios of
  * integers evaluated in double, so results are bit-deterministic and
  * oracle-comparable.
  */
object TextStats {

  /** Lowercase, trim, collapse whitespace runs (shared with [[Dedup]]). */
  def norm(c: Column): Column = Dedup.normalizeText(c)

  /** Tokenizer regex in the BPE-pretokenizer spirit: letter runs,
    * digit runs, or single non-alnum marks. */
  val tokenPattern = "[a-z0-9]+|[^a-z0-9 ]"

  /** Whitespace token count + regex (BPE-ish pretokenizer) token count. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(split(norm(col(textCol)), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(norm(col(textCol)), lit(tokenPattern), lit(0)))
        .cast("long").as("re_tokens"))

  /** Per-document quality signals: normalized length, token count,
    * mean token length, punctuation ratio, English-stopword ratio,
    * and a cheap keep/drop flag in the Gopher-rules style (all
    * thresholds are ratios of the signals themselves). */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one QualityStats kernel call per row (bit-identical to the
    // composed built-in form, which the oracles keep as the
    // independent truth); staged through a projection so the kernel
    // evaluates once
    df.select(col(idCol),
        graft.functions.quality.quality_stats(norm(col(textCol))).as("__q"))
      .select(col(idCol),
        col("__q")(3).as("n_chars_norm"),
        col("__q")(1).as("n_tokens"),
        ((col("__q")(3) - (col("__q")(1) - 1)).cast("double") / col("__q")(1))
          .as("avg_token_len"),
        (col("__q")(2).cast("double") / col("__q")(3)).as("punct_ratio"),
        (col("__q")(0).cast("double") / col("__q")(1)).as("stopword_ratio"),
        (col("__q")(1) >= 5 && col("__q")(1) <= 100000 &&
          (col("__q")(2).cast("double") / col("__q")(3)) <= lit(0.3)).as("keep"))
  }

  /** Gopher-style rule flags (Rae et al. 2021 §A1.1, public): each rule
    * is a pure integer comparison — cross-multiplied instead of a float
    * ratio — so the flags are bit-identical across engines.
    *
    * Rules over the normalized text: word count within
    * [`minWords`, `maxWords`]; mean word length within [3, 10]
    * (`3·n ≤ chars ≤ 10·n`); symbol-to-word ratio ≤ 1/10 (`#` and
    * `...`); ≥ 4/5 of words contain an alphabetic character; at least
    * `minStopHits` DISTINCT stopwords present (the "closed-class
    * evidence" rule). One narrow projection per row — no shuffle, no
    * UDF — so the filter pipelines into any scan at corpus scale. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 40, maxWords: Int = 100000,
      minStopHits: Int = 2): DataFrame = {
    val (nWords, wordChars, nSymbols, nAlphaWords, stopDistinct) =
      gopherParts(norm(col(textCol)))
    df.select(col(idCol),
        nWords.cast("long").as("n_words"),
        wordChars.cast("long").as("word_chars"),
        nSymbols.cast("long").as("n_symbols"),
        nAlphaWords.cast("long").as("n_alpha_words"),
        stopDistinct.cast("long").as("n_stop_distinct"))
      .withColumn("rule_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("rule_mean_word_len",
        col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10)
      .withColumn("rule_symbol_ratio", col("n_symbols") * 10 <= col("n_words"))
      .withColumn("rule_alpha_words", col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("rule_stopwords", col("n_stop_distinct") >= minStopHits)
      .withColumn("keep",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_symbol_ratio") && col("rule_alpha_words") && col("rule_stopwords"))
  }

  /** The five rule signals over an already-normalized text column:
    * (n_words, word_chars, n_symbols, n_alpha_words, n_stop_distinct).
    * Shared by [[gopherRules]] (per-rule diagnostic frame) and
    * [[gopherKeep]] (row-local boolean). */
  private def gopherParts(t: Column): (Column, Column, Column, Column, Column) = {
    val words = split(t, " ")
    val nWords = size(words)
    // single-space normalized => word chars = chars - (n-1) separators
    val wordChars = length(t) - (nWords - 1)
    val nSymbols = size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0)))
    val nAlphaWords = size(filter(words, w => w.rlike("[a-z]")))
    val stopDistinct =
      size(filter(array_distinct(words), w => enStopwords.map(w === _).reduce(_ || _)))
    (nWords, wordChars, nSymbols, nAlphaWords, stopDistinct)
  }

  /** [[gopherRules]]'s composite keep decision as ONE row-local
    * boolean Column — for pipelines that carry the gate as a survival
    * flag instead of filtering frame-by-frame
    * ([[CorpusMix.curateFunnelCounts]]). `textCol` is normalized
    * internally (idempotent on already-normal text), so the flag is
    * bit-identical to `gopherRules(...)("keep")` on the same input. */
  def gopherKeep(textCol: Column, minWords: Int = 40,
      maxWords: Int = 100000, minStopHits: Int = 2): Column = {
    val (nWords, wordChars, nSymbols, nAlphaWords, stopDistinct) =
      gopherParts(norm(textCol))
    nWords >= minWords && nWords <= maxWords &&
      wordChars >= nWords * 3 && wordChars <= nWords * 10 &&
      nSymbols * 10 <= nWords &&
      nAlphaWords * 5 >= nWords * 4 &&
      stopDistinct >= minStopHits
  }

  /** Encoding-damage QA over the RAW text (deliberately not
    * [[norm]]ed — lowercasing maps the mojibake lead chars Ã→ã and
    * destroys the double-encoding signature): the four typed counts
    * of [[graft.functions.EncodingKernels]] (replacement chars, C1
    * controls, latin-1-misdecoded UTF-8 pairs, stray C0 controls) in
    * one codegen kernel pass, zero exchange. `keep` = all four
    * counts zero — the gate a crawl pipeline runs right after
    * charset decoding, before any content heuristics. */
  def encodingArtifacts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ar = graft.functions.encoding.encoding_artifacts(col(textCol))
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"), ar.as("ea"))
      .select(col(idCol), col("n_chars"),
        col("ea")(0).as("n_replacement"),
        col("ea")(1).as("n_c1_controls"),
        col("ea")(2).as("n_double_utf8"),
        col("ea")(3).as("n_c0_controls"))
      .withColumn("keep",
        col("n_replacement") + col("n_c1_controls") +
          col("n_double_utf8") + col("n_c0_controls") === 0L)
  }

  /** The integer-exact quality key of [[budgetSelect]] /
    * [[sourceCapSelect]] as a standalone (id, quality_milli) frame —
    * stopword-permille minus punctuation-permille, both integer
    * divisions, so engines agree bit-for-bit. Exposed for ops that
    * rank documents by quality without the budget machinery
    * ([[Dedup.dedupKeepBest]] picks cluster representatives with it). */
  def qualityMilli(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.quality.quality_stats(norm(col(textCol))).as("__q"))
      .select(col(idCol),
        col("__q")(0).as("__stop"), col("__q")(1).as("__ntok"),
        col("__q")(2).as("__punct"),
        greatest(col("__q")(3), lit(1L)).as("__nchars"))
      .select(col(idCol),
        expr("((__stop * 1000) div __ntok) - ((__punct * 1000) div __nchars)")
          .as("quality_milli"))

  /** Greedy token-budget selection: keep the highest-quality documents
    * (quality desc, doc_id asc) while the running token total stays
    * within `budgetTokens` — the "fill a training mix under budget"
    * curation op. The quality key is integer-exact
    * (stopword-permille minus punctuation-permille, both integer
    * division), so engines agree bit-for-bit.
    *
    * Scale shape: the naive form is one global sort + an unpartitioned
    * running-sum window — a single-task pipeline at corpus scale.
    * Here: (1) one partially-aggregated pass builds the per-quality-key
    * token histogram (<= ~2001 rows however large the corpus); (2) the
    * driver finds the boundary key and the budget remaining for it;
    * (3) full buckets pass a plain filter and only the BOUNDARY
    * bucket's docs flow through a window — bounded by one quality
    * key's population, not the corpus. */
  def budgetSelect(df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    val scored = df.select(col(idCol),
        graft.functions.quality.quality_stats(norm(col(textCol))).as("__q"))
      .select(col(idCol),
        col("__q")(0).as("__stop"), col("__q")(1).as("__ntok"),
        col("__q")(2).as("__punct"),
        greatest(col("__q")(3), lit(1L)).as("__nchars"))
      .select(col(idCol),
        expr("((__stop * 1000) div __ntok) - ((__punct * 1000) div __nchars)")
          .as("quality_milli"),
        col("__ntok").as("n_tokens"))
      // the slim (id, key, tokens) frame feeds the histogram collect
      // AND the returned selection — checkpoint so the text-scoring
      // kernel runs one corpus pass, not two (the sourceCapSelect
      // discipline)
      .localCheckpoint()
    // phase 1: token totals per quality key, descending
    val buckets = scored.groupBy("quality_milli")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    var cum = 0L
    var boundary = Option.empty[(Long, Long)] // (key, remaining budget)
    buckets.foreach { case (k, bt) =>
      if (boundary.isEmpty && cum + bt > budgetTokens)
        boundary = Some((k, budgetTokens - cum))
      if (boundary.isEmpty) cum += bt
    }
    boundary match {
      case None => scored // everything fits the budget
      case Some((bk, remaining)) =>
        // One evaluation of the scoring subtree, one window shuffle
        // bounded by the selected (~budget-sized) rows: full buckets
        // pass unconditionally, the boundary bucket by running sum. (A
        // union of a plain filter + a boundary-only window would
        // evaluate the per-doc kernels twice.)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("quality_milli").orderBy(col(idCol).asc)
        scored.filter(col("quality_milli") >= bk)
          .withColumn("__cum", sum(col("n_tokens")).over(w))
          .filter(col("quality_milli") > bk || col("__cum") <= remaining)
          .drop("__cum")
    }
  }

  /** Per-source token cap, highest quality first (the "cap each
    * domain/dump at N tokens" curation op — [[budgetSelect]]
    * generalized per group): within every source, keep docs in
    * (quality desc, id asc) order while the source's running token
    * total stays within `capTokens`. Same integer-exact quality key as
    * [[budgetSelect]].
    *
    * Scale shape — fully distributed, no driver pass at ANY source
    * cardinality (millions of domains): (1) one partial-agged pass
    * reduces the corpus to the (source, quality-key) token histogram;
    * (2) the per-source boundary bucket and its remaining budget come
    * from a running-sum window over THAT histogram (bounded by sources
    * x ~2001 keys, shuffled by source); (3) docs join the per-source
    * boundary row (AQE broadcasts it while small), full buckets pass a
    * plain filter, and only boundary-bucket docs depend on the
    * per-(source, key) id-ordered window — bounded by one bucket's
    * population. One evaluation of the scoring subtree, as in
    * [[budgetSelect]]. */
  def sourceCapSelect(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, capTokens: Long): DataFrame = {
    // the scored frame feeds BOTH the histogram and the join probe —
    // materialize the slim (id, src, key, tokens) projection once so
    // the text-scoring kernel runs a single corpus pass, not two
    val scored = df.select(col(idCol), col(srcCol),
        graft.functions.quality.quality_stats(norm(col(textCol))).as("__q"))
      .select(col(idCol), col(srcCol),
        col("__q")(0).as("__stop"), col("__q")(1).as("__ntok"),
        col("__q")(2).as("__punct"),
        greatest(col("__q")(3), lit(1L)).as("__nchars"))
      .select(col(idCol), col(srcCol),
        expr("((__stop * 1000) div __ntok) - ((__punct * 1000) div __nchars)")
          .as("quality_milli"),
        col("__ntok").as("n_tokens"))
      .localCheckpoint()
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol)).orderBy(col("quality_milli").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val boundary = scored.groupBy(col(srcCol), col("quality_milli"))
      .agg(sum("n_tokens").as("__bt"))
      .withColumn("__cum", sum(col("__bt")).over(wRun))
      .filter(col("__cum") > capTokens && col("__cum") - col("__bt") <= capTokens)
      .select(col(srcCol), col("quality_milli").as("__bk"),
        (lit(capTokens) - (col("__cum") - col("__bt"))).as("__rem"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol), col("quality_milli")).orderBy(col(idCol).asc)
    scored.join(boundary, Seq(srcCol), "left")
      .filter(col("__bk").isNull || col("quality_milli") >= col("__bk"))
      .withColumn("__cum2", sum(col("n_tokens")).over(wIn))
      .filter(col("__bk").isNull || col("quality_milli") > col("__bk") ||
        col("__cum2") <= col("__rem"))
      .select(col(idCol), col(srcCol), col("quality_milli"), col("n_tokens"))
  }

  val enStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val esStopwords: Seq[String] =
    Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con")
  val frStopwords: Seq[String] =
    Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est")
  val deStopwords: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu")

  private def stopScore(words: Column, stops: Seq[String]): Column =
    size(filter(words, w => stops.map(w === _).reduce(_ || _))).cast("long")

  /** Stopword-profile language ID over {en, es, fr, de}: score = count
    * of tokens found in each language's closed-class list; predicted
    * language is the argmax with fixed priority en > es > fr > de on
    * ties, 'und' when nothing matches. A word-level n-gram heuristic —
    * deterministic, SQL-expressible, no model artifact. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(norm(col(textCol)), " ")
    val sEn = stopScore(words, enStopwords)
    val sEs = stopScore(words, esStopwords)
    val sFr = stopScore(words, frStopwords)
    val sDe = stopScore(words, deStopwords)
    df.select(col(idCol),
      sEn.as("score_en"), sEs.as("score_es"), sFr.as("score_fr"), sDe.as("score_de"))
      .withColumn("pred_lang",
        when(greatest(col("score_en"), col("score_es"), col("score_fr"), col("score_de")) === 0, "und")
          .when(col("score_en") >= col("score_es") && col("score_en") >= col("score_fr") &&
            col("score_en") >= col("score_de"), "en")
          .when(col("score_es") >= col("score_fr") && col("score_es") >= col("score_de"), "es")
          .when(col("score_fr") >= col("score_de"), "fr")
          .otherwise("de"))
  }

  /** Character-trigram + script-point language ID over the 12
    * [[LangProfiles]] languages — the Cavnar-Trenkle profile method in
    * integer-exact form (see LangProfiles for the model). Output: one
    * integer `score_<lang>` column per language and `pred_lang` =
    * first language in [[LangProfiles.langs]] order reaching the max
    * score, `und` when every score is 0.
    *
    * Scale shape: a single narrow projection — the trigram array and
    * the profile literals live inside one row's expression tree, the
    * script counts are codegen'd regexp length-deltas, and nothing
    * shuffles; the profile tables are a few KB and ride into the plan
    * as literals exactly like [[classifierScore]]'s weights. */
  def languageIdTrigram(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val scored = withLangScores(df.select(col(idCol),
      norm(col(textCol)).as("__t")), "__t")
    scored.drop("__t")
  }

  /** Append `score_<lang>` columns + `pred_lang` for the ALREADY
    * NORMALIZED text in `tCol` (shared by [[languageIdTrigram]] and
    * fixture-building queries that construct the text themselves).
    * One [[graft.functions.LangKernels]] call per row computes all 12
    * scores in a single text traversal (codegen'd; the composed
    * built-in form measured ~1.5k docs/s at sf1 — interpreted
    * higher-order filters over 12 x 60-entry literal arrays — and was
    * replaced by this kernel; the DuckDB oracle rendering is
    * unchanged and stays bit-identical). */
  def withLangScores(df: DataFrame, tCol: String): DataFrame = {
    val withScores = LangProfiles.langs.zipWithIndex
      .foldLeft(df.withColumn("__ls",
        graft.functions.lang.lang_scores(col(tCol)))) {
        case (acc, (lang, i)) =>
          acc.withColumn(s"score_$lang", element_at(col("__ls"), i + 1))
      }
    val scoreCols = LangProfiles.langs.map(l => col(s"score_$l"))
    val mx = greatest(scoreCols: _*)
    val pred = LangProfiles.langs.foldRight(lit("und")) { (lang, els) =>
      when(col(s"score_$lang") === mx, lang).otherwise(els)
    }
    withScores
      .withColumn("pred_lang", when(mx === 0, "und").otherwise(pred))
      .drop("__ls")
  }

  /** TRAIN language profiles from a labeled corpus — the distributed
    * form of the offline derivation behind [[LangProfiles.profiles]]:
    * per (lang, trigram) occurrence counts over the padded code-point
    * trigram stream, differential score d = n - max(count in any OTHER
    * language), keep d >= 1, rank per language by (d desc, n desc,
    * gram asc), top `k`. All integer counts and a deterministic total
    * order, so the oracle replays every rank bit-for-bit.
    *
    * Scale shape: the exploded gram stream reduces immediately to the
    * vocabulary-bounded (lang, gram, n) frame (map-side partial agg);
    * the max-other computation is one window per GRAM over <= |langs|
    * rows (never skewed: a gram has at most one row per language); the
    * per-lang rank window sorts one partition per LANGUAGE whose size
    * is that language's distinct-trigram vocabulary (d >= 1 survivors)
    * — bounded by vocabulary, not corpus: trigram inventories top out
    * in the millions even on web-scale text, and a deployment that
    * needs less can pre-cut with a higher d threshold before the
    * window. At 100 TB the only corpus-sized shuffle is the combined
    * count reduction — the canonical word-count shape. */
  def langProfilesTrain(df: DataFrame, idCol: String, textCol: String,
      langCol: String, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(langCol).as("lang"),
        explode(graft.functions.lang.char_trigrams(norm(col(textCol))))
          .as("gram"))
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("n"))
    val wg = Window.partitionBy("gram")
    val scored = counts
      .withColumn("__mx", max(col("n")).over(wg))
      .withColumn("__nmx",
        sum(when(col("n") === col("__mx"), 1L).otherwise(0L)).over(wg))
      .withColumn("__m2",
        max(when(col("n") === col("__mx"), lit(null)).otherwise(col("n"))).over(wg))
      .withColumn("max_other",
        when(col("n") === col("__mx") && col("__nmx") === 1,
          coalesce(col("__m2"), lit(0L))).otherwise(col("__mx")))
      .withColumn("d", col("n") - col("max_other"))
      .filter(col("d") >= 1)
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("lang")
        .orderBy(col("d").desc, col("n").desc, col("gram").asc)))
      .filter(col("rank") <= k)
      .select(col("lang"), col("gram"), col("n"), col("max_other"),
        col("d"), col("rank").cast("long").as("prof_rank"))
  }

  /** PII/noise scrubbing: emails, URLs and long digit runs replaced by
    * placeholder tokens — per-row regexp chain, fully pushed/codegen'd.
    * Patterns restricted to syntax with identical semantics in Java
    * regex and RE2 (oracle parity). */
  def scrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = norm(col(textCol))
    val t1 = regexp_replace(t0, "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+", "<email>")
    val t2 = regexp_replace(t1, "https?://[^ ]+", "<url>")
    val t3 = regexp_replace(t2, "[0-9][0-9][0-9][0-9][0-9]+", "<num>")
    df.select(col(idCol), t3.as("scrubbed"),
      (length(t0) - length(t3)).cast("long").as("chars_removed"))
  }

  /** The typed PII category table shared verbatim by [[piiProfile]]
    * and its oracle: (name, pattern, placeholder), applied IN ORDER on
    * the progressively scrubbed text (an email inside a URL is counted
    * once, under the earlier category). Patterns stay in the
    * Java-regex/RE2 COMMON subset (no backrefs, no lookaround; `\b`,
    * bounded reps, alternation, non-capturing groups behave
    * identically) so the oracle replays every count and replacement. */
  val piiCategories: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+", "<email>"),
    ("url", "https?://[^ ]+", "<url>"),
    ("cc", "\\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\\b", "<cc>"),
    ("phone",
      "\\+[0-9]{1,3}[ -][0-9][0-9 -]{6,}[0-9]|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}",
      "<phone>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<ip>"),
    ("num", "[0-9][0-9][0-9][0-9][0-9]+", "<num>"))

  /** Typed PII detection + scrub — the audit-grade form of [[scrub]]:
    * per-document occurrence counts for each [[piiCategories]] category
    * (counted on the progressively scrubbed text, so categories never
    * double-count each other's spans) plus the fully scrubbed text and
    * chars_removed. ONE fused codegen kernel call per row
    * ([[graft.functions.PiiKernels]]): each category's count and
    * replacement share a single Matcher traversal, the text converts
    * once (the six-stage regexp_count+regexp_replace chain this
    * replaces re-traversed the text twelve times), and a necessary-
    * literal prescan skips stages that provably cannot match — r16
    * measured 3.5 -> 1.19 s at sf1 and 32.1 -> 10.2 s at sf10 (3.1x).
    * Semantics bit-identical: same java.util.regex engine, same
    * sequential precedence, oracle unchanged. No shuffle — the same
    * pushdown-friendly narrow map as [[scrub]], with the counts a
    * privacy review actually reads. */
  def piiProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = norm(col(textCol))
    val prof = graft.functions.pii.pii_profile(t0)
    val countCols = piiCategories.map { case (name, _, _) =>
      prof.getField(s"n_$name").as(s"n_$name") }
    val scrubbed = prof.getField("scrubbed")
    df.select(col(idCol) +: countCols :+ scrubbed.as("scrubbed") :+
      (length(t0) - length(scrubbed)).cast("long").as("chars_removed"): _*)
  }

  /** Repetition score (Gopher-style): frequency of the most repeated
    * token over the token count. 1.0 = one token repeated throughout.
    * Max multiplicity = the longest equal run of the SORTED token
    * array, folded in one aggregate pass — O(n log n) per document
    * where the distinct-token × contains scan it replaces was
    * O(distinct · n) (measured 2.3x on the sf0.1 suite). */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(norm(col(textCol)), " ")
    // split() never yields an empty array (worst case [""]), so the
    // fold always sees at least one element and best >= 1
    val topCount = aggregate(
      array_sort(words),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    df.select(col(idCol),
      topCount.cast("long").as("top_token_count"),
      size(words).cast("long").as("n_tokens"),
      (topCount.cast("double") / size(words)).as("repetition_ratio"))
  }

  /** Integer-exact Shannon-entropy gauge over the normalized text —
    * the information-density axis the heuristic quality signals and
    * the trained classifier don't cover: character milli-entropy
    * catches degenerate/gibberish content (`zzzz…` scores 0 where
    * punct/stopword ratios can still look plausible) and the
    * token-entropy permille (token entropy relative to its uniform
    * maximum) catches fluent-looking word-level repetition
    * independently of document length. All outputs are integers from
    * the fixed-point milli-log2 of
    * [[graft.functions.EntropyKernels]] — the gauge's contract is
    * that integer formula, shared verbatim (mantissa table and all)
    * with the SQL oracle, so results are hash-exact across engines.
    *
    * One codegen kernel call per row (a composed higher-order-function
    * form would re-scan the char array once per distinct symbol), zero
    * exchange — the gate pipelines into any scan at corpus scale.
    * `keep` = milli_char_entropy ≥ 3200 ∧ token_entropy_permille ≥ 500
    * (measured floor on the generator corpus: 3680 / 689). */
  def entropyGauge(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.entropy.entropy_stats(norm(col(textCol)))
    df.select(col(idCol), st.as("es"))
      .select(col(idCol),
        col("es")(0).as("n_chars"),
        col("es")(1).as("n_distinct_chars"),
        col("es")(2).as("milli_char_entropy"),
        col("es")(3).as("n_tokens"),
        col("es")(4).as("n_distinct_tokens"),
        col("es")(5).as("milli_token_entropy"),
        col("es")(6).as("token_entropy_permille"))
      .withColumn("keep",
        col("milli_char_entropy") >= 3200 && col("token_entropy_permille") >= 500)
  }

  /** Wrap-safe multiplicative hash bucket shared by [[splitAssign]],
    * [[packSequences]] and [[decontaminate]]: reduce the id below
    * ~1e6 BEFORE the Knuth-constant multiply, so the product stays
    * under 2^63 for any int64 id — Spark would silently wrap on
    * overflow while DuckDB raises, so the naive `id * K % m` diverges
    * between engines past id ~3.4e9. Max product here is
    * 1000002 * 2654435761 ~ 2.7e15. */
  def idBucket(id: Column, m: Long): Column =
    pmod(pmod(id, lit(1000003L)) * lit(2654435761L), lit(m))

  /** The DuckDB rendering of [[idBucket]] — keep textually in lockstep.
    * DuckDB `%` follows the dividend's sign while Spark `pmod` is
    * always non-negative, so the inner mod is rendered as a positive
    * mod: for a negative id both engines then agree bucket-for-bucket.
    * (Product stays non-negative, so the outer `%` needs no wrap.) */
  def idBucketSql(id: String, m: Long): String =
    s"(((($id % 1000003) + 1000003) % 1000003) * 2654435761) % $m"

  /** Deterministic train/val/test assignment by multiplicative id hash
    * (Knuth constant) — stable across runs/engines, no RNG, joins and
    * filters prune on it. Buckets: [0, valPct) -> "val",
    * [valPct, valPct+testPct) -> "test", rest "train". */
  def splitAssign(df: DataFrame, idCol: String,
      valPct: Int = 5, testPct: Int = 5): DataFrame = {
    val bucket = idBucket(col(idCol), 100L)
    df.withColumn("split",
      when(bucket < valPct, "val")
        .when(bucket < valPct + testPct, "test")
        .otherwise("train"))
  }

  /** Context-window chunking: split each document into word chunks of
    * at most `chunkTokens`, keyed (id, chunk_idx) — the 1->N shape that
    * feeds tokenizers. Whitespace tokens over normalized text. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.text.chunk_words(norm(col(textCol)), chunkTokens))
          .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .withColumn("chunk_tokens", size(split(col("chunk_text"), " ")).cast("long"))

  /** SLIDING-window chunking with overlap — [[chunk]]'s retrieval
    * sibling (embedding indexes want adjacent chunks to share
    * `chunkTokens - strideTokens` words of context so no query
    * straddles a hard cut): chunk c covers words [c·stride,
    * c·stride + chunkTokens) of the normalized whitespace
    * tokenization, and the chunk count is
    * `1 + ceil(max(0, n − chunkTokens) / stride)` — every word
    * covered, the last window starts before the end (stride <=
    * chunkTokens enforced, so it is never empty), a doc shorter than
    * one window is its own single chunk. Entirely built-in
    * expressions (split / sequence / explode / slice) — codegen'd,
    * no UDF, a narrow 1->N map; text never shuffles. */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"chunkWindows: need 0 < stride <= chunk, got $strideTokens/$chunkTokens")
    val words = split(norm(col(textCol)), " ")
    df.select(col(idCol), words.as("__ws"), size(words).cast("long").as("__n"))
      .withColumn("__nc", expr(
        s"CASE WHEN __n <= $chunkTokens THEN 1L " +
          s"ELSE 1L + (__n - $chunkTokens + $strideTokens - 1) div $strideTokens END"))
      .select(col(idCol), col("__ws"), col("__n"),
        explode(expr("sequence(0L, __nc - 1L)")).as("chunk_idx"))
      .withColumn("__cw", expr(
        s"slice(__ws, cast(chunk_idx * $strideTokens + 1 as int), $chunkTokens)"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * strideTokens).as("start_word"),
        size(col("__cw")).cast("long").as("n_words"),
        length(concat_ws(" ", col("__cw"))).cast("long").as("n_chars"),
        element_at(col("__cw"), 1).as("first_word"),
        element_at(col("__cw"), -1).as("last_word"))
  }

  /** Content-defined chunking (the Rabin/gear CDC family dedup
    * pipelines cut with): a boundary falls after every length-`w`
    * code-point window whose portable hash ≡ 0 (mod `modulus`), so cut
    * positions depend only on local CONTENT — insert a prefix and the
    * chunk stream realigns after one window, where fixed-size chunking
    * shifts every boundary (the property that makes chunk-level dedup
    * robust to edits). Expected chunk length ≈ `modulus` code points;
    * this is the unbounded-size variant (no min/max clamp — compose a
    * re-split downstream if hard bounds are needed).
    *
    * Scale shape: one codegen kernel pass emits per-position hashes,
    * the explode filters to ~len/modulus cut rows before any shuffle,
    * and every window partitions by document id. The only join is
    * chunk-rows ← documents on id. Raw text, code-point indexing —
    * Spark `substring`/`length` and DuckDB slicing/`len` agree. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, modulus: Int = 64): DataFrame = {
    require(w >= 2 && modulus >= 2)
    val wOrd = Window.partitionBy(idCol).orderBy("__ce")
    val cuts = df.select(col(idCol),
        posexplode(graft.functions.text.char_gram_portable_hashes(col(textCol), w))
          .as(Seq("__p", "__h")))
      .filter(pmod(col("__h"), lit(modulus.toLong)) === 0L)
      .select(col(idCol), (col("__p") + w).cast("long").as("__ce")) // 1-based gram end
    val mids = cuts.select(col(idCol),
      (coalesce(lag(col("__ce"), 1).over(wOrd), lit(0L)) + 1L).as("chunk_start"),
      col("__ce").as("__end"))
    val docs = df.select(col(idCol), col(textCol).as("__t"),
      length(col(textCol)).cast("long").as("__len"))
    val tails = docs.join(
        cuts.groupBy(col(idCol)).agg(max(col("__ce")).as("__last")), Seq(idCol), "left")
      .select(col(idCol), (coalesce(col("__last"), lit(0L)) + 1L).as("chunk_start"),
        col("__len").as("__end"))
      .filter(col("chunk_start") <= col("__end")) // cut exactly at EOF -> no tail
    mids.unionByName(tails)
      .join(docs, Seq(idCol))
      .select(col(idCol),
        row_number().over(Window.partitionBy(idCol).orderBy("chunk_start"))
          .cast("long").as("chunk_idx"),
        col("chunk_start"),
        (col("__end") - col("chunk_start") + 1L).as("chunk_len"),
        expr("substring(__t, chunk_start, __end - chunk_start + 1)").as("chunk"))
  }

  /** Greedy sequence packing: assign documents to training packs of at
    * most `budget` whitespace tokens (a doc longer than the budget gets
    * a pack of its own). Documents are processed in id order within
    * deterministic hash buckets — the bucket is the parallelism unit,
    * so the result is reproducible at any cluster size while the work
    * distributes across `buckets` independent streams (pick buckets ~
    * cluster cores at scale; packing quality is unaffected because any
    * greedy order is equally valid). One shuffle + in-partition sort +
    * streaming fold — no per-group materialization. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Long, buckets: Int): DataFrame =
    packWithOrder(df, idCol, size(split(norm(col(textCol)), " ")).cast("long"),
      budget, buckets, Seq(col("_2"), col("_1")))

  /** [[packSequences]] over a PRECOMPUTED token-count column — the form
    * that composes with a real tokenizer ([[bpeEncode]]'s `n_tokens`)
    * instead of the whitespace proxy. Same machinery, same determinism,
    * same single shuffle. */
  def packSequencesBy(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long, buckets: Int): DataFrame =
    packWithOrder(df, idCol, col(tokenCol).cast("long"),
      budget, buckets, Seq(col("_2"), col("_1")))

  /** Next-fit-DECREASING packing: identical machinery, but each bucket
    * stream is processed largest-document-first — the classic bin-
    * packing heuristic that cuts fragmentation (a large doc never
    * arrives last to a nearly-full pack). Same determinism argument:
    * the order is a pure function of (bucket, tokens, id). */
  def packSequencesNfd(df: DataFrame, idCol: String, textCol: String,
      budget: Long, buckets: Int): DataFrame =
    packWithOrder(df, idCol, size(split(norm(col(textCol)), " ")).cast("long"),
      budget, buckets, Seq(col("_2"), col("_3").desc, col("_1")))

  private def packWithOrder(df: DataFrame, idCol: String, tokens: Column,
      budget: Long, buckets: Int,
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    val enc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val outEnc: Encoder[(Long, Long, Long, Long)] = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    df.select(col(idCol).cast("long").as("_1"),
        idBucket(col(idCol).cast("long"), buckets.toLong).as("_2"),
        tokens.as("_3"))
      .as[(Long, Long, Long)](enc)
      .repartition(col("_2"))
      .sortWithinPartitions(order: _*)
      .as[(Long, Long, Long)](enc)
      .mapPartitions { it =>
        var curBucket = Long.MinValue
        var acc = 0L
        var pack = 0L
        it.map { case (id, b, toks) =>
          if (b != curBucket) { curBucket = b; acc = 0L; pack = 0L }
          if (acc > 0 && acc + toks > budget) { pack += 1; acc = 0L }
          acc += toks
          (id, b, pack, toks)
        }
      }(outEnc)
      .toDF(idCol, "bucket", "pack_idx", "n_tokens")
  }

  /** Benchmark decontamination: flag training documents that share any
    * word n-gram with an evaluation set — the standard guard against
    * test-set leakage into a training corpus. The eval set here is the
    * deterministic 'test' bucket of [[splitAssign]]. The join carries
    * the n-gram's 64-bit hash ([[Dedup.hashedShingles]] — one native
    * codegen pass per doc, no shingle strings materialized): matching
    * counts over distinct hashes equal matching counts over strings up
    * to xxhash64 collisions (~|sets|^2/2^64, vanishing), and the
    * shuffle moves 8-byte longs. No forced broadcast — AQE broadcasts
    * the eval side when it is actually small (real eval sets are) and
    * falls back to a shuffled hash join when it is not, so the operator
    * does not bake in a size assumption. Returns (idCol, n_shared) for
    * contaminated train docs only. */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, valPct: Int = 5, testPct: Int = 5): DataFrame = {
    // bucket-filter BEFORE the shingle projection: the split is a pure
    // function of the id, so each branch shuffles and shingles only its
    // own slice of the corpus (the eval branch is ~testPct% of it) —
    // filtering after would hide the predicate behind the rebalance
    // repartition inside hashedShingles and shingle everything twice
    val b = idBucket(col(idCol), 100L)
    val evalNgrams = Dedup.explodedShingleHashes(
        df.filter(b >= valPct && b < valPct + testPct), idCol, textCol, n, word = true)
      .select(col("ng")).distinct()
    Dedup.explodedShingleHashes(
        df.filter(b >= valPct + testPct), idCol, textCol, n, word = true)
      .join(evalNgrams, "ng")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared")) // shingles are distinct per doc
  }

  /** SPAN-aware decontamination — [[decontaminate]] counts distinct
    * shared n-grams; this surfaces the quantity a decontamination
    * POLICY actually thresholds on, the longest CONTIGUOUS overlap
    * (the L-gram-chaining semantics of the published eval-overlap
    * methodologies): every position i of a training doc whose
    * `spanWords`-word window appears anywhere in the eval split is a
    * hit; consecutive hit positions chain, and a chain of r hits is
    * an `spanWords + r − 1`-word contiguous common run — so a 12-word
    * verbatim quote and a wholesale leaked document separate cleanly
    * where a distinct-shingle count conflates them. Emits per
    * contaminated doc: n_hit_positions, n_runs, max_span_words.
    * Scale shape: positioned shingles hash to 8 bytes before any
    * shuffle (text never moves), the eval set is the distinct-hash
    * frame, the chain is one doc-partitioned window over hit rows
    * only. */
  def decontaminateSpans(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, valPct: Int = 5, testPct: Int = 5): DataFrame = {
    require(spanWords >= 2)
    val b = idBucket(col(idCol), 100L)
    def positioned(part: DataFrame): DataFrame =
      part.select(col(idCol),
          posexplode(graft.functions.text.word_ngrams(
            norm(col(textCol)), spanWords)).as(Seq("pos", "__ng")))
        .select(col(idCol), col("pos").cast("long").as("pos"),
          xxhash64(col("__ng")).as("ng"))
    val evalNg = positioned(df.filter(b >= valPct && b < valPct + testPct))
      .select(col("ng")).distinct()
    val hits = positioned(df.filter(b >= valPct + testPct))
      .join(evalNg, "ng")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits.withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__rl"))
      .groupBy(col(idCol))
      .agg(sum(col("__rl")).as("n_hit_positions"),
        count(lit(1)).as("n_runs"),
        (max(col("__rl")) + (spanWords - 1)).as("max_span_words"))
  }

  /** Corpus-level n-gram frequency: every word n-gram occurrence
    * (NOT per-doc distinct), counted across the corpus, top-k by
    * (count desc, ngram asc). Explode -> partial-agg -> one shuffle of
    * the already-combined keys -> TakeOrdered of k. */
  def ngramTopK(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 20): DataFrame =
    df.select(explode(
        graft.functions.text.word_ngrams(norm(col(textCol)), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)

  /** BPE merge-pair statistics — the first merge-selection step of
    * byte-pair-encoding tokenizer training: corpus-wide counts of
    * adjacent character pairs inside words, top-k by (count desc,
    * pair asc). Same scale class as [[ngramTopK]]: non-distinct
    * explode of per-word char bigrams -> partially-aggregated count ->
    * TakeOrderedAndProject — nothing unreduced crosses an exchange,
    * and the pair domain is bounded by the alphabet squared. */
  def bpePairStats(df: DataFrame, textCol: String, k: Int = 20): DataFrame =
    df.select(explode(split(norm(col(textCol)), " ")).as("__w"))
      .filter(length(col("__w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(k)

  /** BPE tokenizer TRAINING: learn `rounds` merges from the corpus by
    * the classic loop — count adjacent symbol pairs, merge the most
    * frequent (ties by pair asc), repeat. Returns the merge list in
    * rank order.
    *
    * Scale shape: training runs over the DISTINCT-word frequency table
    * (one shuffle, bounded by vocabulary size — not corpus size — and
    * localCheckpointed once), so each round is a groupBy over a small
    * table plus a 1-row collect; the corpus itself is scanned exactly
    * once. Symbol sequences are encoded as `(s1)(s2)(s3)` strings over
    * the `[a-z0-9]+` pretokens (parens cannot occur inside a symbol),
    * which makes a merge one literal string `replace` — left-to-right
    * and non-overlapping in both Spark and any SQL engine, i.e. the
    * greedy BPE merge semantics, oracle-replayable verbatim. */
  def bpeTrainMerges(df: DataFrame, textCol: String,
      rounds: Int = 8, driverVocabLimit: Long = 1L << 20): Seq[(String, String)] = {
    // each round applies ONE replace to the checkpointed previous
    // round (not a re-fold of every prior merge): per-round work stays
    // O(vocabulary) and plan depth stays constant, so the loop
    // survives the R ~ thousands of a production tokenizer — the same
    // lineage-truncation discipline as the graph convergence loops
    var cur = df.select(explode(regexp_extract_all(norm(col(textCol)),
        lit("[a-z0-9]+"), lit(0))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(col("__c"), encodeSymsExpr(col("__w")).as("__e"))
      .localCheckpoint()
    // gated-collect driver loop (r21 — the byteBpeTrainMergesAuto
    // shape applied to the word trainer): below `driverVocabLimit`
    // distinct words — probed BOUNDED off the materialized table,
    // never an unguarded collect — all `rounds` merges run on the
    // driver with incrementally-maintained pair counts, replacing the
    // R sequential (pair-count job + 1-row collect + checkpoint)
    // round trips whose scheduling floor dominates every corpus that
    // fits one machine. BIT-IDENTICAL (pinned in TextStatsSpec
    // driver-vs-distributed): same vocab weights, same symbol
    // encoding, same (count desc, a asc, b asc) tie-break — symbols
    // are `[a-z0-9]+`-derived ASCII, where UTF8String binary order
    // and Java compareTo agree — and the same left-to-right
    // non-overlapping literal replace per merge.
    if (driverVocabLimit > 0 &&
        cur.limit(Spread.probeLimit(driverVocabLimit)).count() <= driverVocabLimit) {
      val collected = cur.collect()
      freeCheckpoint(cur)
      return bpeMergeLoopGeneric(collected.map(_.getLong(0)),
        collected.map(_.getString(1)), "(", ")", rounds)
    }
    val merges = Seq.newBuilder[(String, String)]
    var exhausted = false
    for (_ <- 0 until rounds if !exhausted) {
      val enc = col("__e")
      val best = cur
        .select(col("__c"),
          split(enc.substr(lit(2), length(enc) - 2), "\\)\\(").as("__s"))
        .filter(size(col("__s")) >= 2)
        .select(col("__c"), explode(expr(
          "transform(sequence(1, size(__s) - 1), i -> named_struct(" +
            "'a', element_at(__s, i), 'b', element_at(__s, i + 1)))")).as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum("__c").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val old = cur
        cur = cur.withColumn("__e",
          replace(col("__e"), lit(s"($a)($b)"), lit(s"($a$b)")))
          .localCheckpoint()
        freeCheckpoint(old)
      }
    }
    freeCheckpoint(cur)
    merges.result()
  }

  /** Drop the executor-storage blocks behind a localCheckpointed round
    * frame once its successor is materialized (the graph-loop
    * discipline — don't wait on driver GC + ContextCleaner). */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** A word column as its `(c1)(c2)...` character-symbol encoding. */
  private def encodeSymsExpr(w: Column): Column =
    concat(lit("("), array_join(transform(
      sequence(lit(1), length(w)), i => w.substr(i, lit(1))), ")("), lit(")"))

  /** BPE tokenizer APPLICATION — the step that turns the pair-stats
    * prep ([[bpePairStats]]) into a usable tokenizer: train `rounds`
    * merges ([[bpeTrainMerges]]), then encode every document as its
    * token-id sequence. Ids: single-char symbols get their codepoint;
    * the symbol created by merge round r (0-based) gets 0x110000 + r
    * (first creating round wins when two merges produce the same
    * string). Merge ids sit ABOVE the Unicode codepoint space
    * (max U+10FFFF) so no character surviving normalization — Latin-1
    * or not ('ā' U+0101, Greek, CJK) — can collide with a merge id:
    * token_ids stays injective and decodable.
    *
    * Scale shape: after the bounded training loop, encoding is ONE
    * narrow per-row projection — the merge list unrolls into nested
    * literal `replace` calls inside a `transform` over the pretokens,
    * fully codegen'd, no UDF, no join, no shuffle; it pipelines into
    * the document scan. Pretokens follow [[tokenPattern]]: alnum runs
    * are BPE-merged, punctuation marks are single one-char tokens. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 8): DataFrame =
    bpeEncodeApply(df, idCol, textCol,
      bpeTable(bpeTrainMerges(df, textCol, rounds)))

  /** Tokenizer FERTILITY by language — the tokenizer-equity gauge a
    * multilingual pipeline reports (tokens per word; a tokenizer
    * trained mostly on one language spends more tokens per word of
    * the others, which prices their effective context window and
    * training cost): train BPE on the WHOLE corpus (the same
    * [[bpeEncode]] recipe), count real token ids per doc, reduce per
    * language to (n_docs, n_words, n_tokens, fertility_milli =
    * tokens·1000 div words — integer floor, engine-exact). The train
    * loop is the bounded checkpointed pair-count iteration; the
    * encode is one kernel pass; the reduce is one shuffle of the tiny
    * per-language frame. */
  def tokenFertilityByLang(df: DataFrame, idCol: String, textCol: String,
      langCol: String, rounds: Int = 8): DataFrame = {
    val table = bpeTable(bpeTrainMerges(df, textCol, rounds))
    val toks = bpeEncodeApply(df, idCol, textCol, table)
      .select(col(idCol), col("n_tokens"))
    df.select(col(idCol), col(langCol).as("lang"),
        size(split(norm(col(textCol)), " ")).cast("long").as("__w"))
      .join(toks, Seq(idCol))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("sum(n_tokens) * 1000 div sum(__w)").as("fertility_milli"))
  }

  /** Build the serializable apply table from a trained merge list
    * (vocab: merged string -> 0x110000 + first creating round — ids
    * allocated past the top of the Unicode codepoint space so they are
    * disjoint from every possible single-codepoint token id). */
  def bpeTable(merges: Seq[(String, String)]): graft.functions.BpeTable = {
    val vocab = merges.zipWithIndex
      .map { case ((a, b), r) => (a + b, 0x110000L + r) }
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).min) }
      .toSeq.sortBy(_._2)
    new graft.functions.BpeTable(
      merges.map(_._1).toArray, merges.map(_._2).toArray,
      vocab.map(_._1).toArray, vocab.map(_._2).toArray)
  }

  /** Apply a trained [[bpeTable]] to ANY DataFrame — batch or
    * streaming: one codegen'd kernel call per document, a pure
    * stateless projection (the equivalent flatten/transform/nested-
    * replace expression form evaluates its lambdas interpreted and
    * measured ~7x slower at sf1). The train-offline / tokenize-online
    * split a production pipeline runs. */
  def bpeEncodeApply(df: DataFrame, idCol: String, textCol: String,
      table: graft.functions.BpeTable): DataFrame = {
    val toks = graft.functions.text.bpe_encode_ids(norm(col(textCol)), table)
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      array_join(transform(toks, t => t.cast("string")), " ").as("token_ids"))
  }

  /** Tokenizer round-trip integrity: train -> encode -> DECODE, one
    * kernel call each way. The encoder drops spaces (no word-boundary
    * marker in this BPE), so the identity is
    * `decode(encode(norm(text))) == norm(text) minus spaces` — which
    * the oracle states directly, making any id-scheme collision or
    * vocabulary corruption a hash mismatch (the ADVICE-r12 merge-id /
    * codepoint collision class is exactly what this query would have
    * caught). */
  def bpeDecode(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val table = bpeTable(bpeTrainMerges(df, textCol, rounds))
    df.select(col(idCol),
      graft.functions.text.bpe_decode_ids(
        graft.functions.text.bpe_encode_ids(norm(col(textCol)), table),
        table).as("decoded"))
  }

  /** Byte-level BPE TRAINING (the GPT-2/tiktoken family — VERDICT r17
    * item 3): [[bpeTrainMerges]]' exact loop, but pretokens are
    * maximal NON-SPACE runs of the normalized text (every char,
    * Latin or not, participates) and the symbol alphabet is the
    * pretoken's UTF-8 bytes mapped through the public GPT-2
    * byte-to-unicode table ([[graft.functions.ByteBpe.byteToChar]]) —
    * so any input tokenizes with zero OOV. Same scale shape: the loop
    * runs over the DISTINCT-pretoken frequency table, one corpus scan,
    * per-round work vocabulary-bounded, lineage truncated per round.
    *
    * This distributed form prices one Spark job per merge round — the
    * FALLBACK for a type table too large to collect. The production
    * trainer is [[byteBpeTrainMergesLocal]] (bit-identical output,
    * measured 4x faster at sf1 R=64 and flat in R where this loop is
    * linear — PLANS.md r19); use this one only above its maxTypes
    * gate. */
  def byteBpeTrainMerges(df: DataFrame, textCol: String,
      rounds: Int = 8): Seq[(String, String)] = {
    import graft.functions.ByteBpe.{SepL, SepR}
    var cur = df.select(explode(regexp_extract_all(norm(col(textCol)),
        lit("[^ ]+"), lit(0))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(col("__c"),
        graft.functions.bbpe.byte_bpe_syms(col("__w")).as("__e"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var exhausted = false
    for (_ <- 0 until rounds if !exhausted) {
      val enc = col("__e")
      val best = cur
        .select(col("__c"),
          split(enc.substr(lit(2), length(enc) - 2), s"$SepR$SepL").as("__s"))
        .filter(size(col("__s")) >= 2)
        .select(col("__c"), explode(expr(
          "transform(sequence(1, size(__s) - 1), i -> named_struct(" +
            "'a', element_at(__s, i), 'b', element_at(__s, i + 1)))")).as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum("__c").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val old = cur
        cur = cur.withColumn("__e",
          replace(col("__e"), lit(s"$SepL$a$SepR$SepL$b$SepR"),
            lit(s"$SepL$a$b$SepR")))
          .localCheckpoint()
        freeCheckpoint(old)
      }
    }
    freeCheckpoint(cur)
    merges.result()
  }

  /** [[byteBpeTrainMerges]] as a gated-collect driver loop (the
    * knTable pattern — VERDICT r18 item 5): ONE distributed job builds
    * the distinct-pretoken frequency table (vocabulary-bounded — the
    * corpus can be 100 TB, the TYPE table grows ~Heaps-law and is
    * `require`-gated below), then the merge loop runs on the driver
    * with incrementally-maintained pair counts — O(changed rows) per
    * round instead of one full-table Spark job per round. Produces a
    * BIT-IDENTICAL merge list to the distributed loop (pinned by
    * ByteBpeSpec at two merge counts): same pretokenization, same
    * symbol encoding, same weighted adjacent-pair counts, same
    * (count desc, a asc, b asc) tie-break — codepoint order, which
    * UTF8String binary order and Java's BMP compareTo agree on; the
    * mapped alphabet and both brackets are BMP by construction — and
    * the same left-to-right non-overlapping literal replace.
    *
    * Measured at sf1 (PLANS.md r19): the distributed loop prices one
    * full pair-count job + checkpoint per merge round (R jobs for R
    * merges — untenable at a production 30k–100k vocabulary); this
    * trainer amortizes everything after the single scan, and the
    * driver loop's cost is bounded by the type table, not the corpus.
    */
  def byteBpeTrainMergesLocal(df: DataFrame, textCol: String,
      rounds: Int = 8, maxTypes: Int = 4000000): Seq[(String, String)] = {
    val types = byteBpeTypeTable(df, textCol)
    try {
      val over = types.limit(maxTypes + 1).count() > maxTypes
      require(!over,
        s"byteBpeTrainMergesLocal: distinct pretokens exceed " +
          s"maxTypes=$maxTypes — raise the dial (driver memory " +
          "permitting) or fall back to byteBpeTrainMerges (distributed); " +
          "byteBpeTrainMergesAuto does the fallback automatically")
      byteBpeMergeLoop(types.collect(), rounds)
    } finally freeCheckpoint(types)
  }

  /** [[byteBpeTrainMergesLocal]] with the documented fallback wired
    * in: probes the type-table size off the executor-materialized
    * table (a bounded `limit(maxTypes+1).count()` — never a driver
    * collect), runs the driver merge loop when it fits, and falls
    * back to the distributed [[byteBpeTrainMerges]] loop above the
    * gate. The two trainers are bit-identical (ByteBpeSpec), so the
    * fallback is transparent to callers — this is the entry point the
    * public byteBpeEncode/Decode/Fertility APIs use. */
  def byteBpeTrainMergesAuto(df: DataFrame, textCol: String,
      rounds: Int = 8, maxTypes: Int = 4000000): Seq[(String, String)] = {
    val types = byteBpeTypeTable(df, textCol)
    try {
      if (types.limit(maxTypes + 1).count() <= maxTypes)
        byteBpeMergeLoop(types.collect(), rounds)
      else byteBpeTrainMerges(df, textCol, rounds)
    } finally freeCheckpoint(types)
  }

  /** The distinct-pretoken frequency table `(__c weight, __e symbol
    * encoding)` both trainers loop over, eagerly materialized on
    * executor storage (spill-able MEMORY_AND_DISK — an over-limit
    * table fails the size gate cleanly instead of OOMing the driver
    * mid-collect). Callers free it via [[freeCheckpoint]]. */
  private def byteBpeTypeTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(norm(col(textCol)),
        lit("[^ ]+"), lit(0))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(col("__c"),
        graft.functions.bbpe.byte_bpe_syms(col("__w")).as("__e"))
      .localCheckpoint()

  /** The driver-side incremental merge loop over a collected type
    * table — see [[byteBpeTrainMergesLocal]] for the contract. */
  private def byteBpeMergeLoop(collected: Array[org.apache.spark.sql.Row],
      rounds: Int): Seq[(String, String)] = {
    import graft.functions.ByteBpe.{SepL, SepR}
    bpeMergeLoopGeneric(collected.map(_.getLong(0)),
      collected.map(_.getString(1)), SepL.toString, SepR.toString, rounds)
  }

  /** The merge loop shared by the byte trainer and the word trainer's
    * r21 driver gate: weighted adjacent-pair counts over
    * `sepL sym sepR`-encoded types, (count desc, a asc, b asc) best
    * pick, literal left-to-right replace per merge, counts maintained
    * incrementally (only rows containing the merged pattern are
    * re-counted). Symbol alphabets must be sep-free and must order
    * identically under Java compareTo and UTF8String binary order
    * (both trainers' alphabets do — byte-BPE's mapped BMP range,
    * word-BPE's ASCII `[a-z0-9]`). */
  private def bpeMergeLoopGeneric(weights: Array[Long],
      encs0: Array[String], sepLs: String, sepRs: String,
      rounds: Int): Seq[(String, String)] = {
    val SepL = sepLs
    val SepR = sepRs
    val encs = encs0
    val sep = s"$SepR$SepL"
    val sepQ = java.util.regex.Pattern.quote(sep)
    def symsOf(e: String): Array[String] =
      e.substring(1, e.length - 1).split(sepQ, -1)
    // weighted adjacent-pair counts, keyed "a<sep>b" (symbols are
    // sep-free by construction, so the key is unambiguous)
    val pc = new java.util.HashMap[String, java.lang.Long]()
    def bump(a: String, b: String, w: Long): Unit = {
      val k = a + sep + b
      val nw = pc.getOrDefault(k, 0L) + w
      if (nw == 0L) pc.remove(k) else pc.put(k, nw)
    }
    def addAll(e: String, w: Long): Unit = {
      val s = symsOf(e)
      var i = 0
      while (i < s.length - 1) { bump(s(i), s(i + 1), w); i += 1 }
    }
    encs.indices.foreach(i => addAll(encs(i), weights(i)))
    val merges = Seq.newBuilder[(String, String)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      // (n desc, a asc, b asc) — compare a and b COMPONENTWISE, never
      // the concatenated key: the bracket chars sit ABOVE the mapped
      // alphabet, so key order would invert prefix cases ("x" vs "xy")
      var bestA: String = null
      var bestB: String = null
      var bestN = 0L
      pc.forEach { (k, n) =>
        val i = k.indexOf(sep)
        val a = k.substring(0, i)
        val b = k.substring(i + sep.length)
        if (n > bestN || (n == bestN && bestA != null && {
          val ca = a.compareTo(bestA)
          ca < 0 || (ca == 0 && b.compareTo(bestB) < 0)
        })) { bestA = a; bestB = b; bestN = n }
      }
      if (bestA == null) exhausted = true
      else {
        val (a, b) = (bestA, bestB)
        merges += ((a, b))
        val pattern = s"$SepL$a$SepR$SepL$b$SepR"
        val repl = s"$SepL$a$b$SepR"
        var j = 0
        while (j < encs.length) {
          if (encs(j).contains(pattern)) {
            addAll(encs(j), -weights(j))
            encs(j) = encs(j).replace(pattern, repl)
            addAll(encs(j), weights(j))
          }
          j += 1
        }
        r += 1
      }
    }
    merges.result()
  }

  /** Build the serializable byte-BPE apply table from a trained merge
    * list — [[bpeTable]]'s id scheme (merged string -> 0x110000 +
    * first creating round; single mapped chars id by codepoint). */
  def byteBpeTable(merges: Seq[(String, String)]): graft.functions.ByteBpeTable = {
    val vocab = merges.zipWithIndex
      .map { case ((a, b), r) => (a + b, 0x110000L + r) }
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).min) }
      .toSeq.sortBy(_._2)
    new graft.functions.ByteBpeTable(
      merges.map(_._1).toArray, merges.map(_._2).toArray,
      vocab.map(_._1).toArray, vocab.map(_._2).toArray)
  }

  /** Apply a trained [[byteBpeTable]] to ANY frame — batch or
    * streaming, total on any input (zero OOV by construction):
    * one codegen kernel call per document. */
  def byteBpeEncodeApply(df: DataFrame, idCol: String, textCol: String,
      table: graft.functions.ByteBpeTable): DataFrame = {
    val toks = graft.functions.bbpe.byte_bpe_encode_ids(
      norm(col(textCol)), table)
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      array_join(transform(toks, t => t.cast("string")), " ").as("token_ids"))
  }

  /** Train byte-BPE on the corpus and encode every document —
    * [[bpeEncode]]'s contract for the byte family. */
  def byteBpeEncode(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 8): DataFrame =
    byteBpeEncodeApply(df, idCol, textCol,
      byteBpeTable(byteBpeTrainMergesAuto(df, textCol, rounds)))

  /** Byte-BPE round-trip integrity ([[bpeDecode]]'s contract):
    * `decode(encode(norm(text))) == norm(text) minus spaces` — run on
    * multi-script text this exercises the one thing the byte family
    * adds: UTF-8 reassembly of multibyte chars split across token
    * boundaries. */
  def byteBpeDecode(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 8): DataFrame = {
    val table = byteBpeTable(byteBpeTrainMergesAuto(df, textCol, rounds))
    df.select(col(idCol),
      graft.functions.bbpe.byte_bpe_decode_ids(
        graft.functions.bbpe.byte_bpe_encode_ids(norm(col(textCol)), table),
        table).as("decoded"))
  }

  /** [[tokenFertilityByLang]] on the byte family — THE number this
    * gauge exists for: on non-Latin scripts every char costs 2-4 byte
    * symbols before merges, so fertility prices the effective context
    * window a byte-BPE model gives each language. */
  def byteBpeFertilityByLang(df: DataFrame, idCol: String, textCol: String,
      langCol: String, rounds: Int = 8): DataFrame = {
    val table = byteBpeTable(byteBpeTrainMergesAuto(df, textCol, rounds))
    val toks = byteBpeEncodeApply(df, idCol, textCol, table)
      .select(col(idCol), col("n_tokens"))
    df.select(col(idCol), col(langCol).as("lang"),
        size(split(norm(col(textCol)), " ")).cast("long").as("__w"))
      .join(toks, Seq(idCol))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("sum(n_tokens) * 1000 div sum(__w)").as("fertility_milli"))
  }

  /** Persist a trained byte-BPE merge table as parquet — the
    * [[saveUnigramModel]] lifecycle for the byte family: the
    * rank-ORDERED merge list is the whole model (ids derive from
    * first-creating-rank), so (merge_rank, lhs, rhs) rows round-trip
    * it exactly. */
  def saveByteBpeModel(merges: Seq[(String, String)], dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
  }

  /** Inverse of [[saveByteBpeModel]]: the merge list back in rank
    * order (rank-sorted on read — parquet row order is not a
    * contract). */
  def loadByteBpeModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    spark.read.parquet(s"$dir/merges")
      .orderBy(col("merge_rank"))
      .select(col("lhs"), col("rhs"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))

  /** Unigram-LM tokenizer contract constants (shared by the trainer,
    * the kernel, and the oracle generator): tokens are at most
    * `unigramMaxTokenLen` chars; `[a-z0-9]+` pretokens longer than
    * `unigramChunkLen` split into consecutive chunks BEFORE
    * segmentation (the SentencePiece max-piece-length /
    * split-by-length analog — it also bounds the oracle's unrolled DP
    * at `unigramChunkLen` position CTEs). */
  val unigramMaxTokenLen = 4
  val unigramChunkLen = 16

  /** Unigram-LM tokenizer TRAINING (the SentencePiece-shaped
    * companion to [[bpeTrainMerges]]) — the hard-EM / Viterbi variant,
    * defined entirely in integers so the loop replays in SQL:
    *
    *  1. SEED: count every substring (length 1..4, per position,
    *     weighted by word frequency) of the distinct chunked-word
    *     table; vocabulary = all single chars ∪ top-`seedMulti`
    *     multi-char substrings by (count desc, token asc). Costs are
    *     fixed-point milli-log2 surprisals
    *     `cost(t) = l(N) - l(cnt(t))` ([[graft.functions
    *     .EntropyKernels.l]], the entropy gauge's portable log).
    *  2. Each of `rounds` prune-and-rescore rounds: segment every
    *     distinct word by exact Viterbi under the current costs
    *     (min (total cost, token count, token list) — the
    *     deterministic tie order SQL struct comparison implements
    *     verbatim), reduce token usage in ONE vocabulary-sized agg,
    *     keep all single chars plus the top ceil(2/3·|multi|)
    *     multi-char tokens by (usage desc, token asc), rescore with
    *     add-one smoothing `cnt(t) = usage(t) + 1`.
    *
    * Scale shape: training runs over the DISTINCT-word frequency
    * table (one shuffle, vocabulary-bounded, localCheckpointed once —
    * the [[bpeTrainMerges]] discipline); each round is one codegen'd
    * segmentation pass over that table plus a vocab-sized agg and a
    * bounded driver fold. The corpus is scanned exactly once.
    * Returns (token, milliCost, nUses) of the final vocabulary, with
    * nUses the last round's pre-smoothing usage. */
  def unigramTrain(df: DataFrame, textCol: String, seedMulti: Int = 96,
      rounds: Int = 3): Seq[(String, Long, Long)] = {
    import graft.functions.EntropyKernels.{l => mlog}
    val maxTok = unigramMaxTokenLen
    val cw = df.select(explode(regexp_extract_all(norm(col(textCol)),
        lit("[a-z0-9]+"), lit(0))).as("__fw"))
      .select(explode(expr(
        s"transform(sequence(0, (length(__fw) + ${unigramChunkLen - 1}) " +
          s"div $unigramChunkLen - 1), " +
          s"i -> substring(__fw, i * $unigramChunkLen + 1, $unigramChunkLen))"))
        .as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    // seed substring counts: per position, per length 1..4, weighted
    val sub = cw.select(col("__c"), explode(expr(
        s"flatten(transform(sequence(1, length(__w)), i -> " +
          s"transform(sequence(1, least($maxTok, length(__w) - i + 1)), " +
          s"ln -> substring(__w, i, ln))))")).as("__s"))
      .groupBy("__s").agg(sum(col("__c")).as("__n"))
    val singles = sub.filter(length(col("__s")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = sub.filter(length(col("__s")) >= 2)
      .orderBy(col("__n").desc, col("__s").asc).limit(seedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var cnt: Map[String, Long] = (singles ++ multi).toMap
    def costsOf(c: Map[String, Long]): Map[String, Long] = {
      val n = c.valuesIterator.sum
      c.map { case (t, x) => (t, mlog(n) - mlog(x)) }
    }
    var costs = costsOf(cnt)
    // rounds = 0 (seed-only ablation) reports the seed counts as
    // usage; every real round overwrites with its measured usage
    var lastUsage: Map[String, Long] = cnt
    for (_ <- 0 until rounds) {
      val table = unigramTable(costs.toSeq.map { case (t, c) => (t, c, 0L) })
      val seen = cw
        .select(col("__c"), explode(
          graft.functions.unigram.unigram_segment(col("__w"), table)).as("__t"))
        .groupBy("__t").agg(sum(col("__c")).as("__u"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val usage = costs.keysIterator.map(t => (t, seen.getOrElse(t, 0L))).toMap
      val multiNow = usage.keysIterator.filter(_.length >= 2).toSeq
      val keepN = (multiNow.size * 2 + 2) / 3 // ceil(2/3 · |multi|)
      val keptMulti = multiNow
        .sortBy(t => (-usage(t), t)).take(keepN)
      val kept = usage.keysIterator.filter(_.length == 1).toSeq ++ keptMulti
      cnt = kept.map(t => (t, usage(t) + 1L)).toMap
      costs = costsOf(cnt)
      lastUsage = kept.map(t => (t, usage(t))).toMap
    }
    freeCheckpoint(cw) // the bpeTrainMerges discipline: no leaked blocks
    costs.toSeq.sortBy(_._1)
      .map { case (t, c) => (t, c, lastUsage(t)) }
  }

  /** Build the serializable Viterbi kernel table from trained
    * (token, milliCost, _) rows. */
  def unigramTable(vocab: Seq[(String, Long, Long)]): graft.functions.UnigramTable =
    new graft.functions.UnigramTable(vocab.map(_._1).toArray,
      vocab.map(_._2).toArray, unigramMaxTokenLen, unigramChunkLen)

  /** The trained unigram vocabulary as a frame — what a deployment
    * exports: (token_id, token, milli_cost, n_uses). Ids mirror the
    * BPE scheme (single char = codepoint, multi = 0x110000 + rank by
    * token asc — disjoint ranges, injective stream). */
  def unigramVocab(df: DataFrame, textCol: String, seedMulti: Int = 96,
      rounds: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = unigramTrain(df, textCol, seedMulti, rounds)
    val multiIds = vocab.map(_._1).filter(_.length >= 2).sorted
      .zipWithIndex.map { case (t, i) => (t, 0x110000L + i) }.toMap
    vocab.map { case (t, c, u) =>
      val id = if (t.length == 1) t.codePointAt(0).toLong else multiIds(t)
      (id, t, c, u)
    }.toDF("token_id", "token", "milli_cost", "n_uses")
  }

  /** Train a unigram tokenizer on the corpus and encode every document
    * to its token-id sequence — [[bpeEncode]]'s output contract
    * (doc_id, n_tokens, token_ids) with the unigram segmentation. */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
      seedMulti: Int = 96, rounds: Int = 3): DataFrame =
    unigramEncodeApply(df, idCol, textCol,
      unigramTable(unigramTrain(df, textCol, seedMulti, rounds)))

  /** Apply a trained [[unigramTable]] to ANY frame — batch or
    * streaming: one codegen kernel call per document. Total on any
    * input: a `[a-z0-9]` char the training corpus never saw encodes
    * as its codepoint via the kernel's sentinel-cost fallback
    * ([[graft.functions.UnigramTable.UnseenCharCost]]) instead of
    * killing the batch (ADVICE r17). */
  def unigramEncodeApply(df: DataFrame, idCol: String, textCol: String,
      table: graft.functions.UnigramTable): DataFrame = {
    val toks = graft.functions.unigram.unigram_encode_ids(
      norm(col(textCol)), table)
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      array_join(transform(toks, t => t.cast("string")), " ").as("token_ids"))
  }

  /** Tokenizer round-trip integrity on the unigram family
    * ([[bpeDecode]]'s contract): train -> encode -> DECODE, one
    * kernel call each way; the encoder drops spaces, so
    * `decode(encode(norm(text))) == norm(text) minus spaces` — the
    * oracle states the identity directly, making any id-scheme
    * collision or vocabulary corruption a hash mismatch. */
  def unigramDecode(df: DataFrame, idCol: String, textCol: String,
      seedMulti: Int = 96, rounds: Int = 3): DataFrame = {
    val table = unigramTable(unigramTrain(df, textCol, seedMulti, rounds))
    df.select(col(idCol),
      graft.functions.unigram.unigram_decode_ids(
        graft.functions.unigram.unigram_encode_ids(norm(col(textCol)), table),
        table).as("decoded"))
  }

  /** Persist a trained unigram vocabulary as parquet — the
    * [[saveKnModel]] lifecycle for the tokenizer: what a deployment
    * exports once and serves everywhere. */
  def saveUnigramModel(vocab: Seq[(String, Long, Long)], dir: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    vocab.toDF("token", "milli_cost", "n_uses")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** Load a persisted unigram vocabulary. The frame is
    * vocabulary-bounded by construction (the trainer prunes to
    * singles + the kept multi tokens), so the collect is the
    * sanctioned bounded-table pattern. */
  def loadUnigramModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Long, Long)] =
    spark.read.parquet(s"$dir/vocab")
      .select(col("token"), col("milli_cost"), col("n_uses"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** [[tokenFertilityByLang]] under the unigram tokenizer — the gauge
    * re-run on the second tokenizer family, same reduce contract. */
  def unigramFertilityByLang(df: DataFrame, idCol: String, textCol: String,
      langCol: String, seedMulti: Int = 96, rounds: Int = 3): DataFrame = {
    val table = unigramTable(unigramTrain(df, textCol, seedMulti, rounds))
    val toks = unigramEncodeApply(df, idCol, textCol, table)
      .select(col(idCol), col("n_tokens"))
    df.select(col(idCol), col(langCol).as("lang"),
        size(split(norm(col(textCol)), " ")).cast("long").as("__w"))
      .join(toks, Seq(idCol))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("sum(n_tokens) * 1000 div sum(__w)").as("fertility_milli"))
  }

  /** [[decontaminate]] with a Bloom prefilter — the shape for when the
    * eval n-gram set outgrows broadcast: a `numBits`-bit Bloom bitset
    * (built by one OR-merged aggregate over the eval shingles, no
    * distinct shuffle needed — set bits are idempotent) rides into the
    * train scan as a literal, and only might-contain survivors reach
    * the exact join. False positives are removed by the join, so the
    * result is IDENTICAL to [[decontaminate]] (same oracle); what
    * changes is the shuffled volume — matches + FP rate instead of
    * every train n-gram. At 100 TB the bitset stays a fixed few MB
    * while a broadcast hash set of the eval n-grams would grow with
    * the eval corpus. */
  def decontaminateBloom(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, valPct: Int = 5, testPct: Int = 5,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val b = idBucket(col(idCol), 100L)
    // materialize the distinct eval n-grams ONCE (one shingle pass):
    // the bitset aggregate and the exact join both read the
    // checkpointed set instead of re-shingling the eval corpus
    val evalNg = Dedup.explodedShingleHashes(
        df.filter(b >= valPct && b < valPct + testPct), idCol, textCol, n, word = true)
      .select(col("ng")).distinct().localCheckpoint()
    val bits = evalNg
      .agg(graft.functions.bloom.bloom_build(col("ng"), numBits, numHashes))
      .head().getSeq[Long](0).toArray
    val bitsLit = org.apache.spark.sql.functions.typedlit(bits)
    Dedup.explodedShingleHashes(
        df.filter(b >= valPct + testPct), idCol, textCol, n, word = true)
      .filter(graft.functions.bloom.bloom_might_contain(bitsLit, col("ng"), numHashes))
      .join(evalNg, "ng")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document most-distinctive term, TF-IDF style but in exact
    * integer arithmetic: score = tf * 1e6 div df (floor division), so
    * the ranking is bit-identical on any engine — no log, no doubles.
    * Ties break to the lexicographically smallest term (min_by over a
    * (-score, term) struct key). Three reduced shuffles: per-(doc,term)
    * tf, per-term df, and the per-doc argmax — each partial-aggregates
    * map-side, and the tf->df join is a self-join of the already
    * tf-reduced table, so corpus text is exploded exactly once. */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode(split(norm(col(textCol)), " ")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("score", expr("tf * 1000000 div df"))
      .groupBy(col(idCol))
      .agg(min_by(
        struct(col("term"), col("score"), col("tf"), col("df")),
        struct((-col("score")).as("s"), col("term").as("t"))).as("p"))
      .select(col(idCol), col("p.term").as("top_term"), col("p.score").as("score"),
        col("p.tf").as("tf"), col("p.df").as("df"))
  }

  /** BM25 ranked retrieval (Robertson/Okapi, k1 = 1.2, b = 0.75):
    * score the corpus against a fixed query-term set and return the
    * top-k documents — the standard lexical-retrieval axis next to
    * [[tfidfTop]]'s per-doc term profiling.
    *
    * Integer-exact contract (house style — no floats anywhere):
    *  - IDF uses the Robertson ODDS instead of its log:
    *    idf_micro(df) = (1_000_000 * (2*(N - df) + 1)) div (2*df + 1),
    *    i.e. floor of 1e6 * (N - df + ½)/(df + ½). Per-term document
    *    ranking is identical to log-IDF (ln is monotone); across terms
    *    rare terms weigh linearly rather than logarithmically in the
    *    odds — the documented tradeoff that buys bit-for-bit oracle
    *    replay with no transcendental in either engine.
    *  - The tf saturation keeps classical BM25 exactly: with
    *    k1 = 6/5, b = 3/4 and avgdl = A/N (A = corpus token count),
    *    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) multiplied through
    *    by 10*A clears every constant to integers:
    *    contribution = (idf_micro * 22*A*tf) div (10*A*tf + 3*A + 9*dl*N).
    *    The numerator is evaluated in decimal(38,0) (~4e33 at
    *    100 TB-scale A ≈ 1e13, tf ≈ 1e3 — inside 38 digits); the
    *    floor-div result is back in long range (≈ 2.2 * idf_micro).
    *  - score_micro = Σ per-term contributions — a sum of longs, so
    *    partition merge order cannot perturb it.
    *
    * Scale shape: one narrow scan computes (dl, tf per query term) —
    * tf via size(filter(tokens)) with NO explode and NO per-term
    * shuffle; one reduced aggregate row (N, A, df per term) broadcasts
    * back; top-k is TakeOrderedAndProject (per-partition heaps, k rows
    * to the driver). Zero corpus-sized shuffles end to end. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 16,
      s"queryTerms must have 1..16 terms, got ${queryTerms.size}")
    require(queryTerms.distinct.size == queryTerms.size,
      s"queryTerms must be distinct: $queryTerms")
    require(k >= 1, s"k must be >= 1, got $k")
    // materialize the token array ONCE per row in its own projection:
    // inlining `split(norm(text))` into every tf column would evaluate
    // the regex-normalize + split per query term (CollapseProject
    // keeps the two-step shape because the alias is referenced more
    // than once and isn't cheap)
    val withToks = df.select(col(idCol),
      split(norm(col(textCol)), " ").as("__toks"))
    val perDoc = withToks.select(
      col(idCol) +: size(col("__toks")).cast("long").as("dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__toks"), w => w === lit(t)))
            .cast("long").as(s"__tf$i")
        }: _*)
    val globals = perDoc.agg(
      count(lit(1)).as("__n"),
      sum(col("dl")).as("__a") +:
        queryTerms.indices.map(i =>
          sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i")): _*)
    val contributions = queryTerms.indices.map { i =>
      expr(s"""CASE WHEN __tf$i > 0 THEN
        (cast((1000000L * (2 * (__n - __df$i) + 1)) div (2 * __df$i + 1)
              as decimal(38,0)) * 22 * __a * __tf$i)
        div (10 * cast(__a as decimal(38,0)) * __tf$i + 3 * __a + 9 * dl * __n)
        ELSE 0L END""").cast("long")
    }
    val matched = queryTerms.indices
      .map(i => (col(s"__tf$i") > 0).cast("long"))
      .reduce(_ + _)
    perDoc.crossJoin(broadcast(globals))
      .select(col(idCol), col("dl").as("n_tokens"),
        contributions.reduce(_ + _).as("score_micro"),
        matched.as("n_matched"))
      .filter(col("n_matched") > 0)
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
  }

  /** N-gram novelty — data-freshness scoring: per document, the
    * fraction of its DISTINCT word n-grams that FIRST appear in this
    * document (first = the smallest doc id containing the gram, the
    * deterministic ingestion-order proxy). A crawl refresh full of
    * boilerplate scores near 0; genuinely new text scores near 1000
    * permille — the corpus-growth quality axis next to the dedup
    * family's pairwise measures.
    *
    * Scale shape: only (id, 8-byte gram hash) rows ever shuffle —
    * distinct per doc, one gram-keyed min aggregation
    * (partial-combined), one join back on the gram hash, one doc-keyed
    * count. Gram identity is the 64-bit shingle hash (the dedup
    * family's caveat applies: a 2^-64 collision folds two grams);
    * docs shorter than n words hash as one whole-document gram (the
    * kernel's clamp). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // the shingle kernel already emits a per-doc-deduplicated sorted
    // array, and doc ids are unique — (id, hash) rows arrive distinct,
    // no extra shuffle needed; the shared helper also rebalances the
    // input so the expensive kernel spreads across cores and inlines
    // the kernel into the Generate (see its scaladoc)
    val grams = Dedup.explodedShingleHashes(df, idCol, textCol, n,
        word = true)
      .select(col(idCol), col("ng").as("__h"))
    val first = grams.groupBy(col("__h")).agg(min(col(idCol)).as("__first"))
    grams.join(first, "__h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum((col(idCol) === col("__first")).cast("long")).as("n_novel"))
      .withColumn("novelty_permille",
        expr("(n_novel * 1000) div n_grams"))
  }

  /** Corpus length statistics: exact token-count quantiles (linear
    * interpolation), count, and mean. Quantiles are emitted as
    * milli-rounded integers so the comparison is robust to last-ulp
    * interpolation differences across engines; the mean divides an
    * exact integer sum. Single-pass aggregate -> one reduced row. */
  def lengthQuantiles(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = size(split(norm(col(textCol)), " ")).cast("long")
    df.select(toks.as("__t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("sum_tokens"),
        min(col("__t")).as("min_tokens"), max(col("__t")).as("max_tokens"),
        expr("percentile(__t, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))").as("__p"))
      .select(col("n_docs"), col("sum_tokens"), col("min_tokens"), col("max_tokens"),
        (col("sum_tokens").cast("double") / col("n_docs")).as("mean_tokens"),
        round(element_at(col("__p"), 1) * 1000).cast("long").as("p25_milli"),
        round(element_at(col("__p"), 2) * 1000).cast("long").as("p50_milli"),
        round(element_at(col("__p"), 3) * 1000).cast("long").as("p75_milli"),
        round(element_at(col("__p"), 4) * 1000).cast("long").as("p90_milli"),
        round(element_at(col("__p"), 5) * 1000).cast("long").as("p99_milli"))
  }

  /** [[lengthQuantiles]] per group (e.g. per source/lang): the same
    * exact interpolated percentiles as one grouped single-pass
    * aggregate — corpus-composition profiling at any cardinality the
    * group-by key has (the shuffle carries one percentile state per
    * group, map-side combined). */
  def lengthQuantilesBy(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val toks = size(split(norm(col(textCol)), " ")).cast("long")
    df.select(col(groupCol), toks.as("__t"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("sum_tokens"),
        min(col("__t")).as("min_tokens"), max(col("__t")).as("max_tokens"),
        expr("percentile(__t, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))").as("__p"))
      .select(col(groupCol), col("n_docs"), col("sum_tokens"),
        col("min_tokens"), col("max_tokens"),
        round(element_at(col("__p"), 1) * 1000).cast("long").as("p25_milli"),
        round(element_at(col("__p"), 2) * 1000).cast("long").as("p50_milli"),
        round(element_at(col("__p"), 3) * 1000).cast("long").as("p75_milli"),
        round(element_at(col("__p"), 4) * 1000).cast("long").as("p90_milli"),
        round(element_at(col("__p"), 5) * 1000).cast("long").as("p99_milli"))
  }

  /** Equal-size RANGE sharding: shard boundaries are the id quantiles
    * (one exact-percentile aggregate), assignment is a narrow
    * comparison map — equal-count contiguous id ranges WITHOUT the
    * global sort an ntile() window would need (which plans as a single
    * partition and cannot scale). Returns per-shard count + id span. */
  def shardByIdRanges(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 1, "need at least 2 shards")
    val qs = (1 until nShards).map(i => i.toDouble / nShards)
    val cuts = df.agg(expr(
      s"percentile($idCol, array(${qs.mkString("D, ")}D))")).head()
      .getSeq[Double](0)
    val shard = cuts.zipWithIndex.foldRight(
      lit(nShards - 1)) { case ((cut, i), acc) =>
        when(col(idCol) <= cut, i).otherwise(acc)
      }
    df.select(col(idCol), shard.cast("long").as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
  }

  /** Hashed-feature linear classifier scoring (the fastText / Vowpal
    * Wabbit deployment shape): each token maps to a feature bucket by
    * portable 62-bit word hash mod `numBuckets`, the model is a flat
    * weight array indexed by bucket, and the document score is the sum
    * of its tokens' weights. The weights here are a deterministic
    * fixture (lehmer3 of the bucket index, scaled to [-1000, 1000]
    * milli-units) — swapping in trained weights changes one array
    * literal, not the plan. Scale shape: the weight array rides into
    * whole-stage codegen as a literal (a few KB at any corpus size;
    * broadcast it past ~1M buckets), the score is one narrow
    * higher-order fold per row — no shuffle, no join, pipelines into
    * the scan like [[qualityScore]]. Integer milli-unit weights make
    * sums exact, so the keep decision is bit-deterministic. */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 4096, weights: Option[Array[Long]] = None): DataFrame = {
    import graft.functions.HashKernels
    val ws = weights.getOrElse(
      Array.tabulate(numBuckets)(b => HashKernels.lehmer3(b.toLong) % 2001L - 1000L))
    require(ws.length == numBuckets,
      s"weight array length ${ws.length} != numBuckets $numBuckets")
    df.select(col(idCol),
        size(graft.functions.text.word_portable_hashes(norm(col(textCol))))
          .cast("long").as("n_tokens"),
        classifierLogit(col(textCol), ws).as("logit_sum"))
      .withColumn("score_milli", col("logit_sum").cast("double") / col("n_tokens"))
      .withColumn("keep", col("logit_sum") > 0)
  }

  /** The model's logit sum as a single Column over raw text — the
    * column-preserving form [[classifierScore]] and the streaming
    * quality gate share. */
  def classifierLogit(text: Column, weights: Array[Long]): Column = {
    val b = weights.length.toLong
    val wLit = typedlit(weights)
    val wh = graft.functions.text.word_portable_hashes(norm(text))
    coalesce(aggregate(wh, lit(0L),
      (acc, h) => acc + element_at(wLit, pmod(h, lit(b)).cast("int") + 1)),
      lit(0L))
  }

  /** Full-batch logistic-regression TRAINING for the hashed-feature
    * classifier — the missing half of [[classifierScore]]'s deployment
    * shape: learn the weight array from labeled documents, entirely in
    * fixed-point integer arithmetic so every round replays bit-for-bit
    * in an unrolled-CTE oracle (the X132 kmeansTrain discipline).
    *
    * Model and arithmetic (all Long, no floats anywhere):
    *   - features: token -> bucket by portable 62-bit word hash mod
    *     `numBuckets`; a document's feature vector is its bucket
    *     counts (token multiplicity counts, bag-of-words).
    *   - margin_i = sum over tokens of w[bucket] (weights in
    *     MILLI-units), computed by the same higher-order fold the
    *     scoring kernel uses.
    *   - probability in QUARTER-MILLI units via the hard sigmoid
    *     p = clamp(2000 + margin, 0, 4000) — slope 1/4 per milli-unit
    *     of margin, the true sigmoid's derivative at 0, and crucially
    *     DIVISION-FREE so no floor-vs-truncate ambiguity enters the
    *     per-doc path.
    *   - error e_i = 4000*y_i - p_i; gradient g_b = sum_i e_i * x_ib
    *     as one partial-combined integer sum per bucket —
    *     merge-order-free, so the reduction order can never flip a
    *     trained bit.
    *   - update w_b += (lrNum * g_b) / (4 * nDocs * lrDen_r) in
    *     TRUNCATING Long division (Scala `/` == Spark `div` ==
    *     DuckDB `//` on negatives — verified, all truncate toward
    *     zero); lrDen_r = lrDen << (r / lrDecayEvery) — the halving
    *     step schedule that damps the hard-sigmoid limit cycle (a
    *     piecewise-linear loss + fixed step oscillates; measured on
    *     the test corpus: fixed lr plateaus at the base rate, the
    *     halving schedule reaches 95-98% accuracy in 24 rounds).
    *
    * Scale shape (r20): the corpus contracts ONCE to its distinct
    * (label, sorted-bucket-array) TYPES with multiplicities — exact,
    * because margins and gradients are linear in the duplicate count —
    * and the type table materializes once (localCheckpoint) to serve
    * all rounds. Below the `driverTypeLimit`/`driverEntryLimit` gate
    * (checked BEFORE collect, the byteBpeTrainMergesLocal discipline)
    * the whole loop runs in the driver: one collect + `rounds` of pure
    * Long arithmetic, zero per-round jobs. Above it, per round: one
    * narrow codegen margin fold over the types (the weight array rides
    * as a literal) + one bucket-keyed aggregation whose reduced size
    * is `numBuckets` rows — independent of corpus size; the driver
    * holds only the B-long weight array (the exact kmeansTrain shape:
    * k×dims there, B here). Labels ride as any 0/1 column; a curation
    * deployment points this at its human-rated sample and ships the
    * returned array straight into [[classifierScore]]'s `weights`. */
  def classifierTrain(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, numBuckets: Int = 512, rounds: Int = 24,
      lrNum: Long = 1L, lrDen: Long = 1L,
      lrDecayEvery: Int = 6,
      driverTypeLimit: Long = 1L << 16,
      driverEntryLimit: Long = 1L << 21): Array[Long] = {
    require(numBuckets >= 1 && rounds >= 0 && lrNum >= 1 && lrDen >= 1 &&
      lrDecayEvery >= 1,
      s"bad hyperparameters: B=$numBuckets R=$rounds lr=$lrNum/$lrDen/$lrDecayEvery")
    // Long shifts wrap mod 64: the halving schedule's largest shift must
    // leave lrDen's bit length under 62 bits or the denominator silently
    // wraps to zero/negative and corrupts the weights (ADVICE r15).
    val maxShift = if (rounds == 0) 0 else (rounds - 1) / lrDecayEvery
    require(maxShift + (64 - java.lang.Long.numberOfLeadingZeros(lrDen)) <= 62,
      s"lr decay overflows Long: lrDen=$lrDen shifted by $maxShift " +
        s"(rounds=$rounds, lrDecayEvery=$lrDecayEvery) exceeds 62 bits")
    val wh = graft.functions.text.word_portable_hashes(norm(col(textCol)))
    // CONTRACTION (r20): two documents with the same label and the
    // same bucket MULTISET contribute identically to every margin and
    // every gradient — margin is a sum over bucket occurrences,
    // g_b = sum_i e_i * x_ib weights linearly in the duplicate count.
    // So the training set is reduced ONCE to its distinct
    // (label, sorted-bucket-array) TYPES with a multiplicity, and all
    // `rounds` passes run over types instead of documents. Exact by
    // construction (integer sums are order- and grouping-free), and
    // the contraction is the scale lever: a replica-heavy crawl corpus
    // (the GenScale regime) collapses ~100x before the loop starts.
    val types = Frames.cutLocal(
      df.select(col(labelCol).cast("long").as("__y"),
          array_sort(transform(wh,
            h => pmod(h, lit(numBuckets.toLong)).cast("int"))).as("__bs"))
        .groupBy(col("__y"), col("__bs")).agg(count(lit(1)).as("__m")))
    try {
      val stats = types.agg(count(lit(1)).as("t"), sum(col("__m")).as("n"),
        sum(coalesce(size(col("__bs")).cast("long"), lit(0L))).as("e")).head()
      val (nTypes, nDocs, nEntries) =
        if (stats.isNullAt(1)) (0L, 0L, 0L)
        else (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      // the FULL denominator 4*nDocs*lrDen << maxShift must also fit: the
      // entry require bounds lrDen's shift alone, but the doc-count factor
      // eats headroom too (e.g. 8 << 61 wraps to 0 -> division by zero)
      val denomBase = math.multiplyExact(math.multiplyExact(4L, nDocs), lrDen)
      require(maxShift + (64 - java.lang.Long.numberOfLeadingZeros(denomBase)) <= 62,
        s"lr decay overflows Long: 4*nDocs*lrDen=$denomBase shifted by " +
          s"$maxShift (nDocs=$nDocs, rounds=$rounds, lrDecayEvery=$lrDecayEvery)")
      val w = Array.fill(numBuckets)(0L)
      // gated-collect driver loop (the byteBpeTrainMergesLocal
      // adjudication, r19): when the TYPE table provably fits the
      // driver — gate checked BEFORE collect — the `rounds` sequential
      // Spark jobs (each a full job-scheduling + shuffle + collect
      // round trip that dominates training wall-clock at any corpus
      // size, since the reduced gradient is only `numBuckets` rows)
      // become one collect plus pure in-driver Long arithmetic.
      // Output is bit-identical: same sums, same truncating division.
      if (nTypes <= driverTypeLimit && nEntries <= driverEntryLimit) {
        // null labels (labelCol values that cast to null) are DROPPED
        // from the gradient exactly as the distributed path drops them
        // (null __y -> null __e -> null __em, absent from every sum);
        // their __m still counts into nDocs via `stats`, matching the
        // distributed denominator (ADVICE r20). An empty/all-null
        // corpus keeps denomBase = 0 — the rounds loop is skipped so
        // the zero weight array returns instead of dividing by zero.
        val rows = types.collect().withFilter(!_.isNullAt(0)).map { r =>
          (r.getLong(0),
            if (r.isNullAt(1)) Array.emptyIntArray
            else r.getSeq[Int](1).toArray,
            r.getLong(2))
        }
        for (r <- 0 until rounds if denomBase != 0L) {
          val denom = denomBase << (r / lrDecayEvery)
          val g = Array.fill(numBuckets)(0L)
          rows.foreach { case (y, bs, mult) =>
            var m = 0L
            var j = 0
            while (j < bs.length) { m += w(bs(j)); j += 1 }
            val e = y * 4000L - math.max(0L, math.min(4000L, 2000L + m))
            val em = e * mult
            j = 0
            while (j < bs.length) { g(bs(j)) += em; j += 1 }
          }
          var b = 0
          while (b < numBuckets) {
            w(b) += lrNum * g(b) / denom; b += 1
          }
        }
      } else {
        // distributed rounds over the contracted type frame — the
        // above-the-gate path for corpora whose distinct type table
        // is itself large (high-diversity corpora at cluster scale)
        for (r <- 0 until rounds) {
          val denom = denomBase << (r / lrDecayEvery)
          val wLit = typedlit(w.clone())
          val grads = types
            .withColumn("__mgn", coalesce(aggregate(col("__bs"), lit(0L),
              (acc, b) => acc + element_at(wLit, b + 1)), lit(0L)))
            .withColumn("__e", col("__y") * lit(4000L) -
              greatest(lit(0L), least(lit(4000L), lit(2000L) + col("__mgn"))))
            .select(explode(col("__bs")).as("__b"),
              (col("__e") * col("__m")).as("__em"))
            // null __em rows (null labels) are absent from sum anyway;
            // dropping them up front keeps a bucket whose docs are ALL
            // null-labeled from returning a null sum (NPE on getLong)
            .filter(col("__em").isNotNull)
            .groupBy(col("__b"))
            .agg(sum(col("__em")).as("__g"))
            .collect()
          grads.foreach(r => w(r.getInt(0)) += lrNum * r.getLong(1) / denom)
        }
      }
      w
    } finally Frames.free(types) // the old per-doc frame leaked its checkpoint
  }

  /** [[classifierTrain]]'s weight table as a queryable frame:
    * one row per bucket, `(bucket, weight_milli)`. */
  def classifierTrainTable(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, numBuckets: Int = 512, rounds: Int = 24,
      lrNum: Long = 1L, lrDen: Long = 1L,
      lrDecayEvery: Int = 6): DataFrame = {
    val w = classifierTrain(df, idCol, textCol, labelCol, numBuckets,
      rounds, lrNum, lrDen, lrDecayEvery)
    val spark = df.sparkSession
    import spark.implicits._
    w.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toSeq
      .toDF("bucket", "weight_milli")
  }

  /** Tokenizer-vocabulary coverage: build the top-`vocabSize` corpus
    * vocabulary by token frequency (count desc, token asc — a
    * deterministic boundary cut), then score each document's
    * out-of-vocabulary rate against it — the "will my tokenizer
    * fragment this document" curation signal.
    *
    * Scale shape: the vocabulary is a partial-agged count + TakeOrdered
    * of V rows (never a global sort); the OOV count is a left-anti
    * join of the exploded (id, term) stream against those V rows — AQE
    * broadcasts the vocab side, so the corpus never shuffles strings
    * beyond the first count's combined (term, n) rows. OOV permille in
    * integer floor-division: engine-exact. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(norm(col(textCol)), " ")).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("term").asc).limit(vocabSize)
      .select(col("term"))
    val oov = toks.join(vocab, Seq("term"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_oov"))
    df.select(col(idCol),
        size(split(norm(col(textCol)), " ")).cast("long").as("n_tokens"))
      .join(oov, Seq(idCol), "left")
      .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
      .withColumn("oov_permille", expr("(n_oov * 1000) div n_tokens"))
  }

  /** Corpus-bigram language-model fluency scoring — the model-based
    * quality filter (KenLM-style) in integer-exact form: the corpus
    * itself is the LM (bigram count over prefix count, in permille,
    * floor division — no log, no floats), a document's score is the
    * floor-mean conditional probability of its bigram stream. Low
    * scores mark token soup; high scores mark text whose continuations
    * the corpus predicts — the standard fluency axis, minus the float
    * perplexity that would never compare across engines.
    *
    * Scale shape: the bigram stream is reduced to (id, 64-bit gram
    * hash, 64-bit prefix hash) — three longs per token, never gram
    * STRINGS — before being materialized once (localCheckpoint) for
    * the two count reductions and the probe; count identity by hash
    * conflates grams at ~|grams|^2/2^64 (vanishing, same argument as
    * [[Dedup.dupSpanFraction]]). Count tables are vocabulary-bounded,
    * so AQE broadcasts them under the probe join; per-doc aggregation
    * partial-aggregates map-side. */
  def lmFluency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol),
        explode(graft.functions.text.word_ngrams(norm(col(textCol)), 2)).as("__bg"))
      .select(col(idCol), xxhash64(col("__bg")).as("bg"),
        xxhash64(split(col("__bg"), " ").getItem(0)).as("p"))
      .localCheckpoint()
    val cb = bg.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val cp = bg.groupBy(col("p")).agg(count(lit(1)).as("cp"))
    bg.join(cb, "bg").join(cp, "p")
      .withColumn("pp", expr("(cb * 1000) div cp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("pp")).as("sum_p"))
      .withColumn("fluency_permille", expr("sum_p div n_bigrams"))
  }

  /** Interpolated Kneser–Ney bigram LM quality scoring with a
    * train/score split — the CCNet-shaped model-based filter (Wenzek
    * et al. 2020 rank CommonCrawl by the score of an LM trained on
    * reference text; Kneser–Ney 1995, Chen & Goodman 1998 give the
    * smoothing), where [[lmFluency]] is the unsmoothed self-corpus
    * form. The LM trains ONLY on the `trainPred` slice and scores
    * EVERY document, so unseen words and bigrams are routine — which
    * is exactly what the smoothing is for:
    *
    *   P(w|v) = max(c(vw) - D, 0)/c(v)
    *            + (D·N1+(v·)/c(v)) · Pcont(w)       c(v) > 0
    *   P(w|v) = Pcont(w)                             v unseen
    *   Pcont(w) = (N1+(·w) + 1) / (N1+(··) + V + 1)
    *
    * with D = 3/4 and the continuation distribution add-one floored
    * (so a train-unseen w scores 1/(N1+(··)+V+1) instead of zero — the
    * closed-vocabulary Pcont would zero out every OOV document).
    * Every probability is an exact rational of train counts; with
    * D = 3/4 all terms cross-multiply to integers, and the per-doc
    * report is the floor-mean probability in MICRO units plus bigram
    * and OOV counts — integer-exact across engines (the bm25
    * discipline). A float perplexity (exp of the mean negative log)
    * is deliberately NOT emitted: libm vs JVM transcendental rounding
    * diverges per-term and no exact oracle could check it.
    *
    * Scale shape: the bigram stream reduces to (id, hv, hw) longs —
    * never gram strings (count identity by hash conflates grams at
    * ~|grams|²/2^64, the [[Dedup.dupSpanFraction]] caveat); count
    * tables are bigram-TYPE-bounded and AQE-broadcast under the probe
    * joins when small; the scoring is three hash equi-joins plus one
    * partial-aggregated per-doc reduction; the totals frame is a
    * broadcast 1-row cross join. Docs with < 2 words report NULL
    * score and zero counts (the oracle's NULL branch). */
  def knBigramScore(df: DataFrame, idCol: String, textCol: String,
      trainPred: Column): DataFrame = {
    val bi = Frames.materializeCut(df.select(col(idCol).as("__id"),
        trainPred.as("__train"),
        explode(graft.functions.text.word_ngrams(norm(col(textCol)), 2))
          .as("__g"))
      .filter(col("__g").contains(" ")) // drop the < 2-word clamp gram
      .select(col("__id"), col("__train"),
        xxhash64(substring_index(col("__g"), " ", 1)).as("hv"),
        xxhash64(substring_index(col("__g"), " ", -1)).as("hw")))
    val KnFrames(cvw, cv, n1w, tot) =
      knTrainFromBigrams(bi.filter(col("__train")))
    // all-decimal cross-multiplication: numerators stay < 1e34 at
    // 100-TB-scale counts, exact in Spark decimal(38,0) and DuckDB
    // HUGEINT alike; `div` floors identically in both
    val micro = expr("""CASE WHEN cv IS NOT NULL THEN
        (cast(1000000 as decimal(38,0)) *
          (greatest(4 * coalesce(cvw, 0) - 3, 0)
             * cast(ncc + vv + 1 as decimal(20,0))
           + 3 * cast(n1v as decimal(20,0)) * (coalesce(n1w, 0) + 1)))
        div (4 * cast(cv as decimal(20,0))
             * cast(ncc + vv + 1 as decimal(20,0)))
      ELSE (cast(1000000 as decimal(38,0)) * (coalesce(n1w, 0) + 1))
        div cast(ncc + vv + 1 as decimal(20,0)) END""")
    // the model tables sit behind lineage cuts with no size estimate:
    // when the bigram-type count provably fits the broadcast budget,
    // hint the probe joins (the knTrigramScore/SuffixArray discipline)
    // — a production-size model exceeds it and shuffles as before
    val cvwRows = cvw.count() // cheap: cvw is already materialized
    val bcastBudget = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    def hinted(d: DataFrame): DataFrame =
      if (bcastBudget > 0 && cvwRows * 24L < bcastBudget) broadcast(d) else d
    val perDoc = bi
      .join(hinted(cvw), Seq("hv", "hw"), "left")
      .join(hinted(cv), Seq("hv"), "left")
      .join(hinted(n1w), Seq("hw"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__id"), micro.cast("long").as("__micro"),
        col("cvw").isNull.cast("long").as("__oov"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__oov")).as("oov_bigrams"),
        expr("sum(__micro) div count(1)").as("score_micro"))
    val out = df.select(col(idCol).as("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("oov_bigrams"), lit(0L)).as("oov_bigrams"),
        col("score_micro"))
    val result = Frames.materializeCut(out)
    Frames.free(bi); Frames.free(cvw)
    result
  }

  /** The trained KN model's count frames: bigram types (hv, hw, cvw),
    * context stats (hv, cv, n1v), continuation counts (hw, n1w), and
    * the 1-row (ncc, vv) totals. */
  case class KnFrames(cvw: DataFrame, cv: DataFrame, n1w: DataFrame,
      tot: DataFrame)

  /** Train the KN count frames on a whole frame's text column —
    * the reference-corpus entry point ([[knBigramScore]] slices with
    * a predicate instead). */
  def knTrain(df: DataFrame, textCol: String): KnFrames =
    knTrainFromBigrams(df.select(
        explode(graft.functions.text.word_ngrams(norm(col(textCol)), 2))
          .as("__g"))
      .filter(col("__g").contains(" "))
      .select(xxhash64(substring_index(col("__g"), " ", 1)).as("hv"),
        xxhash64(substring_index(col("__g"), " ", -1)).as("hw")))

  private def knTrainFromBigrams(tb: DataFrame): KnFrames =
    knFromCvw(Frames.materializeCut(
      tb.groupBy(col("hv"), col("hw")).agg(count(lit(1)).as("cvw"))))

  /** Derive the full model from the bigram-type count frame — `cvw`
    * is the model's SUFFICIENT STATISTIC (context totals, continuation
    * counts, and the (ncc, vv) totals are all aggregations of it),
    * which is what makes single-frame persistence possible. */
  private def knFromCvw(cvw: DataFrame): KnFrames = {
    val cv = cvw.groupBy(col("hv"))
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val n1w = cvw.groupBy(col("hw")).agg(count(lit(1)).as("n1w"))
    val tot = cvw.agg(count(lit(1)).as("ncc")).crossJoin(
      cvw.select(col("hv").as("h")).union(cvw.select(col("hw").as("h")))
        .agg(countDistinct(col("h")).as("vv")))
    KnFrames(cvw, cv, n1w, tot)
  }

  /** Persist a trained KN model under `dir` — the model LIFECYCLE
    * step that lets online scoring sessions (streaming jobs, later
    * batch runs) reuse a reference LM without re-reading the training
    * corpus, mirroring the IVF persisted-index lifecycle
    * ([[Similarity.writeIvfIndex]]). Only the sufficient statistic
    * (the (hv, hw, cvw) bigram-type frame) is written; every derived
    * frame is rebuilt on load, so the store can never hold an
    * inconsistent model. */
  def saveKnModel(m: KnFrames, dir: String): Unit =
    m.cvw.write.mode("overwrite").parquet(s"$dir/cvw")

  /** Load a persisted KN model: one parquet scan plus the (cheap,
    * type-bounded) derived aggregations. `knTable(loadKnModel(...))`
    * rebuilds the broadcastable kernel table, bit-identical to the
    * freshly-trained one (spec-pinned). */
  def loadKnModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): KnFrames =
    knFromCvw(spark.read.parquet(s"$dir/cvw"))

  /** Collect a trained model into the broadcastable row-local
    * [[graft.functions.KnLmTable]] — the deployment shape for online
    * scoring (streaming micro-batches, map-side batch scoring). The
    * collect is GATED: a reference model is bounded by construction
    * (curated reference text, bounded vocabulary), and a model that
    * isn't fails loudly naming the dial rather than silently pulling
    * an unbounded frame to the driver. */
  def knTable(m: KnFrames, maxTypes: Long = 2000000L):
      graft.functions.KnLmTable = {
    val n = m.cvw.count()
    require(n <= maxTypes,
      s"KN model has $n bigram types > maxTypes $maxTypes — train on a " +
        "curated reference slice or raise maxTypes if this size is intended")
    val bg = m.cvw.select(col("hv"), col("hw"), col("cvw")).collect()
    val cvr = m.cv.select(col("hv"), col("cv"), col("n1v")).collect()
    val n1r = m.n1w.select(col("hw"), col("n1w")).collect()
    val t = m.tot.select(col("ncc"), col("vv")).head()
    new graft.functions.KnLmTable(
      bg.map(_.getLong(0)), bg.map(_.getLong(1)), bg.map(_.getLong(2)),
      cvr.map(_.getLong(0)), cvr.map(_.getLong(1)), cvr.map(_.getLong(2)),
      n1r.map(_.getLong(0)), n1r.map(_.getLong(1)),
      t.getLong(0), t.getLong(1))
  }

  /** Map-side KN scoring of every document against a collected model:
    * one kernel call per row, no joins, no shuffle — bit-identical to
    * [[knBigramScore]]'s join path (spec-pinned). */
  def knScoreWithTable(df: DataFrame, idCol: String, textCol: String,
      table: graft.functions.KnLmTable): DataFrame =
    df.select(col(idCol),
        graft.functions.text.kn_score(norm(col(textCol)), table).as("__s"))
      .select(col(idCol),
        // NULL text: the kernel (null-intolerant) yields a NULL
        // struct; coalesce the counts to match the join path's
        // (0, 0, NULL) exactly — the bit-identity contract covers
        // null rows too
        coalesce(col("__s.n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("__s.oov_bigrams"), lit(0L)).as("oov_bigrams"),
        col("__s.score_micro").as("score_micro"))

  /** Trigram interpolated Kneser–Ney with the full backoff chain —
    * one order up from [[knBigramScore]] (real CCNet filters use
    * higher-order KenLM; order 3 exercises the recursive interpolation
    * that order 2 cannot):
    *
    *   P3(w|u,v) = max(c3(uvw) - D, 0)/c2ctx(uv)
    *               + D·N1+(uv·)/c2ctx(uv) · P2c(w|v)
    *   P2c(w|v)  = max(N1+(·vw) - D, 0)/N1+(·v·)
    *               + D·N1+c(v·)/N1+(·v·) · Pc(w)
    *   Pc(w)     = (N1+(·w) + 1) / (N1+(··) + V + 1)
    *
    * with D = 3/4; c3/c2ctx from trigram occurrences, the middle
    * layer from trigram TYPE counts (the continuation distribution),
    * the bottom layer from the bigram type table — identical to the
    * bigram operator's Pc, so the family composes. Unseen context
    * backoff: c2ctx = 0 -> P2c; N1+(·v·) = 0 -> Pc.
    *
    * Portability contract: each level is FLOOR-COMPOSED in integer
    * micro units (level k consumes level k+1's floored micro value) —
    * a deliberate, exactly-specified quantization that keeps every
    * intermediate below ~1e26 at any corpus size (the single-fraction
    * exact rational would overflow decimal(38) near 1e13-token
    * training sets), and both engines floor identically. The
    * quantization error is < 2e-6 absolute per level — noise for a
    * quality score, and part of the defined contract, not an
    * approximation of it. */
  def knTrigramScore(df: DataFrame, idCol: String, textCol: String,
      trainPred: Column): DataFrame = {
    def h(c: Column): Column = xxhash64(c)
    def w1(g: Column): Column = substring_index(g, " ", 1)
    def w3(g: Column): Column = substring_index(g, " ", -1)
    def w2(g: Column): Column =
      substring_index(substring_index(g, " ", 2), " ", -1)
    // trigram occurrence stream (docs with < 3 words emit the clamp
    // gram with < 2 spaces -> filtered -> NULL score via the left join)
    val tri = Frames.materializeCut(df.select(col(idCol).as("__id"),
        trainPred.as("__train"),
        explode(graft.functions.text.word_ngrams(norm(col(textCol)), 3))
          .as("__g"))
      .filter(size(split(col("__g"), " ")) === 3)
      .select(col("__id"), col("__train"),
        h(w1(col("__g"))).as("hu"), h(w2(col("__g"))).as("hv"),
        h(w3(col("__g"))).as("hw")))
    val t3 = Frames.materializeCut(tri.filter(col("__train"))
      .groupBy(col("hu"), col("hv"), col("hw"))
      .agg(count(lit(1)).as("c3")))
    // every model table is <= |t3| rows of <= 4 longs, but they sit
    // behind lineage cuts whose sizes Catalyst can't estimate, so the
    // five probe joins each planned as AQE sort-merge stages — 27
    // one-task jobs at sf0.1, pure scheduling floor (r21 measured).
    // When the type count provably fits the session broadcast budget,
    // hint it (the SuffixArray `hinted` discipline); a production-size
    // model exceeds the budget and the joins shuffle, the correct plan
    val t3Rows = t3.count() // cheap: t3 is already materialized
    val bcastBudget = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    def hinted(d: DataFrame): DataFrame =
      if (bcastBudget > 0 && t3Rows * 32L < bcastBudget) broadcast(d) else d
    val ctx = hinted(t3.groupBy(col("hu"), col("hv"))
      .agg(sum(col("c3")).as("c2ctx"), count(lit(1)).as("n1uv")))
    val cont2 = hinted(t3.groupBy(col("hv"), col("hw"))
      .agg(count(lit(1)).as("n1vw"))) // = distinct u per (v, w)
    val midv = hinted(t3.groupBy(col("hv"))
      .agg(count(lit(1)).as("n1vmid"), // N1+(·v·): types with middle v
        countDistinct(col("hw")).as("n1vfol"))) // N1+c(v·)
    // bottom layer: the bigram op's continuation stats, verbatim
    val bi = df.filter(trainPred).select(
        explode(graft.functions.text.word_ngrams(norm(col(textCol)), 2))
          .as("__g"))
      .filter(col("__g").contains(" "))
      .select(h(w1(col("__g"))).as("hv"), h(w3(col("__g"))).as("hw"))
    val bottomLayer = knTrainFromBigrams(bi)
    val (n1w, tot) = (bottomLayer.n1w, bottomLayer.tot)

    val pcw = // floor(1e6 * (n1w + 1) / (ncc + vv + 1))
      expr("""(cast(1000000 as decimal(38,0)) * (coalesce(n1w, 0) + 1))
        div cast(ncc + vv + 1 as decimal(20,0))""")
    val p2 = expr("""CASE WHEN n1vmid IS NOT NULL THEN
        (cast(1000000 as decimal(38,0)) *
           greatest(4 * coalesce(n1vw, 0) - 3, 0)
         + 3 * cast(n1vfol as decimal(20,0)) * __pc)
        div (4 * cast(n1vmid as decimal(20,0)))
      ELSE __pc END""")
    val p3 = expr("""CASE WHEN c2ctx IS NOT NULL THEN
        (cast(1000000 as decimal(38,0)) *
           greatest(4 * coalesce(c3, 0) - 3, 0)
         + 3 * cast(n1uv as decimal(20,0)) * __p2)
        div (4 * cast(c2ctx as decimal(20,0)))
      ELSE __p2 END""")
    val perDoc = tri
      .join(hinted(t3), Seq("hu", "hv", "hw"), "left")
      .join(ctx, Seq("hu", "hv"), "left")
      .join(cont2, Seq("hv", "hw"), "left")
      .join(midv, Seq("hv"), "left")
      .join(hinted(n1w), Seq("hw"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__pc", pcw.cast("long"))
      .withColumn("__p2", p2.cast("long"))
      .select(col("__id"), p3.cast("long").as("__p3"),
        col("c3").isNull.cast("long").as("__oov"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("__oov")).as("oov_trigrams"),
        expr("sum(__p3) div count(1)").as("score_micro"))
    val out = df.select(col(idCol).as("__id"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("oov_trigrams"), lit(0L)).as("oov_trigrams"),
        col("score_micro"))
    val result = Frames.materializeCut(out)
    Frames.free(tri); Frames.free(t3); Frames.free(bottomLayer.cvw)
    result
  }

  /** Flesch reading-ease in exact integer MILLI units — the classic
    * readability gate (Flesch 1948; a standard quality axis next to
    * the Gopher battery and the LM scores):
    *
    *   F = 206.835 - 1.015·(words/sentences) - 84.6·(syllables/word)
    *
    * rendered as `206835 - (1015·W) div S - (84600·Y) div W` — each
    * ratio floor-divided independently (the defined portable
    * contract; both engines floor identically, no float division).
    * Sentences = maximal `[.!?]+` runs, floored at 1; syllables = the
    * heuristic maximal `[aeiouy]+` runs over the normalized text
    * (spaces break runs, so the global count equals the per-word sum)
    * plus one per vowel-less word (every word counts >= 1 syllable,
    * the classic convention). Scores can go negative on token soup —
    * that is the signal, not an error. Per-row map, no shuffle. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = norm(col(textCol))
    df.select(col(idCol), t.as("__t"))
      .withColumn("__ws", split(col("__t"), " "))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("__t"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("n_sentences"),
        (size(regexp_extract_all(col("__t"), lit("[aeiouy]+"), lit(0)))
          .cast("long") +
          size(filter(col("__ws"), w => !w.rlike("[aeiouy]")))
            .cast("long")).as("n_syllables"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * n_words) div n_sentences" +
          " - (84600 * n_syllables) div n_words"))
  }

  /** Polynomial rolling-hash fingerprint over the alnum+space chars of
    * the normalized text: fold of h -> (h*31 + code) mod 1e9+7. Stays
    * within int64 at every step (no overflow — DuckDB would raise,
    * Spark would wrap; the modulus keeps both honest and equal). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cleaned = regexp_replace(norm(col(textCol)), "[^a-z0-9 ]", "")
    val chars = filter(split(cleaned, ""), c => c =!= "")
    df.select(col(idCol),
      aggregate(chars, lit(0L), (acc, c) => pmod(acc * 31 + ascii(c), lit(1000000007L)))
        .as("fingerprint"))
  }
}
