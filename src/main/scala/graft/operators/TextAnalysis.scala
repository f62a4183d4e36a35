package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * Everything here is pure `org.apache.spark.sql.functions` column algebra —
  * no UDFs — so every operator stays inside whole-stage codegen and scales
  * embarrassingly parallel (per-row, zero shuffle). On a 1000-executor
  * cluster these run at parquet-scan speed.
  */
object TextAnalysis {

  /** Whitespace tokens of `textCol`, lowercased. Single-space split is the
    * declared tokenization contract (matches the oracle's
    * `string_split(lower(text), ' ')`).
    */
  def tokens(textCol: Column): Column = split(lower(textCol), " ")

  /** Distinct n-token windows of `tokensCol`, each mapped by `f` over its
    * slice — the shared core of [[shingles]] (string windows) and
    * [[duplicatePassages]] (hashed windows). Built with `transform` over
    * an index sequence — codegen-friendly, no explode until the caller
    * asks for one.
    *
    * The token array is bound ONCE, as the variable `t` of a one-element
    * `transform` (a let): Catalyst does no CSE inside lambdas, so a window
    * lambda over `tokensCol` itself re-split the text per window, O(L²).
    *
    * @param empty the typed empty-array literal for the sub-`n` guard
    *        (sequence(0, k) with k<0 would generate a DESCENDING range)
    */
  private def windowed(tokensCol: Column, n: Int, f: Column => Column,
      empty: Column): Column =
    element_at(transform(array(tokensCol), t =>
      when(size(t) >= n,
        array_distinct(transform(
          sequence(lit(0), size(t) - n),
          i => f(slice(t, i + lit(1), lit(n))))))
        .otherwise(empty)), 1)

  /** Word n-gram "shingles" (distinct), the unit of Jaccard similarity. */
  def shingles(tokensCol: Column, n: Int): Column =
    windowed(tokensCol, n, w => concat_ws(" ", w), array().cast("array<string>"))

  /** Token count per document. */
  def withTokenCount(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", size(tokens(col(textCol))).cast("long"))

  /** BPE-ish subword segmentation: letter runs, digit runs, and single
    * other-symbol fallbacks (CJK decomposes per character) — the
    * pre-tokenization regex shape BPE vocabularies are trained over. ASCII
    * classes only, so the pattern behaves identically under Java regex and
    * RE2 (cross-engine-reproducible for oracles). Codegen'd, row-local.
    */
  def subwordTokens(textCol: Column): Column =
    regexp_extract_all(lower(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Subword count per document — the "token budget" signal an LLM-data
    * pipeline filters and bins on.
    */
  def subwordCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(subwordTokens(col(textCol))).cast("long").as("n_subwords"),
      size(array_distinct(subwordTokens(col(textCol)))).cast("long")
        .as("n_distinct_subwords"))

  /** English-ish stopword list used by quality scoring (fixed contract —
    * the oracle SQL embeds the same list).
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Heuristic quality signals: token count, mean token length, stopword
    * ratio, punctuation ratio, all-caps ratio. Deterministic, row-local.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = tokens(col(textCol))
    val nTok = size(ts).cast("long")
    val stopHits = size(filter(ts, t => t.isInCollection(Stopwords))).cast("long")
    val charTotal = aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val punct = length(col(textCol)) -
      length(regexp_replace(col(textCol), "[\\.,;:!\\?]", ""))
    df.select(
      col(idCol),
      nTok.as("n_tokens"),
      round(charTotal.cast("double") / nTok, 4).as("avg_token_len"),
      round(stopHits.cast("double") / nTok, 4).as("stopword_ratio"),
      round(punct.cast("double") / length(col(textCol)), 4).as("punct_ratio"))
  }

  /** Marker-token profiles for the n-gram/stopword language-ID heuristic.
    * Order matters: ties break toward the earlier entry (then 'und').
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Language ID: score = marker-token hits per profile; prediction = argmax
    * (ties → profile order; zero hits → "und"). Row-local, codegen'd.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = tokens(col(textCol))
    val scores = LangProfiles.map { case (lang, markers) =>
      lang -> size(filter(ts, t => t.isInCollection(markers))).cast("long")
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first profile (in declared order) achieving the max score wins
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
    df.select(col(idCol) +: scores.map { case (l, s) => s.as(s"score_$l") }
      :+ pred.as("pred_lang"): _*)
  }

  /** Gopher-style repetition quality signals: the within-document
    * repetition ratios published dataset-curation pipelines filter on
    * (Rae et al., "Scaling Language Models: ... Gopher", and C4's
    * boilerplate rules) — highly repetitive documents are low-quality
    * machine output or boilerplate.
    *
    * Scale shape: one explode, then two chained partial-combined
    * aggregations ((doc, token) → doc); the trigram ratios are row-local
    * column algebra carried through the explode (constant per document,
    * `first()` in the final aggregation). No join, two shuffles.
    *
    * @return per document: n_tokens, distinct_token_ratio,
    *         top_token_ratio (most frequent token's share) and
    *         dup_trigram_ratio (1 − distinct/total trigrams).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = tokens(col(textCol))
    val tok = df.select(col(idCol),
        greatest(size(ts) - 2, lit(0)).cast("long").as("_ntri"),
        size(shingles(ts, 3)).cast("long").as("_ntrid"),
        explode(ts).as("_t"))
    val perTok = tok.groupBy(col(idCol), col("_t"))
      .agg(count(lit(1)).as("_f"), first(col("_ntri")).as("_ntri"),
        first(col("_ntrid")).as("_ntrid"))
    perTok.groupBy(col(idCol))
      .agg(sum("_f").as("n_tokens"), count(lit(1)).as("_nd"),
        max("_f").as("_top"), first(col("_ntri")).as("_ntri"),
        first(col("_ntrid")).as("_ntrid"))
      .select(col(idCol),
        col("n_tokens"),
        round(col("_nd") / col("n_tokens"), 4).as("distinct_token_ratio"),
        round(col("_top") / col("n_tokens"), 4).as("top_token_ratio"),
        when(col("_ntri") > 0,
            round(lit(1) - col("_ntrid") / col("_ntri").cast("double"), 4))
          .otherwise(lit(0.0)).as("dup_trigram_ratio"))
  }

  /** Gopher quality-rule bundle (Rae et al. 2021, §A1.1) — the rule half
    * that complements [[repetitionSignals]]' repetition half: per-doc
    * signals plus the conjunctive keep verdict —
    *
    *   word count ∈ [minWords, maxWords]; mean word length ∈ [3, 10];
    *   symbol-to-word ratio ('#' chars + "..." occurrences) ≤ 0.1;
    *   bullet-started lines ≤ 90%; ellipsis-ended lines ≤ 30%;
    *   words with ≥ 1 alphabetic char ≥ 80%; ≥ 2 distinct stop words.
    *
    * All row-local column algebra over one split — zero UDFs, zero
    * shuffles; the filter is embarrassingly parallel at any scale and
    * every signal replays in any SQL engine.
    */
  def gopherQualitySignals(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = filter(split(col(textCol), "\\s+"), w => length(w) > 0)
    val lines = filter(split(col(textCol), "\n"), l => length(trim(l)) > 0)
    val nWords = size(words).cast("long")
    val nLines = greatest(size(lines), lit(1)).cast("long")
    val meanLen = aggregate(words, lit(0L), (a, w) => a + length(w))
      .cast("double") / nWords
    val nHash = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))).cast("long")
    val nEllipsis = ((length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3).cast("long")
    val symRatio = (nHash + nEllipsis).cast("double") / nWords
    val bulletRatio = size(filter(lines, l =>
      trim(l).startsWith("- ") || trim(l).startsWith("* ") ||
        trim(l).startsWith("•"))).cast("double") / nLines
    val ellipsisLineRatio = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…")))
      .cast("double") / nLines
    val alphaRatio = size(filter(words, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nWords
    val stopHits = stop.map(s =>
      when(array_contains(words, s), 1).otherwise(0)).reduce(_ + _)
      .cast("long")
    df.select(col(idCol),
        nWords.as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round(symRatio, 4).as("symbol_ratio"),
        round(bulletRatio, 4).as("bullet_line_ratio"),
        round(ellipsisLineRatio, 4).as("ellipsis_line_ratio"),
        round(alphaRatio, 4).as("alpha_word_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_line_ratio") <= 0.9 &&
          col("ellipsis_line_ratio") <= 0.3 &&
          col("alpha_word_ratio") >= 0.8 &&
          col("stop_hits") >= 2L)
  }

  /** Vocabulary induction: the `topK` most frequent whitespace tokens
    * across the corpus with stable ids — the first step of training any
    * subword/word tokenizer.
    *
    * Scale shape: explode → map-side-combined count per token → global
    * top-k (Spark plans `orderBy().limit()` as TakeOrderedAndProject:
    * each partition keeps its local top-k and only k rows reach the
    * driver-side merge) → id assignment by a window over the k surviving
    * rows (k rows — not a global sort of the vocabulary).
    * Ties break lexicographically, so ids are deterministic.
    */
  /** DSIR-style importance weight (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * each document by how much likelier its tokens are under a TARGET
    * distribution than under the raw corpus —
    * `sum over tokens of log p_target(tk) − log p_raw(tk)` with
    * add-`smoothing` Laplace estimates over the corpus vocabulary.
    * Importance resampling then keeps the top-weighted documents; the
    * weight column is the deterministic part, so that is what this
    * emits.
    *
    * Scale shape: one explode feeding ONE groupBy(token) aggregate
    * (target and raw counts ride the same pass via a conditional sum —
    * one shuffle, not two), the three scalar totals broadcast as a
    * one-row cross join, and a second groupBy(doc) for the score. The
    * paper's hashed-n-gram-bucket variant only changes the grouping key
    * (token → hash bucket); the plan is identical, so this shape IS the
    * production shape.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, smoothing: Double = 1.0): DataFrame = {
    val tok = df.select(col(idCol), isTarget.cast("boolean").as("_t"),
      explode(tokens(col(textCol))).as("_tk"))
    val counts = tok.groupBy("_tk").agg(
      sum(when(col("_t"), 1L).otherwise(0L)).as("_ct"),
      count(lit(1)).as("_cr"))
    val totals = counts.agg(sum("_ct").as("_tt"), sum("_cr").as("_tr"),
      count(lit(1)).as("_v"))
    val ratio = counts.crossJoin(broadcast(totals))
      .select(col("_tk"),
        (log((col("_ct") + lit(smoothing)) /
            (col("_tt") + lit(smoothing) * col("_v"))) -
          log((col("_cr") + lit(smoothing)) /
            (col("_tr") + lit(smoothing) * col("_v")))).as("_llr"))
    tok.join(ratio, "_tk")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("_llr")), 4).as("importance_weight"))
  }

  /** BM25 ranked retrieval (Okapi BM25, Robertson et al.; idf in Lucene's
    * non-negative `ln(1 + (N−df+0.5)/(df+0.5))` form) — the lexical
    * retrieval baseline curation/RAG pipelines keep next to their ANN
    * index: score(d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Scale shape: the token array is filtered to the query's terms BEFORE
    * the explode (a literal in the codegen'd `filter` lambda — the scan
    * emits only posting-list tokens, the inverted-index restriction, so
    * the shuffle is postings-sized not corpus-sized); one
    * groupBy(doc, term) computes tf with map-side partial aggregation
    * (immune to a hot term); per-term df is a second partial agg over the
    * ≤|q|-row term table, broadcast back; corpus scalars (N, avgdl) ride a
    * one-row broadcast cross join; the global top-k is orderBy+limit =
    * TakeOrderedAndProject (per-partition partial top-k, never a global
    * sort). Scores round to 4 digits and ties break on the id, so the
    * ranking — including the k-boundary — is engine-reproducible.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK requires query terms")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val stats = toks.agg(count(lit(1)).cast("double").as("_n"),
      avg(size(col("_toks"))).as("_avgdl"))
    val tf = toks
      .select(col(idCol), size(col("_toks")).cast("double").as("_dl"),
        explode(filter(col("_toks"), t => t.isInCollection(terms))).as("_tk"))
      .groupBy(col(idCol), col("_dl"), col("_tk"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    // count(when(_tf >= 1, true)) ≡ count(1): _tf is a per-group count,
    // always >= 1, so the branch is always hit — but the optimizer cannot
    // prove that, so _tf's own count survives on this arm (NullPropagation
    // rewrites count(non-nullable) to count(1) and then prunes the inner
    // aggregate's functions, splitting the subtrees). With _tf consumed,
    // this arm's partial aggregate is canonically identical to tf's and
    // exchange reuse runs the filtered tokenize + (doc, dl, term)
    // aggregate ONCE (see [[tfIdfTopTerms]]' dfreq note).
    val dft = tf.groupBy("_tk")
      .agg(count(when(col("_tf") >= 1, lit(true))).cast("double").as("_df"))
    tf.join(broadcast(dft), "_tk").crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))))
      .withColumn("_s",
        col("_idf") * col("_tf") * lit(k1 + 1.0) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("matched_terms"), round(sum(col("_s")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topK)
  }

  def induceVocab(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    // the top-k itself is a partial per-partition TakeOrderedAndProject
    // (never a global sort of the vocabulary); the GLOBAL id window below
    // runs over the already-limited topK rows — bounded by the CALLER'S
    // vocab-size parameter (tens of thousands), not by corpus vocabulary
    // (hundreds of millions on the web) — which is what makes a
    // partition-less window acceptable here and nowhere data-scaled
    val counts = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token"))
    counts.withColumn("vocab_id", row_number().over(w).cast("long"))
  }

  /** TF-IDF distinctive terms: the `topPerDoc` highest-scoring tokens per
    * document, score = tf × ln(N / df). The corpus-level document
    * frequencies are one aggregation; docs equi-join the df table on the
    * token and rank row-locally — no per-pair work. The df table is
    * VOCABULARY-sized (can be hundreds of millions of rows on a web
    * corpus), so it is NOT broadcast-hinted: the optimizer broadcasts it
    * when it is small and shuffle-joins on the token otherwise.
    *
    * Ranking uses the score ROUNDED to 4 digits (ties then break on the
    * token) so the ordering is reproducible across engines whose `ln`
    * may differ in the last ulp.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      topPerDoc: Int = 3): DataFrame = {
    val n = df.count()
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // document frequency = groupBy(token).count over the (doc, token)-
    // unique tf rows, re-attached by equi-join — NOT a window aggregate:
    // a stopword present in 10^8 docs would land its every tf row in ONE
    // window-partition task (windows can't be split by AQE), while the
    // groupBy partial-combines map-side (the hot token contributes one
    // row per map task to the exchange) and AQE's skew-join split owns
    // any hot probe partition of the join. shuffle_hash pins the
    // vocabulary-sized df table as a hash build (already partitioned on
    // token by its aggregate → no extra exchange) instead of a broadcast,
    // which would ship hundreds of millions of terms to every executor
    // on a web corpus.
    // count(when(tf >= 1, true)) ≡ count(1) here — tf is a per-group
    // count, always >= 1, so the branch always yields a non-null — but
    // the optimizer cannot prove that, so tf's own count survives on this
    // arm and the partial aggregate stays canonically identical to the tf
    // arm's: exchange reuse executes the scan + tokenize + (doc, token)
    // partial aggregate ONCE. Both the plain count(1) spelling AND a bare
    // count(col) let the optimizer drop tf's count function on this arm
    // (count(1) never references tf; count(col) is rewritten to count(1)
    // by NullPropagation because the column is non-nullable), the
    // subtrees diverged canonically, and the corpus was tokenized and
    // aggregated TWICE (operators (1)-(5) duplicated as (7)-(11) in
    // plans/r15/q65_tfidf_before.txt). Same idea as [[unigramLogProb]]'s
    // freq arm, whose sum(_c) consumes the inner count naturally.
    val dfreq = tf.groupBy("token")
      .agg(count(when(col("tf") >= 1, lit(true))).as("df"))
      .hint("shuffle_hash")
    val scored = tf.join(dfreq, Seq("token"))
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= topPerDoc)
      .select(col(idCol), col("term_rank"), col("token"), col("tf"),
        col("df"), col("tfidf"))
  }

  /** Duplicate-passage detection: which k-token windows of each document
    * also occur in OTHER documents (the exact-substring training-data
    * dedup signal of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", at window rather than suffix-array
    * granularity). A document whose windows are mostly shared is
    * boilerplate or a copy even when no single whole-document pair is
    * near-identical — MinHash (X3) can't see it, this can.
    *
    * Scale shape: one explode of per-doc DISTINCT windows (so a window's
    * occurrence count IS its document frequency), document frequency as a
    * `groupBy(window).count` re-attached by equi-join — NOT a window
    * aggregate: a boilerplate passage shared by 10^7 docs would land its
    * every occurrence in ONE window-partition task, and windows cannot be
    * split by AQE. The groupBy is map-side-combined (skew-immune). Only
    * the DUPLICATED windows (docfreq >= 2) ride the join's build side,
    * and the join is pinned to a ShuffledHashJoin: Catalyst's size
    * estimate below a Generate passes through the (tiny) parquet child,
    * so a size-based broadcast here would ship the corpus's entire
    * duplicated-window set to every executor — multi-GB at 10 GB of
    * input while the estimate still sits under the 10 MB threshold.
    * Document bodies never ride a shuffle; candidate memory is bounded
    * by windows-per-doc. Documents shorter than k tokens have no windows
    * and drop out (the oracle applies the same `len >= k` guard).
    *
    * @return idCol, n_windows, n_dup_windows, dup_ratio per document
    */
  def duplicatePassages(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    // windows ride the shuffle as xxhash64 longs, not ~5-token strings —
    // 8 bytes vs tens, and long sort/compare in the window exchange. The
    // hash is taken over the token-array SLICE directly (xxhash64 hashes
    // arrays natively), skipping the per-window string build entirely;
    // slices are equal iff their space-joined strings are (tokens can't
    // contain the separator), so this is identical to the string
    // formulation up to a 2^-64 collision (the q72 decontamination
    // argument; the oracle replays the strings).
    val hashed = windowed(tokens(col(textCol)), k, w => xxhash64(w),
      array().cast("array<bigint>"))
    val w = Par.spread(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol), explode(hashed).as("_w"))
    // per-doc windows are distinct, so count = document frequency (the
    // partial aggregate combines map-side, so a hot window contributes
    // one row per map task to the exchange, never 10^7 to one reducer)
    val dfreq = w.groupBy("_w").agg(count(lit(1)).as("_docfreq"))
    // left-join ONLY the duplicated windows back; shuffle_hash pins a
    // ShuffledHashJoin (build = the filtered dup set, already partitioned
    // on _w by the aggregate, so no extra exchange on that side) — never
    // a broadcast, and AQE's skew-join split owns any hot probe partition
    val dup = dfreq.filter(col("_docfreq") >= 2).hint("shuffle_hash")
    w.join(dup, Seq("_w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(when(col("_docfreq").isNotNull, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        round(col("n_dup_windows") / col("n_windows"), 4))
  }

  /** Duplicate-SPAN extraction: the maximal duplicated regions inside each
    * document — [[duplicatePassages]] tells you HOW MUCH of a document is
    * shared; this tells you WHERE, which is what span-removal dedup (Lee
    * et al. 2022 cut the duplicated substring out, not the document)
    * actually consumes. Every k-token window position whose window occurs
    * ≥ `minOccurrences` times corpus-wide (within- or cross-document) is
    * a duplicated position; overlapping positions (gap ≤ k−1) merge into
    * maximal spans `[span_start, span_end)` in token coordinates.
    *
    * Scale shape: positions explode to (doc, pos, hash64) — 8-byte hashes
    * on the wire, never window strings; the occurrence count is a
    * map-side-combined groupBy(hash) (a boilerplate window shared 10^7
    * times contributes one row per map task); the duplicated-hash set
    * joins back pinned shuffle_hash for the same reason as
    * [[duplicatePassages]] (its size is corpus-dependent — broadcasting
    * it is wrong at scale, and the aggregate already partitioned it on
    * the hash). Span merging is a per-document gaps-and-islands window —
    * partitioned by doc, bounded by document length, no global sort.
    *
    * @return idCol, span_start, span_end (exclusive, token coords),
    *         n_dup_grams per maximal span
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minOccurrences: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= k)
    // positional k-gram hashes: transform over the index range keeps the
    // slice-hash inside codegen; posexplode carries the position out
    val grams = toks.select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("_toks")) - k),
          i => xxhash64(slice(col("_toks"), i + 1, lit(k))))))
      .toDF(idCol, "_pos", "_h")
    val dup = grams.groupBy("_h").agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= minOccurrences)
      .hint("shuffle_hash")
    val dupPos = grams.join(dup, Seq("_h"), "left_semi")
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val flagged = dupPos
      .withColumn("_prev", lag(col("_pos"), 1).over(byPos))
      .withColumn("_new",
        when(col("_prev").isNull || col("_pos") - col("_prev") > (k - 1), 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col(idCol), col("_isl"))
      .agg(min(col("_pos")).cast("long").as("span_start"),
        (max(col("_pos")) + lit(k)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .drop("_isl")
  }

  /** Duplicate-span REMOVAL — the actual cut of Lee et al. 2022 (they
    * excise the duplicated substring, not the document): every token
    * position covered by a corpus-duplicated k-gram (the
    * [[duplicateSpans]] criterion) is dropped and the remaining tokens
    * are rejoined. Operates on the lowercased token stream (the same
    * canonical form every dedup operator here shares), so `cleaned_text`
    * is canonical text, not a byte-level splice of the original.
    *
    * Scale shape: same skeleton as [[duplicateSpans]] — 8-byte positional
    * gram hashes, map-side-combined occurrence counts, shuffle_hash-
    * pinned semi-join of the duplicated-hash set — plus a covered-
    * position expansion (k rows per duplicated gram, bounded by k × doc
    * length), a per-(doc, pos) anti-join, and a per-doc rebuild whose
    * memory is bounded by document length. No window over any
    * content-derived key.
    *
    * @return idCol, cleaned_text, n_tokens (original), n_removed
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minOccurrences: Int = 2): DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val toks = base.select(col(idCol), posexplode(col("_toks")))
      .toDF(idCol, "_pos", "_tok")
    val grams = base.filter(size(col("_toks")) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("_toks")) - k),
          i => xxhash64(slice(col("_toks"), i + 1, lit(k))))))
      .toDF(idCol, "_gpos", "_h")
    val dup = grams.groupBy("_h").agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= minOccurrences)
      .hint("shuffle_hash")
    val covered = grams.join(dup, Seq("_h"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("_gpos"), col("_gpos") + (k - 1))).as("_pos"))
      .distinct()
    val kept = toks.join(covered, Seq(idCol, "_pos"), "left_anti")
    val keptAgg = kept.groupBy(col(idCol)).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("_pos"), col("_tok")))),
        s => s.getField("_tok"))).as("cleaned_text"),
      count(lit(1)).as("_kept"))
    df.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** Span-level benchmark decontamination — the excision counterpart of
    * [[graft.operators.Decontaminate.flagOverlap]]'s doc-level flag (the
    * Llama-style move: don't drop the whole document, cut the
    * benchmark-overlapping k-grams out of it): every corpus token
    * covered by a k-gram that appears ANYWHERE in the benchmark set is
    * removed, the document rebuilt from survivors in order.
    *
    * Scale shape: the benchmark's k-gram hash set is benchmark-sized —
    * BROADCAST — so the corpus-side pass is one explode + a broadcast
    * semi-join; excision reuses [[removeDuplicateSpans]]' shape
    * (covered-position explode, anti-join, per-doc bounded rebuild).
    * No corpus-side window, no corpus self-join.
    *
    * @return (idCol, cleaned_text, n_tokens, n_removed)
    */
  def decontaminateSpans(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 5): DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
    val toks = base.select(col(idCol), posexplode(col("_toks")))
      .toDF(idCol, "_pos", "_tok")
    val grams = base.filter(size(col("_toks")) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("_toks")) - k),
          i => xxhash64(slice(col("_toks"), i + 1, lit(k))))))
      .toDF(idCol, "_gpos", "_h")
    val benchGrams = benchmark
      .select(tokens(col(benchTextCol)).as("_bt"))
      .filter(size(col("_bt")) >= k)
      .select(explode(transform(sequence(lit(0), size(col("_bt")) - k),
        i => xxhash64(slice(col("_bt"), i + 1, lit(k))))).as("_h"))
      .distinct()
    val covered = grams.join(broadcast(benchGrams), Seq("_h"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("_gpos"), col("_gpos") + (k - 1))).as("_pos"))
      .distinct()
    val kept = toks.join(covered, Seq(idCol, "_pos"), "left_anti")
    val keptAgg = kept.groupBy(col(idCol)).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("_pos"), col("_tok")))),
        s => s.getField("_tok"))).as("cleaned_text"),
      count(lit(1)).as("_kept"))
    df.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** Character-entropy quality signal: Shannon entropy (bits/char) of
    * each document's character distribution — gibberish and binary
    * spillage score HIGH, single-char padding scores ~0, natural language
    * sits in a narrow band; a standard cheap curation gate. One explode
    * + two partial-combined aggregations, same shape as
    * [[repetitionSignals]]; entropy rounds to 4 digits for cross-engine
    * reproducibility.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df.select(col(idCol), length(col(textCol)).cast("double").as("_n"),
      explode(split(col(textCol), "")).as("_c"))
    chars.groupBy(col(idCol), col("_c"))
      .agg(count(lit(1)).cast("double").as("_f"), first(col("_n")).as("_n"))
      .groupBy(col(idCol))
      .agg(first(col("_n")).cast("long").as("n_chars_obs"),
        round(-sum((col("_f") / col("_n")) *
          log2(col("_f") / col("_n"))), 4).as("char_entropy"))
  }

  /** Compression-ratio quality signal (the Gopher/C4 family's
    * "compressibility" gate): deflate each document once and report
    * compressed/raw byte ratio — boilerplate and repetitive machine
    * output compress far better than natural text. Pure-JVM
    * `java.util.zip.Deflater`, batched per partition with ONE reused
    * deflater (native init amortized), the justified-imperative shape of
    * the media codecs.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("raw_bytes",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("deflate_bytes",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("compression_ratio",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rdd = df.select(col(idCol).cast("long"), col(textCol)).rdd
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED)
        val buf = new Array[Byte](1 << 16)
        rows.map { r =>
          val raw = r.getString(1).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          org.apache.spark.sql.Row(r.getLong(0), raw.length.toLong, out,
            if (raw.isEmpty) 1.0 else math.rint(out.toDouble / raw.length * 10000) / 10000)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** C4-style text normalization: strip ASCII control characters,
    * collapse whitespace runs to single spaces, trim, lowercase — the
    * cleanup pass every web-corpus pipeline runs before tokenization.
    * ASCII-only character classes so the regexes behave identically under
    * Java regex and RE2 (the cross-engine contract [[subwordTokens]]
    * established). Pure codegen'd column algebra: row-local, zero
    * shuffle, runs at scan speed.
    */
  def cleanText(textCol: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(textCol), "[\\x00-\\x1f\\x7f]", " "),
      " {2,}", " "))

  /** Line-level boilerplate removal (the C4/CCNet preprocessing move):
    * drop every line whose exact text appears in MORE than `maxDocFreq`
    * documents — nav bars, footers, cookie banners — and rebuild each
    * document from its surviving lines in order. Empty lines are
    * structure, not content: they neither count toward document
    * frequency nor survive reconstruction.
    *
    * Scale shape: one explode → per-(doc, line) distinct → map-side-
    * combined `groupBy(lineHash)` document frequencies → the HOT set
    * (df > threshold — boilerplate-vocabulary-sized, tiny next to the
    * corpus) re-attached by a `shuffle_hash` anti-join — no window over
    * the line key, the X2/X44 df-guard shape. Reconstruction is a
    * per-doc `collect_list` + sort of that doc's OWN lines (bounded by
    * document length, never corpus-wide).
    *
    * @return (idCol, clean_text, n_lines, n_removed)
    */
  def removeDuplicateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long = 10): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "_ln")
      .select(col(idCol), col("_ln"), trim(col("col")).as("_line"))
      .filter(length(col("_line")) > 0)
      .withColumn("_h", xxhash64(col("_line")))
    val hot = lines.select(col(idCol), col("_h")).distinct()
      .groupBy("_h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .hint("shuffle_hash")
    lines.join(hot, Seq("_h"), "left")
      .withColumn("_kept", when(col("_df").isNull, 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("_kept") === 1L,
            struct(col("_ln"), col("_line"))))),
          x => x.getField("_line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        (count(lit(1)) - sum(col("_kept"))).as("n_removed"))
  }

  /** Normalized documents with before/after size signals. */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      cleanText(col(textCol)).as("clean_text"),
      length(col(textCol)).cast("long").as("raw_len"),
      length(cleanText(col(textCol))).cast("long").as("clean_len"))

  /** BPE vocabulary training (Sennrich et al. 2016 — the byte-pair-
    * encoding merge loop every subword tokenizer is built from), run the
    * way real trainers run it: over the WORD-FREQUENCY table, not the
    * corpus. The only corpus-scale pass is the initial
    * `groupBy(word).count` (map-side combined); every merge iteration
    * then works on the distinct-word table — vocabulary-sized, millions
    * of rows at web scale where the corpus is billions — with pair
    * counting as a freq-weighted explode + partial-agg and the argmax as
    * a 1-row TakeOrdered collect (the single driver-side value per
    * iteration). The pair merge applies left-to-right non-overlapping
    * via a fold (`aggregate` HOF) over each word's symbol array —
    * codegen'd, no UDF. Ties break lexicographically so the learned
    * merge list is a pure function of the corpus.
    *
    * @return one row per learned merge: rank (1-based), left, right,
    *         pair_count (freq-weighted count at merge time)
    */
  def trainBpeMerges(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges > 0 && numMerges <= 200,
      "numMerges must be in (0, 200] — the loop is one job per merge")
    val spark = df.sparkSession
    import spark.implicits._
    // word frequencies, words as char-symbol arrays with the end-of-word
    // marker (classic BPE: "low" -> [l, o, w, </w>])
    // localCheckpoint (not persist): each iteration's plan would otherwise
    // NEST the previous iteration's fold expression — 20 merges deep the
    // accumulated tree exhausts the driver heap; checkpointing truncates
    // lineage to the materialized blocks while staying distributed
    var words = df
      .select(explode(tokens(col(textCol))).as("_w"))
      .filter(col("_w") =!= "")
      .groupBy("_w").agg(count(lit(1)).as("_freq"))
      .select(concat(split(col("_w"), ""), array(lit("</w>"))).as("_syms"),
        col("_freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    while (rank <= numMerges) {
      val top = words
        .select(col("_freq"), explode(
          zip_with(slice(col("_syms"), lit(1), size(col("_syms")) - 1),
            slice(col("_syms"), lit(2), size(col("_syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("_p"))
        .groupBy(col("_p.l"), col("_p.r")).agg(sum("_freq").as("_c"))
        .orderBy(col("_c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) rank = numMerges + 1
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, c))
        // left-to-right non-overlapping merge: fold each symbol array,
        // fusing [..., l] + r into [..., l+r]
        val fused = aggregate(col("_syms"),
          array().cast("array<string>"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === l && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s))))
        words = words.select(fused.as("_syms"), col("_freq")).localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Encode text with a learned merge list: each word's symbol array is
    * folded through the merges IN RANK ORDER (the BPE application rule).
    * `mergesLocal` is the trained list — vocabulary-scale, a driver-side
    * literal like any tokenizer's merges file. One pass, row-local, no
    * shuffle; the chained fold stays in Catalyst (interpreted past
    * codegen's method-size limit, still distributed).
    *
    * @return idCol, n_tokens, tokens (the word's subword sequence, space-
    *         joined per word then flattened per document)
    */
  def applyBpeMerges(df: DataFrame, idCol: String, textCol: String,
      mergesLocal: Seq[(String, String)]): DataFrame = {
    val encodeWord: Column = {
      val base = concat(split(col("_w"), ""), array(lit("</w>")))
      mergesLocal.foldLeft(base) { case (syms, (l, r)) =>
        aggregate(syms,
          array().cast("array<string>"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === l && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s))))
      }
    }
    df.select(col(idCol), posexplode(tokens(col(textCol))))
      .toDF(idCol, "_pos", "_w")
      .filter(col("_w") =!= "")
      .select(col(idCol), col("_pos"), encodeWord.as("_toks"))
      .groupBy(col(idCol))
      .agg(sum(size(col("_toks"))).cast("long").as("n_tokens"),
        // word order restored via the position key — collect_list order
        // is partition-dependent, flatten(sorted) is not
        flatten(transform(
          array_sort(collect_list(struct(col("_pos"), col("_toks")))),
          s => s.getField("_toks"))).as("tokens"))
  }

  /** Overlapping-window document chunking (RAG/embedding prep: long
    * documents split into `chunkTokens`-token windows every `stride`
    * tokens, so retrieval granularity is a chunk, not a document).
    * Chunk starts are 0, stride, 2·stride, … while < the document's
    * token count; the last chunk may be short (deterministic convention,
    * replicated by the oracle).
    *
    * Scale shape: starts generate row-locally (`sequence` + transform —
    * codegen, no UDF), one explode, no shuffle at all: chunking is
    * embarrassingly parallel and stays inside the scan's partitioning.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 50, stride: Int = 40): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens/stride must be positive")
    val toks = tokens(col(textCol))
    df.select(col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
          s => concat_ws(" ", slice(toks, s + 1, lit(chunkTokens))))))
      .toDF(idCol, "chunk_idx", "chunk_text")
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .withColumn("n_tokens",
        when(col("chunk_text") === "", 0L)
          .otherwise(size(split(col("chunk_text"), " ")).cast("long")))
      .filter(col("n_tokens") > 0)
  }

  /** Unigram-LM document scoring: mean log-probability of each document
    * under the corpus's own maximum-likelihood unigram model — the
    * cheapest member of the perplexity-filter family (KenLM-over-
    * Wikipedia in CCNet et al.); documents whose token distribution is
    * far from the corpus norm (spam, gibberish, wrong language) score
    * low and get filtered.
    *
    * Scale shape: identical to [[tfIdfTopTerms]] — one explode, unigram
    * frequency as a map-side-combined groupBy(token) re-attached by a
    * shuffle_hash-pinned equi-join, then a per-doc aggregation. The
    * corpus token total rides the same plan as a broadcast 1-row join.
    * `avg_logprob` is rounded to 4 digits before the perplexity
    * exponentiation so cross-engine ulp differences in `ln` summation
    * order can't cascade.
    *
    * @return idCol, n_tokens, avg_logprob, ppl per document
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Skew note: the (doc, token) partial count runs first so per-token
    // work downstream is bounded by DOCUMENT frequency, and the corpus
    // frequency is then a second map-side-combined groupBy joined back —
    // never a token-partitioned window, which would hand a stopword's
    // every (doc, token) row (10^8 docs' worth on a web corpus) to ONE
    // un-splittable window task (VERDICT r9 #1; same fix as
    // [[tfIdfTopTerms]]). The count-weighted mean recovers the
    // per-occurrence mean.
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("_tk"))
      .groupBy(col(idCol), col("_tk")).agg(count(lit(1)).as("_c"))
    // the corpus total rides the SAME plan as a broadcast 1-row cross
    // join: ReuseExchange shares tf's shuffle between the agg and the
    // main branch, the operator stays lazy, and the tokenize+explode
    // pipeline runs once, not twice (a driver-side count would eagerly
    // re-run it)
    val totalDf = broadcast(tf.agg(sum("_c").cast("double").as("_total")))
    // shuffle_hash pins the vocabulary-sized frequency table as a hash
    // build (already partitioned on _tk by its aggregate — ReuseExchange
    // shares tf's shuffle between the agg and the probe) — a broadcast
    // would ship the whole vocabulary to every executor
    val freq = tf.groupBy("_tk").agg(sum("_c").as("_freq")).hint("shuffle_hash")
    tf.join(freq, Seq("_tk"))
      .crossJoin(totalDf)
      .groupBy(col(idCol))
      .agg(sum("_c").cast("long").as("n_tokens"),
        round(sum(col("_c") * log(col("_freq").cast("double") / col("_total")))
          / sum("_c"), 4).as("avg_logprob"))
      .withColumn("ppl", round(exp(-col("avg_logprob")), 2))
  }

  /** Interpolated BIGRAM LM document scoring — the KenLM-shaped quality
    * scorer one step past [[unigramLogProb]]: per document, the
    * count-weighted mean of `log(λ·P(w|prev) + (1−λ)·P(w))` over adjacent
    * token pairs, with `P(w|prev)` the corpus bigram MLE and `P(w)` the
    * unigram MLE. Interpolation (λ<1) keeps unseen-pair mass positive
    * with no extra smoothing knobs.
    *
    * Scale shape: adjacency comes from a PER-DOCUMENT window (bounded by
    * document length — never a corpus-token partition, the
    * [[unigramLogProb]] rule); per-(doc, pair) partial counts first, so
    * downstream work is bounded by document frequency; corpus bigram /
    * bigram-left / unigram tables are map-side-combined groupBys joined
    * back shuffle_hash-pinned (vocabulary-sized hash builds, never
    * broadcast-the-vocabulary); the token total rides the unigram
    * aggregate as a broadcast 1-row join. `avg_logprob` rounds to 4
    * digits before the perplexity exponentiation (cross-engine ln
    * summation-order armor, same as unigram).
    *
    * @return idCol, n_bigrams, avg_logprob, ppl per document (single-token
    *         documents have no bigrams and no row)
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0, 1): $lambda")
    // Adjacent (prev, tk) pairs straight from the token ARRAY: zip the
    // array against itself shifted by one. The prior formulation
    // (posexplode + lag().over(partitionBy(doc).orderBy(pos))) paid a
    // full Exchange + per-partition Sort + WindowExec over EVERY token
    // occurrence just to pair neighbors that already sit adjacent in the
    // in-row array — and that subtree was replicated under each of the
    // three join arms below (pairs/big/left), so the plan carried three
    // window sorts (r14 plan capture: 30 Exchanges → 22, and the whole
    // pre-aggregation pipeline is now one codegen stage off the scan).
    // At scale this removes the only token-stream-wide sort in the
    // operator; order within a doc is irrelevant to the counts.
    val ts = tokens(col(textCol))
    val pairArr = zip_with(
      slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
      slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
      (a, b) => struct(a.as("_prev"), b.as("_tk")))
    // NB a Par.spread before the explodes was tried and REJECTED: at the
    // bench's one-file-corpus scale the extra exchange + stage barrier
    // measured ~1.8x SLOWER than letting the scan task tokenize (median
    // 2.23 s vs 1.27 s, r14) — the tokenize passes are cheaper than a
    // full-text reshuffle here, and at warehouse scale the input has
    // thousands of splits anyway
    val pairs = df.select(col(idCol), explode(pairArr).as("_pr"))
      .select(col(idCol), col("_pr._prev").as("_prev"), col("_pr._tk").as("_tk"))
      .groupBy(col(idCol), col("_prev"), col("_tk"))
      .agg(count(lit(1)).as("_c"))
    val big = pairs.groupBy("_prev", "_tk").agg(sum("_c").as("_cb"))
      .hint("shuffle_hash")
    val left = big.groupBy("_prev").agg(sum("_cb").as("_cl"))
      .hint("shuffle_hash")
    // unigram counts WITHOUT a second full tokenize pass: every token
    // occurrence is the second element of exactly one adjacent pair —
    // except each doc's first token — so corpus unigram frequency =
    // (per-_tk sum over the pair aggregation, whose exchange AQE reuses
    // from `pairs`) + (first-token counts, a full-array-free projection).
    // Exact count arithmetic, oracle-pinned; removes one of the two
    // corpus tokenize+explode passes (guide §1.2).
    val seconds = pairs.groupBy(col("_tk")).agg(sum("_c").as("_cu0"))
    val firsts = df.select(element_at(tokens(col(textCol)), 1).as("_tk"))
      .filter(col("_tk").isNotNull)
      .groupBy(col("_tk")).agg(count(lit(1)).cast("long").as("_cu0"))
    val uni = seconds.unionByName(firsts)
      .groupBy(col("_tk")).agg(sum("_cu0").as("_cu"))
      .hint("shuffle_hash")
    val total = broadcast(uni.agg(sum("_cu").cast("double").as("_total")))
    // NOTE: lit(1 - lambda) is computed in DOUBLE here and as `1 - λ` in
    // the oracle SQL — the same IEEE subtraction, so both engines weight
    // the unigram term with the identical (non-decimal-exact) double
    //
    // The interpolated log term is assembled on the VOCAB-sized side
    // first (big ⋈ left ⋈ uni ⋈ total — all bigram/unigram-type
    // cardinality), and the heavy per-(doc, bigram) stream joins that
    // weight table exactly ONCE. The prior chain
    // `pairs ⋈ big ⋈ left ⋈ uni` re-exchanged the per-doc stream on
    // (_prev,_tk), then (_prev), then (_tk) — three full shuffles of the
    // corpus-sized stream where one suffices (guide §2.3/§2.4); the log()
    // now also evaluates once per bigram TYPE, not once per document
    // occurrence. Summands and their per-doc summation set are identical,
    // so the rounded result is unchanged (oracle-verified).
    val weights = big.join(left, Seq("_prev")).join(uni, Seq("_tk"))
      .crossJoin(total)
      .select(col("_prev"), col("_tk"),
        log(lit(lambda) * (col("_cb").cast("double") / col("_cl")) +
          lit(1 - lambda) * (col("_cu").cast("double") / col("_total")))
          .as("_lp"))
      .hint("shuffle_hash")
    pairs.join(weights, Seq("_prev", "_tk"))
      .groupBy(col(idCol))
      .agg(sum("_c").cast("long").as("n_bigrams"),
        round(sum(col("_c") * col("_lp")) / sum("_c"), 4).as("avg_logprob"))
      .withColumn("ppl", round(exp(-col("avg_logprob")), 2))
  }

  /** Document fingerprints: a canonical whole-text hash plus a min-shingle
    * fingerprint (winnowing-lite) that is stable under small edits.
    * md5 (not xxhash) so the fingerprint is reproducible by any engine.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val ts = tokens(col(textCol))
    val sh = shingles(ts, n)
    val canonical = md5(concat_ws(" ", ts).cast("binary"))
    val minShingle = array_min(transform(sh, s => md5(s.cast("binary"))))
    df.select(col(idCol), canonical.as("canonical_md5"),
      minShingle.as("min_shingle_md5"))
  }
}
