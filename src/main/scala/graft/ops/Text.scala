package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level text operators (SURVEY.md §2.2 ops 8-12 + north-star text
  * analysis). All pure `Column => Column` built-ins — no UDFs — so every
  * operator stays inside whole-stage codegen and is expressible as ANSI SQL
  * for the DuckDB oracle.
  */
object Text {

  /** Reference `clean_text` (reddit_etl_proj/etl_pipeline.py:73-75):
    * strip URLs and every non-letter/non-whitespace char, lowercase, trim.
    * The pattern is valid and equivalent in Java regex and RE2 (DuckDB).
    *
    * The production path is the native single-scan expression
    * (graft.functions.CleanTextFast, codegen'd — no per-char regex NFA on
    * the engine's hottest pass); [[cleanTextRegex]] keeps the regex
    * formulation as the semantic reference, and TextSpec proves the two
    * byte-equal on adversarial inputs and the full fixture corpus. The
    * DuckDB oracle always uses the regex form.
    */
  val CleanRegex = "http\\S+|www\\S+|[^a-zA-Z\\s]"

  def cleanText(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.CleanTextFast(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** The regex formulation — the reference semantics cleanText must match. */
  def cleanTextRegex(c: Column): Column =
    lower(trim(regexp_replace(c, CleanRegex, "")))

  /** Reference dropout flag (etl_pipeline.py:80): case-insensitive regex
    * containment with `na=False` null semantics.
    */
  val FlagRegex = "(?i)drop[\\s-]?out|dropped out"

  def regexFlag(c: Column, pattern: String = FlagRegex): Column =
    coalesce(c.rlike(pattern), lit(false))

  /** Reference CASE bucketing (etl_pipeline.py:79,152-154). Thresholds are
    * exclusive: exactly ±0.1 maps to neutral.
    */
  def sentimentLabel(sentiment: Column): Column =
    when(sentiment > 0.1, "positive")
      .when(sentiment < -0.1, "negative")
      .otherwise("neutral")

  /** Whitespace tokenizer shared by sentiment / dedup / text-analysis ops.
    * Splitting on single spaces then filtering empties matches DuckDB's
    * `string_split(text, ' ')` element-for-element.
    */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** Fused clean_text + tokenize — ONE native scan replacing the
    * clean-NFA + materialize + split-regex three-pass composition
    * (graft.functions.CleanTokensFast; equivalence to
    * `tokens(cleanTextRegex(c))` is spec'd). Use this at the front of
    * every tokenizing pipeline over RAW text.
    */
  def cleanTokens(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.CleanTokensFast(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** The text-stats operators below take a MATERIALIZED token-array column
    * (`withColumn("t", Text.tokens(...))`), not raw text: Catalyst
    * re-evaluates lambda-captured subexpressions per array element and per
    * reference, so an inline tokenize would re-run the whole
    * regex+split+filter pipeline many times per row. On an attribute each
    * pass is a single O(n_tokens) scan of an already-built array.
    */
  def tokenCount(toks: Column): Column = size(toks)

  /** BPE-ish token estimate: whitespace words plus an extra token per 4
    * chars of long words (a cheap deterministic stand-in for subword
    * tokenizers; real BPE needs a vocab we don't ship).
    */
  def tokenEstimate(toks: Column): Column =
    size(toks) + aggregate(toks, lit(0),
      (acc, w) => acc + when(length(w) > 8,
        floor((length(w) - 1) / 4).cast("int")).otherwise(0))

  /** English stopwords used by the language-ID heuristic and the quality
    * score. Tiny by design: deterministic and oracle-expressible.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(Stopwords.map(lit): _*)))

  /** n-gram-flavoured language ID heuristic: English stopword density plus
    * ASCII-letter density over the raw text. Deterministic; mirrors the
    * shape (character/word profile scoring) of real lang-ID without
    * shipping models.
    */
  def langIdHeuristic(c: Column, toks: Column): Column = {
    val n = size(toks)
    val stop = stopwordCount(toks)
    val letters = length(regexp_replace(c, "[^a-zA-Z]", ""))
    val total = greatest(length(c), lit(1))
    when(n === 0, "und")
      .when(stop.cast("double") / n > 0.05, "en")
      .when(letters.cast("double") / total > 0.7, "latin")
      .otherwise("other")
  }

  /** Character n-grams of a MATERIALIZED string column (positions
    * 0..len-n, spaces included — the Cavnar–Trenkle alphabet). Same
    * attribute contract as [[graft.ops.Dedup.shingles]]: pass a
    * `withColumn`-materialized attribute, never an inline expression.
    */
  def charNgrams(c: Column, n: Int = 3): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), length(c) - n),
        i => c.substr(i + 1, lit(n))))

  /** Cavnar–Trenkle n-gram-profile language ID (Cavnar & Trenkle 1994,
    * "N-Gram-Based Text Categorization" — the public method behind
    * textcat/langid): rank the top-`k` character trigrams of each
    * document and of each language (profiles trained on the corpus's
    * own declared-lang groups), score every (doc, language) pair by
    * OUT-OF-PLACE distance — Σ |rank_doc − rank_lang| over the doc's
    * profile, with absent trigrams paying the max penalty `k` — and
    * predict the argmin language (ties break alphabetically; docs with
    * no trigrams get 'und'). Replaces the round-4 stopword heuristic
    * ([[langIdHeuristic]], kept as the cheap scan-local variant) with
    * the real rank-profile method, and feeds per-language mixture
    * weights (q152) a trained signal.
    *
    * Shape at scale: trigram explode is scan-local; both profile
    * builds are partial-aggregated counts plus a rank window — the
    * legitimate rank family (per-lang windows bounded by the trigram
    * vocabulary, per-doc windows by doc length). The language profile
    * is |langs|·k rows — broadcast — so scoring is one broadcast join
    * of the doc profiles plus doc-keyed partial aggs; the argmin
    * window is over |langs| rows per doc. Nothing corpus-wide ever
    * sits on one reducer.
    *
    * Output: (doc_id, lang, pred_lang, dist) — declared vs predicted,
    * dist null for 'und'.
    */
  def langIdNgram(docs: DataFrame, idCol: String, langCol: String,
                  textCol: String, k: Int = 40): DataFrame = {
    // ONE explode pass: the (doc, trigram) count frame is unique per
    // (doc_id, g) — lang is functional on doc_id — so it IS the doc
    // profile input, and the language counts are a re-aggregation of
    // it (sum of per-doc counts), not a second scan of the corpus.
    // Checkpointed: both profile builds and the size agg read it.
    val triCounts = docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        cleanText(col(textCol)).as("c"))
      .select(col("doc_id"), col("lang"),
        explode(charNgrams(col("c"))).as("g"))
      .groupBy("doc_id", "lang", "g")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val lw = Window.partitionBy("lang")
      .orderBy(col("n").desc, col("g").asc)
    val langProf = triCounts.groupBy("lang", "g")
      .agg(sum(col("n")).as("n"))
      .withColumn("rank_l", row_number().over(lw))
      .where(col("rank_l") <= k)
      .select(col("lang").as("cand_lang"), col("g"), col("rank_l"))
      .localCheckpoint() // |langs|*k rows; feeds the join AND the grid
    val dw = Window.partitionBy("doc_id")
      .orderBy(col("n").desc, col("g").asc)
    val docProf = triCounts
      .withColumn("rank_d", row_number().over(dw))
      .where(col("rank_d") <= k)
      .select(col("doc_id"), col("g"), col("rank_d"))
      .localCheckpoint() // feeds the match agg and the profile sizes
    val matches = docProf.join(broadcast(langProf), Seq("g"))
      .groupBy("doc_id", "cand_lang")
      .agg(sum(abs(col("rank_d") - col("rank_l"))).as("md"),
        count(lit(1)).as("nm"))
    val grid = docProf.groupBy("doc_id")
      .agg(count(lit(1)).as("n_prof"))
      .crossJoin(broadcast(langProf.select("cand_lang").distinct()))
    val best = Window.partitionBy("doc_id")
      .orderBy(col("dist").asc, col("cand_lang").asc)
    val pred = grid.join(matches, Seq("doc_id", "cand_lang"), "left")
      .select(col("doc_id"), col("cand_lang"),
        (coalesce(col("md"), lit(0L)) +
          (col("n_prof") - coalesce(col("nm"), lit(0L))) * k).as("dist"))
      .withColumn("rk", row_number().over(best))
      .where(col("rk") === 1)
    docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(pred, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cand_lang"), lit("und")).as("pred_lang"),
        col("dist"))
  }

  /** Composite quality score in [0,1]: length saturation x alpha ratio x
    * (1 - stopword excess). Deterministic, codegen-friendly.
    */
  def qualityScore(c: Column, toks: Column): Column = {
    val n = size(toks).cast("double")
    val lenScore = least(n / 100.0, lit(1.0))
    val alphaRatio =
      length(regexp_replace(c, "[^a-zA-Z ]", "")).cast("double") /
        greatest(length(c), lit(1)).cast("double")
    val stopRatio = stopwordCount(toks).cast("double") / greatest(n, lit(1.0))
    Num.floorAt(
      lenScore * alphaRatio * (lit(1.0) - least(stopRatio, lit(1.0))), 4)
  }

  // ---- Gopher-style repetition / quality filters -------------------------
  // Public heuristics from Rae et al. 2021 (arXiv:2112.11446, Table A1):
  // mean-word-length bounds, symbol-to-word ratio, and repeated-n-gram
  // fraction — the standard pretraining quality gate beyond [[qualityScore]].

  /** Mean token length (floored at 4 dp; 0.0 for empty docs). One
    * O(n_tokens) fold over a MATERIALIZED token array.
    */
  def meanWordLen(toks: Column): Column =
    Num.floorAt(
      coalesce(aggregate(toks, lit(0), (acc, w) => acc + length(w)), lit(0))
        .cast("double") / greatest(size(toks), lit(1)),
      4)

  /** Symbol-to-word ratio: occurrences of '#' plus non-overlapping '...'
    * per token (Gopher's symbol set), via length deltas — no regex pass.
    */
  def symbolToWordRatio(c: Column, toks: Column): Column = {
    val hashes = length(c) - length(replace(c, lit("#"), lit("")))
    // replace() removes non-overlapping occurrences left-to-right, so the
    // delta is always an exact multiple of 3
    val ellipses = (length(c) - length(replace(c, lit("..."), lit("")))) / 3
    Num.floorAt(
      (hashes + ellipses).cast("double") / greatest(size(toks), lit(1)), 4)
  }

  /** Per-document repetition + word-shape metrics: (id, n_tokens,
    * mean_word_len, symbol_ratio, top_bigram_frac) where top_bigram_frac is
    * the most-frequent token-bigram's share of all bigram occurrences
    * (Gopher's duplicate-2-gram axis; 0.0 for docs with < 2 tokens).
    *
    * Shape at scale: the per-row metrics are scan-local; the bigram share
    * is two keyed aggregations on (id, bigram) → (id) plus one id-keyed
    * left join — everything partitions by document, nothing is corpus-wide.
    */
  def repetitionStats(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .withColumn("t", tokens(col("txt")))
    val row = base.select(col("id"),
      size(col("t")).as("n_tokens"),
      meanWordLen(col("t")).as("mean_word_len"),
      symbolToWordRatio(col("txt"), col("t")).as("symbol_ratio"))
    val rep = base
      .select(col("id"), explode(Dedup.shingles(col("t"), 2)).as("bg"))
      .groupBy("id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      .select(col("id"),
        Num.floorAt(col("mx").cast("double") / col("tot"), 4)
          .as("top_bigram_frac"))
    row.join(rep, Seq("id"), "left")
      .withColumn("top_bigram_frac",
        coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  /** The Gopher keep-gate over [[repetitionStats]] columns. Thresholds are
    * the published ones where the corpus makes them meaningful (symbol
    * ratio 0.1, top-bigram share 0.2, mean word length in [3, 10]); the
    * min-length gate is 10 tokens.
    */
  def gopherKeep(nTokens: Column, meanLen: Column, symRatio: Column,
                 topBigram: Column): Column =
    nTokens >= 10 && meanLen >= 3.0 && meanLen <= 10.0 &&
      symRatio <= 0.1 && topBigram <= 0.2

  /** Document fingerprint: md5 of the normalized text. md5 is
    * bit-identical across Spark and DuckDB, so the oracle reproduces it
    * exactly (unlike murmur/xxhash which differ).
    */
  def fingerprint(c: Column): Column = md5(cleanText(c))

  /** BM25 per-(doc, term) relevance with top-k terms per doc. Constants
    * k1=1.5, b=0.75 are chosen as EXACT binary fractions (so are 0.25,
    * 2.5, 0.5 derived from them): every literal in the scoring expression
    * round-trips bit-identically through the DuckDB oracle — a k1 of 1.2
    * would already diverge at the (k1+1) fold. All inputs (tf, df, dl,
    * n_docs, n_terms) are exact integers; the only inexact steps are the
    * final double divisions and ln, mirrored operation-for-operation in
    * SQL and floor-stabilized at 4 dp.
    *
    * Same shuffle shape as [[tfIdfTopK]] plus one extra broadcast (the
    * per-doc length join rides the same id-hash partitioning as tf).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    val (tf, dl, dfreq, stats) = LexIndex.buildFrames(docs, idCol, textCol)
    val scored = tf.join(dl, "id").join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("n_terms").cast("double") / col("n_docs"))
      .select(col("id"), col("term"), col("tf"), col("df"), col("dl"),
        Num.floorAt(
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.5)
            / (col("tf") + lit(1.5) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          4).as("score"))
    Agg.topNPerGroup(scored, Seq("id"),
      Seq(col("score").desc, col("term").asc), k)
  }

  /** BM25 RETRIEVAL: top-k documents per query — the reference's
    * keyword search (reddit_etl_proj/etl_pipeline.py:44-51 pulls posts
    * per keyword) done as a ranked retrieval operator instead of
    * substring containment. Query terms are DISTINCT (unweighted query
    * tf — documented simplification); per-(doc, term) weights use
    * [[bm25TopK]]'s exact constants (k1 = 1.5, b = 0.75), each weight
    * floored at 4 dp, and the per-doc score SUMS the floored weights
    * through DECIMAL(18,4) — exact and shuffle-order-independent, the
    * q160 floored-score-sum contract — so the ranking is bit-portable.
    *
    * Shape at scale: the query-term list is tiny and broadcasts; the
    * tf join against it reduces the corpus to matching postings BEFORE
    * dl/df join in, so scoring cost ∝ postings of query terms, not
    * corpus size; top-k per query is a WindowGroupLimit-pruned rank.
    *
    * Output: (query_id, doc_id, n_matched, score, rk), rk <= k.
    */
  def bm25Retrieve(docs: DataFrame, idCol: String, textCol: String,
                   queries: Seq[(String, String)], k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    bm25RetrieveDf(docs, idCol, textCol,
      queries.toDF("query_id", "query_text"), k)
  }

  /** [[bm25Retrieve]] with the query set as a DataFrame
    * (query_id, query_text) instead of a literal list — the form a
    * production retrieval layer uses (query logs, eval suites, or —
    * q279 — documents themselves as queries). `excludeSelf` drops the
    * query's own id from its ranking BEFORE the top-k window (the
    * doc-as-query case, where self-retrieval is a degenerate rank 1).
    * Same scoring contract as the literal form: DISTINCT query terms,
    * 4 dp-floored per-term weights summed through DECIMAL(18,4).
    */
  def bm25RetrieveDf(docs: DataFrame, idCol: String, textCol: String,
                     queries: DataFrame, k: Int,
                     excludeSelf: Boolean = false): DataFrame = {
    val (tf, dl, dfreq, stats) = LexIndex.buildFrames(docs, idCol, textCol)
    bm25RetrieveStored(queries, tf, dl, dfreq, stats, k, excludeSelf)
  }

  /** [[bm25RetrieveDf]] SERVED FROM a stored inverted index — the
    * physical-index form ([[graft.ops.LexIndex]] persists exactly the
    * four frames this takes): a query batch joins against the stored
    * postings (tf), per-doc lengths (dl), term document-frequencies
    * (df), and the corpus stats row — the corpus text is never
    * tokenized at query time, which is how production lexical search
    * actually serves (the index is built once per corpus snapshot;
    * queries pay postings-of-their-terms, not a corpus scan).
    * Bit-identical to [[bm25RetrieveDf]] on the same corpus: the
    * stored frames are the deterministic count aggregates the on-the-
    * fly form computes — the spec asserts the equality. Over index
    * frames tf(id, term, tf), dl(id, dl), df(term, df), stats(n_terms,
    * n_docs): DISTINCT query terms broadcast onto the postings, 4
    * dp-floored per-term weights summed through DECIMAL(18,4), top-k
    * per query with id tie-breaks.
    */
  def bm25RetrieveStored(queries: DataFrame, tf: DataFrame,
                         dl: DataFrame, dfreq: DataFrame,
                         stats: DataFrame, k: Int,
                         excludeSelf: Boolean = false): DataFrame = {
    val qterms0 = queries
      .select(col("query_id"),
        explode(array_distinct(cleanTokens(col("query_text"))))
          .as("term"))
    // stored postings carry the term-bucket PARTITION column
    // (LexIndex.TermBuckets).
    val bucketed = tf.columns.contains("tbkt")
    // ONE driver collect of the batch's distinct (term, bucket) pairs
    // (a query batch is driver-sized by definition — the repo's
    // collect() doctrine) feeds BOTH literal prunes (r15 advice: the
    // term prune previously ran its own second collect per retrieval):
    //  - the bucket IN-list pushes as a STATIC partition filter, so
    //    the postings scan touches only the bucket directories the
    //    query terms hash to — scan cost ∝ buckets touched, not index
    //    size (dynamic partition pruning does not fire here: the query
    //    side carries no selective Filter node, so Catalyst's
    //    pruning-benefit heuristic rejects it);
    //  - the term IN-list on df — its GROUPING column — pushes below
    //    any read-side re-aggregation a segmented store's fold carries,
    //    all the way into the segment scans, so the df subtree costs
    //    ∝ query terms. Bit-exact: summing a term's per-segment dfs is
    //    the same number whether or not other terms are summed
    //    alongside.
    // The on-the-fly form (no tbkt column — dfreq is derived in-plan
    // from the same tf subtree) skips both prunes AND the collect: a
    // literal filter there re-runs the corpus tokenization once more
    // for no scan benefit.
    val (tfPruned, qterms, dfPruned) =
      if (bucketed) {
        val qt = qterms0.withColumn("tbkt",
          pmod(hash(col("term")), lit(LexIndex.TermBuckets)))
        val pairs = qt.select(col("term"), col("tbkt")).distinct()
          .collect()
        val bkts = pairs.map(_.getInt(1)).distinct.toSeq
        val termList = pairs.map(_.getString(0)).distinct.toSeq
        (tf.where(col("tbkt").isin(bkts: _*)), qt,
          dfreq.where(col("term").isin(termList: _*)))
      } else (tf, qterms0, dfreq)
    val joinKeys = if (bucketed) Seq("term", "tbkt") else Seq("term")
    val w = tfPruned.join(broadcast(qterms), joinKeys)
      .join(dl, "id").join(dfPruned, "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("n_terms").cast("double") / col("n_docs"))
      .select(col("query_id"), col("id"),
        Num.floorAt(
          log(lit(1.0) +
            (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.5)
            / (col("tf") + lit(1.5) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
          4).as("w"))
    val scored = w.groupBy("query_id", "id")
      .agg(count(lit(1)).as("n_matched"),
        Num.floorAt(sum(col("w").cast("decimal(18,4)")).cast("double"), 4)
          .as("score"))
    val pool =
      if (excludeSelf) scored.where(col("id") =!= col("query_id"))
      else scored
    Agg.topNPerGroup(pool, Seq("query_id"),
      Seq(col("score").desc, col("id").asc), k)
  }

  /** Top-k terms per document by TF-IDF with smoothed
    * idf = ln((N+1)/(df+1)). Three hash-aggregate shuffles (term counts,
    * doc frequencies, corpus size) and one broadcast of the tiny (term, df)
    * side — no all-pairs structure, so the shape holds at corpus scale.
    * Scores are floor-truncated to 4dp before ranking (Num.floorAt) so a
    * last-ulp ln() difference between engines cannot flip an ordering.
    *
    * Note: the df branch re-derives (id, term) counts from the scan (no
    * CTE materialization in a one-shot plan — the broadcast and shuffle
    * exchanges don't unify for reuse). A pipeline that runs TF-IDF
    * repeatedly should persist or write out `tf` between stages.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val terms = docs.select(col(idCol).as("id"),
      explode(cleanTokens(col(textCol))).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("id"), col("term"), col("tf"), col("df"),
        Num.floorAt(col("tf") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4)
          .as("tfidf"))
    Agg.topNPerGroup(scored, Seq("id"),
      Seq(col("tfidf").desc, col("term").asc), k)
  }

  /** Corpus-level collocation mining: top-k token bigrams by pointwise
    * mutual information, pmi = ln( (c_ab/N_bg) / ((c_a/N_uni)*(c_b/N_uni)) )
    * (Church & Hanks 1990) over bigrams with count >= `minCount` (the
    * standard low-frequency guard — PMI explodes on hapax pairs). The
    * phrase/named-entity signal a curation pipeline mines before building
    * tokenizer merges or phrase dictionaries.
    *
    * Shuffle shape: two partial-aggregated counts (bigrams, unigrams) off
    * one checkpointed token scan, then the bigram frame joins the unigram
    * frame TWICE on its left/right token — both joins key on the term, so
    * a hot unigram ("the") is one hash-table entry on the build side, not
    * a straggler; corpus totals ride a broadcast scalar. Final ranking is
    * a TakeOrderedAndProject (per-partition partial top-k), never a global
    * sort. All counts are exact BIGINTs; the single double expression is
    * mirrored operation-for-operation in the oracle and floor-stabilized
    * at 6 dp so last-ulp ln() skew cannot flip the ranking.
    */
  /** Per-group token-distribution Shannon entropy — the vocabulary-
    * diversity quality signal (template/generated text and scraped
    * boilerplate score LOW; natural prose sits near the corpus norm).
    * Uses the integer-count identity H = log2(n) − Σ c·log2(c) / n so
    * the only float work is one log per DISTINCT term; counts stay
    * exact BIGINTs through both shuffles. The float sum is floored at
    * 6 dp (the q127 stance: ulp-order accumulation drift sits ~1e-13,
    * far below the floor).
    *
    * Shape at scale: (group, term) counts partial-aggregate map-side —
    * a stopword collapses before the shuffle — then one group-keyed
    * agg. No windows, no joins.
    *
    * Output: (group, n_tokens, n_terms, entropy_bits).
    */
  def vocabEntropy(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val tf = docs.select(col(groupCol).as("grp"),
        explode(cleanTokens(col(textCol))).as("term"))
      .groupBy("grp", "term").agg(count(lit(1)).as("c"))
    tf.groupBy("grp").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("c").cast("double") * log2(col("c").cast("double")))
          .as("sclgc"))
      .select(col("grp"), col("n_tokens"), col("n_terms"),
        Num.floorAt(log2(col("n_tokens").cast("double")) -
          col("sclgc") / col("n_tokens"), 6).as("entropy_bits"))
  }

  /** Frequent-phrase mining + positional posting lookup: the `topK`
    * most frequent w-token phrases in the corpus, each with its top
    * `docsPerPhrase` documents by within-doc occurrence count — exact
    * phrase retrieval over shingle postings, the capability substring
    * `LIKE` scans fake at 1000× the cost (a phrase is ONE posting-list
    * key; no regex, no scan per query). The same shingle stream the
    * dedup family uses becomes the inverted phrase index: (phrase, doc)
    * occurrence counts partial-aggregate map-side, the phrase ranking
    * runs over the phrase-vocabulary frame, and the per-phrase doc
    * ranking is WindowGroupLimit-prunable — a boilerplate phrase in
    * half the corpus streams through the top-n, never buffering its
    * postings on one reducer.
    *
    * Output: (phrase, total, doc_id, n_occ, rk), top phrases by
    * (total DESC, phrase), docs by (n_occ DESC, doc_id), rk <=
    * `docsPerPhrase`.
    */
  def phrasePostings(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 3, topK: Int = 3,
                     docsPerPhrase: Int = 10): DataFrame = {
    // Two passes over the shingle stream, each doing the MINIMUM work
    // for its branch (the round-8 shape ran the full (phrase, doc)
    // groupBy on both branches — 2× the dominant shuffle; a
    // localCheckpoint of that frame was measured SLOWER still, because
    // materializing a row-heavy postings frame costs more than the
    // explode it saves). Pass 1 ranks phrases from a phrase-only agg
    // (vocab-sized, map-side combined — no doc dimension shuffled).
    // Pass 2 re-explodes but broadcast-filters to the topK phrases
    // BEFORE grouping, so its shuffle carries only the top phrases'
    // postings.
    val shing = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.shingles(cleanTokens(col(textCol)), w))
        .as("phrase"))
    val top = shing.groupBy("phrase").agg(count(lit(1)).as("total"))
      .orderBy(desc("total"), col("phrase")).limit(topK)
    val wnd = Window.partitionBy("phrase")
      .orderBy(desc("n_occ"), col("doc_id"))
    shing.join(broadcast(top), Seq("phrase"))
      .groupBy("phrase", "total", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rk", row_number().over(wnd))
      .where(col("rk") <= docsPerPhrase)
      .select(col("phrase"), col("total"), col("doc_id"), col("n_occ"),
        col("rk"))
  }

  /** Per-term BURSTINESS over the documents that contain the term: the
    * variance-to-mean ratio of within-doc term frequency (Church &
    * Gale 1995, "Poisson mixtures": content words are bursty — once a
    * doc uses them it reuses them, VMR >> 1 — while function words are
    * near-Poisson, VMR ≈ 1). Burstiness separates topical vocabulary
    * from glue vocabulary with NO stopword list, which is the signal a
    * keyword extractor or an index-pruning pass actually wants. The
    * moments are EXACT integer power sums (tf, tf² are ints; the only
    * doubles are the final two divisions), so the sweep is
    * deterministic at any partitioning — the [[Agg.exactMoments]]
    * discipline applied to text counts. Shape at scale: (doc, term)
    * tf partial-aggregates map-side, the per-term rollup is
    * vocab-sized, top-k via one WindowGroupLimit-prunable sort.
    *
    * Output: top `topK` terms with df >= `minDf` by VMR descending —
    * (term, df, sum_tf, mean_tf, vmr).
    */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
                     minDf: Int = 20, topK: Int = 20): DataFrame = {
    val tf = docs.select(col(idCol).as("id"),
        explode(cleanTokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val perTerm = tf.groupBy("term").agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("sum_tf"),
        sum(col("tf") * col("tf")).as("sum_tf2"))
      .where(col("df") >= minDf)
    val n = col("df")
    val sx = col("sum_tf").cast("double")
    val sxx = col("sum_tf2").cast("double")
    val mean = sx / n
    val variance = (sxx - sx * sx / n) / (n - 1)
    perTerm.select(col("term"), col("df"), col("sum_tf"),
        Num.floorAt(mean, 6).as("mean_tf"),
        Num.floorAt(variance / mean, 6).as("vmr"))
      .orderBy(desc("vmr"), col("term"))
      .limit(topK)
  }

  /** Vocabulary-growth / lexical-richness profile per group — the
    * Heaps'-law health check next to [[vocabEntropy]]'s diversity:
    * hapax legomena (terms seen once) dominate natural text (~40-60%
    * of vocabulary; Baayen, Word Frequency Distributions 2001), so a
    * collapsing hapax share flags template/generated content and a
    * ballooning one flags OCR noise or tokenizer breakage. Reported
    * per source: doc/token/vocab counts, hapax and dis-legomena
    * counts, type-token ratio, hapax share.
    *
    * Shape at scale: (group, term) counts partial-aggregate map-side
    * (a stopword collapses before the exchange — the q151 shape); the
    * per-group rollup is |groups| rows; the doc-count join broadcasts.
    *
    * Output: (grp, n_docs, n_tokens, vocab, hapax, dis_legomena,
    * ttr, hapax_share), ratios floored at 6 dp.
    */
  def vocabGrowth(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val tf = docs.select(col(groupCol).as("grp"),
        explode(cleanTokens(col(textCol))).as("term"))
      .groupBy("grp", "term").agg(count(lit(1)).as("c"))
    val nd = docs.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    tf.groupBy("grp").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis_legomena"))
      .join(broadcast(nd), Seq("grp"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("hapax"), col("dis_legomena"),
        Num.floorAt(col("vocab").cast("double") / col("n_tokens"), 6)
          .as("ttr"),
        Num.floorAt(col("hapax").cast("double") / col("vocab"), 6)
          .as("hapax_share"))
  }

  /** Zipf-law fit over the top-k vocabulary: OLS of ln(tf) on ln(rank)
    * — natural language sits near slope −1 (Zipf 1949); template,
    * generated, or keyword-stuffed corpora bend the line, so the fitted
    * exponent is a one-number linguistic health check next to
    * [[vocabEntropy]]'s diversity.
    *
    * Term frequencies partial-aggregate map-side; the top-k selection
    * is a TakeOrderedAndProject (never a global sort of the vocab), and
    * only the k selected rows — a bounded frame, checkpointed — see the
    * ranking window, so the "global" window is over k rows by
    * construction. The OLS closed form runs over k (ln-rank, ln-tf)
    * pairs; float sums over k values floored at 4 dp (the q127
    * stance — drift sits orders below the floor).
    *
    * Output: one row — (n_terms, top_tf, zipf_alpha, r2).
    */
  def zipfFit(docs: DataFrame, textCol: String, k: Int = 100)
      : DataFrame = {
    require(k >= 3, s"need k >= 3 points to fit, got $k")
    val tf = docs.select(explode(cleanTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(k)
      .localCheckpoint() // bounded k-row frame; feeds rank + fit
    val ranked = tf.withColumn("rk", row_number().over(
      Window.orderBy(col("tf").desc, col("term").asc)))
    val pts = ranked.select(log(col("rk").cast("double")).as("x"),
      log(col("tf").cast("double")).as("y"), col("tf"))
    val g = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"), max(col("tf")).as("top_tf"))
    val n = col("n").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    // a flat tf profile has zero y-variance: slope is exactly 0 and r2
    // undefined — emit 0 for both instead of an ANSI divide-by-zero
    // (varx is never 0: k >= 3 distinct ranks)
    g.select(col("n").as("n_terms"), col("top_tf"),
      when(vary === 0, lit(0.0))
        .otherwise(Num.floorAt(-(cov / varx), 4)).as("zipf_alpha"),
      when(vary === 0, lit(0.0))
        .otherwise(Num.floorAt((cov / varx) * (cov / vary), 4)).as("r2"))
  }

  def pmiTopK(docs: DataFrame, idCol: String, textCol: String,
              minCount: Long, k: Int): DataFrame = {
    val toks = docs.select(cleanTokens(col(textCol)).as("t"))
      .localCheckpoint()
    val uni = toks.select(explode(col("t")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val bg = toks.select(explode(Dedup.shingles(col("t"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    val totals = toks.select(explode(col("t")).as("term"))
      .agg(count(lit(1)).as("n_uni"))
      .crossJoin(toks.select(explode(Dedup.shingles(col("t"), 2)).as("bg"))
        .agg(count(lit(1)).as("n_bg")))
    val scored = bg
      .withColumn("ta", split(col("bigram"), " ").getItem(0))
      .withColumn("tb", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("term").as("ta"), col("c").as("c_a")), "ta")
      .join(uni.select(col("term").as("tb"), col("c").as("c_b")), "tb")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        Num.floorAt(
          log((col("c_ab") / col("n_bg")) /
            ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))),
          6).as("pmi"))
    scored.orderBy(col("pmi").desc, col("bigram").asc).limit(k)
  }

  /** Vocabulary coverage curve: the fraction of corpus token MASS the
    * top-k most frequent terms cover, at each requested k — the
    * tokenizer-budget planning input (a 32k-entry vocab that covers
    * 98% of token mass leaves 2% to subword fallback; the curve's knee
    * says where bigger budgets stop paying). Zipfian corpora have
    * steep curves (q164 measures the exponent; this measures the
    * cumulative consequence).
    *
    * Scale shape: term frequencies partial-aggregate to the VOCABULARY
    * frame; the rank window runs over vocab rows only (millions, one
    * spillable sort — never the token stream), pre-filtered to
    * rk ≤ max(ks) before the per-k explode so the fan-out is bounded
    * by the largest budget, not the vocabulary. Deterministic ties:
    * rank by (tf desc, term asc).
    *
    * Output: (k, n_terms, coverage) — n_terms = min(k, |vocab|),
    * coverage floored 6 dp, ascending k.
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"need positive ks, got $ks")
    val tf = docs.select(explode(cleanTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val tot = tf.agg(sum(col("tf")).as("total"),
      count(lit(1)).as("vocab"))
    tf.withColumn("rk", row_number()
        .over(Window.orderBy(col("tf").desc, col("term").asc)))
      .where(col("rk") <= lit(ks.max))
      .crossJoin(broadcast(tot))
      .select(col("rk"), col("tf"), col("total"), col("vocab"),
        explode(array(ks.map(lit): _*)).as("k"))
      .where(col("rk") <= col("k"))
      .groupBy("k")
      .agg(max(col("vocab")).as("__v"), max(col("total")).as("__t"),
        sum(col("tf")).as("__mass"))
      .select(col("k"), least(col("k"), col("__v")).as("n_terms"),
        Num.floorAt(col("__mass").cast("double") / col("__t"), 6)
          .as("coverage"))
  }

  /** Language-ID confusion matrix over the [[langIdNgram]] prediction
    * artifact — the per-class error report behind q170's raw
    * predictions: which declared languages does the classifier confuse,
    * and how much of each row's mass is on the diagonal. The input is
    * the memoized prediction artifact (built once, every consumer
    * reads), so this report costs two keyed aggs on |docs| prediction
    * rows and a broadcast of the |langs| row totals — the corpus text
    * is never touched.
    *
    * Output: (lang, pred_lang, n, row_share, is_correct) — row_share =
    * n / Σ_row n floored 6 dp.
    */
  def langConfusion(preds: DataFrame): DataFrame = {
    val cells = preds.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("lang").agg(sum(col("n")).as("n_lang"))
    cells.join(broadcast(rows), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        Num.floorAt(col("n").cast("double") / col("n_lang"), 6)
          .as("row_share"),
        (col("lang") === col("pred_lang")).as("is_correct"))
  }
}
