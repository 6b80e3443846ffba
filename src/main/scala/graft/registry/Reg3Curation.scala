package graft.registry

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Agg, AnnIndex, Artifacts, Audio, Curate, Dedup, EventsOps, Graph, Layout, Multimodal, Num, Prune, Sentiment, Sim, Sketch, Skew, Star, Text}
import graft.sources.Sources

import Shared._
import Fragments._
import graft.ops.Present._

/** LLM-curation surface: quality gates, mixtures, packing,
  * decontamination, PII, incremental ingest, CC engines, embedding
  * dedup, layout/pruning, heavy hitters.
  *
  * Mechanically split out of SparkEntry.scala (round 10) — every entry
  * is verbatim; SparkEntry composes the parts back into the one map.
  */
private[graft] object Reg3Curation {

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(


    // §2.5 gap — calendar bucketing (date_trunc + day-of-week): the
    // date-function family beyond q12's year extract. Buckets surface as
    // epoch seconds / 0-based dow ints for cross-engine parity.
    "q100_date_buckets" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          unix_timestamp(date_trunc("month", col("o_orderdate")))
            .as("month_start"),
          (dayofweek(col("o_orderdate")) - 1).cast("int").as("dow"),
          col("o_totalprice"))
        .groupBy("month_start", "dow")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("month_start", "dow")),


    // data management — CDC snapshot diff (added/deleted/changed/
    // unchanged) between two derived snapshots of orders. Fingerprints
    // use DECIMAL-exact money (cents as BIGINT) — double→string rendering
    // is engine-specific.
    "q101_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cents = (p: Column) =>
        (p.cast("decimal(18,2)") * 100).cast("bigint").cast("string")
      val oldSnap = orders.where(col("o_orderkey") % 11 =!= 0)
      val newSnap = orders.where(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      Star.snapshotDiff(oldSnap, newSnap, "o_orderkey",
          Seq(col("o_orderstatus"), cents(col("o_totalprice"))))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),


    // north star — top-k cosine via the typed TopKAgg Aggregator:
    // result-identical to q40 (shared tie-break and floor), but partitions
    // reduce to k-buffers BEFORE the shuffle (map-side combine) instead of
    // window-sorting every scored pair.
    "q102_topk_agg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sim.topKAgg(emb.where(col("vec_id") < 10), emb, 5)
        .orderBy("q_id", "rk")
    }),


    // data management — deterministic weighted sample (A-Res by
    // ln(u)/weight with a 48-bit md5 uniform; P(include) ∝ n_chars).
    "q103_weighted_sample" -> ((s, dir) =>
      Agg.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")),


    // north star — funnel conversion (first signup → first purchase
    // within 24h, per user, as a one-row summary).
    "q104_funnel" -> ((s, dir) =>
      EventsOps.funnelConversion(t(s, dir, "events"),
        "signup", "purchase", 86400)),


    // north star — first-order event-transition counts (behavioral
    // Markov baseline).
    "q105_transitions" -> ((s, dir) =>
      EventsOps.transitionCounts(t(s, dir, "events"))
        .orderBy("prev_type", "event_type")),


    // north star — weekly cohort retention matrix.
    "q106_retention" -> ((s, dir) =>
      EventsOps.cohortRetention(t(s, dir, "events"))
        .orderBy("cohort_week", "week_offset")),


    // north star — embedding DEDUP (not just pair detection): drop every
    // vector with a SMALLER near-dup neighbor (same min-id survivor rule
    // as q78's text near-dup removal), summarized per label. Completes
    // the dedup story for the embedding modality.
    "q107_embedding_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val losers = Sim.nearDupPairs(emb, 0.2, "label")
        .select(col("id_b").as("vec_id")).distinct()
      emb.join(losers, Seq("vec_id"), "left_anti")
        .groupBy("label").agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }),


    // sketch surface companion — the EXACT twin of q90's approx profile:
    // same grouping, exact count_distinct + interpolated median, fully
    // DuckDB-checkable. Pairs q90 (scales: fixed-size sketch state) with
    // a verifiable baseline (exact: count_distinct shuffles the key set,
    // percentile buffers per-group values — fine at gate SF, see SCALE.md).
    "q108_exact_profile" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count_distinct(col("user_id")).as("n_users"),
          (floor(expr("percentile(value, 0.5D)") * 100) / 100)
            .as("p50_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),


    // north star — Gopher-style repetition/quality flags (Rae et al. 2021,
    // arXiv:2112.11446): per-doc mean word length, symbol-to-word ratio,
    // top-bigram share, and the combined keep gate.
    "q109_quality_flags" -> ((s, dir) => {
      val st = Text.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
      st.select(col("id").as("doc_id"), col("n_tokens"),
          col("mean_word_len"), col("symbol_ratio"), col("top_bigram_frac"),
          Text.gopherKeep(col("n_tokens"), col("mean_word_len"),
            col("symbol_ratio"), col("top_bigram_frac")).as("keep"))
        .presentLargeBy("doc_id")
    }),


    // north star — URL/domain curation: domain extraction (regexp over a
    // synthetic per-doc URL — documents carry no raw URLs, so the URL is
    // derived from source deterministically), per-domain counts, and a
    // deterministic per-domain quota sample (the standard pretraining
    // domain-balancing pass; same md5-rank sampler as q91).
    "q110_domain_quota" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), col("doc_id").cast("string")))
        .withColumn("domain",
          regexp_extract(col("url"), "^https?://([^/]+)/", 1))
      val counts = docs.groupBy("domain")
        .agg(count(lit(1)).as("n_domain"))
      Agg.stratifiedSample(docs, "domain", "doc_id", 50)
        .join(broadcast(counts), Seq("domain"))
        .select(col("doc_id"), col("domain"), col("n_domain"))
        .orderBy("doc_id")
    }),


    // north star — the PRODUCTION near-dup composition (SCALE.md's
    // documented shape, previously prose-only): LSH band collisions
    // generate candidates, exact n-gram Jaccard verifies ONLY those
    // candidates — never the all-pairs space. Served from the
    // Artifacts layer: this query IS the pair-artifact build; every
    // later report in the family reads its checkpoint (Artifacts
    // scaladoc — the materialize-once production shape).
    "q111_lsh_verified_pairs" -> ((s, dir) => {
      // (k, bands) chosen FROM the S-curve, not hand-picked: recall
      // >= .98 at j = 0.8 with candidate rate <= .2 at j = 0.2
      // resolves to k=8, bands=4 (Dedup.planBands scaladoc table)
      val bp = Dedup.planBands(threshold = 0.8, targetRecall = 0.98)
      Artifacts.nearDupPairs(s, dir, k = bp.k, bands = bp.bands,
          minJaccard = 0.2)
        .orderBy("id_a", "id_b")
    }),


    // ops 4-5 PHYSICAL twin — a real df.write.jdbc / spark.read.jdbc
    // round-trip against embedded Derby (in-memory; the sandbox ships no
    // server DB, but Derby is on Spark's own classpath). The reference's
    // MySQL load (etl_pipeline.py:84-129) is this path; its upsert-ignore
    // LOGIC is oracle-checked separately as q23/q24. INT/VARCHAR survive
    // the dialect mapping losslessly, so the re-read copy aggregates to
    // the same answer as the parquet table.
    "q112_jdbc_roundtrip" -> ((s, dir) => {
      val url =
        s"jdbc:derby:memory:graft${stageId(dir)};create=true"
      Sources.writeJdbc(t(s, dir, "nation"), url, "nation_jdbc",
        Map("n_name" -> 64))
      Sources.readJdbc(s, url, "nation_jdbc")
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("sum_key"))
        .orderBy("n_regionkey")
    }),


    // north star — GPT-style sequence packing: per-shard concat-and-chunk
    // of the token stream into 4096-token packs (docs may straddle pack
    // boundaries; shard = md5 of id so the layout reproduces anywhere).
    "q113_sequence_packing" -> ((s, dir) =>
      Curate.packSequences(t(s, dir, "documents"), "doc_id", "text",
          ctxTokens = 4096, shards = 32)
        .orderBy("doc_id")),


    // north star — eval-set decontamination: train docs sharing >= 1
    // distinct 3-shingle with the (deterministic) eval split, with the
    // shared-shingle count — the n-gram-overlap contamination check.
    "q114_decontamination" -> ((s, dir) =>
      Curate.decontaminate(t(s, dir, "documents"), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, w = 3)
        .orderBy("doc_id")),


    // north star — PII redaction (emails + phone runs): the corpus text
    // carries no PII, so a synthetic contact tail derived from doc_id is
    // appended first — the redaction pass itself is the operator under
    // test, surfaced as match counts + md5 of the redacted text.
    "q115_pii_redact" -> ((s, dir) =>
      Curate.redactPii(
          t(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"),
              lit("@example.com or +1-555-0100")).as("raw")),
          "raw")
        .select(col("doc_id"), col("n_pii"),
          md5(col("redacted")).as("redacted_md5"))
        .presentLargeBy("doc_id")),


    // north star — incremental aggregate maintenance (materialized-view
    // pattern): standing per-type state over the base events merged with
    // a new batch's state via Agg.mergeAggStates; DECIMAL components make
    // merge-of-parts bit-identical to the full recompute the oracle runs.
    // Merge cost ∝ state rows (|keys|), not the 100 TB that produced them.
    "q116_incremental_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.where(col("event_id") % 10 =!= 0)
      val delta = ev.where(col("event_id") % 10 === 0)
      Agg.mergeAggStates(Seq(
          Agg.aggState(base, "event_type", "value"),
          Agg.aggState(delta, "event_type", "value")), "event_type")
        .select(col("event_type"), col("n"),
          col("sx").cast("double").as("sum_value"),
          col("mn").cast("double").as("min_value"),
          col("mx").cast("double").as("max_value"))
        .orderBy("event_type")
    }),


    // north star — source-mixture sampling: per-source keep RATES via a
    // scan-local md5 threshold (zero shuffles — cheaper than the q110
    // quota form, which pays a per-domain window). The corpus-assembly
    // reweighting step: up/down-weight sources by sampling rate.
    "q117_mixture_sample" -> ((s, dir) => {
      val rates = (0 until 20).map(i => s"src$i" ->
        (i % 3 match { case 0 => 1.0; case 1 => 0.5; case _ => 0.25 }))
        .toMap
      Curate.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
          rates, default = 0.1)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    }),


    // north star — per-doc OOV rate vs the corpus' own top-10 vocabulary
    // (broadcast): the cheap gibberish/wrong-language quality signal.
    "q118_vocab_oov" -> ((s, dir) =>
      Curate.oovRate(t(s, dir, "documents"), "doc_id", "text", v = 10)
        .orderBy("doc_id")),


    // north star — per-doc duplicated-n-gram share (distinct 5-shingles
    // present in >= 2 docs): the boilerplate/duplication signal, TF-IDF's
    // df-pass shuffle skeleton, never all-pairs.
    "q119_dup_ngram_share" -> ((s, dir) =>
      Curate.dupNgramShare(t(s, dir, "documents"), "doc_id", "text", w = 5)
        .orderBy("doc_id")),


    // exact median via RANK SELECTION — the 100 TB-safe exact path for
    // the q29/q108 percentile family: one spillable sort instead of a
    // per-group value buffer in the agg (SCALE.md "exact quantiles" row).
    // Identical result to percentile(0.5) by construction (middle order
    // statistics averaged = linear interpolation at p=0.5).
    "q120_median_rank" -> ((s, dir) =>
      Agg.medianByRank(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice")
        .select(col("l_returnflag"),
          (floor(col("median") * 100) / 100).as("p50"), col("n"))
        .presentBy("l_returnflag")),


    // north star — EXACT-recall threshold similarity join via prefix
    // filtering (SSJoin/PPJoin): all pairs with jaccard >= 0.8 over the
    // FULL corpus, candidates bounded by rare-shingle df (vs q33's
    // doc_id<200 cap, which the quadratic brute join needs — this corpus
    // has 1.1M shingle-sharing pairs at sf0.1 that prefix filtering never
    // materializes). 0.8 is the near-dup regime the op exists for; prefix
    // length scales as m·(1-t), so the threshold is also the cost knob.
    // The deterministic complement to the LSH path (q32/q111).
    "q121_prefix_filter_pairs" -> ((s, dir) =>
      // the exact-pair artifact build (q155 reads the same artifact as
      // its ground truth — Artifacts scaladoc)
      Artifacts.exactPairs(s, dir, w = 3, minJaccard = 0.8)
        .orderBy("id_a", "id_b")),


    // north star — incremental DISTINCT maintenance via mergeable HLL
    // sketches (DataSketches hll_sketch_agg/hll_union_agg): the standing
    // per-type sketch unions with each batch's sketch (the 100 TB
    // property: distinct-count state is KB-sized and mergeable, vs
    // q108's exact 2-phase dedup re-scan). The exact count rides along
    // so the oracle pins real values, not just the accuracy bit.
    // Contract note: HLL sketch MERGE is not bit-equal to a single
    // full-scan sketch (datasketches unions can promote the internal
    // representation, shifting the estimate — observed at sf0.1 where
    // the two estimates diverge while both stay well inside the
    // published error). The honest mergeability claim — and what an
    // incremental pipeline actually relies on — is that the MERGED
    // estimate tracks the EXACT count within the sketch's error bound:
    // default lgK=12 gives σ ≈ 1.6%, so 5% is a >3σ gate, stable at
    // every fixture SF (checked at sf0.001/0.01/0.1).
    "q122_incremental_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.where(col("event_id") % 10 =!= 0)
      val delta = ev.where(col("event_id") % 10 === 0)
      val merged = base.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .unionByName(delta.groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk")))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("merged_est"))
      val full = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"))
      merged.join(full, Seq("event_type"))
        .select(col("event_type"),
          (abs(col("merged_est") - col("n_users")).cast("double") /
            col("n_users") <= 0.05).as("merged_within_5pct"),
          col("n_users"))
        .orderBy("event_type")
    }),


    // north star — overlapping token-window chunking (the RAG /
    // context-window splitter): 64-token chunks, stride 48 (16-token
    // overlap), scan-local slice per chunk — zero shuffles before the
    // final ORDER BY.
    "q123_chunk_windows" -> ((s, dir) =>
      Curate.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")),


    // north star — deterministic contrastive negative sampling: per
    // anchor, k md5-ranked different-label candidates (reproducible
    // negatives for embedding training; broadcast anchors + per-anchor
    // WindowGroupLimit, the q40 skeleton).
    "q124_negative_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sim.negativeSample(emb.where(col("vec_id") < 10), emb,
          "vec_id", "label", k = 5)
        .orderBy("q_id", "rk")
    }),


    // north star — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    // deterministic k-means clusters as the blocking step, cosine min-id
    // dedup WITHIN each cluster. First oracle coverage of the Lloyd's
    // quantizer itself — the DuckDB oracle replays both unrolled
    // iterations (decimal-exact centroid means, 9dp-floored assignment
    // argmax) and must land every vector in the same cell.
    "q125_semdedup" -> ((s, dir) =>
      Sim.semDedup(t(s, dir, "embeddings"), k = 8, iters = 2,
          threshold = 0.2, cacheKey = Some(dir))
        .orderBy("cell")),


    // north star — corpus-wide exact segment dedup (CCNet/RefinedWeb line
    // dedup over fixed 16-token blocks): keep-first on the segment hash,
    // per-doc survival share.
    "q126_segment_dedup" -> ((s, dir) =>
      Curate.dedupSegments(t(s, dir, "documents"), "doc_id", "text",
          segTokens = 16)
        .presentLargeBy("doc_id")),


    // north star — unigram-LM mean log2 prob per doc (the KenLM-style
    // perplexity proxy quality filter, model-free).
    "q127_unigram_logprob" -> ((s, dir) =>
      Curate.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .presentLargeBy("doc_id")),


    // north star — EXACT connected components (fixpoint label propagation)
    // over the production near-dup pair graph (q111's LSH-then-verify
    // edges): the full-graph upgrade of q92's bounded-round clusters,
    // checked against a recursive-CTE oracle. survivor = the component's
    // min id, i.e. the doc kept by every min-id dedup rule upstream.
    "q128_cc_converged" -> ((s, dir) => {
      // member counts via groupBy+join-back, not a count window over the
      // component: a viral boilerplate cluster is exactly the hot key the
      // CC pass exists to find, and a count window would buffer its whole
      // membership on one reducer (q121/q119/q127 shape). The label frame
      // is the Artifacts-layer component artifact (checkpoint-backed),
      // so the two consumers here — and every other report in the
      // family — never re-run the loop.
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      comp.join(sizes, Seq("component"))
        .select(col("doc_id"), col("component"),
          col("n_members"), (col("doc_id") === col("component"))
            .as("is_survivor"))
        .orderBy("doc_id")
    }),


    // north star — the SAME components via alternating large-star /
    // small-star (Kiveris et al. 2014): O(log n) rounds on any graph
    // shape vs q128's O(diameter) propagation. Shares q128's oracle —
    // two CC engines, one contract.
    "q130_cc_bigstar" -> ((s, dir) => {
      // same groupBy+join-back member count as q128 (see comment there);
      // checkpointed so the star-round output is computed once for its
      // two consumers. Pairs come from the shared artifact — the point
      // of this query is the ALTERNATIVE label engine over them, so it
      // does not reuse the component artifact.
      val comp = Dedup.componentsBigStar(
        Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
          minJaccard = 0.2))
        .localCheckpoint()
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      comp.join(sizes, Seq("component"))
        .select(col("doc_id"), col("component"),
          col("n_members"), (col("doc_id") === col("component"))
            .as("is_survivor"))
        .orderBy("doc_id")
    }),


    // north star — salt-replicated skew join (manual AQE-skew-split for
    // known-hot keys): lineitem ⋈ orders on the salted key, then the
    // priority rollup. The salt never reaches the output, so the oracle is
    // the PLAIN join — result-identity with the unsalted plan is the
    // entire correctness claim.
    "q129_skew_salted_join" -> ((s, dir) =>
      Skew.saltedJoin(t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),


    // north star — Bloom-filter semi-join reduction (the explicit form of
    // Spark's AQE runtime filter): prune lineitem at the scan with a
    // might_contain probe over the urgent orders' key Bloom, then close
    // with the exact semi join. False positives are removed by the join;
    // false negatives are impossible — so the oracle is the plain
    // IN-subquery and result identity is the claim.
    "q131_bloom_prune" -> ((s, dir) =>
      Prune.bloomSemiJoin(t(s, dir, "lineitem"),
          t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")),


    // north star — Z-order (Morton) clustering key over (customer, order
    // day): the multi-dimensional layout key every lakehouse format uses
    // for scan pruning on EITHER dimension. Pure integer bit-interleave —
    // the oracle replays it bit for bit; the layout property itself (per
    // file bounding boxes tight on BOTH dims after Layout.zOrderWrite) is
    // asserted in Round5bOpsSpec against real parquet files. Day base
    // 7305 = 1990-01-01. 16 bits bound both dims at the TEST SFs only:
    // o_custkey reaches 150000*SF, exceeding 65535 at SF >= ~0.44 —
    // beyond that zValue's per-row assert_true guard fails LOUDLY
    // (never a silent high-bit fold) and the caller must raise `bits`.
    "q132_zorder_key" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          Layout.zValue(col("o_custkey"),
            Layout.normalize(
              floor(unix_timestamp(col("o_orderdate")) / 86400), 7305L),
            bits = 16).as("zval"))
        .presentLargeBy("o_orderkey")),


    // north star — deterministic corpus shuffle (the step between q78's
    // dedup and q113's packing): training order as a pure function of doc
    // ids. Shard = scan-local fixed md5 hash-range bucket (NOT ntile —
    // exactly-equal shard sizes would cost a global single-reducer rank;
    // md5 uniformity makes fixed buckets near-equal at any scale); pos =
    // per-shard rank by the md5 shuffle key. The physical shard files
    // (Sources.writeShards) are byte-determinism-asserted in SourcesSpec.
    "q133_det_shuffle" -> ((s, dir) =>
      Curate.deterministicShuffle(t(s, dir, "documents"), "doc_id",
          shards = 32)
        .select(col("doc_id"), col("shuffle_key"), col("shard"), col("pos"))
        .orderBy("shard", "pos")),


    // north star — hashed-n-gram linear quality classifier (fastText
    // shape, Joulin et al. 2016; DCLM 2024's model-based filter): the
    // learned scorer real pipelines run after the q109 rule gates. Weight
    // lookup is a scan-local array-literal index (no join); one explode +
    // one doc-keyed agg. Also wired into q78 as its final gate.
    "q134_quality_score" -> ((s, dir) =>
      Curate.ngramQualityScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    // north star — batch near-dup ADMISSION against a standing corpus
    // (the daily-ingest materialized-view twin of the streaming
    // near-dup filter, and the oracle check its signature logic never
    // had): base = 80% of docs, batch = the doc_id%5==0 slice; admit
    // batch docs whose MinHash signature is unseen in the base and
    // first among in-batch twins.
    "q135_dedup_admission" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // standing sig-keys come from the artifact store: only the batch
      // is keyed per ingest (admission cost ∝ batch, not corpus)
      Dedup.admitBySignature(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 8,
          baseKeysPre = Some(Artifacts.standingSigKeys(s, dir, k = 8)))
        .orderBy("doc_id")
    }),


    // north star — count-min frequency sketch AS A KEYED AGGREGATION
    // (Sketch.scala scaladoc): the counter matrix is a d*w-row frame, so
    // CMS union is a cell-sum groupBy — asserted in-query against the
    // one-shot matrix (merge_equals_full, the q122 pattern) — and the
    // oracle replays the exact md5 cells a binary sketch blob would hide.
    // Heavy hitters >= 80 events carry exact count, sketch estimate, and
    // the one-sided CMS guarantee bit (estimates only ever overcount).
    "q136_cms_heavy_hitters" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val (d, w) = (CmsD, CmsW)
      val merged = Sketch.mergeCounters(Seq(
        Sketch.cmsCounters(ev.where(col("event_id") % 10 =!= 0),
          "user_id", d, w),
        Sketch.cmsCounters(ev.where(col("event_id") % 10 === 0),
          "user_id", d, w)))
      val full = Sketch.cmsCounters(ev, "user_id", d, w)
      val nDiff = merged.join(full.withColumnRenamed("cnt", "cnt_full"),
          Seq("r", "b"), "full")
        .where(coalesce(col("cnt"), lit(-1L)) =!=
          coalesce(col("cnt_full"), lit(-1L)))
        .agg(count(lit(1)).as("n_cell_diff"))
      val hh = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .where(col("exact_cnt") >= 80)
      Sketch.cmsEstimate(merged, hh.select("user_id"), "user_id", d, w)
        .join(hh, "user_id")
        .crossJoin(broadcast(nDiff))
        .select(col("user_id"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") >= col("exact_cnt")).as("never_under"),
          (col("n_cell_diff") === 0).as("merge_equals_full"))
        .presentBy("user_id")
    }),


    // north star — EXACT heavy hitters by the Misra–Gries two-pass
    // candidate/recount shape (Sketch.mgHeavyHitters scaladoc): phase 1
    // scans with a capacity-4 counter summary per partition (bounded
    // state, the deletion-based sibling of q136's CMS), phase 2 recounts
    // the <= 4-per-partition candidates exactly and keeps count*(c+1) > n
    // — provably identical to the full groupBy filter. Capacity 4 <
    // |event_type| = 5, so the decrement path genuinely runs here.
    "q250_mg_heavy_hitters" -> ((s, dir) =>
      Sketch.mgHeavyHitters(t(s, dir, "events"), "event_type", capacity = 4)
        .orderBy("event_type")),


    // curation — deterministic weighted sampling WITHOUT replacement
    // (Curate.weightedSample scaladoc; Efraimidis & Spirakis 2006):
    // per-source top-10 by the A-Res key ln(u)/w (q103's exact key,
    // per-group), weight = n_chars + 1 —
    // the hard-budget quality-proportional subsampler next to the
    // rate-based q117 and the quota q110; the draw replays from ids
    // alone (md5 uniforms, no RNG state).
    "q269_weighted_sample" -> ((s, dir) =>
      Curate.weightedSample(
          t(s, dir, "documents").withColumn("wt", col("n_chars") + 1),
          "doc_id", "wt", 10, groupCol = Some("source"))
        .select("source", "doc_id", "wt", "priority", "rk")
        .orderBy("source", "rk")),


    // curation — content-defined chunking dedup (Curate.cdcChunkStats
    // scaladoc; Gear/FastCDC — Xia et al. 2016 — on the token stream):
    // boundaries where the 4-token windowed integer hash ≡ 0 mod 16,
    // so chunk frames follow CONTENT and survive the insertions that
    // shift q126's fixed blocks; per-source chunk dup share + mean
    // chunk length, all 64-bit integer hashing replayed by the oracle.
    "q271_cdc_chunks" -> ((s, dir) =>
      Curate.cdcChunkStats(t(s, dir, "documents"), "doc_id", "text",
          "source")
        .orderBy("source")),


    // curation — budget-driven corpus assembly (Curate.budgetedSample
    // scaladoc): q218's largest-remainder quotas drive q269's
    // per-source A-Res ranks in ONE call — a 200-row total budget
    // split across sources by sqrt-damped size, each slice
    // weight-proportional (wt = n_chars + 1) without replacement,
    // reproducible from ids alone. The sampling family end-to-end.
    "q274_budgeted_sample" -> ((s, dir) =>
      Curate.budgetedSample(
          t(s, dir, "documents").withColumn("wt", col("n_chars") + 1),
          "doc_id", "wt", "source", target = 200L)
        .select("source", "doc_id", "wt", "rk", "alloc")
        .orderBy("source", "rk")),


    // curation — Bloom-prefiltered decontamination: SAME output (and
    // oracle string) as q114, different physical shape — a driver-built
    // Bloom filter over the eval shingles probes scan-locally (native
    // codegen'd expression) so only ~contaminated shingles reach the
    // exact join, which is then a small SHUFFLE join instead of an
    // exact broadcast hash table. The shape that survives when the
    // eval suite's distinct-shingle set outgrows the broadcast budget
    // (Curate.decontaminateBloom scaladoc for the sizing math).
    "q276_bloom_decontaminate" -> ((s, dir) =>
      Curate.decontaminateBloom(t(s, dir, "documents"), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, w = 3)
        .orderBy("doc_id")),


    // curation — linear quality probe (Curate.qualityProbe scaladoc):
    // the fastText-style quality classifier fit AS a distributed
    // operator — hashed bag-of-tokens features, ONE BIGINT-exact Gram
    // pass, 8 driver GD steps with sequenced FP replayed stage-by-stage
    // by the oracle. Labels: a deterministic trusted-source split
    // (src0-src4 = 1). Output: 33 weights + the in-sample MSE.
    "q277_quality_probe" -> ((s, dir) =>
      Curate.qualityProbe(t(s, dir, "documents"), "doc_id", "text",
          label = col("source").isin(
            "src0", "src1", "src2", "src3", "src4").cast("int"))
        .orderBy("bucket")),


    // dedup — exact repeated-substring coverage (Lee et al. 2022
    // ExactSubstr; Dedup.repeatedSubstringShare scaladoc for the
    // suffix-array-free reduction): per doc, the token share inside
    // ≥8-token substrings occurring ≥2 times anywhere in the corpus.
    // Position-exact, unlike q126's fixed blocks / q271's CDC chunks.
    "q278_repeated_substring" -> ((s, dir) =>
      Dedup.repeatedSubstringShare(t(s, dir, "documents"), "doc_id",
          "text", minLen = 8)
        .orderBy("doc_id")),


    // curation — the classifier loop CLOSED (Curate.qualityGate
    // scaladoc): q277's fit frozen to integer micro-weights
    // (w_e9 = floor(w·1e9)) scores every doc as an exact BIGINT dot
    // product, gated at 0.5·1e9; per-source calibration + keep rate.
    // Shares q277's trainer verbatim — one fit, two surfaces.
    "q281_quality_gate" -> ((s, dir) =>
      Curate.qualityGate(t(s, dir, "documents"), "doc_id", "text",
          label = col("source").isin(
            "src0", "src1", "src2", "src3", "src4").cast("int"),
          srcCol = "source")
        .orderBy("source")),


    // curation — temperature-damped mixture shares (α-sampling,
    // Curate.mixtureTemperatures scaladoc): p_s ∝ n_s^α for
    // α ∈ {1, 1/2, 1/4} via composed correctly-rounded square roots
    // (never libm pow), integer-frozen weights, integer-division
    // shares. The temperature table the q117/q218/q274 samplers eat.
    "q284_mixture_temperature" -> ((s, dir) =>
      Curate.mixtureTemperatures(t(s, dir, "documents"), "source")
        .orderBy("source")),


    // curation — contamination provenance (the q114/q276 audit
    // surface): WHICH eval doc each contaminated train doc leaks,
    // top-50 (train, eval, shared-shingle) pairs — the list a release
    // review reads; the counts alone can't be audited.
    "q285_contamination_pairs" -> ((s, dir) =>
      Curate.decontaminateProvenance(t(s, dir, "documents"), "doc_id",
          "text", isEval = col("doc_id") % 97 === 0, w = 3, topK = 50)),


    // curation — the decontamination family gets the q233/q272/q273
    // treatment (Curate.decontaminateAuto scaladoc): an eval-side-only
    // approx-distinct preflight routes broadcast-exact vs bloom,
    // bit-identical either way, bound to the family's ONE oracle
    // string — one oracle, THREE engines, self-choosing.
    "q286_decontaminate_auto" -> ((s, dir) =>
      Curate.decontaminateAuto(t(s, dir, "documents"), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, w = 3)
        .orderBy("doc_id")),


    // curation — SEMANTIC decontamination (Curate.decontaminateSemantic
    // scaladoc): the n-gram family (q114/q276/q286) is blind to
    // paraphrase contamination; this emits the embedding-space audit
    // pairs — probed-cell train/eval pairs with cosine >= 0.25,
    // top-100 — blocked on the SAME physical AnnIndex postings the ANN
    // family reads, never all-pairs. The eval side probes own cell ∪
    // the 2 nearest-centroid cells (probes = 2, the smallest setting
    // q290's measurement rates sane — own-cell-only reads 0.29–0.46
    // there) against the STORED probe geometry; the q285 provenance
    // readout in embedding space, same eval split as the n-gram family.
    "q289_semantic_decontaminate" -> ((s, dir) =>
      Curate.decontaminateSemantic(graft.ops.AnnIndex.cells(s, dir),
          isEval = col("vec_id") % 97 === 0, threshold = 0.25,
          probes = 2,
          probeCents = Some(graft.ops.AnnIndex.probeCentroids(s, dir)))
        .orderBy(col("sim").desc, col("train_id"), col("eval_id"))),


    // curation — q289's measured boundary recall (Curate.
    // semanticDeconRecall scaladoc): for p in 1..3, the cell-blocked
    // pair scan with the eval side probing own ∪ p nearest-centroid
    // cells (the exact monotone topKIvf policy), hit-counted against
    // the brute all-pairs truth at the same threshold — the q155/q228/
    // q254 realized-recall contract applied to semantic
    // decontamination; production reads this table to pick p.
    "q290_semantic_decon_recall" -> ((s, dir) =>
      Curate.semanticDeconRecall(graft.ops.AnnIndex.cells(s, dir),
          isEval = col("vec_id") % 97 === 0, threshold = 0.25,
          maxProbes = 3, truthKey = Some(dir))
        .orderBy("probes")),


    // curation — the quantizer-cell-count POLICY measured (Curate.
    // semanticDeconRecallScaledK scaladoc): q290 shows boundary
    // recall at FIXED k=8 degrading with corpus size; this runs the
    // same harness under k=8 AND k=⌈√n⌉ (one-scalar count preflight,
    // the standard IVF sizing rule) side by side, at p ∈ {1,2} — the
    // driver's three scale factors trace recall-vs-scale per policy,
    // so "scale k with the corpus" is a measured decision, not a rule
    // of thumb.
    // (r15) the per-policy assignment scans read the physical
    // AnnIndex postings — bit-identical to the in-memory quantizer
    // (q304 proves it under q296's oracle), same oracle string, and
    // the query stops paying the k·dim-literal argmax codegen (the
    // bench's top non-attributed tail, 4.3 s → store-read)
    "q295_scaled_k_recall" -> ((s, dir) =>
      Curate.semanticDeconRecallScaledK(t(s, dir, "embeddings"),
          isEval = col("vec_id") % 97 === 0, threshold = 0.25,
          maxProbes = 2, cacheKey = Some(dir),
          storedCells = Some(k =>
            graft.ops.AnnIndex.cells(s, dir, "full", k = k)))
        .orderBy("policy", "probes")),


    // curation — the coverage-MATCHED policy table (Curate.
    // semanticDeconRecallCoverage scaladoc): q295 refutes k=⌈√n⌉ at a
    // FIXED probe count (2 of 45 cells covers 4% of the space vs
    // 2 of 8 = 25%); this holds the probed FRACTION of cells constant
    // (f ∈ {⅛, ¼}) and scales probes with k — the joint sizing policy
    // production actually runs. Matched f means matched worst-case
    // candidate-scan cost, so the table isolates what the finer
    // quantizer buys: the driver's three scale factors trace whether
    // scaled-k recall holds flat where q290 shows fixed-k degrading.
    // Shares both trained quantizers with q295 via the same cacheKey.
    "q296_coverage_matched_recall" -> ((s, dir) =>
      Curate.semanticDeconRecallCoverage(t(s, dir, "embeddings"),
          isEval = col("vec_id") % 97 === 0, threshold = 0.25,
          fracs = Seq(0.125, 0.25), cacheKey = Some(dir))
        .orderBy("policy", "coverage")),


    // curation — q296's measured policy SHIPPED as an engine: the
    // corpus-scaled semantic decontaminator. A one-scalar count
    // preflight sizes the quantizer (k = ⌈√n⌉ — per-cell candidate
    // bound n/k stays flat as the corpus grows) and the probe budget
    // (probes = ⌈k/4⌉ — constant quarter-coverage, the f = 1/4 column
    // q296 measures BEATING the fixed-k default at equal scan cost on
    // every fixture). Same audit-pair contract as q289; the oracle
    // replays the scaled chain and DERIVES the same probe budget in
    // SQL, so the sizing policy itself is driver-gated.
    "q298_semantic_decon_scaled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = emb.count() // the sizing preflight (q233 discipline)
      // ONE policy definition (AnnIndex.sizing) shared with the
      // physical store's serving consumers (q299/q300/q302) — the
      // probe floor at 2 is there because q290 measures own-cell-only
      // at 0.29-0.46 recall, so quarter-coverage never dips below the
      // multi-probe minimum
      val (k, probes) = graft.ops.AnnIndex.sizing(n)
      Curate.decontaminateSemantic(
          Sim.kmeansCellsCached(emb, k, 2, dir).localCheckpoint(),
          isEval = col("vec_id") % 97 === 0, threshold = 0.25,
          probes = probes)
        .orderBy(col("sim").desc, col("train_id"), col("eval_id"))
    }),


    // curation — q296's coverage-matched recall measurement SERVED
    // FROM THE PHYSICAL INDEX (the r14 verdict's three-SF recall
    // ask): both policy arms read AnnIndex `cells/` postings — fixed8
    // from the k=8 store, scaled from the ⌈√n⌉-sized store — instead
    // of assigning in memory, and bind q296's oracle string (one
    // contract, two engines). The driver gate at each SF is the
    // direct evidence that the PHYSICAL store sized by
    // AnnIndex.sizing holds the recall the fixed-k=8 physical store
    // loses as the corpus grows.
    "q304_sized_store_recall" -> ((s, dir) =>
      Curate.semanticDeconRecallCoverage(t(s, dir, "embeddings"),
          isEval = col("vec_id") % 97 === 0, threshold = 0.25,
          fracs = Seq(0.125, 0.25), cacheKey = Some(dir),
          storedCells = Some(k =>
            graft.ops.AnnIndex.cells(s, dir, "full", k = k)))
        .orderBy("policy", "coverage")),


    // curation — the RETRAIN decision for the sized store
    // (Curate.retrainDecision scaladoc; r15 verdict ask #3: k = ⌈√n⌉
    // means growth that bumps ⌈√n⌉ invalidates the frozen store, and
    // the q280 drift monitor was "the retrain-decision monitor"
    // nothing consumed). The growth numbers are READ FROM THE
    // MAINTAINED HISTORY HEAD (the monitor's artifact — n_standing /
    // n_delta off the is_delta flags); the stale arm is the standing-
    // sized frozen store serving the grown corpus (the AnnIndex
    // "base" store at k = ⌈√n₀⌉ — trained on standing, indexing
    // everything), the resized arm the full retrain at k = ⌈√n⌉;
    // both measured at matched quarter coverage against the shared
    // brute truth, and the emitted row IS the decision: retrain iff
    // the size actually bumped AND the measured gain clears 2 pts of
    // recall. The oracle replays both kmeans chains, both coverage
    // arms, and the decision arithmetic — so the policy, not just the
    // measurement, is driver-gated at every scale factor.
    "q314_ann_retrain_decision" -> ((s, dir) => retrainDecision(s, dir)),


    // curation/ANN — EXECUTING the retrain q314 decides (r17; r16
    // verdict ask #2: "the store can decide to retrain but cannot do
    // it as a lifecycle op"). The query runs q314's measured decision
    // (same growth inputs off the maintained head, same matched-
    // coverage arms), then ACTS on it via AnnIndex.rotateIfRetrain:
    // the RETRAIN branch publishes the resized full-corpus store as a
    // new chain epoch (a 1-row rotation record + the standard
    // snapshot ensure — old-version time travel keeps reading the
    // pre-retrain chain untouched) and serves top-5 IVF-ADC from the
    // rotated store; the KEEP branch serves the standing epoch's head
    // (q299's exact contract). The oracle replays the decision AND
    // both serving chains, selecting the branch by the derived flag —
    // so which branch served, not just how it served, is driver-gated
    // at every scale factor (the fixture flips: RETRAIN at
    // sf0.001/sf0.1, keep at sf0.01).
    "q321_ann_retrain_execute" -> ((s, dir) => {
      val (kSized, probes) = AnnIndex.sizedParams(s, dir)
      val epoch = AnnIndex.rotateIfRetrain(s, dir,
        retrain = retrainDecision(s, dir).collect()(0).getBoolean(10),
        kResized = kSized)
      val tag = if (epoch == 1) "full" else "base"
      val posts =
        if (epoch == 1) AnnIndex.codes(s, dir, tag = "full", k = kSized)
        else AnnIndex.postingsAsOf(s, dir, 1L, k = kSized)
      AnnIndex.serveIvfAdc(s, dir, posts,
          AnnIndex.probeCentroids(s, dir, tag = tag, k = kSized), tag,
          kSized, probes)
        .select(
          lit(if (epoch == 1) "retrained" else "stale").as("branch"),
          lit(epoch.toLong).as("epoch"), col("*"))
        .orderBy("q_id", "rk")
    }),


    // curation/ANN — the lifecycle ops COMPOSE (r17): a takedown
    // issued AFTER q321's rotation must land on whichever epoch is
    // serving. The query replays q314's measured decision, rotates
    // when it says so, then applies the SAME takedown split to the
    // serving store: the RETRAIN branch masks the rotated epoch-1
    // snapshot with its published tombstone artifact and ranks
    // probes against the published survivor geometry
    // (AnnIndex.epochTakedownStore); the KEEP branch is exactly the
    // md chain's tombstoned head (q316's contract — the takedown on
    // the standing epoch IS the delete segment). The oracle replays
    // the decision and BOTH survivor-scoped serving chains, selecting
    // by the derived flag — an engine that deleted from the wrong
    // epoch, or rotated without deleting, fails the gate.
    "q331_epoch_takedown_serve" -> ((s, dir) => {
      val (kSized, probes) = AnnIndex.sizedParams(s, dir)
      val epoch = AnnIndex.rotateIfRetrain(s, dir,
        retrain = retrainDecision(s, dir).collect()(0).getBoolean(10),
        kResized = kSized)
      val (posts, cents, tag) =
        if (epoch == 1) {
          val (p, c) = AnnIndex.epochTakedownStore(s, dir, k = kSized)
          (p, c, "full")
        } else
          (AnnIndex.postingsAsOf(s, dir, 2L, k = kSized, chain = "md"),
            AnnIndex.probeCentsAsOf(s, dir, 2L, k = kSized, chain = "md"),
            "base")
      AnnIndex.serveIvfAdc(s, dir, posts, cents, tag, kSized, probes)
        .select(
          lit(if (epoch == 1) "retrained" else "stale").as("branch"),
          lit(epoch.toLong).as("epoch"), col("*"))
        .orderBy("q_id", "rk")
    })
  )

  /** q314's measured retrain decision: growth read off the maintained
    * history head (n_standing / n_delta from the is_delta flags), the
    * stale base-trained and resized full-trained stores measured at
    * matched coverage ([[Curate.retrainDecision]]) — q321 and q331 act
    * on its row. */
  private def retrainDecision(s: SparkSession, dir: String): DataFrame = {
    val (kSized, _) = AnnIndex.sizedParams(s, dir)
    val growth = AnnIndex.postingsAsOf(s, dir, version = 1L, k = kSized)
      .groupBy(col("is_delta")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    Curate.retrainDecision(
      isEval = col("vec_id") % 97 === 0, threshold = 0.25,
      nStanding = growth.getOrElse(false, 0L),
      nDelta = growth.getOrElse(true, 0L),
      staleCells = k => AnnIndex.cells(s, dir, "base", k = k),
      resizedCells = k => AnnIndex.cells(s, dir, "full", k = k),
      cacheKey = Some(dir))
  }

  /** One policy's arm of the q295 oracle: the q290 probe-policy CTE
    * tail (probe geometry from per-cell means, own-cell-wins pmin,
    * cell-blocked candidate scan, per-p hit counts vs the SHARED
    * `tru`/`nt`) with every CTE name prefixed so two quantizer
    * policies replay side by side in one query. Requires `ev0`,
    * `tr0`, `tru`, `nt` and the chain's `${p}af` in scope.
    */
  private def scaledKPolicyCtes(af: String, p: String,
                                maxProbes: Int): String = {
    val ps = (1 to maxProbes).map(i => s"($i)").mkString(", ")
    s"""${p}ev AS (SELECT a.cell AS owncell, e0.eval_id, e0.evv, e0.evn
       |  FROM ev0 e0 JOIN $af a ON a.vec_id = e0.eval_id),
       |${p}tr AS (SELECT a.cell, t0.train_id, t0.trv, t0.trn
       |  FROM tr0 t0 JOIN $af a ON a.vec_id = t0.train_id),
       |${p}cm AS (SELECT cell, d.pos AS pos,
       |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM $af CROSS JOIN range(1, 65) AS d(pos)
       |  GROUP BY cell, d.pos),
       |${p}cent AS (SELECT cell,
       |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
       |  FROM ${p}cm GROUP BY cell),
       |${p}centn AS (SELECT cell, ce,
       |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
       |  FROM ${p}cent),
       |${p}centp AS (SELECT eval_id, cell, GREATEST(pr, 2) AS pmin
       |  FROM (
       |  SELECT e.eval_id, c.cell,
       |    row_number() OVER (PARTITION BY e.eval_id ORDER BY
       |      ${Num.floorAtSql(
           "list_sum(list_transform(range(1, 65)," +
             " i -> e.evv[i] * c.ce[i])) / (e.evn * c.cn)", 9)} DESC,
       |      c.cell ASC) AS pr
       |  FROM ${p}ev e CROSS JOIN ${p}centn c)
       |  WHERE pr <= $maxProbes),
       |${p}ownp AS (SELECT eval_id, owncell AS cell, 1 AS pmin
       |  FROM ${p}ev),
       |${p}probe AS (SELECT eval_id, cell, MIN(pmin) AS pmin
       |  FROM (SELECT * FROM ${p}ownp UNION ALL SELECT * FROM ${p}centp)
       |  GROUP BY eval_id, cell),
       |${p}cand AS MATERIALIZED (SELECT t.train_id, pb.eval_id, pb.pmin
       |  FROM ${p}tr t
       |  JOIN ${p}probe pb ON pb.cell = t.cell
       |  JOIN ${p}ev e ON e.eval_id = pb.eval_id
       |  WHERE floor((list_sum(list_transform(range(1, 65),
       |      i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn)) * 10000)
       |      / 10000 >= 0.25),
       |${p}stats AS (SELECT pp.p, COUNT(*) AS n_approx,
       |    COUNT(b.train_id) AS n_hits
       |  FROM (VALUES $ps) pp(p)
       |  JOIN ${p}cand c ON c.pmin <= pp.p
       |  LEFT JOIN tru b
       |    ON b.train_id = c.train_id AND b.eval_id = c.eval_id
       |  GROUP BY pp.p)""".stripMargin
  }

  /** One policy's arm of the q296 oracle: [[scaledKPolicyCtes]] with
    * the probe budgets DERIVED from coverage fractions instead of a
    * static sweep — `${p}bud(coverage, p)` computes
    * p = max(1, ⌈k·f⌉) per fraction (binary-exact for dyadic f), the
    * probe ranking is cut at the policy's largest budget, and the
    * stats scan counts at exactly the budget probe counts. Requires
    * `ev0`, `tr0`, `tru`, `nt` and the chain's `${p}af` in scope.
    */
  private def coveragePolicyCtes(af: String, p: String, kSql: String,
                                 fracs: Seq[Double]): String = {
    val fs = fracs.map(f => s"($f)").mkString(", ")
    s"""${p}bud AS (SELECT CAST(f AS DOUBLE) AS coverage,
       |    GREATEST(1, CAST(ceil(($kSql) * CAST(f AS DOUBLE))
       |      AS INTEGER)) AS p
       |  FROM (VALUES $fs) fs(f)),
       |${p}ev AS (SELECT a.cell AS owncell, e0.eval_id, e0.evv, e0.evn
       |  FROM ev0 e0 JOIN $af a ON a.vec_id = e0.eval_id),
       |${p}tr AS (SELECT a.cell, t0.train_id, t0.trv, t0.trn
       |  FROM tr0 t0 JOIN $af a ON a.vec_id = t0.train_id),
       |${p}cm AS (SELECT cell, d.pos AS pos,
       |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM $af CROSS JOIN range(1, 65) AS d(pos)
       |  GROUP BY cell, d.pos),
       |${p}cent AS (SELECT cell,
       |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
       |  FROM ${p}cm GROUP BY cell),
       |${p}centn AS (SELECT cell, ce,
       |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
       |  FROM ${p}cent),
       |${p}centp AS (SELECT eval_id, cell, GREATEST(pr, 2) AS pmin
       |  FROM (
       |  SELECT e.eval_id, c.cell,
       |    row_number() OVER (PARTITION BY e.eval_id ORDER BY
       |      ${Num.floorAtSql(
         "list_sum(list_transform(range(1, 65)," +
           " i -> e.evv[i] * c.ce[i])) / (e.evn * c.cn)", 9)} DESC,
       |      c.cell ASC) AS pr
       |  FROM ${p}ev e CROSS JOIN ${p}centn c)
       |  WHERE pr <= (SELECT MAX(p) FROM ${p}bud)),
       |${p}ownp AS (SELECT eval_id, owncell AS cell, 1 AS pmin
       |  FROM ${p}ev),
       |${p}probe AS (SELECT eval_id, cell, MIN(pmin) AS pmin
       |  FROM (SELECT * FROM ${p}ownp UNION ALL SELECT * FROM ${p}centp)
       |  GROUP BY eval_id, cell),
       |${p}cand AS MATERIALIZED (SELECT t.train_id, pb.eval_id, pb.pmin
       |  FROM ${p}tr t
       |  JOIN ${p}probe pb ON pb.cell = t.cell
       |  JOIN ${p}ev e ON e.eval_id = pb.eval_id
       |  WHERE floor((list_sum(list_transform(range(1, 65),
       |      i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn)) * 10000)
       |      / 10000 >= 0.25),
       |${p}stats AS (SELECT pp.p, COUNT(*) AS n_approx,
       |    COUNT(b.train_id) AS n_hits
       |  FROM (SELECT DISTINCT p FROM ${p}bud) pp
       |  JOIN ${p}cand c ON c.pmin <= pp.p
       |  LEFT JOIN tru b
       |    ON b.train_id = c.train_id AND b.eval_id = c.eval_id
       |  GROUP BY pp.p)""".stripMargin
  }

  /** The q296 per-policy output rows: one per coverage fraction,
    * zero-filled, recall floored 4 dp vs the shared truth count. */
  private def coveragePolicyRows(p: String, policy: String,
                                 kSql: String): String =
    s"""SELECT '$policy' AS policy, $kSql AS k, bud.coverage,
       |  CAST(bud.p AS INTEGER) AS probes, n_truth,
       |  COALESCE(n_approx, 0) AS n_approx,
       |  COALESCE(n_hits, 0) AS n_hits,
       |  CASE WHEN n_truth = 0 THEN 1.0
       |       ELSE ${Num.floorAtSql(
         "CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_truth", 4)}
       |  END AS recall
       |FROM ${p}bud bud LEFT JOIN ${p}stats ON ${p}stats.p = bud.p
       |CROSS JOIN nt""".stripMargin

  /** The q295 per-policy output rows: zero-filled per probe count,
    * recall floored 4 dp vs the shared truth count. */
  private def scaledKPolicyRows(p: String, policy: String,
                                kSql: String, maxProbes: Int): String = {
    val ps = (1 to maxProbes).map(i => s"($i)").mkString(", ")
    s"""SELECT '$policy' AS policy, $kSql AS k,
       |  CAST(pp.p AS INTEGER) AS probes, n_truth,
       |  COALESCE(n_approx, 0) AS n_approx,
       |  COALESCE(n_hits, 0) AS n_hits,
       |  CASE WHEN n_truth = 0 THEN 1.0
       |       ELSE ${Num.floorAtSql(
           "CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_truth", 4)}
       |  END AS recall
       |FROM (VALUES $ps) pp(p)
       |LEFT JOIN ${p}stats ON ${p}stats.p = pp.p
       |CROSS JOIN nt""".stripMargin
  }

  /** The coverage-matched two-policy recall replay — ONE string for
    * the in-memory engine (q296) and the physical-store-served engine
    * (q304): both arms' assignments are the same deterministic
    * kmeans chains, so the measurement contract is engine-independent.
    */
  private val coverageMatchedOracleSql: String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${kmeansChainAt("8", "fx")},
       |${kmeansChainAt(
         "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)",
         "sc")},
       |ev0 AS MATERIALIZED (SELECT vec_id AS eval_id, v AS evv,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS evn
       |  FROM e WHERE vec_id % 97 = 0),
       |tr0 AS MATERIALIZED (SELECT vec_id AS train_id, v AS trv,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS trn
       |  FROM e WHERE NOT (vec_id % 97 = 0)),
       |tru AS MATERIALIZED (SELECT train_id, eval_id FROM (
       |  SELECT t.train_id, e.eval_id,
       |    floor((list_sum(list_transform(range(1, 65),
       |      i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn)) * 10000)
       |      / 10000 AS sim
       |  FROM tr0 t CROSS JOIN ev0 e) WHERE sim >= 0.25),
       |nt AS (SELECT COUNT(*) AS n_truth FROM tru),
       |${coveragePolicyCtes("fxaf", "fx", "8", Seq(0.125, 0.25))},
       |${coveragePolicyCtes("scaf", "sc",
         "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)",
         Seq(0.125, 0.25))}
       |SELECT * FROM (
       |${coveragePolicyRows("fx", "fixed8", "CAST(8 AS INTEGER)")}
       |UNION ALL
       |${coveragePolicyRows("sc", "scaled_sqrt",
         "(SELECT CAST(ceil(sqrt(COUNT(*))) AS INTEGER) FROM e)")}
       |) ORDER BY policy, coverage""".stripMargin

  /** The q314 retrain-decision replay: the STALE arm's chain is the
    * frozen-store discipline (kmeansFrozenCte — trained on the
    * standing slice at the STANDING corpus's ⌈√n₀⌉ seed budget,
    * assigning everything), the RESIZED arm the full-corpus chain at
    * ⌈√n⌉; both run the coverage-matched recall tail at f = 1/4
    * against the shared brute truth, and the final SELECT derives the
    * growth numbers, the matched budgets, AND the decision rule — so
    * the driver gate proves the policy arithmetic end to end.
    */
  private val retrainDecisionOracleSql: String = {
    val kStaleSql = "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) " +
      "FROM e WHERE NOT (vec_id % 5 = 0))"
    val kNewSql =
      "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)"
    val gainSql = Num.floorAtSql("rz.recall - st.recall", 4)
    s"""WITH ${kmeansFrozenCte("NOT (vec_id % 5 = 0)", kStaleSql)},
       |stv AS MATERIALIZED (SELECT a.vec_id, e.v, a.cell
       |  FROM af a JOIN e ON e.vec_id = a.vec_id),
       |${kmeansChainAt(kNewSql, "rz")},
       |ev0 AS MATERIALIZED (SELECT vec_id AS eval_id, v AS evv,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS evn
       |  FROM e WHERE vec_id % 97 = 0),
       |tr0 AS MATERIALIZED (SELECT vec_id AS train_id, v AS trv,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS trn
       |  FROM e WHERE NOT (vec_id % 97 = 0)),
       |tru AS MATERIALIZED (SELECT train_id, eval_id FROM (
       |  SELECT t.train_id, e.eval_id,
       |    floor((list_sum(list_transform(range(1, 65),
       |      i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn)) * 10000)
       |      / 10000 AS sim
       |  FROM tr0 t CROSS JOIN ev0 e) WHERE sim >= 0.25),
       |nt AS (SELECT COUNT(*) AS n_truth FROM tru),
       |${coveragePolicyCtes("stv", "st", kStaleSql, Seq(0.25))},
       |${coveragePolicyCtes("rzaf", "rz", kNewSql, Seq(0.25))},
       |strow AS (${coveragePolicyRows("st", "stale_frozen",
         s"CAST($kStaleSql AS INTEGER)")}),
       |rzrow AS (${coveragePolicyRows("rz", "resized_retrain",
         s"CAST($kNewSql AS INTEGER)")})
       |SELECT
       |  (SELECT COUNT(*) FROM e WHERE NOT (vec_id % 5 = 0))
       |    AS n_standing,
       |  (SELECT COUNT(*) FROM e WHERE vec_id % 5 = 0) AS n_delta,
       |  st.k AS k_stale, rz.k AS k_resized,
       |  st.probes AS probes_stale, rz.probes AS probes_resized,
       |  st.n_truth AS n_truth,
       |  st.recall AS recall_stale, rz.recall AS recall_resized,
       |  $gainSql AS gain,
       |  (rz.k > st.k AND $gainSql >= 0.02) AS retrain
       |FROM strow st CROSS JOIN rzrow rz""".stripMargin
  }

  /** The q321 retrain-EXECUTE replay: the q314 decision statement
    * (verbatim, as a subquery — subqueries scope their CTEs) derives
    * the flag; the KEEP branch is q299's serving string verbatim
    * (Reg6MonitorAnn.annServeOracleSql — the standing head's
    * contract); the RETRAIN branch retrains the FULL-corpus chain at
    * ⌈√n⌉ from scratch (kmeansChainAt — the q304 "scaled" parity
    * chain) with whole-corpus PQ codebooks and serves the q299 shape
    * from it. The final SELECT picks the branch by the derived flag —
    * both the decision and the serving it triggers are one gated
    * contract. */
  private def retrainExecuteOracleSql: String = {
    val kNewSql =
      "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)"
    val rtProbes = "GREATEST(2, CAST(ceil(CAST((SELECT COUNT(*) " +
      "FROM rtc2) AS DOUBLE) * 0.25) AS INTEGER))"
    s"""WITH dec AS MATERIALIZED (SELECT retrain FROM (
       |$retrainDecisionOracleSql)),
       |st AS (SELECT q_id, c_id, rk FROM (
       |${Reg6MonitorAnn.annServeOracleSql})),
       |rt AS (SELECT q_id, c_id, rk FROM (
       |WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${kmeansChainAt(kNewSql, "rt")},
       |${pqChainsSql(4, 8, 16, 2)},
       |${hybridDenseAdcCteOver("rtaf", 5, rtProbes)}
       |SELECT q_id, c_id, rk_emb AS rk FROM dena))
       |SELECT 'retrained' AS branch, CAST(1 AS BIGINT) AS epoch,
       |  q_id, c_id, rk
       |FROM rt WHERE (SELECT retrain FROM dec)
       |UNION ALL
       |SELECT 'stale' AS branch, CAST(0 AS BIGINT) AS epoch,
       |  q_id, c_id, rk
       |FROM st WHERE NOT (SELECT retrain FROM dec)
       |ORDER BY q_id, rk""".stripMargin
  }

  /** The q331 epoch-takedown replay: q314's decision statement
    * derives the flag; the KEEP branch is the md chain's tombstoned
    * head serve verbatim (Reg6MonitorAnn.annDeleteOracleSql — the
    * takedown on the standing epoch IS the delete segment, q316's
    * string); the RETRAIN branch retrains the full-corpus chain at
    * ⌈√n⌉ and serves the q299 shape from its SURVIVORS — victims out
    * as queries and candidates, probe geometry the survivors' member
    * means. The final SELECT picks the branch by the derived flag, so
    * WHERE the takedown landed (rotated epoch vs standing chain) is
    * itself the gated contract. */
  private def epochTakedownOracleSql: String = {
    val kNewSql =
      "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)"
    val rtProbes = "GREATEST(2, CAST(ceil(CAST((SELECT COUNT(*) " +
      "FROM rtc2) AS DOUBLE) * 0.25) AS INTEGER))"
    s"""WITH dec AS MATERIALIZED (SELECT retrain FROM (
       |$retrainDecisionOracleSql)),
       |st AS (SELECT q_id, c_id, rk FROM (
       |${Reg6MonitorAnn.annDeleteOracleSql})),
       |rt AS (SELECT q_id, c_id, rk FROM (
       |WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${kmeansChainAt(kNewSql, "rt")},
       |${pqChainsSql(4, 8, 16, 2)},
       |rtafv AS MATERIALIZED (SELECT vec_id, v, cell FROM rtaf
       |  WHERE NOT (vec_id % 7 = 3)),
       |${hybridDenseAdcCteOver("rtafv", 5, rtProbes)}
       |SELECT q_id, c_id, rk_emb AS rk FROM dena))
       |SELECT 'retrained' AS branch, CAST(1 AS BIGINT) AS epoch,
       |  q_id, c_id, rk
       |FROM rt WHERE (SELECT retrain FROM dec)
       |UNION ALL
       |SELECT 'stale' AS branch, CAST(0 AS BIGINT) AS epoch,
       |  q_id, c_id, rk
       |FROM st WHERE NOT (SELECT retrain FROM dec)
       |ORDER BY q_id, rk""".stripMargin
  }

  def oracles: ListMap[String, String] = ListMap(


      "q100_date_buckets" ->
        s"""SELECT ${epochSql("date_trunc('month', o_orderdate)")}
           |   AS month_start,
           | CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
           | COUNT(*) AS n, ${dsumS("o_totalprice")} AS total
           |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


      "q101_snapshot_diff" -> {
        val cents = (p: String) =>
          s"CAST(CAST(CAST($p AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)"
        s"""WITH oldsnap AS (SELECT o_orderkey AS k,
           |    md5(o_orderstatus || '|' || ${cents("o_totalprice")}) AS fo
           |  FROM orders WHERE o_orderkey % 11 <> 0),
           |newsnap AS (SELECT o_orderkey AS k,
           |    md5(o_orderstatus || '|' || ${cents(
              "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 " +
                "ELSE o_totalprice END")}) AS fn
           |  FROM orders WHERE o_orderkey % 13 <> 0),
           |j AS (SELECT fo, fn FROM oldsnap FULL OUTER JOIN newsnap
           |      ON oldsnap.k = newsnap.k)
           |SELECT CASE WHEN fo IS NULL THEN 'added'
           |            WHEN fn IS NULL THEN 'deleted'
           |            WHEN fo <> fn THEN 'changed'
           |            ELSE 'unchanged' END AS status, COUNT(*) AS n
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
      },


      // bound to the SAME string as q40: the Aggregator plan is
      // result-identical to the window plan by construction
      "q102_topk_agg" -> topkCosineSql,


      "q103_weighted_sample" ->
        s"""SELECT doc_id, lang, n_chars FROM (
           |  SELECT doc_id, lang, n_chars,
           |    floor((ln((${md5HexNSql("CAST(doc_id AS VARCHAR)", 12)} + 1)
           |      / 281474976710656.0) / n_chars) * 100000000) / 100000000
           |      AS sample_key
           |  FROM documents
           |  ORDER BY sample_key DESC, doc_id ASC LIMIT 100)
           |ORDER BY doc_id""".stripMargin,


      "q104_funnel" ->
        s"""WITH e AS (SELECT user_id, event_type, ${epochSql("ts")} AS es
           |           FROM events),
           |s AS (SELECT user_id, MIN(es) AS s_es FROM e
           |      WHERE event_type = 'signup' GROUP BY 1),
           |p AS (SELECT user_id, es FROM e WHERE event_type = 'purchase'),
           |j AS (SELECT s.user_id, s.s_es,
           |        MIN(CASE WHEN p.es >= s.s_es THEN p.es END) AS p_es
           |      FROM s LEFT JOIN p ON p.user_id = s.user_id
           |      GROUP BY 1, 2)
           |SELECT COUNT(*) AS n_start,
           | CAST(SUM(COALESCE(CAST(p_es - s_es <= 86400 AS BIGINT), 0))
           |   AS BIGINT) AS n_converted,
           | floor((10000.0 * SUM(COALESCE(CAST(p_es - s_es <= 86400 AS BIGINT), 0)))
           |   / COUNT(*)) / 100 AS pct_converted
           |FROM j""".stripMargin,


      "q105_transitions" ->
        s"""WITH e AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             event_type FROM events),
           |l AS (SELECT event_type,
           |        lag(event_type) OVER (PARTITION BY user_id
           |          ORDER BY es, event_id) AS prev_type
           |      FROM e)
           |SELECT prev_type, event_type, COUNT(*) AS n FROM l
           |WHERE prev_type IS NOT NULL
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


      "q106_retention" ->
        s"""WITH w AS (SELECT user_id, ${epochSql("ts")} // 604800 AS week
           |           FROM events),
           |f AS (SELECT user_id, MIN(week) AS cohort_week FROM w
           |      GROUP BY 1),
           |o AS (SELECT DISTINCT w.user_id, f.cohort_week,
           |        w.week - f.cohort_week AS week_offset
           |      FROM w JOIN f ON f.user_id = w.user_id)
           |SELECT cohort_week, week_offset, COUNT(*) AS n_users
           |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


      "q107_embedding_dedup" ->
        """WITH a AS (SELECT label AS cell, vec_id AS id_a, embedding AS va FROM embeddings),
          |b AS (SELECT label AS cell, vec_id AS id_b, embedding AS vb FROM embeddings),
          |scored AS (
          |  SELECT id_a, id_b,
          |    floor((
          |      list_sum(list_transform(range(1, len(va)+1), i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
          |      / (sqrt(list_sum(list_transform(range(1, len(va)+1), i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
          |       * sqrt(list_sum(list_transform(range(1, len(vb)+1), i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
          |  FROM a JOIN b USING (cell) WHERE id_a < id_b),
          |losers AS (SELECT DISTINCT id_b FROM scored WHERE sim >= 0.2)
          |SELECT label, COUNT(*) AS n_kept FROM embeddings
          |WHERE vec_id NOT IN (SELECT id_b FROM losers)
          |GROUP BY label ORDER BY label""".stripMargin,


      // exact twin of q90: quantile_cont == Spark percentile (both linear
      // interpolation); floor-at-2dp stabilizes the interpolated double
      // (same recipe as q29)
      "q108_exact_profile" ->
        """SELECT event_type,
          | COUNT(DISTINCT user_id) AS n_users,
          | floor(quantile_cont(value, 0.5) * 100) / 100 AS p50_value,
          | COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


      "q109_quality_flags" ->
        s"""WITH base AS (SELECT doc_id, text, $toks AS t FROM documents),
           |rowstats AS (SELECT doc_id,
           |  len(t) AS n_tokens,
           |  floor(CAST(COALESCE(list_sum(list_transform(t, w -> strlen(w))), 0) AS DOUBLE)
           |    / greatest(len(t), 1) * 10000) / 10000 AS mean_word_len,
           |  floor(CAST((strlen(text) - strlen(replace(text, '#', '')))
           |      + (strlen(text) - strlen(replace(text, '...', ''))) // 3 AS DOUBLE)
           |    / greatest(len(t), 1) * 10000) / 10000 AS symbol_ratio
           |  FROM base),
           |bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM (
           |  SELECT doc_id, UNNEST(${shinglesSql("t", 2)}) AS bg
           |  FROM base) GROUP BY doc_id, bg),
           |rep AS (SELECT doc_id,
           |  floor(CAST(MAX(c) AS DOUBLE) / SUM(c) * 10000) / 10000 AS top_bigram_frac
           |  FROM bgc GROUP BY doc_id)
           |SELECT r.doc_id, r.n_tokens, r.mean_word_len, r.symbol_ratio,
           |  COALESCE(p.top_bigram_frac, 0.0) AS top_bigram_frac,
           |  (r.n_tokens >= 10 AND r.mean_word_len >= 3.0
           |   AND r.mean_word_len <= 10.0 AND r.symbol_ratio <= 0.1
           |   AND COALESCE(p.top_bigram_frac, 0.0) <= 0.2) AS keep
           |FROM rowstats r LEFT JOIN rep p USING (doc_id)
           |ORDER BY doc_id""".stripMargin,


      "q110_domain_quota" ->
        """WITH d AS (SELECT doc_id,
          |  regexp_extract('https://' || source || '.example.com/doc/'
          |      || CAST(doc_id AS VARCHAR),
          |    '^https?://([^/]+)/', 1) AS domain
          |  FROM documents),
          |counts AS (SELECT domain, COUNT(*) AS n_domain FROM d GROUP BY 1),
          |s AS (SELECT doc_id, domain,
          |  row_number() OVER (PARTITION BY domain
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
          |  FROM d)
          |SELECT doc_id, domain, n_domain FROM s JOIN counts USING (domain)
          |WHERE rn <= 50 ORDER BY doc_id""".stripMargin,


      "q111_lsh_verified_pairs" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents),
           |sh AS (SELECT id, ${shinglesSql("t")} AS shs
           |       FROM (SELECT id, $cleanToks AS t FROM cleaned)),
           |sig AS (SELECT id,
           |  list_transform(range(0, 8), s ->
           |    COALESCE(list_min(list_transform(shs, x -> md5(CAST(s AS VARCHAR) || ':' || x))), '~empty')) AS sig
           |  FROM sh WHERE len(shs) > 0),
           |banded AS (
           |  SELECT id, sig, CAST(b.i AS INTEGER) AS band,
           |         md5(sig[CAST(b.i*2+1 AS INTEGER)] || '|' || sig[CAST(b.i*2+2 AS INTEGER)]) AS bkey
           |  FROM sig CROSS JOIN range(0, 4) AS b(i)),
           |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
           |  WHERE a.id < b.id),
           |dsh AS (SELECT id, list_distinct(shs) AS shs FROM sh
           |        WHERE len(shs) > 0),
           |scored AS (SELECT id_a, id_b,
           |  len(list_filter(x.shs, e -> list_contains(y.shs, e))) AS c,
           |  len(x.shs) AS na, len(y.shs) AS nb
           |  FROM cands JOIN dsh x ON x.id = cands.id_a
           |             JOIN dsh y ON y.id = cands.id_b)
           |SELECT id_a, id_b,
           |  floor(CAST(c AS DOUBLE) / (na + nb - c) * 10000) / 10000 AS jaccard
           |FROM scored
           |WHERE floor(CAST(c AS DOUBLE) / (na + nb - c) * 10000) / 10000 >= 0.2
           |ORDER BY id_a, id_b""".stripMargin,


      // the JDBC trip is lossless for INT/VARCHAR, so the oracle is the
      // same aggregate straight over the parquet table
      "q112_jdbc_roundtrip" ->
        """SELECT n_regionkey, COUNT(*) AS n,
          | CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
          |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,


      "q113_sequence_packing" ->
        s"""WITH t AS (SELECT doc_id,
           |  CAST(len($toks) AS BIGINT) AS n_tokens,
           |  CAST(${md5Hex4Sql("CAST(doc_id AS VARCHAR)")} % 32 AS INTEGER) AS shard
           |  FROM documents),
           |o AS (SELECT doc_id, n_tokens, shard,
           |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
           |    ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS BIGINT) AS start_offset
           |  FROM t)
           |SELECT doc_id, n_tokens, shard, start_offset,
           |  CAST(start_offset // 4096 AS BIGINT) AS pack_id
           |FROM o ORDER BY doc_id""".stripMargin,


      "q114_decontamination" -> decontSql,


      "q115_pii_redact" ->
        """WITH r AS (SELECT doc_id,
          |  text || ' contact user' || CAST(doc_id AS VARCHAR)
          |       || '@example.com or +1-555-0100' AS raw
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |     + len(regexp_extract_all(raw, '\+?\d[\d-]{7,}\d')) AS INTEGER) AS n_pii,
          |  md5(regexp_replace(
          |        regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |        '\+?\d[\d-]{7,}\d', '<PHONE>', 'g')) AS redacted_md5
          |FROM r ORDER BY doc_id""".stripMargin,


      "q116_incremental_agg" ->
        s"""SELECT event_type, COUNT(*) AS n,
           |  ${dsumS("value")} AS sum_value,
           |  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
           |  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


      "q117_mixture_sample" ->
        s"""SELECT doc_id, source, lang FROM documents
           |WHERE ${md5HexNSql("CAST(doc_id AS VARCHAR)", 8)} / 4294967296.0 <
           |  CASE (CAST(substring(source, 4) AS INT) % 3)
           |    WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 ELSE 0.25 END
           |ORDER BY doc_id""".stripMargin,


      "q118_vocab_oov" ->
        s"""WITH toks AS (SELECT id AS doc_id, UNNEST($cleanToks) AS term
           |              FROM (SELECT doc_id AS id, $clean AS c FROM documents)),
           |vocab AS (SELECT term FROM (
           |  SELECT term, COUNT(*) AS n FROM toks GROUP BY term
           |  ORDER BY n DESC, term ASC LIMIT 10)),
           |j AS (SELECT t.doc_id, (v.term IS NOT NULL) AS iv
           |      FROM toks t LEFT JOIN vocab v ON t.term = v.term)
           |SELECT doc_id, COUNT(*) AS n_tokens,
           |  CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |  CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,


      "q119_dup_ngram_share" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents),
           |sh AS (SELECT id, UNNEST(list_distinct(${shinglesSql("t", 5)})) AS sh
           |       FROM (SELECT id, $cleanToks AS t FROM cleaned)),
           |dfq AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY sh)
           |SELECT id AS doc_id, COUNT(*) AS n_shingles,
           |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_share
           |FROM sh JOIN dfq USING (sh)
           |GROUP BY id ORDER BY doc_id""".stripMargin,


      "q120_median_rank" ->
        """WITH r AS (SELECT l_returnflag AS k, l_extendedprice AS x,
          |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
          |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          |  FROM lineitem)
          |SELECT k AS l_returnflag, floor(AVG(x) * 100) / 100 AS p50, MAX(n) AS n
          |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
          |GROUP BY k ORDER BY l_returnflag""".stripMargin,


      // exact-by-definition oracle: the brute all-pairs form — the engine
      // must produce the SAME pairs through prefix filtering
      "q121_prefix_filter_pairs" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents),
           |tok AS (SELECT id, $cleanToks AS t FROM cleaned),
           |sh AS (SELECT id, UNNEST(list_distinct(${shinglesSql("t")})) AS sh FROM tok),
           |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
           |common AS (
           |  SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS c
           |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  ${Num.floorAtSql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} AS jaccard
           |FROM common
           |JOIN sizes na ON na.id = id_a
           |JOIN sizes nb ON nb.id = id_b
           |WHERE ${Num.floorAtSql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,


      // the mergeability flag is TRUE by construction (HLL registers are
      // element-wise maxima; union is associative) — the oracle pins it
      // as a literal plus the exact distinct counts
      // the oracle cannot replay datasketches HLL; it checks the exact
      // count and the engine-side >3-sigma accuracy gate (see the
      // engine's contract note: merge == full is NOT an HLL guarantee)
      "q122_incremental_distinct" ->
        """SELECT event_type, TRUE AS merged_within_5pct,
          |  COUNT(DISTINCT user_id) AS n_users
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


      "q123_chunk_windows" ->
        s"""WITH toks AS (SELECT doc_id, $cleanToks AS t
           |              FROM (SELECT doc_id, $clean AS c FROM documents)),
           |b AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
           |idx AS (SELECT doc_id, t, UNNEST(range(0,
           |          CASE WHEN n <= 64 THEN 1
           |               ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx
           |        FROM b),
           |ch AS (SELECT doc_id, chunk_idx,
           |         t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS chunk
           |       FROM idx)
           |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           |  CAST(len(chunk) AS INT) AS n_chunk_tokens,
           |  md5(array_to_string(chunk, ' ')) AS chunk_md5
           |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,


      "q124_negative_sample" ->
        """WITH a AS (SELECT vec_id AS q_id, label AS q_label
          |           FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS neg_id, label AS neg_label FROM embeddings),
          |j AS (SELECT q_id, neg_id, neg_label,
          |        row_number() OVER (PARTITION BY q_id
          |          ORDER BY md5(CAST(q_id AS VARCHAR) || ':' ||
          |                       CAST(neg_id AS VARCHAR)) ASC,
          |                   neg_id ASC) AS rk
          |      FROM a JOIN c ON q_label <> neg_label)
          |SELECT q_id, rk, neg_id, neg_label FROM j
          |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,


      // replays BOTH Lloyd's iterations: assignment = 9dp-floored cosine
      // argmax (ties -> lowest cell), centroid mean = exact DECIMAL sum /
      // count cast through REAL — bit-identical to the engine's
      // decimal-stable kmeansCells at every step, then the within-cell
      // min-id cosine dedup on the final assignment
      "q125_semdedup" ->
        s"""WITH $kmeansAfCte,
           |n AS (SELECT vec_id, v, cell,
           |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nr FROM af),
           |pairs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE floor(list_sum(list_transform(range(1, 65),
           |      i -> a.v[i] * b.v[i])) / (a.nr * b.nr) * 10000) / 10000
           |    >= 0.2),
           |losers AS (SELECT DISTINCT id_b FROM pairs)
           |SELECT CAST(af.cell AS INT) AS cell, COUNT(*) AS n_total,
           |  COUNT(*) - COUNT(l.id_b) AS n_kept,
           |  COUNT(l.id_b) AS n_dropped
           |FROM af LEFT JOIN losers l ON af.vec_id = l.id_b
           |GROUP BY af.cell ORDER BY cell""".stripMargin,


      // q123's chunk fragment at 16/16 (non-overlapping), then keep-first
      // on the segment hash and the per-doc survival rollup
      "q126_segment_dedup" ->
        s"""WITH toks AS (SELECT doc_id, $cleanToks AS t
           |              FROM (SELECT doc_id, $clean AS c FROM documents)),
           |b AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
           |idx AS (SELECT doc_id, t, UNNEST(range(0,
           |          CASE WHEN n <= 16 THEN 1
           |               ELSE (n - 16 + 15) // 16 + 1 END)) AS chunk_idx
           |        FROM b),
           |seg AS (SELECT doc_id, chunk_idx,
           |          md5(array_to_string(
           |            t[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' '))
           |            AS chunk_md5
           |        FROM idx),
           |rn AS (SELECT doc_id, chunk_idx,
           |         row_number() OVER (PARTITION BY chunk_md5
           |           ORDER BY doc_id ASC, chunk_idx ASC) AS rn
           |       FROM seg)
           |SELECT doc_id, COUNT(*) AS n_segments,
           |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS kept_share
           |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,


      "q127_unigram_logprob" ->
        s"""WITH toks AS (SELECT doc_id, UNNEST($cleanToks) AS term
           |              FROM (SELECT doc_id, $clean AS c FROM documents)),
           |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM toks),
           |tf AS (SELECT doc_id, term,
           |         COUNT(*) OVER (PARTITION BY term) AS tf
           |       FROM toks)
           |SELECT doc_id, COUNT(*) AS n_tokens,
           |  floor(AVG(log2(tf / tot.n_total)) * 1000000) / 1000000
           |    AS mean_log2p
           |FROM tf CROSS JOIN tot
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,


      // q111's LSH-then-verify pair CTEs verbatim, then reachability via a
      // recursive CTE: component = min id reachable (exact CC — the
      // fixpoint the engine's label-propagation loop converges to).
      // q130 runs the alternating large-star/small-star algorithm over
      // the SAME pair graph — binding both to ONE oracle string makes
      // divergence between the two CC engines impossible to miss.
      "q128_cc_converged" -> ccOracleSql,


      "q130_cc_bigstar" -> ccOracleSql,


      // the salt is engine-internal, so the oracle is the PLAIN join —
      // result-identity with the unsalted plan is the correctness claim
      "q129_skew_salted_join" ->
        s"""SELECT o_orderpriority,
           |  ${dsumS("l_extendedprice")} AS revenue, COUNT(*) AS n
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


      // the Bloom probe is a pre-filter whose false positives the exact
      // semi join removes — the oracle is the plain IN-subquery
      // (l_quantity is integral-valued double, so SUM is exact and
      // order-insensitive in both engines)
      "q131_bloom_prune" ->
        """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
          |FROM lineitem
          |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
          |                     WHERE o_orderpriority = '1-URGENT')
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


      // bit-for-bit replay of the Morton interleave (a's bit i at 2i,
      // b's at 2i+1); day base 7305 = 1990-01-01
      "q132_zorder_key" -> {
        def zSql(a: String, b: String, bits: Int): String =
          (0 until bits).map(i =>
            s"((($a) & ${1L << i}) << $i) | ((($b) & ${1L << i}) << ${i + 1})")
            .mkString("(", " | ", ")")
        val day = s"(${epochSql("o_orderdate")} // 86400 - 7305)"
        s"""SELECT o_orderkey,
           |  CAST(${zSql("o_custkey", day, 16)} AS BIGINT) AS zval
           |FROM orders ORDER BY o_orderkey""".stripMargin
      },


      // shard = first-8-nibble md5 fraction bucketed into 32 fixed
      // ranges (Curate.md5Frac replayed nibble-for-nibble); pos = rank
      // within shard by the full md5 hex key
      "q133_det_shuffle" ->
        s"""WITH t AS (SELECT doc_id,
           |    md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           |    CAST(FLOOR(${md5HexNSql("CAST(doc_id AS VARCHAR)", 8)}
           |      / 4294967296.0 * 32) AS INTEGER) AS shard
           |  FROM documents)
           |SELECT doc_id, shuffle_key, shard,
           |  CAST(row_number() OVER (PARTITION BY shard
           |    ORDER BY shuffle_key, doc_id) - 1 AS INTEGER) AS pos
           |FROM t ORDER BY shard, pos""".stripMargin,


      // weight lookup replayed as the same array-literal index; DECIMAL
      // sum (order-independent) then floor-at-6dp sigmoid
      "q134_quality_score" ->
        s"""WITH cleaned AS (SELECT doc_id, $clean AS c FROM documents),
           |tok AS (SELECT doc_id, $cleanToks AS t FROM cleaned),
           |g AS (SELECT doc_id,
           |    UNNEST(list_concat(t, ${shinglesSql("t", 2)})) AS g FROM tok),
           |wt AS (SELECT doc_id,
           |    CAST((${Curate.QualityWeights.mkString("[", ", ", "]")})[
           |      CAST(${md5HexNSql("g", 8)} % ${Curate.QualityBuckets}
           |        AS INTEGER) + 1] AS DECIMAL(18,6)) AS wt
           |  FROM g)
           |SELECT doc_id, COUNT(*) AS n_grams,
           |  ${Num.floorAtSql(
               s"1.0 / (1.0 + exp(-((${Curate.QualityBias}) " +
                 "+ CAST(SUM(wt) AS DOUBLE) / COUNT(*))))", 6)}
           |    AS quality_score
           |FROM wt GROUP BY doc_id ORDER BY doc_id""".stripMargin,


      // the q78 sig CTE's minhash replay, keyed as md5 of the
      // NUL-joined signature — the same key function as the streaming
      // near-dup filter's state key, so batch and streaming sig_keys
      // are interchangeable; short docs keep the all-sentinel signature
      "q135_dedup_admission" ->
        s"""WITH ${minhashSigCte(8)},
           |basek AS (SELECT DISTINCT sig_key FROM sig WHERE doc_id % 5 <> 0),
           |cand AS (SELECT doc_id, sig_key FROM sig
           |  WHERE doc_id % 5 = 0
           |    AND sig_key NOT IN (SELECT sig_key FROM basek)),
           |ranked AS (SELECT doc_id, sig_key,
           |    row_number() OVER (PARTITION BY sig_key ORDER BY doc_id)
           |      AS rn
           |  FROM cand)
           |SELECT doc_id, sig_key FROM ranked WHERE rn = 1
           |ORDER BY doc_id""".stripMargin,


      // exact cell replay: the counter matrix, the probes, and the min
      // are all reconstructed from the same md5-salted bucket function
      // the engine uses; merged==full is arithmetic identity (cell sums
      // commute), so the oracle pins it as the literal TRUE
      "q136_cms_heavy_hitters" -> {
        def bucket(j: Int) =
          s"(${md5HexNSql(s"'$j:' || CAST(user_id AS VARCHAR)", 8)} % $CmsW)"
        val cells = (0 until CmsD)
          .map(j => s"SELECT $j AS r, ${bucket(j)} AS b FROM events")
          .mkString("\n  UNION ALL ")
        val probeCells = (0 until CmsD)
          .map(j => s"SELECT user_id, $j AS r, ${bucket(j)} AS b FROM hh")
          .mkString("\n  UNION ALL ")
        s"""WITH hh AS (SELECT user_id, count(*) AS exact_cnt
           |  FROM events GROUP BY 1 HAVING count(*) >= 80),
           |cells AS ($cells),
           |counters AS (SELECT r, b, count(*) AS cnt FROM cells
           |  GROUP BY 1, 2),
           |pc AS ($probeCells),
           |est AS (SELECT user_id, min(COALESCE(cnt, CAST(0 AS BIGINT)))
           |    AS cms_est
           |  FROM pc LEFT JOIN counters USING (r, b) GROUP BY 1)
           |SELECT hh.user_id, exact_cnt, cms_est,
           |  cms_est >= exact_cnt AS never_under,
           |  TRUE AS merge_equals_full
           |FROM hh JOIN est USING (user_id)
           |ORDER BY user_id""".stripMargin
      },


      // the engine's MG candidate phase is a provable superset of this
      // threshold set (Misra & Gries 1982), and its recount phase is
      // exact — so the two-pass result IS the plain filtered groupBy
      "q250_mg_heavy_hitters" ->
        s"""WITH n AS (SELECT COUNT(*) AS n_total FROM events),
           |c AS (SELECT event_type, COUNT(*) AS exact_cnt
           |  FROM events GROUP BY 1)
           |SELECT event_type, exact_cnt, n_total,
           |  ${Num.floorAtSql("CAST(exact_cnt AS DOUBLE) / n_total", 6)}
           |    AS share
           |FROM c CROSS JOIN n
           |WHERE exact_cnt * 5 > n_total
           |ORDER BY event_type""".stripMargin,

      // A-Res priorities replayed nibble-for-nibble (the q103 ln
      // convention): u = 48-bit md5 uniform, priority =
      // floor8(ln(u)/wt), per-source row_number with the id tie-break
      "q269_weighted_sample" ->
        s"""WITH pri AS (
           |  SELECT source, doc_id, n_chars + 1 AS wt,
           |    ${Num.floorAtSql(
             s"ln((${md5HexNSql("CAST(doc_id AS VARCHAR)", 12)} + 1)" +
               " / 281474976710656.0)" +
               " / CAST(n_chars + 1 AS DOUBLE)", 8)} AS priority
           |  FROM documents WHERE n_chars + 1 > 0),
           |r AS (
           |  SELECT source, doc_id, wt, priority,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY priority DESC, doc_id ASC) AS INTEGER) AS rk
           |  FROM pri)
           |SELECT source, doc_id, wt, priority, rk
           |FROM r WHERE rk <= 10
           |ORDER BY source, rk""".stripMargin,

      // the CDC chain replayed in 64-bit integers: token value = first
      // 8 md5 hex digits, windowed hash tv[p]+64·tv[p-1]+64²·tv[p-2]+
      // 64³·tv[p-3], boundary ≡ 0 mod 16; DuckDB's range(a,b) is
      // empty for a >= b so the short-doc guard is implicit
      "q271_cdc_chunks" ->
        s"""WITH tok AS (SELECT doc_id, source, $cleanToks AS t
           |  FROM (SELECT doc_id, source, $clean AS c FROM documents)),
           |tl AS (SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n,
           |    list_transform(t, x -> ${md5HexNSql("x", 8)}) AS tv
           |  FROM tok WHERE len(t) > 0),
           |bnd AS (SELECT doc_id, source, t, n,
           |    list_filter(range(4, n + 1), p ->
           |      (tv[p] + tv[p-1] * 64 + tv[p-2] * 4096 +
           |       tv[p-3] * 262144) % 16 = 0) AS b
           |  FROM tl),
           |edg AS (SELECT doc_id, source, t,
           |    [CAST(0 AS BIGINT)] || b ||
           |      (CASE WHEN len(b) > 0 AND b[-1] = n
           |            THEN [] ELSE [n] END) AS edges
           |  FROM bnd),
           |ch AS (SELECT doc_id, source,
           |    UNNEST(list_transform(range(2, len(edges) + 1),
           |      i -> struct_pack(
           |        chunk_md5 := md5(array_to_string(
           |          list_slice(t, edges[i-1] + 1, edges[i]), ' ')),
           |        clen := edges[i] - edges[i-1]))) AS c
           |  FROM edg),
           |chf AS (SELECT doc_id, source, c.chunk_md5 AS chunk_md5,
           |    c.clen AS clen FROM ch),
           |ph AS (SELECT source, chunk_md5, COUNT(*) AS cnt,
           |    CAST(SUM(clen) AS BIGINT) AS len_sum
           |  FROM chf GROUP BY source, chunk_md5),
           |agg AS (SELECT source,
           |    CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           |    COUNT(*) AS n_distinct_chunks,
           |    CAST(SUM(len_sum) AS BIGINT) AS tok_total
           |  FROM ph GROUP BY source),
           |nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
           |  FROM tl GROUP BY source)
           |SELECT a.source, n_docs, n_chunks, n_distinct_chunks,
           |  ${Num.floorAtSql(
             "CAST(n_chunks - n_distinct_chunks AS DOUBLE) / n_chunks",
             6)} AS dup_share,
           |  ${Num.floorAtSql(
             "CAST(tok_total AS DOUBLE) / n_chunks", 4)}
           |    AS mean_chunk_tokens
           |FROM agg a JOIN nd USING (source)
           |ORDER BY source""".stripMargin,

      // the q218 largest-remainder chain (target 200) composed with
      // the q269 A-Res priority chain — one budget, per-source quotas,
      // weight-proportional slices
      "q274_budgeted_sample" ->
        s"""WITH c AS (SELECT source, COUNT(*) AS n_docs,
           |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000)
           |      AS BIGINT) AS weight
           |  FROM documents GROUP BY 1),
           |t AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM c),
           |b AS (SELECT source, weight,
           |    (200 * weight) // wsum AS base,
           |    (200 * weight) % wsum AS rem
           |  FROM c CROSS JOIN t),
           |lo AS (SELECT CAST(200 - SUM(base) AS BIGINT) AS r FROM b),
           |ra AS (SELECT *, row_number() OVER
           |    (ORDER BY rem DESC, source) AS ark FROM b),
           |al AS (SELECT source,
           |    CAST(base + CASE WHEN ark <= r THEN 1 ELSE 0 END
           |      AS BIGINT) AS alloc
           |  FROM ra CROSS JOIN lo),
           |pri AS (
           |  SELECT source, doc_id, n_chars + 1 AS wt,
           |    ${Num.floorAtSql(
             s"ln((${md5HexNSql("CAST(doc_id AS VARCHAR)", 12)} + 1)" +
               " / 281474976710656.0)" +
               " / CAST(n_chars + 1 AS DOUBLE)", 8)} AS priority
           |  FROM documents WHERE n_chars + 1 > 0),
           |r AS (
           |  SELECT source, doc_id, wt, priority,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY priority DESC, doc_id ASC) AS INTEGER) AS rk
           |  FROM pri)
           |SELECT r.source, doc_id, wt, rk, alloc
           |FROM r JOIN al ON al.source = r.source
           |WHERE rk <= alloc
           |ORDER BY r.source, rk""".stripMargin,

      // one oracle, THREE engines: the Bloom-prefiltered plan and the
      // self-routing dispatcher must land bit-identically on q114's
      // exact-join result
      "q276_bloom_decontaminate" -> decontSql,
      "q286_decontaminate_auto" -> decontSql,

      // the qualityProbe GD replay: BIGINT-exact Gram cells, then the
      // 8 descent steps unrolled as s{t}/w{t} stages with the engine's
      // exact FP sequencing (matvec left-to-right ascending k via
      // list_transform+list_sum, update ascending j via ordered list).
      // Every multiply-referenced stage MATERIALIZED (the bpeChainSql
      // lesson); eta/b/n ride CROSS JOINs, not lambda subqueries.
      "q277_quality_probe" -> {
        val dim = 33
        s"""WITH $qualityGdCte,
           |s9 AS MATERIALIZED (
           |  SELECT g.i AS i, list_sum(list_transform(range(1, ${dim + 1}),
           |    k -> g.cl[k] * p.vv[k])) AS s
           |  FROM gm g CROSS JOIN w8 p),
           |wgw AS (SELECT list_sum(list(p.vv[s.i + 1] * s.s ORDER BY s.i))
           |    AS a
           |  FROM s9 s CROSS JOIN w8 p),
           |wb AS (SELECT list_sum(list_transform(range(1, ${dim + 1}),
           |    i -> p.vv[i] * b.bb[i])) AS bd
           |  FROM w8 p CROSS JOIN bl b),
           |ms AS (SELECT (wgw.a - 2.0 * wb.bd + b.bb[$dim]) / nn.n AS mse
           |  FROM wgw CROSS JOIN wb CROSS JOIN bl b CROSS JOIN nn)
           |SELECT CAST(i.i AS INTEGER) AS bucket,
           |  ${Num.floorAtSql(s"(SELECT vv FROM w8)[i.i + 1]", 9)}
           |    AS weight,
           |  ${Num.floorAtSql("(SELECT mse FROM ms)", 9)} AS mse
           |FROM range(0, $dim) i(i) ORDER BY bucket""".stripMargin
      },

      // ExactSubstr coverage: positioned 8-grams (the same parts-join
      // form as shinglesSql so gram strings match the engine's native
      // ShinglesExpr), occurrence counts, then per-doc interval union
      // of the repeated-gram windows via lag
      "q278_repeated_substring" -> {
        val L = 8
        val parts = (0 until L).map(k => s"t[p + ${k + 1}]")
          .mkString(" || ' ' || ")
        s"""WITH tk AS (
           |  SELECT id, t, len(t) AS n_toks
           |  FROM (SELECT doc_id AS id, $cleanToks AS t
           |        FROM (SELECT doc_id, $clean AS c FROM documents))),
           |pos AS (
           |  SELECT id, UNNEST(range(0, n_toks - ${L - 1})) AS p, t
           |  FROM tk WHERE n_toks >= $L),
           |pg AS (SELECT id, p, $parts AS g FROM pos),
           |rep AS (SELECT g FROM pg GROUP BY g HAVING COUNT(*) >= 2),
           |rp AS (
           |  SELECT id, p, lag(p) OVER (PARTITION BY id ORDER BY p)
           |    AS prev
           |  FROM pg JOIN rep USING (g)),
           |cv AS (
           |  SELECT id, CAST(SUM(CASE WHEN prev IS NULL THEN $L
           |    ELSE least($L, p - prev) END) AS BIGINT) AS covered
           |  FROM rp GROUP BY id)
           |SELECT tk.id AS doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           |  COALESCE(covered, 0) AS covered,
           |  CASE WHEN n_toks = 0 THEN 0.0 ELSE ${Num.floorAtSql(
             "CAST(COALESCE(covered, 0) AS DOUBLE) / n_toks", 6)} END
           |    AS share
           |FROM tk LEFT JOIN cv ON cv.id = tk.id
           |ORDER BY doc_id""".stripMargin
      },

      // q277's trainer chain verbatim, then integer micro-weights and
      // the exact BIGINT per-doc dot product + per-source gate
      "q281_quality_gate" ->
        s"""WITH $qualityGdCte,
           |we AS (SELECT list_transform(range(1, 34),
           |  i -> CAST(floor(vv[i] * 1000000000) AS BIGINT)) AS wl
           |  FROM w8),
           |sc AS (SELECT tc.id,
           |    CAST(SUM(tc.c * w.wl[tc.b + 1]) AS BIGINT) AS ts
           |  FROM tc CROSS JOIN we w GROUP BY tc.id),
           |pd AS (SELECT b.id, b.source,
           |    COALESCE(sc.ts, 0) + w.wl[33] AS score_e9
           |  FROM base b LEFT JOIN sc ON sc.id = b.id CROSS JOIN we w)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(score_e9) AS BIGINT) AS sum_score_e9,
           |  CAST(SUM(CASE WHEN score_e9 >= 500000000 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept
           |FROM pd GROUP BY source ORDER BY source""".stripMargin,

      // same sqrt-composed damping, integer weights, integer shares
      "q284_mixture_temperature" ->
        s"""WITH c AS (SELECT source, COUNT(*) AS n_docs
           |  FROM documents GROUP BY 1),
           |w AS (SELECT source, n_docs,
           |    CAST(n_docs * 1000 AS BIGINT) AS w1,
           |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000)
           |      AS BIGINT) AS w2,
           |    CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000)
           |      AS BIGINT) AS w4
           |  FROM c),
           |t AS (SELECT CAST(SUM(w1) AS BIGINT) AS t1,
           |    CAST(SUM(w2) AS BIGINT) AS t2,
           |    CAST(SUM(w4) AS BIGINT) AS t4 FROM w)
           |SELECT source, n_docs,
           |  (1000000 * w1) // t1 AS share_a100_e6,
           |  (1000000 * w2) // t2 AS share_a50_e6,
           |  (1000000 * w4) // t4 AS share_a25_e6
           |FROM w CROSS JOIN t ORDER BY source""".stripMargin,

      // the q114 shingle join keeping the eval id; deterministic
      // TakeOrdered cut by (count desc, ids)
      // the kmeans chain (both Lloyd iterations replayed exactly) +
      // the eval-side probe policy at probes = 2 (own cell ∪ the 2
      // nearest-centroid cells by floored-9dp cosine, deduped — the
      // exact monotone policy q290 measures) + probed-cell train x
      // eval cosine pairs, 4dp-floored, ranked cut — the engine reads
      // the stored AnnIndex postings + probe geometry, which the
      // restart-equivalence spec proves identical to this retrain
      "q289_semantic_decontaminate" ->
        s"""WITH $kmeansAfCte,
           |ev AS MATERIALIZED (SELECT cell AS owncell,
           |    vec_id AS eval_id, v AS evv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS evn
           |  FROM af WHERE vec_id % 97 = 0),
           |tr AS (SELECT cell, vec_id AS train_id, v AS trv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS trn
           |  FROM af WHERE NOT (vec_id % 97 = 0)),
           |cm AS (SELECT cell, d.pos AS pos,
           |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
           |      / COUNT(*) AS m
           |  FROM af CROSS JOIN range(1, 65) AS d(pos)
           |  GROUP BY cell, d.pos),
           |cent AS (SELECT cell,
           |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
           |  FROM cm GROUP BY cell),
           |centn AS (SELECT cell, ce,
           |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
           |  FROM cent),
           |centp AS (SELECT eval_id, cell FROM (
           |  SELECT e.eval_id, c.cell,
           |    row_number() OVER (PARTITION BY e.eval_id ORDER BY
           |      ${Num.floorAtSql(
             "list_sum(list_transform(range(1, 65)," +
               " i -> e.evv[i] * c.ce[i])) / (e.evn * c.cn)", 9)} DESC,
           |      c.cell ASC) AS pr
           |  FROM ev e CROSS JOIN centn c) WHERE pr <= 2),
           |ownp AS (SELECT eval_id, owncell AS cell FROM ev),
           |probe AS (SELECT DISTINCT eval_id, cell
           |  FROM (SELECT * FROM ownp UNION ALL SELECT * FROM centp)),
           |pr AS (SELECT t.train_id, p.eval_id,
           |    floor((list_sum(list_transform(range(1, 65),
           |        i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn))
           |      * 10000) / 10000 AS sim
           |  FROM tr t
           |  JOIN probe p ON p.cell = t.cell
           |  JOIN ev e ON e.eval_id = p.eval_id)
           |SELECT train_id, eval_id, sim FROM pr WHERE sim >= 0.25
           |ORDER BY sim DESC, train_id, eval_id LIMIT 100""".stripMargin,

      // q289's audit-pair replay over the SCALED chain, with the
      // probe budget DERIVED in SQL from the same ⌈√n⌉/quarter-
      // coverage arithmetic the engine's preflight computes — the
      // sizing policy itself is inside the oracle contract
      "q298_semantic_decon_scaled" -> {
        val kSql = "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)"
        val pSql = s"GREATEST(2, CAST(ceil(CAST($kSql AS DOUBLE)" +
          " * 0.25) AS INTEGER))"
        s"""WITH e AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |${kmeansChainAt(kSql, "sc")},
           |ev AS MATERIALIZED (SELECT cell AS owncell,
           |    vec_id AS eval_id, v AS evv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS evn
           |  FROM scaf WHERE vec_id % 97 = 0),
           |tr AS (SELECT cell, vec_id AS train_id, v AS trv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS trn
           |  FROM scaf WHERE NOT (vec_id % 97 = 0)),
           |cm AS (SELECT cell, d.pos AS pos,
           |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
           |      / COUNT(*) AS m
           |  FROM scaf CROSS JOIN range(1, 65) AS d(pos)
           |  GROUP BY cell, d.pos),
           |cent AS (SELECT cell,
           |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
           |  FROM cm GROUP BY cell),
           |centn AS (SELECT cell, ce,
           |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
           |  FROM cent),
           |centp AS (SELECT eval_id, cell FROM (
           |  SELECT e.eval_id, c.cell,
           |    row_number() OVER (PARTITION BY e.eval_id ORDER BY
           |      ${Num.floorAtSql(
             "list_sum(list_transform(range(1, 65)," +
               " i -> e.evv[i] * c.ce[i])) / (e.evn * c.cn)", 9)} DESC,
           |      c.cell ASC) AS pr
           |  FROM ev e CROSS JOIN centn c) WHERE pr <= $pSql),
           |ownp AS (SELECT eval_id, owncell AS cell FROM ev),
           |probe AS (SELECT DISTINCT eval_id, cell
           |  FROM (SELECT * FROM ownp UNION ALL SELECT * FROM centp)),
           |pr AS (SELECT t.train_id, p.eval_id,
           |    floor((list_sum(list_transform(range(1, 65),
           |        i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn))
           |      * 10000) / 10000 AS sim
           |  FROM tr t
           |  JOIN probe p ON p.cell = t.cell
           |  JOIN ev e ON e.eval_id = p.eval_id)
           |SELECT train_id, eval_id, sim FROM pr WHERE sim >= 0.25
           |ORDER BY sim DESC, train_id, eval_id LIMIT 100""".stripMargin
      },

      // the kmeans chain + the eval-side probe policy (own cell at
      // pmin=1, centroid rank r at pmin=max(r,2), min-wins) + per-p
      // hit counting against the brute all-pairs truth — the q254
      // sweep shape on the decontamination pair scan
      "q290_semantic_decon_recall" -> {
        val dotTE = "list_sum(list_transform(range(1, 65)," +
          " i -> t.trv[i] * e.evv[i]))"
        s"""WITH $kmeansAfCte,
           |ev AS MATERIALIZED (SELECT cell AS owncell,
           |    vec_id AS eval_id, v AS evv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS evn
           |  FROM af WHERE vec_id % 97 = 0),
           |tr AS MATERIALIZED (SELECT cell, vec_id AS train_id, v AS trv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS trn
           |  FROM af WHERE NOT (vec_id % 97 = 0)),
           |tru AS MATERIALIZED (SELECT train_id, eval_id FROM (
           |  SELECT t.train_id, e.eval_id,
           |    floor(($dotTE) / (t.trn * e.evn) * 10000) / 10000 AS sim
           |  FROM tr t CROSS JOIN ev e) WHERE sim >= 0.25),
           |cm AS (SELECT cell, d.pos AS pos,
           |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
           |      / COUNT(*) AS m
           |  FROM af CROSS JOIN range(1, 65) AS d(pos)
           |  GROUP BY cell, d.pos),
           |cent AS (SELECT cell,
           |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
           |  FROM cm GROUP BY cell),
           |centn AS (SELECT cell, ce,
           |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
           |  FROM cent),
           |centp AS (SELECT eval_id, cell, GREATEST(pr, 2) AS pmin
           |  FROM (
           |  SELECT e.eval_id, c.cell,
           |    row_number() OVER (PARTITION BY e.eval_id ORDER BY
           |      ${Num.floorAtSql(
             "list_sum(list_transform(range(1, 65)," +
               " i -> e.evv[i] * c.ce[i])) / (e.evn * c.cn)", 9)} DESC,
           |      c.cell ASC) AS pr
           |  FROM ev e CROSS JOIN centn c) WHERE pr <= 3),
           |ownp AS (SELECT eval_id, owncell AS cell, 1 AS pmin FROM ev),
           |probe AS (SELECT eval_id, cell, MIN(pmin) AS pmin
           |  FROM (SELECT * FROM ownp UNION ALL SELECT * FROM centp)
           |  GROUP BY eval_id, cell),
           |cand AS MATERIALIZED (SELECT t.train_id, p.eval_id, p.pmin
           |  FROM tr t
           |  JOIN probe p ON p.cell = t.cell
           |  JOIN ev e ON e.eval_id = p.eval_id
           |  WHERE floor(($dotTE) / (t.trn * e.evn) * 10000) / 10000
           |    >= 0.25),
           |nt AS (SELECT COUNT(*) AS n_truth FROM tru),
           |stats AS (SELECT pp.p, COUNT(*) AS n_approx,
           |    COUNT(b.train_id) AS n_hits
           |  FROM (VALUES (1), (2), (3)) pp(p)
           |  JOIN cand c ON c.pmin <= pp.p
           |  LEFT JOIN tru b
           |    ON b.train_id = c.train_id AND b.eval_id = c.eval_id
           |  GROUP BY pp.p)
           |SELECT CAST(pp.p AS INTEGER) AS probes, n_truth,
           |  COALESCE(n_approx, 0) AS n_approx,
           |  COALESCE(n_hits, 0) AS n_hits,
           |  CASE WHEN n_truth = 0 THEN 1.0
           |       ELSE ${Num.floorAtSql(
             "CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_truth", 4)}
           |  END AS recall
           |FROM (VALUES (1), (2), (3)) pp(p)
           |LEFT JOIN stats ON stats.p = pp.p
           |CROSS JOIN nt ORDER BY probes""".stripMargin
      },

      // TWO kmeans chains (k=8 and the ⌈√n⌉ scalar-subquery seed) +
      // the q290 probe-policy recall tail replayed per policy against
      // ONE shared brute truth (truth is quantizer-independent)
      "q295_scaled_k_recall" ->
        s"""WITH e AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |${kmeansChainAt("8", "fx")},
           |${kmeansChainAt(
             "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM e)",
             "sc")},
           |ev0 AS MATERIALIZED (SELECT vec_id AS eval_id, v AS evv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS evn
           |  FROM e WHERE vec_id % 97 = 0),
           |tr0 AS MATERIALIZED (SELECT vec_id AS train_id, v AS trv,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS trn
           |  FROM e WHERE NOT (vec_id % 97 = 0)),
           |tru AS MATERIALIZED (SELECT train_id, eval_id FROM (
           |  SELECT t.train_id, e.eval_id,
           |    floor((list_sum(list_transform(range(1, 65),
           |      i -> t.trv[i] * e.evv[i])) / (t.trn * e.evn)) * 10000)
           |      / 10000 AS sim
           |  FROM tr0 t CROSS JOIN ev0 e) WHERE sim >= 0.25),
           |nt AS (SELECT COUNT(*) AS n_truth FROM tru),
           |${scaledKPolicyCtes("fxaf", "fx", 2)},
           |${scaledKPolicyCtes("scaf", "sc", 2)}
           |SELECT * FROM (
           |${scaledKPolicyRows("fx", "fixed8",
             "CAST(8 AS INTEGER)", 2)}
           |UNION ALL
           |${scaledKPolicyRows("sc", "scaled_sqrt",
             "(SELECT CAST(ceil(sqrt(COUNT(*))) AS INTEGER) FROM e)",
             2)}
           |) ORDER BY policy, probes""".stripMargin,

      // the q295 two-chain replay with probe budgets DERIVED from
      // coverage fractions (p = max(1, ⌈k·f⌉), binary-exact for
      // dyadic f) instead of a static sweep — one recall row per
      // policy × fraction against the SAME shared brute truth
      "q296_coverage_matched_recall" -> coverageMatchedOracleSql,

      // the SAME string: the store-served arms read AnnIndex postings
      // whose quantizer is the identical deterministic training (one
      // contract, two engines — in-memory q296, physical-store q304)
      "q304_sized_store_recall" -> coverageMatchedOracleSql,

      // both quantizer chains (frozen-standing at ⌈√n₀⌉, full at
      // ⌈√n⌉), both coverage-matched recall arms, and the decision
      // arithmetic replayed — the retrain policy itself driver-gated
      "q314_ann_retrain_decision" -> retrainDecisionOracleSql,
      "q321_ann_retrain_execute" -> retrainExecuteOracleSql,

      // the epoch-takedown composition: decision replayed, then the
      // takedown's survivor serve on WHICHEVER epoch the flag picks
      "q331_epoch_takedown_serve" -> epochTakedownOracleSql,

      "q285_contamination_pairs" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, (doc_id % 97 = 0) AS ev,
           |                        $clean AS c FROM documents),
           |sh AS (SELECT id, ev, UNNEST(list_distinct(${shinglesSql("t")})) AS sh
           |       FROM (SELECT id, ev, $cleanToks AS t FROM cleaned)),
           |evalsh AS (SELECT DISTINCT id AS eval_id, sh FROM sh WHERE ev)
           |SELECT id AS doc_id, eval_id, COUNT(*) AS n_shared
           |FROM sh JOIN evalsh USING (sh) WHERE NOT ev
           |GROUP BY 1, 2
           |ORDER BY n_shared DESC, doc_id, eval_id LIMIT 50""".stripMargin
  )
}
