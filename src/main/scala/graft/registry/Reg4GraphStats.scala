package graft.registry

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Agg, Artifacts, Audio, Curate, Dedup, EventsOps, Graph, Layout, Multimodal, Num, Prune, Sentiment, Sim, Sketch, Skew, Star, Text}
import graft.sources.Sources

import Shared._
import Fragments._
import graft.ops.Present._

/** Graph analytics + statistics at scale: PageRank, triangles,
  * k-core, OLS/anomalies/medians, LSH eval harness, artifact-adjacent
  * monitors.
  *
  * Mechanically split out of SparkEntry.scala (round 10) — every entry
  * is verbatim; SparkEntry composes the parts back into the one map.
  */
private[graft] object Reg4GraphStats {

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(


    // north star — link-graph importance (fixed-point integer PageRank,
    // Graph.scala scaladoc): the symmetrized customer—supplier fact graph
    // (edge weight = lineitem count), 3 damped rounds, every share an
    // exact 64-bit integer op, so the ranking is bit-identical on any
    // partitioning AND in the oracle's unrolled-CTE replay. Top 25 hubs.
    // Nodes iterate as LONGS (custkey*2 / suppkey*2+1) — integer keys
    // shuffle and aggregate far cheaper than 'c:…' strings at corpus
    // scale; the display label is re-derived only for the final 25 rows.
    // Raw w=1 edge rows go straight in: pageRankFixed's own groupBy is
    // the single aggregation pass (a caller-side pre-agg would just add
    // a second full shuffle of the same rows).
    "q137_pagerank" -> ((s, dir) => {
      val e0 = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"),
          lit(1L).as("w"))
      val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      Graph.pageRankFixed(edges, iters = 3,
          scale = PrScale, dampPct = PrDampPct)
        .select(concat(
            when(col("node") % 2 === 0, lit("c:")).otherwise(lit("s:")),
            expr("node div 2")).as("node"), col("r"))
        .orderBy(col("r").desc, col("node").asc).limit(25)
    }),


    // north star — collocation mining: corpus-level top-30 bigrams by
    // PMI (Church & Hanks 1990), count >= 5 — the phrase/tokenizer-merge
    // signal. Exact integer counts; one checkpointed token scan feeds
    // both n-gram orders (Text.pmiTopK scaladoc for the shuffle shape).
    "q138_pmi_collocations" -> ((s, dir) =>
      Text.pmiTopK(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 30)),


    // north star — mergeable-sketch percentiles with the error bound
    // VERIFIED IN-QUERY (Agg.approxMedianVerified scaladoc): GK-summary
    // approx median per event type, its rank error integer-checked
    // against the n/accuracy guarantee, exact median riding along so the
    // oracle pins values. The bounded-state percentile path SCALE.md's
    // exact-quantile row points to at 100 TB.
    "q139_approx_median_bound" -> ((s, dir) =>
      Agg.approxMedianVerified(t(s, dir, "events"), "event_type", "value",
          accuracy = 100)
        .orderBy("event_type")),


    // north star — INCREMENTAL connected components
    // (Dedup.componentsIncremental scaladoc): 1/5 of the near-dup pairs
    // (deterministic md5 split) arrive as the ingest batch; standing
    // labels are exact CC over the rest, and the batch folds in through
    // label contraction WITHOUT re-reading the standing edge set. Shares
    // q128/q130's oracle — THREE CC engines now pinned to one answer.
    "q140_cc_incremental" -> ((s, dir) => {
      // shared pair artifact (already checkpoint-backed); the point of
      // this query is the incremental label engine, not the pair build
      val pairs = Artifacts.nearDupPairs(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val pairHash = conv(substring(md5(concat(col("id_a"), lit(":"),
        col("id_b"))), 1, 8), 16, 10).cast("long")
      val base = pairs.where(pairHash % 5 =!= 0)
      val delta = pairs.where(pairHash % 5 === 0)
      val comp = Dedup.componentsIncremental(
          Dedup.componentsConverged(base), delta)
        .localCheckpoint()
      // same groupBy+join-back member count as q128 (see comment there)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      comp.join(sizes, Seq("component"))
        .select(col("doc_id"), col("component"),
          col("n_members"), (col("doc_id") === col("component"))
            .as("is_survivor"))
        .orderBy("doc_id")
    }),


    // north star — HARD-negative mining (Sim.hardNegatives scaladoc):
    // per anchor, the 5 most-similar DIFFERENT-label embeddings — the
    // high-loss negatives contrastive training mixes with q124's random
    // ones. q40's brute top-k skeleton with the label inequality on the
    // broadcast join.
    "q141_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sim.hardNegatives(emb.where(col("vec_id") < 10), emb, k = 5)
        .orderBy("q_id", "rk")
    }),


    // north star — triangle census of the near-dup graph
    // (Graph.triangleStats scaladoc): degree-ordered orientation, so no
    // hub ever drives the wedge self-join. The clustering coefficient is
    // the cluster-coherence health metric for the q111 pair generator —
    // dup clusters should be near-cliques, not chains.
    "q142_triangle_census" -> ((s, dir) =>
      Graph.triangleStats(
        Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
          minJaccard = 0.2))),


    // north star — int8 embedding storage (Sim.quantizeInt8 scaladoc):
    // symmetric round-half-up quantization with per-vector quality
    // metrics (max elementwise error, l2 error, cosine to the dequant)
    // so the 4x memory cut is measured, not assumed. Scan-local.
    "q143_int8_quant" -> ((s, dir) =>
      Sim.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .presentLargeBy("vec_id")),


    // north star — per-source token-budget admission
    // (Curate.tokenBudgetSample scaladoc): the mixture recipe's quota is
    // in TOKENS, not documents — greedy md5-ordered prefix per source,
    // so the admitted set is a pure function of doc ids.
    "q144_token_budget" -> ((s, dir) =>
      Curate.tokenBudgetSample(t(s, dir, "documents"), "doc_id",
          "source", "text", budget = 800L)
        .orderBy("doc_id")),


    // §2.5 gap — per-group OLS regression (slope/intercept/r2) from the
    // q99 exact decimal power sums (Agg.exactOls scaladoc): the regr_*
    // SQL family, decimal-exact and mergeable across shards.
    "q145_group_ols" -> ((s, dir) =>
      Agg.exactOls(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .presentBy("l_returnflag")),


    // north star — cross-source contamination matrix
    // (Curate.crossSourceOverlap scaladoc): q114's decontamination
    // lifted to the corpus grain — which training sources share shingle
    // mass (mirror/scrape pairs that would double-count in the mixture).
    "q146_source_overlap" -> ((s, dir) =>
      Curate.crossSourceOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy("source_a", "source_b")),


    // north star — ingest drift monitoring (EventsOps.dailyAnomalies
    // scaladoc): per-type daily counts z-scored from exact decimal
    // moments; the broken-producer / traffic-spike alarm a pipeline
    // runs over its own telemetry.
    "q147_daily_anomalies" -> ((s, dir) =>
      EventsOps.dailyAnomalies(t(s, dir, "events"))
        .presentBy("event_type", "day")),


    // north star — join-key skew profiler (Skew.keyProfile scaladoc):
    // the decision input for q129/q36 — measure a key's distribution
    // (hot key, skew factor, top-1 share analog) BEFORE salting it.
    "q148_key_profile" -> ((s, dir) =>
      Skew.keyProfile(t(s, dir, "lineitem"), "l_suppkey")
        .unionByName(Skew.keyProfile(t(s, dir, "documents"), "lang"))
        .orderBy("key_col")),


    // §2.5 gap — interval-OVERLAP join via range binning
    // (EventsOps.overlapJoinBinned scaladoc): q28's band join needs a
    // broadcastable side; this is the neither-side-small shape. Transit
    // intervals [ship, ship + 1..45 days) (deterministic per-line span —
    // the fixture carries only l_shipdate) × order months; binning
    // manufactures the equi-key, the plain overlap predicate is the
    // oracle.
    "q149_interval_overlap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        unix_date(col("l_shipdate").cast("date")).cast("long").as("s"))
        .withColumn("e", col("s") + lit(1L) +
          expr("(l_orderkey * 7 + l_linenumber) % 45"))
      val months = t(s, dir, "orders")
        .select(date_trunc("month", col("o_orderdate")).cast("date")
          .as("m")).distinct()
        .select(unix_date(col("m")).cast("long").as("bs"),
          unix_date(add_months(col("m"), 1)).cast("long").as("be"))
      EventsOps.overlapJoinBinned(li, months, cell = 32L)
        .select(col("l_orderkey"), col("l_linenumber"), col("bs"))
        .distinct() // a pair sharing k cells appears k times
        .groupBy(col("bs").as("month_start_day"))
        .agg(count(lit(1)).as("n_shipments"))
        .orderBy("month_start_day")
    }),


    // north star — right-to-be-forgotten sweep (Curate.tombstoneSweep
    // scaladoc): anti-join a tombstone list across every table carrying
    // the entity, emit the audit summary a governance run has to file.
    // Tombstones here = doc_id % 101 == 0, the deterministic stand-in
    // for a removal-request list.
    "q150_tombstone_sweep" -> ((s, dir) => {
      val tomb = t(s, dir, "documents")
        .where(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("tomb_id"))
      Curate.tombstoneSweep(Seq(
          ("documents", t(s, dir, "documents"), "doc_id"),
          ("embeddings", t(s, dir, "embeddings"), "vec_id"),
          ("events", t(s, dir, "events"), "user_id")),
        tomb).orderBy("table_name")
    }),


    // north star — vocabulary-diversity entropy per source
    // (Text.vocabEntropy scaladoc): template/generated text scores low;
    // the integer-count identity keeps floats to one log per term.
    "q151_vocab_entropy" -> ((s, dir) =>
      Text.vocabEntropy(t(s, dir, "documents"), "source", "text")
        .withColumnRenamed("grp", "source")
        .orderBy("source")),


    // north star — alpha-temperature mixture weights
    // (Curate.mixtureWeights scaladoc): the rebalancing math between
    // proportional (α=1) and uniform (α=0) that feeds q117's rates and
    // q144's budgets; α=0.5, 1M-token budget.
    "q152_mixture_weights" -> ((s, dir) =>
      Curate.mixtureWeights(t(s, dir, "documents"), "source", "text",
          alpha = 0.5, budget = 1000000L)
        .withColumnRenamed("grp", "source")
        .orderBy("source")),


    // north star — multi-touch funnel (EventsOps.multiTouchFunnel
    // scaladoc): every view→purchase conversion within 2h, daily rates;
    // q104's first-touch form generalized to every occurrence via one
    // ordered following-window, never a stream self-join.
    "q153_multitouch_funnel" -> ((s, dir) =>
      EventsOps.multiTouchFunnel(t(s, dir, "events"),
          "view", "purchase", 7200)
        .orderBy("day")),


    // north star — Neyman budget allocation (Agg.neymanAllocation
    // scaladoc): spend a 10k-row labeling/eval budget across event
    // types ∝ N_h·σ_h — the variance-minimizing stratification that
    // q91's stratified sampler then executes.
    "q154_neyman_alloc" -> ((s, dir) =>
      Agg.neymanAllocation(t(s, dir, "events"), "event_type", "value",
          budget = 10000L)
        .orderBy("stratum")),


    // north star — dedup-pipeline EVALUATION: the LSH path's recall
    // MEASURED against exact ground truth at the same threshold. Truth
    // = q121's exact-recall prefix-filter pairs (Jaccard >= 0.8); LSH =
    // q111's band-then-verify at 0.8. Verified admission has no false
    // positives by construction (measured precision must come out 1.0);
    // what banding can lose is recall — this query puts a number on it
    // instead of trusting the (k, bands) collision analysis.
    "q155_dedup_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = Artifacts.exactPairs(s, dir, w = 3, minJaccard = 0.8)
        .select(col("id_a"), col("id_b"))
      // 0.8-threshold pair artifact (distinct from the 0.2 report
      // artifact — the memo key carries the threshold); both sides are
      // already checkpoint-backed, so no re-checkpoint here
      val lsh = Artifacts.nearDupPairs(docs.sparkSession, dir,
          k = 8, bands = 4, minJaccard = 0.8)
        .select(col("id_a"), col("id_b"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nL = lsh.agg(count(lit(1)).as("n_lsh"))
      val nC = truth.join(lsh, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_common"))
      nT.crossJoin(broadcast(nL)).crossJoin(broadcast(nC))
        .select(col("n_truth"), col("n_lsh"), col("n_common"),
          when(col("n_truth") === 0, lit(1.0)).otherwise(
            Num.floorAt(col("n_common").cast("double") /
              col("n_truth"), 4)).as("recall"),
          when(col("n_lsh") === 0, lit(1.0)).otherwise(
            Num.floorAt(col("n_common").cast("double") /
              col("n_lsh"), 4)).as("precision"))
    }),


    // north star — mix-shift drift (EventsOps.psiDrift scaladoc): PSI
    // between the first and second half of the stream's day range.
    // q147 alarms on per-type volume; this alarms on the MIX — a
    // producer swapping click for error traffic at constant volume
    // only shows up here.
    "q156_psi_drift" -> ((s, dir) =>
      EventsOps.psiDrift(t(s, dir, "events"))
        .orderBy("event_type")),


    // north star — KEEP-THE-BEST canonical selection: within each
    // near-dup component the survivor is the highest q134 quality
    // score (min doc_id only breaks score ties) — the policy real
    // curation wants instead of q128's keep-lowest-id. One rank window
    // over component-sized groups on top of the CC labels; quality
    // joins in doc-keyed.
    "q157_survivor_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val q = Curate.ngramQualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val w = Window.partitionBy("component")
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      comp.join(q, Seq("doc_id"))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("component"), col("quality_score"),
          (col("rk") === 1).as("is_survivor"))
        .orderBy("doc_id")
    }),


    // §2.5 gap — per-group winsorization at exact rank-selected
    // percentiles (Agg.winsorize scaladoc): clamp into [p05, p95] and
    // report clip counts + the winsorized mean — outlier treatment
    // before the statistics outliers wreck (q145's OLS, q147's
    // z-scores).
    "q158_winsorize" -> ((s, dir) =>
      Agg.winsorize(t(s, dir, "events"), "event_type", "value",
          pLo = 0.05, pHi = 0.95)
        .orderBy("event_type")),


    // north star — dup-cluster size histogram: the corpus-health
    // read-off over the CC labels (how much mass sits in how-big
    // clusters — a fat tail means boilerplate/mirrors, not true dups).
    // Log2 buckets; counts partial-aggregate at both grains.
    "q159_cluster_sizes" -> ((s, dir) => {
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      comp.groupBy("component").agg(count(lit(1)).as("sz"))
        .groupBy(floor(log2(col("sz"))).cast("int").as("log2_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .orderBy("log2_size")
    }),


    // north star — per-source quality profile: mean and exact median
    // q134 score per source — the which-sources-are-junk read-off that
    // sets q152's mixture weights. Median via the q120 rank-selection
    // shape; mean from a DECIMAL sum of the already-floored scores.
    "q160_source_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Curate.ngramQualityScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val med = Agg.medianByRank(scored, "source", "quality_score")
        .select(col("source"), Num.floorAt(col("median"), 6).as("p50"))
      scored.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          Num.floorAt(sum(col("quality_score").cast("decimal(18,6)"))
            .cast("double") / count(lit(1)), 6).as("mean_quality"))
        .join(med, Seq("source"))
        .orderBy("source")
    }),


    // north star — bot/automation profile (EventsOps.botProfile
    // scaladoc): burstiness + sustained rate + type entropy per user;
    // the automated-traffic filter that runs BEFORE text quality gates
    // (bot content poisons dedup stats and mixture weights).
    "q161_bot_profile" -> ((s, dir) =>
      EventsOps.botProfile(t(s, dir, "events"))
        .orderBy("user_id")),


    // north star — Benford forensics (Agg.benfordProfile scaladoc):
    // first-digit distribution of order totals vs log10(1+1/d) with
    // chi2 — the cheap synthetic/fabricated-data tell. TPC-H prices
    // are range-uniform, so this corpus correctly FAILS the law (the
    // flag is the fingerprint either way).
    "q162_benford" -> ((s, dir) =>
      Agg.benfordProfile(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")),


    // north star — k-anonymity audit (Agg.kAnonymity scaladoc): class
    // sizes of the (source, lang) quasi-identifier tuple with the
    // below-k flag — the governance gate before a corpus release;
    // q150's sweep and q115's redaction are the fixes it triggers.
    "q163_k_anonymity" -> ((s, dir) =>
      Agg.kAnonymity(t(s, dir, "documents"), Seq("source", "lang"),
          k = 10)
        .orderBy("source", "lang")),


    // north star — Zipf exponent (Text.zipfFit scaladoc): ln(tf) on
    // ln(rank) over the top-100 vocabulary — natural language sits
    // near alpha = 1; the one-number linguistic health check next to
    // q151's entropy.
    "q164_zipf_fit" -> ((s, dir) =>
      Text.zipfFit(t(s, dir, "documents"), "text", k = 100)),


    // north star — declared-key uniqueness audit
    // (Dedup.keyUniquenessProfile scaladoc): n_rows vs distinct keys
    // per table — the FIRST intake statistic and the integrity check
    // q89/upsert-ignore assume (this fixture's lineitem really does
    // carry ~24% duplicate (orderkey, linenumber) keys).
    "q165_key_uniqueness" -> ((s, dir) =>
      Dedup.keyUniquenessProfile(Seq(
          ("documents", t(s, dir, "documents"), Seq("doc_id")),
          ("events", t(s, dir, "events"), Seq("event_id")),
          ("lineitem", t(s, dir, "lineitem"),
            Seq("l_orderkey", "l_linenumber")),
          ("orders", t(s, dir, "orders"), Seq("o_orderkey"))))
        .orderBy("table_name")),


    // north star — per-source dedup IMPACT: docs and tokens each source
    // loses to near-dup removal (min-id survivor rule over the CC
    // labels; docs outside the pair graph all survive). The
    // which-source-is-redundant report that closes the loop between
    // q146's overlap matrix and q152's mixture weights.
    "q166_dedup_impact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val losers = Artifacts.components(s, dir,
          k = 8, bands = 4, minJaccard = 0.2)
        .where(col("doc_id") =!= col("component"))
        .select(col("doc_id"), lit(1L).as("removed"))
      docs.select(col("doc_id"), col("source"),
          size(Text.cleanTokens(col("text"))).cast("long").as("nt"))
        .join(losers, Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("removed"), lit(0L))).as("n_removed"),
          sum(col("nt")).as("tokens_total"),
          sum(when(col("removed").isNotNull, col("nt")).otherwise(0L))
            .as("tokens_removed"))
        .withColumn("token_retention", Num.floorAt(
          (col("tokens_total") - col("tokens_removed")).cast("double") /
            col("tokens_total"), 6))
        .orderBy("source")
    }),


    // analytics — 2-D skyline / Pareto frontier (Agg.skyline scaladoc):
    // the users no other user beats on BOTH activity (event count) and
    // spend (exact decimal value sum) — the multi-criteria "best"
    // operator relational algebra lacks. The engine reads dominance off
    // one prefix-max over the distinct-x domain instead of the
    // quadratic NOT-EXISTS self-join the oracle runs.
    "q253_skyline" -> ((s, dir) =>
      Agg.skyline(
          t(s, dir, "events").groupBy("user_id")
            .agg(count(lit(1)).as("n_events"),
              dsum(col("value")).as("total_value")),
          "n_events", "total_value")
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")),

    // analytics — the skyline's LARGE-DOMAIN engine
    // (Agg.skylineTwoLevel scaladoc): range-bucketed local skylines,
    // global pass over local survivors only — bound to the SAME oracle
    // string as q253 (one oracle, two skyline engines), so the driver
    // gate proves two-level ≡ one-level ≡ the quadratic NOT-EXISTS
    // formulation on every run.
    "q256_skyline_ranged" -> ((s, dir) =>
      Agg.skylineTwoLevel(
          t(s, dir, "events").groupBy("user_id")
            .agg(count(lit(1)).as("n_events"),
              dsum(col("value")).as("total_value")),
          "n_events", "total_value", ranges = 8)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")),

    // analytics — skyline with AUTOMATIC engine dispatch
    // (Agg.skylineAuto scaladoc; the q233 pattern): a cheap
    // approx-distinct preflight on the x domain routes to the
    // one-level global window (bounded domains) or the range-bucketed
    // two-level engine (the measured 1e6-distinct bend) — bit-identical
    // either way, bound to the SAME oracle string as q253/q256: one
    // oracle, now THREE skyline engines, and the pair chooses itself.
    // north star — SOFT deduplication: instead of dropping non-survivor
    // near-dups (q157's hard policy), weight every document by
    // 1/|its near-dup cluster| so the training loss sees each
    // duplicated CONTENT once while no document is discarded — the
    // reweighting alternative pipelines use when hard dedup would cut
    // volume too deeply (the survivor keeps weight 1 only when unique;
    // a 4-way cluster contributes 4 × 0.25). Labels come from the
    // shared component artifact; docs outside any verified pair are
    // their own singleton at weight 1. Cost = the corpus scan + two
    // keyed joins against the label table — no pair recompute.
    "q301_soft_dedup_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      docs.join(comp, Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          coalesce(col("n_members"), lit(1L)).as("n_members"),
          (lit(1.0) / coalesce(col("n_members"), lit(1L)))
            .as("weight"))
        .orderBy("doc_id")
    }),

    // north star — the soft-dedup weights COMPOSED into the mixture
    // family: effective token mass per language = Σ n_tokens/|cluster|
    // over each doc — the number a data-mixture planner actually
    // budgets against (raw token counts overstate a slice whose mass
    // is duplicated). Exact integer arithmetic end to end: per-doc
    // floor(n_tok·10⁶ / cluster_size) in MICRO-tokens summed as
    // BIGINT, so no order-dependent float summation exists to diverge
    // between engines. Cost = the token-count scan + two keyed joins
    // against the label artifact.
    "q303_effective_token_mass" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      docs.select(col("doc_id"), col("lang"),
          size(Text.cleanTokens(col("text"))).as("n_tok"))
        .join(comp, Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .withColumn("nm", coalesce(col("n_members"), lit(1L)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("raw_tokens"),
          sum(expr("(CAST(n_tok AS BIGINT) * 1000000) div nm"))
            .as("eff_utokens"))
        .orderBy("lang")
    }),

    // north star — ONE ingest cycle incrementally end-to-end, proven
    // equal to a from-scratch rebuild ([[ingestCycle]] scaladoc):
    // store-read admission → store-read delta pairs → incremental CC
    // fold → survivor readout, every step costing ∝ batch, gated
    // against an oracle that re-admits, re-pairs, and re-labels the
    // whole post-ingest corpus from scratch.
    "q297_ingest_cycle" -> ((s, dir) => ingestCycle(s, dir)),

    // north star — the soft-dedup discount DRIVES the sampler end to
    // end (r15, closing the r14 verdict's composition ask): per-lang
    // quotas largest-remainder-allocated over sqrt-damped EFFECTIVE
    // (dedup-discounted) token mass — q303's eff_utokens per doc,
    // wt = (n_tok·10⁶ div |cluster|) + 1 — and each language's slice
    // drawn A-Res weight-proportional to the docs' own effective
    // weights (Curate.budgetedSampleByMass scaladoc). The full chain
    // dedup → discounted mass → quota → drawn sample is ONE
    // oracle-gated query: a near-duplicate cluster contributes its
    // mass once to the quota and its members compete at 1/|cluster|
    // strength each, so duplicated sources stop buying extra sample.
    "q307_effective_mixture_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      val eff = docs.select(col("doc_id"), col("lang"),
          size(Text.cleanTokens(col("text"))).as("n_tok"))
        .join(comp, Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .withColumn("nm", coalesce(col("n_members"), lit(1L)))
        .select(col("doc_id"), col("lang"),
          (expr("(CAST(n_tok AS BIGINT) * 1000000) div nm") + lit(1L))
            .as("wt"))
      Curate.budgetedSampleByMass(eff, "doc_id", "wt", "lang",
          target = 60L)
        .select("lang", "doc_id", "wt", "rk", "alloc")
        .orderBy("lang", "rk")
    }),

    // north star — q307's mixture re-plan SERVED FROM MAINTAINED
    // STORES (the per-ingest production shape): per-doc token mass
    // comes from the inverted index's per-doc lengths (LexIndex
    // framesAsOf — the dl frame the segment lifecycle maintains at
    // cost ∝ batch), discounts from the shared component artifact,
    // and the quota + draw run over that — the corpus TEXT is never
    // read, let alone tokenized, at planning time (plan-pinned: the
    // documents scan reads only (doc_id, lang)). Bound to q307's
    // oracle string: one contract, two engines (scan-and-tokenize
    // q307, store-served q308) — so after each ingest the mixture
    // planner re-budgets for ∝ batch + |langs|, and the driver gate
    // proves it equals the from-scratch plan.
    "q308_ingest_mixture_replan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      // dl has no row for a zero-token doc — coalesce to 0 so empty
      // docs keep the q307 weight floor of 1
      val dl = graft.ops.LexIndex.framesAsOf(s, dir, 1L)._2
        .select(col("id").as("doc_id"), col("dl").as("n_tok"))
      val eff = docs.select(col("doc_id"), col("lang"))
        .join(dl, Seq("doc_id"), "left")
        .join(comp, Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .withColumn("nm", coalesce(col("n_members"), lit(1L)))
        .withColumn("nt", coalesce(col("n_tok"), lit(0L)))
        .select(col("doc_id"), col("lang"),
          (expr("(CAST(nt AS BIGINT) * 1000000) div nm") + lit(1L))
            .as("wt"))
      Curate.budgetedSampleByMass(eff, "doc_id", "wt", "lang",
          target = 60L)
        .select("lang", "doc_id", "wt", "rk", "alloc")
        .orderBy("lang", "rk")
    }),


    // north star — the TAKEDOWN re-plan (r16, composing the q315-q318
    // delete lifecycle into the curation surface): after a takedown
    // pass (doc_id%7=3), the mixture planner re-budgets over the
    // SURVIVING corpus with every input read from maintained
    // artifacts — token masses from the tombstone-masked index's dl
    // frame (the "md" chain head — no re-tokenization),
    // near-dup pairs from the STORED pair artifact filtered to
    // surviving endpoints (signatures are per-doc, the q270 subset
    // property — nothing is re-signed or re-paired), and the cluster
    // labels refreshed INCREMENTALLY (r17, clearing the r16 weak:
    // removing a doc can SPLIT its cluster, but only clusters that
    // CONTAINED a deleted doc — Dedup.componentsAfterDelete re-runs
    // exact CC over the touched components' surviving pairs ONLY and
    // serves every untouched label unchanged from the standing
    // components artifact, the q140 contraction mirrored for
    // deletes; cost ∝ touched components, not all pairs, and the
    // output is identical by the min-label algebra). The oracle
    // replays the whole from-scratch chain, so the driver gate proves
    // incremental ≡ rebuild on every fixture. It also replays the
    // whole dedup → discount → quota → draw chain over the surviving
    // corpus, so a planner that left deleted mass in the quota
    // arithmetic — or kept a pre-delete cluster label bridging
    // through a deleted doc — fails the gate.
    "q319_takedown_mixture_replan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val surviving = !graft.ops.LexIndex.deleteSplit
      // the re-folded labels come from the published artifact
      // (Artifacts.survivorLabels — built once per takedown, read by
      // every consumer; the q297 standing-labels discipline)
      val comp = Artifacts.survivorLabels(s, dir, k = 8, bands = 4,
        minJaccard = 0.2)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("n_members"))
      val dl = graft.ops.LexIndex.framesAsOf(s, dir, 2L, "md")._2
        .select(col("id").as("doc_id"), col("dl").as("n_tok"))
      val eff = docs.where(surviving)
        .select(col("doc_id"), col("lang"))
        .join(dl, Seq("doc_id"), "left")
        .join(comp, Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .withColumn("nm", coalesce(col("n_members"), lit(1L)))
        .withColumn("nt", coalesce(col("n_tok"), lit(0L)))
        .select(col("doc_id"), col("lang"),
          (expr("(CAST(nt AS BIGINT) * 1000000) div nm") + lit(1L))
            .as("wt"))
      Curate.budgetedSampleByMass(eff, "doc_id", "wt", "lang",
          target = 60L)
        .select("lang", "doc_id", "wt", "rk", "alloc")
        .orderBy("lang", "rk")
    }),

    "q272_skyline_auto" -> ((s, dir) =>
      Agg.skylineAuto(
          // checkpointed: the preflight and the dispatched engine each
          // act on this frame — without it the events aggregate runs
          // twice (the skylineAuto scaladoc note)
          t(s, dir, "events").groupBy("user_id")
            .agg(count(lit(1)).as("n_events"),
              dsum(col("value")).as("total_value"))
            .localCheckpoint(),
          "n_events", "total_value")
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id"))
  )

  /** q297's engine: ONE ingest cycle run incrementally end-to-end —
    * the composition the per-step queries (q135 admission, q179 delta
    * pairs, q140 incremental CC) certify piecewise, here certified as
    * a WHOLE against a from-scratch rebuild. standing = doc_id%5≠0,
    * batch = the %5==0 slice:
    *
    *   1. admission — batch docs whose MinHash signature is unseen in
    *      the standing key STORE, first-wins among in-batch twins
    *      (cost ∝ batch);
    *   2. delta pairs — verified near-dup pairs TOUCHING the admitted
    *      docs, standing side from the banded-signature STORE (cost ∝
    *      batch postings, the standing corpus is never re-signed);
    *   3. labels — fold the delta pairs into the standing corpus's
    *      converged components with the q140 incremental engine
    *      (cost ∝ delta-touched components);
    *   4. survivor readout — the q128 (doc_id, component, n_members,
    *      is_survivor) contract over the refreshed labels.
    *
    * The oracle rebuilds the post-ingest corpus from scratch (replay
    * admission, re-pair EVERYTHING, recursive-CTE CC), so the driver
    * gate proves the incremental cycle ≡ the batch rebuild — the
    * invariant that lets a 100 TB corpus refresh per-ingest instead of
    * re-running the full dedup pass. Signatures are per-doc, so pairs
    * among standing docs ARE the full-corpus pair artifact filtered to
    * standing endpoints (the q270 subset property) — the base labels
    * come from the shared pair store, nothing is signed twice.
    */
  private def ingestCycle(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val standing = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val admitted = Dedup.admitBySignature(standing, batch,
        "doc_id", "text", k = 8,
        baseKeysPre = Some(Artifacts.standingSigKeys(s, dir, k = 8)))
      .select("doc_id")
    val admittedDocs = batch.join(admitted, Seq("doc_id"), "left_semi")
    val delta = Dedup.lshDeltaPairs(standing, admittedDocs,
      "doc_id", "text", k = 8, bands = 4, minJaccard = 0.2,
      standingBanded = Some(Artifacts.standingBands(s, dir,
        k = 8, bands = 4)))
    // standing labels come from the artifact STORE (the incremental
    // premise: a refresh READS the standing label table, it never
    // re-runs CC over the standing corpus) — only the delta fold and
    // its relabel run per ingest
    val comp = Dedup.componentsIncremental(
        Artifacts.standingLabels(s, dir, k = 8, bands = 4,
          minJaccard = 0.2), delta)
      .localCheckpoint()
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("n_members"))
    comp.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("n_members"),
        (col("doc_id") === col("component")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** The q307 chain parameterized by a document predicate — "TRUE" is
    * the full-corpus contract (q307/q308); the survivors instance is
    * q319's takedown re-plan (dedup pairs, cluster sizes, token
    * masses, quotas, and draws all scoped to the post-delete corpus —
    * a takedown that silently left deleted mass in the quota
    * arithmetic would fail the gate). */
  private def effectiveMixtureOracleSqlOver(docWhere: String): String =
    s"""WITH RECURSIVE
       |${verifiedPairsCteFor(docWhere)},
       |$ccCte,
       |sz AS (SELECT component, COUNT(*) AS n_members
       |       FROM comp GROUP BY component),
       |tok AS (SELECT doc_id, lang, len($cleanToks) AS n_tok
       |        FROM (SELECT doc_id, lang, ${cleanSql("text")} AS c
       |              FROM documents WHERE $docWhere)),
       |w AS (SELECT t.doc_id, t.lang,
       |        (CAST(n_tok AS BIGINT) * 1000000)
       |          // COALESCE(sz.n_members, 1) + 1 AS wt
       |      FROM tok t LEFT JOIN comp c ON c.doc_id = t.doc_id
       |      LEFT JOIN sz ON sz.component = c.component),
       |mc AS (SELECT lang, CAST(SUM(wt) AS BIGINT) AS mass,
       |    CAST(floor(sqrt(CAST(CAST(SUM(wt) AS BIGINT) AS DOUBLE))
       |      * 1000) AS BIGINT) AS weight
       |  FROM w GROUP BY lang),
       |tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM mc),
       |b AS (SELECT lang, weight,
       |    (60 * weight) // wsum AS base,
       |    (60 * weight) % wsum AS rem
       |  FROM mc CROSS JOIN tw),
       |lo AS (SELECT CAST(60 - SUM(base) AS BIGINT) AS r FROM b),
       |ab AS (SELECT *, row_number() OVER
       |    (ORDER BY rem DESC, lang) AS ark FROM b),
       |al AS (SELECT lang,
       |    CAST(base + CASE WHEN ark <= r THEN 1 ELSE 0 END
       |      AS BIGINT) AS alloc
       |  FROM ab CROSS JOIN lo),
       |pri AS (
       |  SELECT lang, doc_id, wt,
       |    ${Num.floorAtSql(
             s"ln((${md5HexNSql("CAST(doc_id AS VARCHAR)", 12)} + 1)" +
               " / 281474976710656.0)" +
               " / CAST(wt AS DOUBLE)", 8)} AS priority
       |  FROM w WHERE wt > 0),
       |r AS (
       |  SELECT lang, doc_id, wt, priority,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY priority DESC, doc_id ASC) AS INTEGER) AS rk
       |  FROM pri)
       |SELECT r.lang, doc_id, wt, rk, alloc
       |FROM r JOIN al ON al.lang = r.lang
       |WHERE rk <= alloc
       |ORDER BY r.lang, rk""".stripMargin

  private val effectiveMixtureOracleSql: String =
    effectiveMixtureOracleSqlOver("TRUE")

  def oracles: ListMap[String, String] = ListMap(


      // incremental fold of a delta batch into standing labels — must
      // equal the from-scratch components exactly (contraction argument
      // in Dedup.componentsIncremental's scaladoc)
      "q140_cc_incremental" -> ccOracleSql,

      // the same CC chain + cluster sizes, token counts from the
      // shared cleanToks fragment, per-doc micro-token floor division
      // (pure integer, no float summation), BIGINT sums with the
      // HUGEINT cast
      "q303_effective_token_mass" ->
        s"""WITH RECURSIVE
           |${verifiedPairsCteFor("TRUE")},
           |$ccCte,
           |sz AS (SELECT component, COUNT(*) AS n_members
           |       FROM comp GROUP BY component),
           |tok AS (SELECT doc_id, lang, len($cleanToks) AS n_tok
           |        FROM (SELECT doc_id, lang, ${cleanSql("text")} AS c
           |              FROM documents)),
           |w AS (SELECT t.doc_id, t.lang, t.n_tok,
           |        COALESCE(sz.n_members, 1) AS nm
           |      FROM tok t LEFT JOIN comp c ON c.doc_id = t.doc_id
           |      LEFT JOIN sz ON sz.component = c.component)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
           |  CAST(SUM((CAST(n_tok AS BIGINT) * 1000000) // nm)
           |    AS BIGINT) AS eff_utokens
           |FROM w GROUP BY lang ORDER BY lang""".stripMargin,

      // q303's discounted-weight chain, then the q274 allocation +
      // A-Res tail run ON THE EFFECTIVE WEIGHTS: quotas from
      // sqrt-damped per-lang Σ wt (largest remainder, integer
      // div/mod), draws ranked by floored ln(u)/wt — the whole
      // dedup → mass → quota → sample composite replayed in SQL
      "q307_effective_mixture_sample" -> effectiveMixtureOracleSql,

      // the SAME string: the store-served planner reads the
      // maintained dl frame + component artifact — one contract, two
      // engines (scan-and-tokenize q307, store-served q308)
      "q308_ingest_mixture_replan" -> effectiveMixtureOracleSql,

      // the takedown instance: the identical chain scoped to the
      // post-delete survivors — pairs, clusters, masses, quotas, and
      // draws all re-derived over the corpus with the deleted docs
      // gone
      "q319_takedown_mixture_replan" ->
        effectiveMixtureOracleSqlOver("NOT (doc_id % 7 = 3)"),

      // the verified-pair + recursive-CTE CC chain, then every
      // document left-joined to its cluster size — singletons (docs
      // in no verified pair) weight 1; 1.0/n is one IEEE division of
      // exact integers, identical in both engines
      "q301_soft_dedup_weights" ->
        s"""WITH RECURSIVE
           |${verifiedPairsCteFor("TRUE")},
           |$ccCte,
           |sz AS (SELECT component, COUNT(*) AS n_members
           |       FROM comp GROUP BY component)
           |SELECT d.doc_id,
           |  COALESCE(c.component, d.doc_id) AS component,
           |  COALESCE(sz.n_members, 1) AS n_members,
           |  1.0 / CAST(COALESCE(sz.n_members, 1) AS DOUBLE) AS weight
           |FROM documents d
           |LEFT JOIN comp c ON c.doc_id = d.doc_id
           |LEFT JOIN sz ON sz.component = c.component
           |ORDER BY d.doc_id""".stripMargin,

      // the from-scratch rebuild of q297's post-ingest corpus: replay
      // admission (the q135 CTE chain, prefixed), then the FULL
      // verified-pair + recursive-CTE CC chain over standing ∪
      // admitted — the batch-rebuild side of the incremental ≡ batch
      // invariant
      "q297_ingest_cycle" -> ccOracleSqlFor(
        "doc_id % 5 <> 0 OR doc_id IN (SELECT doc_id FROM admitted)",
        preCtes = s"""${minhashSigCte(8, "adm")},
          |admbase AS (SELECT DISTINCT sig_key FROM admsig
          |  WHERE doc_id % 5 <> 0),
          |admcand AS (SELECT doc_id, sig_key FROM admsig
          |  WHERE doc_id % 5 = 0
          |    AND sig_key NOT IN (SELECT sig_key FROM admbase)),
          |admranked AS (SELECT doc_id,
          |    row_number() OVER (PARTITION BY sig_key ORDER BY doc_id)
          |      AS rn
          |  FROM admcand),
          |admitted AS (SELECT doc_id FROM admranked WHERE rn = 1),
          |""".stripMargin),


      // q40's brute-force oracle with the label inequality — hard
      // negatives are exact by definition (no blocking step to trust)
      "q141_hard_negatives" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS ql
          |  FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS c_id, embedding AS cv, label AS cl
          |  FROM embeddings),
          |scored AS (
          |  SELECT q_id, c_id,
          |    floor((
          |      list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          |      / (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
          |       * sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
          |  FROM c CROSS JOIN q WHERE ql <> cl)
          |SELECT q_id, c_id, sim, CAST(rk AS INTEGER) AS rk FROM (
          |  SELECT q_id, c_id, sim,
          |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rk
          |  FROM scored) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,


      // same degree-ordered orientation as the engine: an edge (or
      // wedge leg) goes from its (deg, id)-smaller endpoint via DuckDB
      // row-value comparison, so the closing probe is a plain equi-join
      "q142_triangle_census" ->
        s"""WITH $verifiedPairsCte,
           |deg AS (SELECT node, COUNT(*) AS deg FROM (
           |    SELECT id_a AS node FROM pairs
           |    UNION ALL SELECT id_b FROM pairs) GROUP BY 1),
           |dir AS (SELECT
           |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b)
           |         THEN p.id_a ELSE p.id_b END AS src,
           |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b)
           |         THEN p.id_b ELSE p.id_a END AS dst
           |  FROM pairs p JOIN deg da ON da.node = p.id_a
           |               JOIN deg db ON db.node = p.id_b),
           |dird AS (SELECT dir.src, dir.dst, d.deg AS ddst
           |  FROM dir JOIN deg d ON d.node = dir.dst),
           |wedge AS (SELECT x.dst AS src, y.dst AS dst
           |  FROM dird x JOIN dird y ON x.src = y.src
           |    AND (x.ddst, x.dst) < (y.ddst, y.dst)),
           |tri AS (SELECT COUNT(*) AS n_triangles
           |  FROM wedge JOIN dir USING (src, dst)),
           |m AS (SELECT COUNT(*) AS n_edges FROM pairs),
           |w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT)
           |    AS n_wedges FROM deg)
           |SELECT n_edges, n_wedges, n_triangles,
           |  CASE WHEN n_wedges = 0 THEN 0.0 ELSE
           |    floor(3.0 * n_triangles / n_wedges * 1000000) / 1000000
           |  END AS clustering_coeff
           |FROM m CROSS JOIN w CROSS JOIN tri""".stripMargin,


      // identical IEEE-double expression tree as the engine: one
      // round-half-up divide per element, sequential list_sum folds
      "q143_int8_quant" ->
        s"""WITH v AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
           |  FROM embeddings),
           |m AS (SELECT vec_id, vd, len(vd) AS n_dims,
           |    list_max(list_transform(vd, x -> abs(x))) AS maxabs
           |  FROM v),
           |e AS (SELECT vec_id, vd, n_dims, maxabs,
           |    list_transform(vd, x ->
           |      x - floor(x * 127 / maxabs + 0.5) * (maxabs / 127))
           |      AS errs,
           |    list_transform(vd, x ->
           |      floor(x * 127 / maxabs + 0.5) * (maxabs / 127)) AS recon
           |  FROM m)
           |SELECT vec_id, CAST(n_dims AS INTEGER) AS n_dims,
           |  CASE WHEN maxabs = 0 THEN 0.0
           |    ELSE ${Num.floorAtSql("maxabs / 127", 8)} END AS qscale,
           |  CASE WHEN maxabs = 0 THEN 0.0
           |    ELSE ${Num.floorAtSql(
               "list_max(list_transform(errs, x -> abs(x)))", 8)}
           |  END AS max_abs_err,
           |  CASE WHEN maxabs = 0 THEN 0.0
           |    ELSE ${Num.floorAtSql(
               "list_sum(list_transform(errs, x -> x * x))", 8)}
           |  END AS l2_err,
           |  CASE WHEN maxabs = 0 THEN 1.0
           |    ELSE ${Num.floorAtSql(
               "list_sum(list_transform(range(1, len(vd)+1), i -> vd[i] * recon[i])) / " +
               "(sqrt(list_sum(list_transform(vd, x -> x * x))) * " +
               "sqrt(list_sum(list_transform(recon, x -> x * x))))", 6)}
           |  END AS cos_recon
           |FROM e ORDER BY vec_id""".stripMargin,


      "q144_token_budget" ->
        s"""WITH t AS (SELECT doc_id, source AS grp,
           |    CAST(len($toks) AS BIGINT) AS n_tokens,
           |    md5(CAST(doc_id AS VARCHAR)) AS okey FROM documents),
           |o AS (SELECT doc_id, grp, n_tokens,
           |    CAST(SUM(n_tokens) OVER (PARTITION BY grp
           |      ORDER BY okey ASC, doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_tokens
           |  FROM t)
           |SELECT doc_id, grp, n_tokens, cum_tokens FROM o
           |WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin,


      // same five decimal sums as q99; closed forms evaluated in the
      // identical double op order as Agg.exactOls
      "q145_group_ols" -> {
        val (sx, sy) = ("CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)")
        val (sxx, syy) = ("CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
        val sxy = "CAST(sxy AS DOUBLE)"
        val cov = s"(n * $sxy - $sx * $sy)"
        val varx = s"(n * $sxx - $sx * $sx)"
        val vary = s"(n * $syy - $sy * $sy)"
        s"""WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
           |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
           |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
           |  SUM(CAST(l_quantity AS DECIMAL(18,2))
           |    * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
           |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
           |  SUM(CAST(l_quantity AS DECIMAL(18,2))
           |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
           | FROM lineitem GROUP BY l_returnflag)
           |SELECT l_returnflag, n,
           | ${Num.floorAtSql(s"$cov / $varx", 6)} AS slope,
           | ${Num.floorAtSql(s"($sy - ($cov / $varx) * $sx) / n", 4)}
           |   AS intercept,
           | ${Num.floorAtSql(s"($cov / $varx) * ($cov / $vary)", 6)}
           |   AS r2
           |FROM g ORDER BY l_returnflag""".stripMargin
      },


      "q146_source_overlap" ->
        s"""WITH base AS (SELECT source AS src, $cleanToks AS t
           |  FROM (SELECT source, $clean AS c FROM documents)),
           |ssh AS (SELECT DISTINCT src, sh FROM (
           |  SELECT src, UNNEST(list_distinct(${shinglesSql("t", 3)}))
           |    AS sh FROM base)),
           |tot AS (SELECT src, COUNT(*) AS n_sh FROM ssh GROUP BY 1),
           |shared AS (SELECT a.src AS source_a, b.src AS source_b,
           |    COUNT(*) AS n_shared
           |  FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.src < b.src
           |  GROUP BY 1, 2)
           |SELECT source_a, source_b, n_shared,
           |  ${Num.floorAtSql(
             "CAST(n_shared AS DOUBLE) / least(ta.n_sh, tb.n_sh)", 6)}
           |    AS overlap_coeff
           |FROM shared JOIN tot ta ON ta.src = source_a
           |            JOIN tot tb ON tb.src = source_b
           |ORDER BY source_a, source_b""".stripMargin,


      // same exact-decimal moment sums as q98; z floored at 4 dp and
      // the flag tests the floored z, mirroring the engine exactly
      "q147_daily_anomalies" -> {
        val (sn, snn) = ("CAST(sn AS DOUBLE)", "CAST(snn AS DOUBLE)")
        s"""WITH daily AS (SELECT event_type,
           |    CAST(${epochSql("ts")} // 86400 AS BIGINT) AS day,
           |    COUNT(*) AS n
           |  FROM events GROUP BY 1, 2),
           |stats AS (SELECT event_type, COUNT(*) AS n_days,
           |    SUM(CAST(n AS DECIMAL(18,2))) AS sn,
           |    SUM(CAST(n AS DECIMAL(18,2)) * CAST(n AS DECIMAL(18,2)))
           |      AS snn
           |  FROM daily GROUP BY 1),
           |z AS (SELECT d.event_type, d.day, d.n,
           |    ${Num.floorAtSql(
             s"(CAST(n AS DOUBLE) - $sn / n_days) / " +
             s"sqrt(($snn - $sn * $sn / n_days) / (n_days - 1))", 4)} AS z
           |  FROM daily d JOIN stats s ON s.event_type = d.event_type
           |  WHERE n_days > 1 AND $snn - $sn * $sn / n_days > 0)
           |SELECT event_type, day, n, z, abs(z) >= 3.0 AS is_anomaly
           |FROM z ORDER BY event_type, day""".stripMargin
      },


      // hot-key tie-break mirrors the engine's max_by(k, (cnt, k)):
      // ORDER BY cnt DESC, k DESC LIMIT 1. skew uses the RAW mean;
      // needs_salt tests the floored skew — both as in Skew.keyProfile.
      "q148_key_profile" -> {
        val profile = (tbl: String, key: String) =>
          s"""(WITH c AS (SELECT CAST($key AS VARCHAR) AS k,
             |    COUNT(*) AS cnt FROM $tbl GROUP BY 1),
             |p AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |    COUNT(*) AS n_keys, CAST(MAX(cnt) AS BIGINT) AS max_cnt
             |  FROM c),
             |h AS (SELECT k AS hot_key FROM c
             |  ORDER BY cnt DESC, k DESC LIMIT 1)
             |SELECT '$key' AS key_col, n_rows, n_keys, max_cnt, hot_key,
             |  ${Num.floorAtSql("CAST(n_rows AS DOUBLE) / n_keys", 4)}
             |    AS mean_cnt,
             |  ${Num.floorAtSql("CAST(max_cnt AS DOUBLE) / " +
                 "(CAST(n_rows AS DOUBLE) / n_keys)", 4)} AS skew_factor
             |FROM p CROSS JOIN h)"""
        s"""SELECT key_col, n_rows, n_keys, max_cnt, hot_key, mean_cnt,
           |  skew_factor, skew_factor >= 5.0 AS needs_salt
           |FROM (${profile("lineitem", "l_suppkey").stripMargin}
           |  UNION ALL ${profile("documents", "lang").stripMargin})
           |ORDER BY key_col""".stripMargin
      },


      // the oracle is the PLAIN overlap predicate — result identity
      // with the binned equi-join plan is the correctness claim (the
      // q129 pattern: the mitigation must not change the answer)
      "q149_interval_overlap" ->
        """WITH li AS (SELECT l_orderkey, l_linenumber,
          |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
          |      AS BIGINT) AS s,
          |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
          |      AS BIGINT) + 1 + (l_orderkey * 7 + l_linenumber) % 45
          |      AS e
          |  FROM lineitem),
          |mo AS (SELECT DISTINCT date_trunc('month', o_orderdate) AS m
          |  FROM orders),
          |mb AS (SELECT
          |    CAST(CAST(m AS DATE) - DATE '1970-01-01' AS BIGINT) AS bs,
          |    CAST(CAST(m + INTERVAL 1 MONTH AS DATE)
          |      - DATE '1970-01-01' AS BIGINT) AS be
          |  FROM mo),
          |j AS (SELECT DISTINCT li.l_orderkey, li.l_linenumber, mb.bs
          |  FROM mb JOIN li ON li.s < li.e AND mb.bs < mb.be
          |    AND li.s < mb.be AND mb.bs < li.e)
          |SELECT bs AS month_start_day, COUNT(*) AS n_shipments
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,


      "q150_tombstone_sweep" -> {
        val per = (tbl: String, id: String) =>
          s"""SELECT '$tbl' AS table_name,
             |  (SELECT COUNT(*) FROM $tbl) AS n_before,
             |  (SELECT COUNT(*) FROM $tbl x WHERE EXISTS
             |    (SELECT 1 FROM tomb WHERE tid = x.$id)) AS n_removed,
             |  (SELECT COUNT(*) FROM $tbl x WHERE NOT EXISTS
             |    (SELECT 1 FROM tomb WHERE tid = x.$id)) AS n_after"""
        s"""WITH tomb AS (SELECT doc_id AS tid FROM documents
           |  WHERE doc_id % 101 = 0)
           |SELECT table_name, n_before, n_removed, n_after FROM (
           |${per("documents", "doc_id").stripMargin}
           |UNION ALL
           |${per("embeddings", "vec_id").stripMargin}
           |UNION ALL
           |${per("events", "user_id").stripMargin})
           |ORDER BY table_name""".stripMargin
      },


      // same integer-count identity as the engine:
      // H = log2(n) - sum(c*log2(c)) / n, floored at 6 dp
      "q151_vocab_entropy" ->
        s"""WITH tf AS (SELECT source, term, COUNT(*) AS c FROM (
           |    SELECT source, UNNEST($toks) AS term FROM documents)
           |  GROUP BY 1, 2),
           |g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           |    COUNT(*) AS n_terms,
           |    SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS sclgc
           |  FROM tf GROUP BY 1)
           |SELECT source, n_tokens, n_terms,
           |  ${Num.floorAtSql(
             "log2(CAST(n_tokens AS DOUBLE)) - sclgc / n_tokens", 6)}
           |    AS entropy_bits
           |FROM g ORDER BY source""".stripMargin,


      // pow/normalizer evaluated in the same double op order; floor
      // (not CAST) for expected_tokens — DuckDB CAST rounds, Spark
      // truncates, floor agrees
      "q152_mixture_weights" ->
        s"""WITH c AS (SELECT source, CAST(SUM(len($toks)) AS BIGINT)
           |    AS n_tokens
           |  FROM documents GROUP BY 1),
           |z AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |    SUM(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM c)
           |SELECT source, n_tokens,
           |  ${Num.floorAtSql(
             "CAST(n_tokens AS DOUBLE) / total_tokens", 6)} AS share,
           |  ${Num.floorAtSql(
             "pow(CAST(n_tokens AS DOUBLE), 0.5) / z", 6)} AS weight,
           |  CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.5) / z
           |    * 1000000) AS BIGINT) AS expected_tokens
           |FROM c CROSS JOIN z ORDER BY source""".stripMargin,


      // identical following-window: the next B strictly AFTER this row
      // in (es, event_id) order, then day-grain conversion rates
      "q153_multitouch_funnel" ->
        s"""WITH e AS (SELECT user_id, event_type, event_id,
           |    ${epochSql("ts")} AS es FROM events),
           |n AS (SELECT user_id, event_type, es,
           |    MIN(CASE WHEN event_type = 'purchase' THEN es END)
           |      OVER (PARTITION BY user_id ORDER BY es, event_id
           |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           |      AS next_b
           |  FROM e)
           |SELECT CAST(es // 86400 AS BIGINT) AS day,
           |  COUNT(*) AS n_from,
           |  CAST(SUM(COALESCE(CAST(next_b - es <= 7200 AS BIGINT), 0))
           |    AS BIGINT) AS n_converted,
           |  floor(10000.0 * SUM(COALESCE(CAST(next_b - es <= 7200
           |    AS BIGINT), 0)) / COUNT(*)) / 100 AS pct_converted
           |FROM n WHERE event_type = 'view'
           |GROUP BY 1 ORDER BY 1""".stripMargin,


      // q98's decimal moment sums; same double op order; floor (not
      // CAST) closes the sample counts
      "q154_neyman_alloc" -> {
        val (sx, sxx) = ("CAST(sx AS DOUBLE)", "CAST(sxx AS DOUBLE)")
        val sd = s"CASE WHEN n > 1 THEN " +
          s"sqrt(($sxx - $sx * $sx / n) / (n - 1)) ELSE 0.0 END"
        s"""WITH g AS (SELECT event_type AS stratum, COUNT(*) AS n,
           |    SUM(CAST(value AS DECIMAL(18,2))) AS sx,
           |    SUM(CAST(value AS DECIMAL(18,2))
           |      * CAST(value AS DECIMAL(18,2))) AS sxx
           |  FROM events GROUP BY 1),
           |ns AS (SELECT stratum, n, $sd AS sd, n * ($sd) AS nsd
           |  FROM g),
           |z AS (SELECT SUM(nsd) AS z FROM ns)
           |SELECT stratum, n AS n_rows,
           |  ${Num.floorAtSql("sd", 4)} AS stddev,
           |  ${Num.floorAtSql("nsd / z", 6)} AS alloc_weight,
           |  CAST(floor(nsd / z * 10000) AS BIGINT) AS n_sample
           |FROM ns CROSS JOIN z ORDER BY stratum""".stripMargin
      },


      // truth = brute exact Jaccard >= 0.8 over the same shingle space
      // (reusing the verified-pairs chain's dsh frame); lsh = the
      // chain's pairs at the 0.8 floor — both 4dp-floored exactly as
      // the engine floors
      "q155_dedup_eval" ->
        s"""WITH $verifiedPairsCte,
           |tsh AS (SELECT id, UNNEST(shs) AS s FROM dsh),
           |sizes AS (SELECT id, len(shs) AS n FROM dsh),
           |tcommon AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS c
           |  FROM tsh x JOIN tsh y ON x.s = y.s AND x.id < y.id
           |  GROUP BY 1, 2),
           |truth AS (SELECT id_a, id_b FROM tcommon
           |  JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
           |  WHERE ${Num.floorAtSql(
             "CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} >= 0.8),
           |lsh AS (SELECT id_a, id_b FROM pairs WHERE jacc >= 0.8),
           |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
           |nl AS (SELECT COUNT(*) AS n_lsh FROM lsh),
           |nc AS (SELECT COUNT(*) AS n_common
           |  FROM truth JOIN lsh USING (id_a, id_b))
           |SELECT n_truth, n_lsh, n_common,
           |  CASE WHEN n_truth = 0 THEN 1.0 ELSE
           |    floor(CAST(n_common AS DOUBLE) / n_truth * 10000) / 10000
           |  END AS recall,
           |  CASE WHEN n_lsh = 0 THEN 1.0 ELSE
           |    floor(CAST(n_common AS DOUBLE) / n_lsh * 10000) / 10000
           |  END AS precision
           |FROM nt CROSS JOIN nl CROSS JOIN nc""".stripMargin,


      // same integer-midpoint era split, Laplace shares, and double op
      // order as EventsOps.psiDrift; ln is DuckDB's natural log
      "q156_psi_drift" ->
        s"""WITH d AS (SELECT event_type,
           |    CAST(${epochSql("ts")} // 86400 AS BIGINT) AS day
           |  FROM events),
           |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
           |c AS (SELECT event_type,
           |    CAST(SUM(CASE WHEN day <= (d0 + d1) // 2 THEN 1 ELSE 0
           |      END) AS BIGINT) AS ca,
           |    CAST(SUM(CASE WHEN day > (d0 + d1) // 2 THEN 1 ELSE 0
           |      END) AS BIGINT) AS cb
           |  FROM d CROSS JOIN b GROUP BY 1),
           |n AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
           |    CAST(SUM(cb) AS BIGINT) AS nb, COUNT(*) AS k FROM c),
           |t AS (SELECT event_type,
           |    CAST(ca + 1 AS DOUBLE) / (na + k) AS share_a,
           |    CAST(cb + 1 AS DOUBLE) / (nb + k) AS share_b,
           |    (CAST(ca + 1 AS DOUBLE) / (na + k)
           |      - CAST(cb + 1 AS DOUBLE) / (nb + k))
           |      * ln((CAST(ca + 1 AS DOUBLE) / (na + k))
           |          / (CAST(cb + 1 AS DOUBLE) / (nb + k))) AS psi_term
           |  FROM c CROSS JOIN n),
           |tot AS (SELECT SUM(psi_term) AS tp FROM t)
           |SELECT event_type,
           |  ${Num.floorAtSql("share_a", 6)} AS share_a,
           |  ${Num.floorAtSql("share_b", 6)} AS share_b,
           |  ${Num.floorAtSql("psi_term", 6)} AS psi_term,
           |  ${Num.floorAtSql("tp", 6)} AS total_psi,
           |  ${Num.floorAtSql("tp", 6)} >= 0.2 AS drifted
           |FROM t CROSS JOIN tot ORDER BY event_type""".stripMargin,


      // the CC chain + the q134 quality chain (reusing the pairs CTE's
      // `cleaned`), survivor = rank 1 by (floored score DESC, doc_id)
      "q157_survivor_quality" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |$ccCte,
           |qtok AS (SELECT id AS doc_id, $cleanToks AS t FROM cleaned),
           |qg AS (SELECT doc_id,
           |    UNNEST(list_concat(t, ${shinglesSql("t", 2)})) AS g
           |  FROM qtok),
           |qwt AS (SELECT doc_id,
           |    CAST((${Curate.QualityWeights.mkString("[", ", ", "]")})[
           |      CAST(${md5HexNSql("g", 8)} % ${Curate.QualityBuckets}
           |        AS INTEGER) + 1] AS DECIMAL(18,6)) AS wt
           |  FROM qg),
           |qs AS (SELECT doc_id,
           |    ${Num.floorAtSql(
               s"1.0 / (1.0 + exp(-((${Curate.QualityBias}) " +
                 "+ CAST(SUM(wt) AS DOUBLE) / COUNT(*))))", 6)}
           |      AS quality_score
           |  FROM qwt GROUP BY doc_id),
           |ranked AS (SELECT c.doc_id, c.component, q.quality_score,
           |    row_number() OVER (PARTITION BY c.component
           |      ORDER BY q.quality_score DESC, c.doc_id ASC) AS rk
           |  FROM comp c JOIN qs q USING (doc_id))
           |SELECT doc_id, component, quality_score,
           |  rk = 1 AS is_survivor
           |FROM ranked ORDER BY doc_id""".stripMargin,


      // same single-order-statistic ranks (floor((n-1)p)+1), min/max
      // recovery of (lo, hi), and 4dp floors as Agg.winsorize
      "q158_winsorize" ->
        s"""WITH r AS (SELECT event_type, value,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY value) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS n
           |  FROM events),
           |b AS (SELECT event_type, MAX(n) AS n, MIN(value) AS lo,
           |    MAX(value) AS hi
           |  FROM r
           |  WHERE rn = floor((n - 1) * 0.05) + 1
           |     OR rn = floor((n - 1) * 0.95) + 1
           |  GROUP BY 1)
           |SELECT e.event_type, MAX(b.n) AS n,
           |  ${Num.floorAtSql("MAX(b.lo)", 4)} AS p_lo,
           |  ${Num.floorAtSql("MAX(b.hi)", 4)} AS p_hi,
           |  CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_clipped_lo,
           |  CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_clipped_hi,
           |  ${Num.floorAtSql(
             "CAST(SUM(CAST(greatest(b.lo, least(b.hi, e.value))" +
               " AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)", 4)}
           |    AS mean_winsorized
           |FROM events e JOIN b ON b.event_type = e.event_type
           |GROUP BY 1 ORDER BY 1""".stripMargin,


      "q159_cluster_sizes" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |$ccCte,
           |sz AS (SELECT component, COUNT(*) AS sz FROM comp
           |  GROUP BY 1)
           |SELECT CAST(floor(log2(sz)) AS INTEGER) AS log2_size,
           |  COUNT(*) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_docs
           |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,


      // the q134 quality chain (same CTE names as q157's replay) +
      // q120's two-middle-ranks median + a DECIMAL mean of the floored
      // scores
      "q160_source_quality" ->
        s"""WITH cleaned AS (SELECT doc_id, source, $clean AS c
           |  FROM documents),
           |qtok AS (SELECT doc_id, source, $cleanToks AS t FROM cleaned),
           |qg AS (SELECT doc_id,
           |    UNNEST(list_concat(t, ${shinglesSql("t", 2)})) AS g
           |  FROM qtok),
           |qwt AS (SELECT doc_id,
           |    CAST((${Curate.QualityWeights.mkString("[", ", ", "]")})[
           |      CAST(${md5HexNSql("g", 8)} % ${Curate.QualityBuckets}
           |        AS INTEGER) + 1] AS DECIMAL(18,6)) AS wt
           |  FROM qg),
           |qs AS (SELECT doc_id,
           |    ${Num.floorAtSql(
               s"1.0 / (1.0 + exp(-((${Curate.QualityBias}) " +
                 "+ CAST(SUM(wt) AS DOUBLE) / COUNT(*))))", 6)}
           |      AS q
           |  FROM qwt GROUP BY doc_id),
           |sq AS (SELECT s.source, q.q FROM qs q
           |  JOIN (SELECT doc_id, source FROM documents) s
           |    USING (doc_id)),
           |r AS (SELECT source, q,
           |    row_number() OVER (PARTITION BY source ORDER BY q) AS rn,
           |    COUNT(*) OVER (PARTITION BY source) AS n
           |  FROM sq),
           |med AS (SELECT source,
           |    ${Num.floorAtSql("AVG(q)", 6)} AS p50
           |  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
           |  GROUP BY 1)
           |SELECT source, COUNT(*) AS n_docs,
           |  ${Num.floorAtSql(
             "CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)",
             6)} AS mean_quality,
           |  MAX(p50) AS p50
           |FROM sq JOIN med USING (source)
           |GROUP BY 1 ORDER BY 1""".stripMargin,


      // same three aggregation grains and the vocab-entropy identity;
      // the flag tests the FLOORED rate, as in the engine
      "q161_bot_profile" ->
        s"""WITH e AS (SELECT user_id, event_type, ${epochSql("ts")}
           |    AS es FROM events),
           |bm AS (SELECT user_id, CAST(MAX(c) AS BIGINT)
           |    AS max_per_minute FROM (
           |  SELECT user_id, es // 60 AS m, COUNT(*) AS c FROM e
           |  GROUP BY 1, 2) GROUP BY 1),
           |b AS (SELECT user_id, COUNT(*) AS n_events,
           |    COUNT(DISTINCT es // 86400) AS active_days
           |  FROM e GROUP BY 1),
           |en AS (SELECT user_id,
           |    ${Num.floorAtSql(
             "log2(CAST(nt AS DOUBLE)) - sclgc / nt", 6)}
           |      AS type_entropy
           |  FROM (SELECT user_id, CAST(SUM(c) AS BIGINT) AS nt,
           |      SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
           |        AS sclgc
           |    FROM (SELECT user_id, event_type, COUNT(*) AS c FROM e
           |      GROUP BY 1, 2) GROUP BY 1)),
           |j AS (SELECT b.user_id, n_events, active_days,
           |    CAST(n_events AS DOUBLE) / active_days AS epd,
           |    max_per_minute, type_entropy
           |  FROM b JOIN bm USING (user_id) JOIN en USING (user_id))
           |SELECT user_id, n_events, active_days,
           |  ${Num.floorAtSql("epd", 4)} AS events_per_day,
           |  max_per_minute, type_entropy,
           |  max_per_minute >= 2 AND ${Num.floorAtSql("epd", 4)} >= 2.8
           |    AS is_bot
           |FROM j ORDER BY user_id""".stripMargin,


      // digit via string of the integer part (no log10 edge cases);
      // chi2 terms in the same double op order as the engine
      "q162_benford" ->
        s"""WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
           |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           |    COUNT(*) AS n_obs
           |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c),
           |t AS (SELECT digit, n_obs,
           |    CAST(n_obs AS DOUBLE) / n AS obs_share,
           |    log10(1.0 + 1.0 / digit) AS p,
           |    (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)
           |        * log10(1.0 + 1.0 / digit))
           |      * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)
           |        * log10(1.0 + 1.0 / digit))
           |      / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit))
           |      AS raw_term
           |  FROM c CROSS JOIN tot),
           |c2 AS (SELECT SUM(raw_term) AS c2 FROM t)
           |SELECT digit, n_obs,
           |  ${Num.floorAtSql("obs_share", 6)} AS obs_share,
           |  ${Num.floorAtSql("p", 6)} AS benford_p,
           |  ${Num.floorAtSql("raw_term", 4)} AS chi2_term,
           |  ${Num.floorAtSql("c2", 4)} AS chi2_total,
           |  ${Num.floorAtSql("c2", 4)} < 15.5073 AS follows_benford
           |FROM t CROSS JOIN c2 ORDER BY digit""".stripMargin,


      "q163_k_anonymity" ->
        """WITH c AS (SELECT source, lang, COUNT(*) AS n_rows
          |  FROM documents GROUP BY 1, 2),
          |km AS (SELECT CAST(MIN(n_rows) AS BIGINT) AS k_min FROM c)
          |SELECT source, lang, n_rows, n_rows < 10 AS below_k, k_min
          |FROM c CROSS JOIN km ORDER BY source, lang""".stripMargin,


      // top-100 by (tf DESC, term), ln/ln OLS closed form in the same
      // double op order as Text.zipfFit
      "q164_zipf_fit" ->
        s"""WITH tf AS (SELECT term, COUNT(*) AS tf FROM (
           |    SELECT UNNEST($toks) AS term FROM documents)
           |  GROUP BY 1 ORDER BY tf DESC, term LIMIT 100),
           |r AS (SELECT tf,
           |    row_number() OVER (ORDER BY tf DESC, term) AS rk
           |  FROM tf),
           |p AS (SELECT ln(CAST(rk AS DOUBLE)) AS x,
           |    ln(CAST(tf AS DOUBLE)) AS y, tf FROM r),
           |g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy,
           |    CAST(MAX(tf) AS BIGINT) AS top_tf FROM p)
           |SELECT n AS n_terms, top_tf,
           |  CASE WHEN CAST(n AS DOUBLE) * syy - sy * sy = 0 THEN 0.0
           |  ELSE ${Num.floorAtSql(
             "-((CAST(n AS DOUBLE) * sxy - sx * sy) / " +
             "(CAST(n AS DOUBLE) * sxx - sx * sx))", 4)}
           |  END AS zipf_alpha,
           |  CASE WHEN CAST(n AS DOUBLE) * syy - sy * sy = 0 THEN 0.0
           |  ELSE ${Num.floorAtSql(
             "((CAST(n AS DOUBLE) * sxy - sx * sy) / " +
             "(CAST(n AS DOUBLE) * sxx - sx * sx)) * " +
             "((CAST(n AS DOUBLE) * sxy - sx * sy) / " +
             "(CAST(n AS DOUBLE) * syy - sy * sy))", 4)}
           |  END AS r2
           |FROM g""".stripMargin,


      // GROUP BY the typed key columns — the same format-immune key
      // as the engine
      "q165_key_uniqueness" -> {
        val per = (tbl: String, keys: String) =>
          s"""SELECT '$tbl' AS table_name,
             |  CAST(SUM(c) AS BIGINT) AS n_rows,
             |  COUNT(*) AS n_distinct_keys,
             |  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_rows,
             |  ${Num.floorAtSql(
               "CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c)", 6)}
             |    AS dup_pct
             |FROM (SELECT COUNT(*) AS c FROM $tbl GROUP BY $keys)"""
        s"""SELECT * FROM (
           |${per("documents", "doc_id").stripMargin}
           |UNION ALL ${per("events", "event_id").stripMargin}
           |UNION ALL ${per("lineitem",
               "l_orderkey, l_linenumber").stripMargin}
           |UNION ALL ${per("orders", "o_orderkey").stripMargin})
           |ORDER BY table_name""".stripMargin
      },


      // min-id survivor rule over the CC chain; docs outside the pair
      // graph never appear in comp, so the left join leaves them kept
      "q166_dedup_impact" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |$ccCte,
           |losers AS (SELECT doc_id FROM comp WHERE doc_id <> component),
           |d AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT)
           |    AS nt FROM documents)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_removed,
           |  CAST(SUM(nt) AS BIGINT) AS tokens_total,
           |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN nt ELSE 0 END)
           |    AS BIGINT) AS tokens_removed,
           |  ${Num.floorAtSql(
             "CAST(SUM(nt) - SUM(CASE WHEN l.doc_id IS NOT NULL " +
             "THEN nt ELSE 0 END) AS DOUBLE) / SUM(nt)", 6)}
           |    AS token_retention
           |FROM d LEFT JOIN losers l USING (doc_id)
           |GROUP BY source ORDER BY source""".stripMargin,


      // the three damped rounds unrolled as CTE pairs; every arithmetic
      // op is BIGINT `//`, mirroring the engine's `div` exactly. Nodes
      // iterate as BIGINTs (custkey*2 / suppkey*2+1, same encoding as
      // the engine); the 'c:'/'s:' label is derived only in the final
      // projection, and the top-25 tie-break orders by that label.
      "q137_pagerank" -> {
        val S = PrScale
        val D = PrDampPct
        val iter = (k: Int) =>
          s"""i$k AS (SELECT ew.dst AS node,
             |    CAST(sum(p.r * ew.w // ew.outw) AS BIGINT) AS inflow
             |  FROM ew JOIN r${k - 1} p ON ew.src = p.node GROUP BY 1),
             |r$k AS (SELECT nodes.node,
             |    (($S - $S * $D // 100) // n)
             |      + $D * COALESCE(inflow, CAST(0 AS BIGINT)) // 100 AS r
             |  FROM nodes CROSS JOIN nn
             |  LEFT JOIN i$k ON nodes.node = i$k.node)"""
        s"""WITH e0 AS (
           |  SELECT CAST(o_custkey AS BIGINT) * 2 AS src,
           |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst,
           |         CAST(1 AS BIGINT) AS w
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |eg AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
           |    SELECT src, dst, w FROM e0
           |    UNION ALL SELECT dst, src, w FROM e0)
           |  GROUP BY 1, 2),
           |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM eg
           |  GROUP BY 1),
           |ew AS (SELECT eg.src, eg.dst, eg.w, outw.outw
           |  FROM eg JOIN outw ON eg.src = outw.src),
           |nodes AS (SELECT DISTINCT src AS node FROM eg),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT node, $S // n AS r FROM nodes CROSS JOIN nn),
           |${iter(1).stripMargin},
           |${iter(2).stripMargin},
           |${iter(3).stripMargin}
           |SELECT node, r FROM (
           |  SELECT CASE WHEN node % 2 = 0 THEN 'c:' ELSE 's:' END
           |      || CAST(node // 2 AS VARCHAR) AS node, r
           |  FROM r3)
           |ORDER BY r DESC, node LIMIT 25""".stripMargin
      },


      "q138_pmi_collocations" ->
        s"""WITH tok AS (SELECT $cleanToks AS t
           |  FROM (SELECT $clean AS c FROM documents)),
           |uni AS (SELECT UNNEST(t) AS term FROM tok),
           |uc AS (SELECT term, count(*) AS c FROM uni GROUP BY 1),
           |bgl AS (SELECT UNNEST(${shinglesSql("t", 2)}) AS bigram
           |  FROM tok),
           |bc AS (SELECT bigram, count(*) AS c_ab FROM bgl GROUP BY 1
           |  HAVING count(*) >= 5),
           |tot AS (SELECT (SELECT count(*) FROM uni) AS n_uni,
           |               (SELECT count(*) FROM bgl) AS n_bg),
           |scored AS (SELECT bigram, c_ab, a.c AS c_a, b.c AS c_b,
           |    ${Num.floorAtSql(
               "ln((CAST(c_ab AS DOUBLE) / CAST(n_bg AS DOUBLE)) / " +
               "((CAST(a.c AS DOUBLE) / CAST(n_uni AS DOUBLE)) * " +
               "(CAST(b.c AS DOUBLE) / CAST(n_uni AS DOUBLE))))", 6)} AS pmi
           |  FROM bc CROSS JOIN tot
           |  JOIN uc a ON a.term = string_split(bigram, ' ')[1]
           |  JOIN uc b ON b.term = string_split(bigram, ' ')[2])
           |SELECT bigram, c_ab, c_a, c_b, pmi FROM scored
           |ORDER BY pmi DESC, bigram LIMIT 30""".stripMargin,


      // the q120 rank-selection oracle shape on events; within_bound is
      // the GK guarantee — TRUE by contract, integer-checked in-query
      "q139_approx_median_bound" ->
        """WITH r AS (SELECT event_type AS k, value AS x,
          |    row_number() OVER (PARTITION BY event_type ORDER BY value)
          |      AS rn,
          |    COUNT(*) OVER (PARTITION BY event_type) AS n
          |  FROM events)
          |SELECT k AS event_type,
          |  floor(AVG(x) * 10000) / 10000 AS p50, MAX(n) AS n,
          |  TRUE AS within_bound
          |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
          |GROUP BY k ORDER BY event_type""".stripMargin,


      // textbook dominance formulation; the engine's prefix-max answer
      // must equal it exactly (ties: equal points are NOT dominated)
      "q253_skyline" -> skylineOracleSql,

      // the two-level engine answers to the IDENTICAL oracle string —
      // binding both to one string makes divergence impossible
      "q256_skyline_ranged" -> skylineOracleSql,
      "q272_skyline_auto" -> skylineOracleSql
  )

  private val skylineOracleSql: String =
    """WITH ua AS (SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |      AS total_value
      |  FROM events GROUP BY 1)
      |SELECT user_id, n_events, total_value FROM ua a
      |WHERE NOT EXISTS (SELECT 1 FROM ua b
      |  WHERE b.n_events >= a.n_events
      |    AND b.total_value >= a.total_value
      |    AND (b.n_events > a.n_events
      |         OR b.total_value > a.total_value))
      |ORDER BY user_id""".stripMargin
}
