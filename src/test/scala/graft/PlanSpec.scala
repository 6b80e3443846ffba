package graft

/** Physical-plan assertions (SURVEY.md §4.2 "verify, don't build"): the
  * scale properties we rely on — column pruning into the parquet scan,
  * predicate pushdown, broadcast joins for dims, whole-stage codegen, and
  * no cartesian products where we expect key joins.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q13 star join broadcasts both dims (no shuffle join)") {
    val p = plan("q13_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 2, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01 scan reads only the needed lineitem columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") &&
      !readSchema.contains("l_partkey"), readSchema)
  }

  test("q02 filter keeps scan pruned and uses codegen") {
    val p = plan("q02_keyword_topn")
    // whole-stage codegen shows as "*(n)" stage markers in plan toString
    assert(p.contains("*(1)"), p.take(500))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text,") || readSchema.contains("text"),
      readSchema) // text needed for the filter itself
    assert(p.contains("TakeOrderedAndProject"),
      "top-N should be TakeOrderedAndProject, not global sort: " +
        p.take(500))
  }

  test("q40 topK broadcasts the query side (no shuffle of candidates)") {
    val p = plan("q40_topk_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q41 IVF probe is a broadcast hash join on the cell key") {
    val p = plan("q41_topk_ivf")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  // r18: corpus-sized queries end in presentLargeBy, whose lazy
  // localCheckpoint truncates the FINAL plan at a LogicalRDD leaf —
  // so pipeline pins here inspect the operator frame directly (the
  // q200 precedent), exactly what the registry wraps.
  test("q62 sessionize is a single shuffle on user_id") {
    val p = graft.ops.EventsOps
      .sessionize(Tables.load(spark, dir, "events"), 1800)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size <= 1, s"unexpected shuffles: $exchanges\n" +
      p.take(1200))
  }

  test("q109 repetition stats: doc-keyed aggs only, no cartesian") {
    val p = graft.ops.Text
      .repetitionStats(Tables.load(spark, dir, "documents"),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q110 quota sample pushes the per-domain rank limit below the " +
      "exchange (WindowGroupLimit) and broadcasts the tiny counts side") {
    val p = plan("q110_domain_quota")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q111 LSH-verify generates candidates via key joins only (no " +
      "all-pairs operator anywhere in the plan)") {
    val p = plan("q111_lsh_verified_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q78 repetition gate is an anti join against the loser set") {
    val p = plan("q78_prep_pipeline")
    assert(p.contains("LeftAnti"), p.take(1500))
  }

  test("q32 LSH self-join computes the signature pipeline once (reuse)") {
    val df = SparkEntry.queries("q32_minhash_pairs")(spark, dir)
    df.collect() // run THIS QueryExecution so AQE finalizes it with reuse
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      "minhash_sig".r.findAllIn(p).size <= 1,
      "expected exchange reuse in:\n" + p.take(1500))
  }

  test("q05 bucketed join: SortMergeJoin with no exchange on either side") {
    val p = plan("q05_bucketed_join")
    assert(p.contains("SortMergeJoin"), p.take(800))
    // the post-join groupBy shuffle is expected; the JOIN KEYS must not be
    // exchanged — bucketing already co-located them
    assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
      !p.contains("Exchange hashpartitioning(c_custkey"), p.take(1500))
    assert(p.contains("SelectedBucketsCount: 8 out of 8"), p.take(1500))
  }

  test("q04 partitioned read prunes lang at the partition level") {
    val p = plan("q04_partitioned_prune")
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p.take(1200))
  }

  test("q66 all window functions share one user_id shuffle") {
    val p = graft.ops.EventsOps
      .movingStats(Tables.load(spark, dir, "events"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size <= 1, s"unexpected shuffles: $exchanges\n" +
      p.take(1200))
  }

  test("q35 simhash banding self-join materializes signatures once") {
    val df = SparkEntry.queries("q35_simhash_dups")(spark, dir)
    df.collect() // run THIS QueryExecution so AQE finalizes it with reuse
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      "expected exchange reuse in:\n" + p.take(1500))
  }

  test("events scan pushes the event_type predicate down (q63 inputs)") {
    val df = Tables.load(spark, dir, "events")
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(event_type), " +
      "EqualTo(event_type,purchase)]"), p.take(800))
  }

  test("q81 correlated subqueries decorrelate to hash joins (no " +
    "per-row subquery execution)") {
    val p = plan("q81_exists_subquery")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("InSubquery") && !p.contains("exists#"),
      "subquery survived decorrelation:\n" + p.take(1200))
  }

  test("q89 orphan audit anti-joins broadcast the dim key side") {
    val p = plan("q89_integrity_orphans")
    assert("BroadcastHashJoin .* LeftAnti".r.findAllIn(p).size === 2,
      p.take(1200))
  }

  test("q83/q84/q88 event window family: one user_id shuffle each") {
    // pipeline frames pinned directly (presentLargeBy truncates the
    // final plan at the checkpoint leaf — see the q62 comment)
    val ev = Tables.load(spark, dir, "events")
    for ((q, df) <- Seq(
        "q83_range_frame" -> graft.ops.EventsOps.rangeMovingSum(ev, 600),
        "q84_lead_lag_gaps" -> graft.ops.EventsOps.eventGaps(ev),
        "q88_scd2_intervals" -> graft.ops.EventsOps.scd2Intervals(ev))) {
      val p = df.queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).toSeq
      assert(hashEx.size === 1, s"$q: expected exactly one user_id " +
        s"shuffle, got ${hashEx.size}:\n" + p.take(1200))
    }
  }

  test("registered q62/q66/q83/q84/q88/q109/q126/q127/q216/q217 end in " +
      "presentLargeBy: ONE range exchange on the presentation keys over " +
      "the checkpointed operator frame") {
    // the operator frames are pinned by the tests above; this pins what
    // the registry wraps around them — a corpus-sized result keeps the
    // distributed range sort (never a single-partition funnel), and the
    // range-sampling pass reads the materialized child (Scan ExistingRDD)
    // instead of recomputing the operator pipeline
    for ((q, keys) <- Seq(
        "q62_sessionize" -> Seq("user_id", "session_id"),
        "q66_moving_stats" -> Seq("user_id", "rn"),
        "q83_range_frame" -> Seq("user_id", "event_id"),
        "q84_lead_lag_gaps" -> Seq("user_id", "event_id"),
        "q88_scd2_intervals" -> Seq("user_id", "run_id"),
        "q109_quality_flags" -> Seq("doc_id"),
        "q126_segment_dedup" -> Seq("doc_id"),
        "q127_unigram_logprob" -> Seq("doc_id"),
        "q216_ewma" -> Seq("user_id", "event_id"),
        "q217_quantile_norm" -> Seq("doc_id"))) {
      val p = plan(q)
      assert("Exchange \\w+".r.findAllIn(p).toSeq ===
        Seq("Exchange rangepartitioning"), s"$q:\n${p.take(1500)}")
      val range = keys.map(k => s"$k#\\d+L? ASC NULLS FIRST")
        .mkString("rangepartitioning\\(", ", ", ", \\d+\\)")
      assert(range.r.findFirstIn(p).isDefined, s"$q:\n${p.take(1500)}")
      assert(p.contains("Scan ExistingRDD"), s"$q:\n${p.take(1500)}")
    }
  }

  test("q29 computes both percentiles in ONE aggregation buffer") {
    val p = plan("q29_quantiles")
    assert("percentile\\(".r.findAllIn(p).size <= 2,  // partial+final of one agg
      "two separate percentile buffers:\n" + p.take(1200))
  }

  test("q101 snapshot diff is a sort-merge FULL OUTER join on the key " +
    "(neither snapshot broadcasts)") {
    val p = plan("q101_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      p.take(1200))
    assert(!p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q102 typed top-k plans as an object hash aggregate, NOT a " +
    "window sort over all pairs") {
    val p = plan("q102_topk_agg")
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(!p.contains("Window"), "window plan crept back in:\n" +
      p.take(1200))
  }

  test("q103/q76 sampling plans use TakeOrderedAndProject (partial " +
    "per-partition top-n, no global sort)") {
    for (q <- Seq("q103_weighted_sample", "q76_det_sample")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n" + p.take(1200))
    }
  }

  test("q117 mixture sample is a scan-local filter: the only exchange is " +
    "the final ORDER BY") {
    val p = plan("q117_mixture_sample")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size <= 1 &&
      exchanges.forall(_.contains("rangepartitioning")),
      s"sampling itself must not shuffle: $exchanges\n" + p.take(1200))
  }

  test("q118 OOV join broadcasts the vocabulary side") {
    val p = plan("q118_vocab_oov")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q119 dup-ngram share: df is a partial-aggregated groupBy joined " +
    "back on the shingle key — no count window, no cartesian") {
    val p = plan("q119_dup_ngram_share")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // a count window over the shingle has no partial aggregation — a hot
    // boilerplate shingle would buffer on one reducer at corpus scale
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition(sh#"),
      "count window over the shingle key crept back in:\n" + p.take(1500))
  }

  test("q116 incremental merge re-aggregates state rows only (two " +
    "partial states union into one final agg, no join)") {
    val p = plan("q116_incremental_agg")
    assert(p.contains("Union"), p.take(1200))
    assert(!p.contains("Join"), "state merge must be agg-only:\n" +
      p.take(1200))
  }

  test("q124 negative sampling broadcasts anchors and prunes to k per " +
    "anchor before the rank shuffle") {
    val p = plan("q124_negative_sample")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("runtime bloom filter injects on a shuffle join with a selective " +
    "build side (the 100 TB fact-join reduction)") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // tiny fixtures need the thresholds opened up: forbid broadcast (a
      // broadcast join already prunes via the hash relation), allow any
      // creation-side size, and require no minimum scan size
      conf.set(keys(0), "-1")
      conf.set(keys(1), "100MB")
      conf.set(keys(2), "0")
      val li = Tables.load(spark, dir, "lineitem")
      val ord = Tables.load(spark, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_orderpriority")
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("bloom"),
        "expected a bloom runtime filter on the fact side:\n" +
          optimized.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q131 probes the bloom at the big side's scan and closes with a " +
      "semi join") {
    val p = plan("q131_bloom_prune")
    // the might_contain filter must sit on the lineitem scan side,
    // BEFORE any exchange — pruning after the shuffle would defeat the
    // whole semi-join reduction
    val probeIdx = p.indexOf("might_contain")
    assert(probeIdx >= 0, p.take(1200))
    assert(p.contains("LeftSemi"), p.take(1200))
    // the probe must sit DIRECTLY over the big side's scan: plan toString
    // prints parents above children, so any Exchange between the
    // might_contain filter line and the scan line it guards means the
    // probe runs on post-shuffle rows — defeating the semi-join
    // reduction. (A plain `probeIdx vs first Exchange` comparison is
    // wrong in both directions: the final ORDER BY's exchange prints
    // before the join subtree, and the build side's BroadcastExchange
    // prints after the streamed side.)
    val scanIdx = p.indexOf("Scan", probeIdx)
    assert(scanIdx > probeIdx,
      "no scan below the bloom probe:\n" + p.take(1500))
    val between = p.substring(probeIdx, scanIdx)
    assert(!between.contains("Exchange"),
      "Exchange between the bloom probe and the scan it guards — " +
        "probe runs post-shuffle:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("q125 semdedup: cell-keyed joins only — no cartesian, no " +
      "nested-loop; the kmeans argmax is a projection, not a join") {
    val p = plan("q125_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q126 segment dedup: hash window + doc agg + sort, no join") {
    val p = graft.ops.Curate
      .dedupSegments(Tables.load(spark, dir, "documents"),
        "doc_id", "text", segTokens = 16)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size <= 2, s"${exchanges.size} exchanges:\n${p.take(1500)}")
    assert(!p.contains("Join"), p.take(1500))
  }

  test("q127 unigram log-prob: term frequency is a partial-aggregated " +
      "groupBy joined back (never a count window on the hot term key); " +
      "corpus total broadcasts") {
    val p = graft.ops.Curate
      .unigramLogProb(Tables.load(spark, dir, "documents"),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(1500))
    // stopwords are the hottest keys in any corpus: tf MUST pre-combine
    // map-side (partial_count), and no window may partition by term
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition(term"),
      "count window over the term key crept back in:\n" + p.take(1500))
  }

  test("q136 CMS: the counter matrix BROADCASTS to the probe side and " +
      "every count is a partial+final hash agg — no window, no " +
      "shuffle of the probe join") {
    val p = plan("q136_cms_heavy_hitters")
    // the probe join keys on (r, b) and the matrix side broadcasts
    assert("BroadcastHashJoin \\[r#\\d+, b#\\d+\\]".r.findFirstIn(p).isDefined,
      p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition"), p.take(1500))
    // the only sort-merge allowed is the d*w-row cell-diff FULL OUTER
    // (full outer cannot broadcast); the corpus-side joins must not SMJ
    val smj = "SortMergeJoin.*".r.findAllIn(p).toSeq
    assert(smj.forall(_.contains("FullOuter")), smj.mkString("\n"))
  }

  test("q138 PMI: unigram/bigram counts partial-aggregate (hot terms " +
      "pre-combine map-side), ranking is TakeOrderedAndProject, no " +
      "cartesian pair space") {
    val p = plan("q138_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q139 verified approx median: the GK sketch is a partial+final " +
      "ObjectHashAggregate and the rank check joins the tiny approx " +
      "side by BROADCAST (the corpus never shuffles for it)") {
    val p = plan("q139_approx_median_bound")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // exactly one exchange feeds the rank-selection window family
    assert(p.contains("windowspecdefinition(event_type"), p.take(1500))
  }

  test("q142 triangle census: every join is keyed (no cartesian, no " +
      "BNL), wedge count comes from partial-aggregated degrees, not a " +
      "window") {
    val p = plan("q142_triangle_census")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    // the only nested-loop allowed is the final 1-row×1-row stat glue
    assert(!p.contains("windowspecdefinition(node"), p.take(1500))
  }

  test("q146 source overlap: the (source, shingle) frame partial-" +
      "aggregates before the self-join; totals come back by broadcast") {
    val p = plan("q146_source_overlap")
    assert(p.contains("partial_count"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q148 key profile: groupBy(key).count partial-aggregates (the " +
      "profiler can never be the straggler it hunts) and no key window " +
      "exists") {
    val p = plan("q148_key_profile")
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition"), p.take(1500))
  }

  test("q149 interval overlap: the binned join is an EQUI hash join on " +
      "the manufactured cell key — never BNL/cartesian on the raw " +
      "overlap predicate") {
    val p = plan("q149_interval_overlap")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("__cell"), p.take(1500))
  }

  test("q151 vocab entropy: (group, term) counts partial-aggregate " +
      "map-side — a stopword collapses before the exchange") {
    val p = plan("q151_vocab_entropy")
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("CT lang-ID builder: the doc-profile scoring join broadcasts " +
      "the |langs|*k language profile; the argmin window is " +
      "WindowGroupLimit-pruned (q170's query plans as the artifact's " +
      "checkpoint scan, so pin the builder directly)") {
    val p = graft.ops.Text.langIdNgram(
        Tables.load(spark, dir, "documents"), "doc_id", "lang", "text",
        k = 40)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q176 BM25 retrieval: query terms broadcast onto the postings " +
      "(corpus reduced before dl/df join in); top-k per query is " +
      "WindowGroupLimit-pruned; no cartesian") {
    val p = plan("q176_bm25_retrieval")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q177 corr matrix: ONE scan of lineitem feeds all pair sums " +
      "(the pair selects read the checkpointed 1-row state)") {
    val p = plan("q177_corr_matrix")
    // the union of 6 pair projections must contain no parquet re-scan:
    // every branch reads the checkpointed aggregate (Scan ExistingRDD)
    assert(!p.contains("Scan parquet"), p.take(1500))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 6, p.take(1500))
  }

  test("q179 ingest delta pairs: keyed joins only — no cartesian, no " +
      "BNL; the STANDING band frame is an artifact-store parquet read, " +
      "not a signatures() recompute (q179's candidate stage checkpoints, " +
      "so pin the standing side's own plan directly)") {
    val p = plan("q179_ingest_delta_pairs")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    val sb = graft.ops.Artifacts.standingBands(spark, dir, k = 8, bands = 4)
      .queryExecution.executedPlan.toString
    assert(sb.contains("graft-artifacts"), sb.take(1500))
    assert(!sb.toLowerCase.contains("minhash"), sb.take(1500))
  }

  test("q189 cluster cap: the per-component ranking is WindowGroupLimit-" +
      "pruned — a boilerplate mega-cluster streams through the top-n " +
      "limit instead of buffering on one reducer") {
    val p = plan("q189_cluster_cap")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q135 admission: the standing sig-key table is an artifact-store " +
      "parquet read; the batch anti-joins it (admission cost ∝ batch)") {
    val p = plan("q135_dedup_admission")
    assert(p.contains("graft-artifacts"), p.take(1500))
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q192 KS: the single-partition ECDF window runs AFTER the " +
      "value-domain aggregation (partial_sum pre-combines on the raw " +
      "scan; the ordered pass sees |distinct x| rows, not rows)") {
    val p = plan("q192_ks_two_sample")
    assert(p.contains("partial_sum"), p.take(1500))
    assert(p.contains("Exchange SinglePartition"), p.take(1500))
    // the window must consume the aggregate's output, so a HashAggregate
    // appears earlier in the plan text than the Window operator
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.indexOf("Window") > p.indexOf("HashAggregate"), p.take(1500))
  }

  test("q194 BOW dedup: one hash shuffle on the 32-char key plus the " +
      "final order — the token sort/hash never leaves the scan " +
      "projection") {
    val p = plan("q194_bow_dedup")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size <= 2, s"unexpected shuffles: $exchanges\n" +
      p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q197 common run: keyed joins only (no cartesian/BNL); islands " +
      "window partitions on (pair, diagonal), never globally") {
    val p = plan("q197_common_run")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("Exchange SinglePartition"),
      "a global window crept into the island detection:\n" + p.take(1500))
  }

  test("q200 bigram log-prob: tf and context counts partial-aggregate " +
      "(hot boilerplate bigrams pre-combine map-side; no count window " +
      "on the bigram key; q200's query plans as the artifact's parquet " +
      "scan once the store is warm, so pin the builder directly)") {
    val p = graft.ops.Curate.bigramLogProb(
        Tables.load(spark, dir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("windowspecdefinition(bg"),
      "count window over the bigram key crept back in:\n" + p.take(1500))
    assert(!p.contains("windowspecdefinition(w1"), p.take(1500))
  }

  test("q202 vocab coverage: the rank window consumes the partial-" +
      "aggregated vocabulary frame, not the token stream") {
    val p = plan("q202_vocab_coverage")
    assert(p.contains("partial_count"), p.take(1500))
    assert(p.indexOf("Window") > p.indexOf("HashAggregate"), p.take(1500))
  }

  test("q210 zone-map audit: the only nested-loop joins are the " +
      "broadcast 1-row bounds/preds frames — no sort-merge, no true " +
      "cartesian on data") {
    val p = plan("q210_zonemap_audit")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q211 multi-block pairs: three shuffle-hash block joins, no " +
      "cartesian/BNL — candidates never leave their blocks") {
    val p = plan("q211_multiblock_pairs")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("ShuffledHashJoin".r.findAllIn(p).size === 3, p.take(1500))
  }

  test("q212 incremental merge: both side states partial-aggregate " +
      "before the union merge; no joins at all") {
    val p = plan("q212_incr_agg_merge")
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
  }

  test("q214 join preflight: histogram-sized joins only — the " +
      "totals frame broadcasts, nothing sort-merges the raw events") {
    val p = plan("q214_join_preflight")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q216 EWMA: ONE hash exchange on user_id feeds the bounded " +
      "window — no global window, no extra shuffle") {
    val p = graft.ops.EventsOps
      .ewmaBounded(Tables.load(spark, dir, "events"), depth = 16)
      .queryExecution.executedPlan.toString
    // a window collapsing to one partition would show up as an
    // ENSURE_REQUIREMENTS SinglePartition exchange
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      p.take(1500))
  }

  test("q217 quantile normalization: the per-source rank window " +
      "never collapses to a single partition") {
    val p = graft.ops.Curate
      .quantileNormalize(Tables.load(spark, dir, "documents"),
        "doc_id", "source", "n_chars")
      .queryExecution.executedPlan.toString
    // the window itself must not collapse (no ENSURE_REQUIREMENTS
    // single-partition exchange)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      p.take(1500))
  }

  test("q220 term burstiness: (doc, term) tf partial-aggregates " +
      "map-side; top-k is WindowGroupLimit-free (global sort of the " +
      "vocab-sized frame only)") {
    val p = plan("q220_term_burstiness")
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
  }

  test("q209 spearman is JOIN-FREE: both rank windows share one hash " +
      "exchange on the group key (the round-8 shape joined the raw " +
      "frame against two row-sized rank tables)") {
    val p = plan("q209_spearman")
    assert(!p.contains("Join"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      p.take(1500))
    assert("Window \\[".r.findAllIn(p).size === 2, p.take(1500))
  }

  test("q224 phrase postings: phrase ranking is a vocab-sized agg + " +
      "TakeOrderedAndProject; the (phrase,doc) groupBy runs AFTER the " +
      "broadcast top-K filter (its keys carry the joined total)") {
    val p = plan("q224_phrase_postings")
    assert("Generate explode".r.findAllIn(p).size === 2, p.take(1500))
    assert(p.contains("TakeOrderedAndProject(limit=3"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // join-below-aggregate proof: the postings agg groups by the
    // broadcast-joined `total` alongside (phrase, doc_id)
    assert("HashAggregate\\(keys=\\[phrase#\\d+, total#\\d+L, doc_id"
      .r.findAllIn(p).nonEmpty, p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("q229 multi-probe IVF: candidates NEVER shuffle (probe side " +
      "broadcasts onto the cell key); centroids broadcast; per-(p,q) " +
      "top-5 is WindowGroupLimit-pruned") {
    val p = plan("q229_ivf_multiprobe")
    assert(p.contains("BroadcastHashJoin [cell#"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // exactly two broadcast-nested-loop fans: the tiny centroid set
    // onto the queries, and the 1-row n_truth scalar onto the stats
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 2,
      p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q232 OR-amplified LSH: candidates never shuffle (query side " +
      "broadcasts on the (table, bucket) key); the first-match-wins " +
      "dedup adds NO pair-keyed exchange") {
    val p = plan("q232_lsh_tables_sweep")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // a distinct-based dedup would aggregate the candidate-pair stream
    // on (q_id, c_id) BEFORE scoring; the scan-local bucket-array
    // filter must not (the only pair-keyed op allowed is the tiny
    // ≤50-row hit join against the truth set, which is a join, not an
    // aggregate)
    assert(!"HashAggregate\\(keys=\\[q_id#\\d+L?, c_id#".r.findFirstIn(p)
      .isDefined, p.take(2000))
  }

  test("q234 JPEG decode is scan-local: typed mapPartitions, no joins, " +
      "no exchange; the full query keeps a scale-safe RANGE sort over " +
      "the materialized decode (never a one-task funnel)") {
    // pipeline pin (pre-present): decode is scan-local
    val media = graft.ops.Jpeg.jpegMediaFromDocuments(
      Tables.load(spark, dir, "documents"))
    val p = graft.ops.Jpeg.decodeJpegs(media).toDF()
      .queryExecution.executedPlan.toString
    assert(p.contains("MapPartitions"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
    assert("Exchange".r.findAllIn(p).isEmpty, p.take(1200))
    // full-query pin (r18, verdict #1): presentation is a RANGE sort
    // over the checkpointed decode — the sampling pass reads persisted
    // blocks (ExistingRDD) instead of decoding every JPEG twice, and
    // the corpus-sized result is never repartition(1)-funneled
    val q = plan("q234_jpeg_decode")
    assert(q.contains("rangepartitioning"), q.take(1200))
    assert(q.contains("ExistingRDD"), q.take(1200))
    assert(!q.contains("Exchange SinglePartition, REPARTITION_BY_NUM"),
      q.take(1200))
  }

  test("q244 MMR is ONE execution: the relevance pairs are a " +
      "broadcast nested-loop join, then one q_id shuffle feeds the " +
      "per-query greedy kernel — no sort-merge join, no cartesian") {
    // every execution the collect triggers is captured (a per-round
    // plan would show up here as a second QueryExecution)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries("q244_mmr_rerank")(spark, dir).collect()
      // listener bus is async — drain it deterministically instead of
      // a busy-wait deadline (which went flaky-red on loaded hosts)
      org.apache.spark.grafttest.TestBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    val all = plans.toArray.map(_.toString).mkString("\n---\n")
    assert(plans.size === 1, s"expected one executed plan:\n${all.take(3000)}")
    assert(!all.contains("SortMergeJoin"), all.take(1500))
    assert(!all.contains("CartesianProduct"), all.take(1500))
    assert(all.contains("BroadcastNestedLoopJoin"), all.take(1500))
    assert(all.contains("MapGroups"), all.take(1500))
  }

  test("q238 BPE encoder: the corpus joins the merged dictionary by " +
      "BROADCAST — no sort-merge join, no corpus-side join shuffle") {
    val p = plan("q238_bpe_encode")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    // exchanges: the per-doc agg's hash exchange + the final order's
    // range exchange + the dictionary's own (vocab-sized) agg exchange.
    // The corpus side must reach the join with NO exchange between the
    // scan and the BroadcastHashJoin; weaker but plan-stable proof:
    // exactly one rangepartitioning and the join's build side is the
    // broadcast exchange.
    assert(p.contains("BroadcastExchange"), p.take(1500))
  }

  test("PQ code scan: the native assign/LUT expressions stay inside " +
      "whole-stage codegen (no CodegenFallback in the encode projection)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    val books = graft.ops.Sim.pqCodebooks(emb, 4, 8, 0)
    val enc = graft.ops.Sim.pqEncode(emb, books)
    val p = enc.queryExecution.executedPlan.toString
    // the projection compiles into a codegen stage — a fallback would
    // print the expression OUTSIDE any *(n) stage marker
    assert(p.contains("*(1)"), p.take(800))
    assert(p.contains("pq_assign"), p.take(800))
    // the ADC retriever's scan side likewise: codes scan + broadcast of
    // the LUT side, never a shuffle of the corpus
    val q = emb.where(col("vec_id") < 10)
    val topk = graft.ops.Sim.pqTopK(q, emb, books, 5)
    val tp = topk.queryExecution.executedPlan.toString
    assert(tp.contains("BroadcastNestedLoopJoin") ||
      tp.contains("BroadcastHashJoin"), tp.take(1200))
    assert(!tp.contains("SortMergeJoin"), tp.take(1200))
  }

  test("q269 weighted sample is a map-side-partial WindowGroupLimit: " +
      "only k rows per partition per source reach the rank reducer") {
    val p = plan("q269_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(p.contains("Partial"), p.take(1500))
    // the priority is scan-local — no join, no extra shuffle beyond the
    // per-source rank exchange and the final presentation sort
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(1500))
  }

  test("q274 budgeted sample keeps the map-side WindowGroupLimit (static " +
      "target cap) and BROADCASTS the sources-sized allocation") {
    val p = plan("q274_budgeted_sample")
    assert(p.contains("WindowGroupLimit"), p.take(1800))
    assert(p.contains("Partial"), p.take(1800))
    assert(p.contains("BroadcastHashJoin"), p.take(1800))
    assert(!p.contains("SortMergeJoin"), p.take(1800))
  }

  test("q277 Gram pass partial-aggregates before its exchange (the " +
      "per-doc bucket-pair expansion is eaten map-side, never shipped)") {
    val df = SparkEntry.queries("q277_quality_probe")(spark, dir)
    // the output is driver-built; the plan under test is the Gram
    // aggregation itself
    val feats = {
      val docs = Tables.load(spark, dir, "documents")
      val base = docs.select(org.apache.spark.sql.functions.col("doc_id")
        .as("id"),
        graft.ops.Text.cleanTokens(
          org.apache.spark.sql.functions.col("text")).as("t"))
      base
    }
    assert(df.collect().length === 33) // surface sanity
    // the Gram groupBy must show a Partial aggregate below the shuffle
    // — recompute the pair frame's plan directly
    import org.apache.spark.sql.functions._
    val tokCnt = feats.select(col("id"), explode(col("t")).as("tok"))
      .select(col("id"), (conv(substring(md5(col("tok")), 1, 12), 16, 10)
        .cast("bigint") % 32).cast("int").as("b"))
      .groupBy("id", "b").agg(count(lit(1)).as("c"))
    val f1 = tokCnt.select(col("id"), col("b").as("bi"), col("c").as("ci"))
    val f2 = tokCnt.select(col("id"), col("b").as("bj"), col("c").as("cj"))
    val p = f1.join(f2, "id")
      .groupBy("bi", "bj").agg(sum(col("ci") * col("cj")).as("s"))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), p.take(1800))
    assert(!p.contains("CartesianProduct"), p.take(1800))
  }

  test("q278 ExactSubstr: the interval-union window is PARTITIONED by " +
      "doc (no single-partition global window) and the repeated-gram " +
      "join is a key join, never a cartesian") {
    val p = plan("q278_repeated_substring")
    val windows = "Window ".r.findAllIn(p).size +
      "RunningWindowFunction".r.findAllIn(p).size
    assert(p.contains("Window"), p.take(1800))
    // every window partition spec must name the doc key
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach {
      l => assert(l.contains("id"), s"unpartitioned window: $l")
    }
    assert(!p.contains("CartesianProduct"), p.take(1800))
    assert(windows >= 1)
  }

  test("q286 dispatcher on the fixture routes to the exact broadcast " +
      "engine (tiny eval set) — the bloom probe must be absent") {
    val p = plan("q286_decontaminate_auto")
    assert(!p.contains("bloom_might_contain_str"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q328 tiered serve keeps term-bucket pruning on BOTH physical " +
      "layouts: the base segment's shared chain root and the merged " +
      "tail's tiered root each scan tf with a tbkt partition filter " +
      "and the query-term pushdown — the union never widens a scan") {
    val p = plan("q328_lex_tiered_execute")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("graft-lexidxtier"),
      "the tiered arm must serve from the tiered root")
    val tfScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("/tf]")).toSeq
    assert(tfScans.nonEmpty, p.take(1500))
    tfScans.foreach { l =>
      assert(l.contains("PartitionFilters: [tbkt") ||
        l.contains("isnotnull(tbkt"),
        s"tf scan lost its bucket pruning: ${l.take(400)}")
      assert(l.contains("In(term"),
        s"tf scan lost the term pushdown: ${l.take(400)}")
    }
  }

  test("q327/q330/q331 takedown masks are BROADCAST anti-joins — " +
      "batch-sized tombstones never shuffle the postings they mask") {
    Seq("q327_ann_compaction_execute", "q330_hybrid_takedown_serve",
        "q331_epoch_takedown_serve").foreach { q =>
      val p = plan(q)
      assert("LeftAnti, BuildRight".r.findAllIn(p).nonEmpty,
        s"$q: no broadcast anti mask\n${p.take(1200)}")
      assert(!p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
        s"$q: a tombstone mask fell back to a shuffled anti-join")
      assert(!p.contains("CartesianProduct"), q)
    }
  }
}
