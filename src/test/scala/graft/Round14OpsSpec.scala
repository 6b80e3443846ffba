package graft

import org.apache.spark.sql.functions._

/** Round-14 additions: the multi-probe semantic-decontamination
  * default (q289 at probes = 2 — the r13 weak mark), the durable
  * AnnIndex delta-append lifecycle, the fused-recall knob sweep, and
  * the corpus-scaled quantizer-cell policy.
  */
class Round14OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("decontaminateSemantic multi-probe catches the cell-boundary " +
      "contamination own-cell-only provably misses: an eval doc whose " +
      "exact train twin sits in a NEIGHBORING cell is found at " +
      "probes = 2 and lost at probes = 1") {
    import spark.implicits._
    // hand-assigned cells (embCells arrives pre-assigned by contract):
    // eval 100 sits in cell 0, its EXACT duplicate train 2 in cell 1 —
    // the pair straddles the cell boundary, the precise failure mode
    // q290 measures at 0.29-0.46 recall for the own-cell-only scan
    val frame = Seq(
      (1L, Seq(1.0f, 0.1f), 0),
      (2L, Seq(0.96f, 0.28f), 1),
      (3L, Seq(0.2f, 1.0f), 1),
      (100L, Seq(0.96f, 0.28f), 0))
      .toDF("vec_id", "embedding", "cell")
    val isEval = col("vec_id") >= 100
    val p1 = ops.Curate.decontaminateSemantic(frame, isEval,
        threshold = 0.999, probes = 1)
      .collect()
    assert(p1.isEmpty,
      "own-cell-only must MISS the boundary pair (that miss is the " +
        s"whole point of the probes knob): ${p1.mkString(",")}")
    val p2 = ops.Curate.decontaminateSemantic(frame, isEval,
        threshold = 0.999, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(p2.toSeq === Seq((2L, 100L, 1.0)),
      "probes = 2 must find the exact twin across the boundary")
  }

  test("registered q289 IS the probed engine: it equals a direct " +
      "decontaminateSemantic(probes = 2) over the stored postings + " +
      "stored probe geometry, and the probed pair scan is a strict " +
      "superset of the own-cell scan's candidates on the fixture") {
    val got = SparkEntry.queries("q289_semantic_decontaminate")(
      spark, dir).collect().toSeq
    val direct = ops.Curate.decontaminateSemantic(
        ops.AnnIndex.cells(spark, dir),
        isEval = col("vec_id") % 97 === 0, threshold = 0.25, probes = 2,
        probeCents = Some(ops.AnnIndex.probeCentroids(spark, dir)))
      .orderBy(col("sim").desc, col("train_id"), col("eval_id"))
      .collect().toSeq
    assert(got === direct)
    // the fix must be REAL on the fixture: the probed form sees pairs
    // the own-cell form cannot (before the ranked cut both are
    // supersets; compare the uncut pair sets via a generous topK)
    val own = ops.Curate.decontaminateSemantic(
        ops.AnnIndex.cells(spark, dir),
        isEval = col("vec_id") % 97 === 0, threshold = 0.25, probes = 1,
        topK = 1000000)
      .select("train_id", "eval_id")
    val probed = ops.Curate.decontaminateSemantic(
        ops.AnnIndex.cells(spark, dir),
        isEval = col("vec_id") % 97 === 0, threshold = 0.25, probes = 2,
        topK = 1000000)
      .select("train_id", "eval_id")
    assert(own.exceptAll(probed).count() === 0,
      "probed candidates must be a superset of own-cell candidates")
    assert(probed.exceptAll(own).count() > 0,
      "probes = 2 must add boundary pairs on the fixture — otherwise " +
        "the registered default is still the half-blind one")
  }

  test("AnnIndex append history: v0 is the standing index only, the " +
      "append NEVER moves standing postings (v1's base rows are v0's " +
      "rows exactly), the delta rows are the frozen-quantizer encoder " +
      "output, and the merged head summarizes to the in-memory " +
      "frozen-append monitor — one contract, three engines") {
    val emb = Tables.load(spark, dir, "embeddings")
    val v0 = ops.AnnIndex.postingsAsOf(spark, dir, 0L)
    val v1 = ops.AnnIndex.postingsAsOf(spark, dir, 1L)
    assert(v0.where(col("is_delta")).count() === 0,
      "v0 must hold the pre-append standing index only")
    val v1base = v1.where(!col("is_delta"))
    assert(v1base.exceptAll(v0).count() === 0 &&
      v0.exceptAll(v1base).count() === 0,
      "an append must not reassign or rewrite standing postings")
    // delta rows = the deterministic assign+encode under the stored
    // frozen quantizer (read-back ≡ rebuild — the restart contract)
    val deltaExpect = ops.AnnIndex.assignUnderStored(spark, dir,
        emb.where(ops.Sim.frozenDeltaSplit))
      .withColumn("is_delta", lit(true))
      .select(v1.columns.map(col): _*)
    val v1delta = v1.where(col("is_delta"))
    assert(v1delta.exceptAll(deltaExpect).count() === 0 &&
      deltaExpect.exceptAll(v1delta).count() === 0)
    // the merged head serves q280's exact contract
    val merged = ops.Sim.ivfSummarize(
        v1.select(col("is_delta"), col("cell"), col("sim_e9")), 8)
      .orderBy("cell").collect().toSeq
    val inMemory = ops.Sim.ivfFrozenAppendStored(emb,
        ops.Sim.frozenDeltaSplit,
        ops.AnnIndex.centroids(spark, dir, "base"), k = 8)
      .orderBy("cell").collect().toSeq
    assert(merged === inMemory)
    // time-travel: v0's summary is the delta-free monitor
    val v0sum = ops.Sim.ivfSummarize(
        v0.select(col("is_delta"), col("cell"), col("sim_e9")), 8)
      .collect()
    assert(v0sum.forall(r => r.getLong(2) === 0L && r.getLong(4) === 0L),
      "the pre-append version must show zero delta mass")
  }

  test("hybridFusedRecallSweep's (probes=2, listK=20) cell IS q288's " +
      "single measurement — the sweep surface and the point estimate " +
      "are one engine, and every config emits exactly one row") {
    val km = ops.AnnIndex.cells(spark, dir)
    val books = ops.AnnIndex.books(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
    val coded = Some((ops.AnnIndex.codes(spark, dir),
      ops.AnnIndex.probeCentroids(spark, dir)))
    val lexStore = Some(ops.LexIndex.frames(spark, dir))
    val sweep = ops.Sim.hybridFusedRecallSweep(docs, km, books,
        cacheKey = Some(dir), coded = coded, lexStore = lexStore)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(sweep.size === 12, "4 probes x 3 listKs, one row each")
    val point = ops.Sim.hybridFusedRecall(docs, km, books,
        cacheKey = Some(dir), coded = coded, lexStore = lexStore)
      .collect().head
    assert(sweep((2, 20)) ===
      ((point.getLong(0), point.getLong(1), point.getLong(2),
        point.getDouble(3))),
      "the sweep's (2, 20) cell must equal the q288 point estimate")
  }

  test("semanticDeconRecallCoverage: budgets are max(1, ceil(k*f)), " +
      "each row is the semanticDeconRecall row at that budget, and " +
      "recall is monotone in coverage within a policy") {
    val emb = Tables.load(spark, dir, "embeddings")
    val isEval = col("vec_id") % 97 === 0
    val rows = ops.Curate.semanticDeconRecallCoverage(emb, isEval,
        threshold = 0.25, fracs = Seq(0.125, 0.25),
        cacheKey = Some(dir))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getInt(3), r.getDouble(7)))
      .sortBy(t => (t._1, t._3))
    assert(rows.length === 4, "2 policies x 2 fractions, one row each")
    val n = emb.count()
    val kS = math.ceil(math.sqrt(n.toDouble)).toInt
    rows.foreach { case (policy, k, f, probes, recall) =>
      assert(k === (if (policy == "fixed8") 8 else kS))
      assert(probes === math.max(1, math.ceil(k * f).toInt),
        s"budget arithmetic for ($policy, $f)")
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // probed candidate sets grow with the budget, so within a policy
    // recall at f = 1/4 dominates f = 1/8 — a structural invariant of
    // the min-wins pmin slicing, not a tuning outcome
    Seq("fixed8", "scaled_sqrt").foreach { pol =>
      val byF = rows.filter(_._1 == pol).sortBy(_._3).map(_._5)
      assert(byF(0) <= byF(1), s"$pol recall must be monotone in f")
    }
    // the fixed8 arm IS the q290 harness at the same probe count:
    // its f = 1/4 row (probes = 2) must equal semanticDeconRecall's
    // probes = 2 row over the same assignment
    val direct = ops.Curate.semanticDeconRecall(
        ops.Sim.kmeansCellsCached(emb, 8, 2, dir), isEval,
        threshold = 0.25, maxProbes = 2)
      .where(col("probes") === 2).collect().head.getDouble(4)
    val fx25 = rows.find(t => t._1 == "fixed8" && t._3 == 0.25).get._5
    assert(fx25 === direct,
      "fixed8@f=1/4 must be the q290-engine probes=2 measurement")
  }

  test("ingest cycle (q297): the incremental composition — store-read " +
      "admission, store-read delta pairs, incremental CC fold — equals " +
      "a from-scratch batch rebuild (in-line admission, full re-pair, " +
      "converged CC) over the post-ingest corpus") {
    val got = SparkEntry.queries("q297_ingest_cycle")(spark, dir)
      .collect().toSeq
    val docs = Tables.load(spark, dir, "documents")
    val standing = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    // the independent path: NO artifact stores, no incremental engines
    val admitted = ops.Dedup.admitBySignature(standing, batch,
        "doc_id", "text", k = 8)
      .select("doc_id")
    val corpus = standing.unionByName(
      batch.join(admitted, Seq("doc_id"), "left_semi"))
    val pairs = ops.Dedup.lshVerifiedPairs(corpus, "doc_id", "text",
      k = 8, bands = 4, minJaccard = 0.2)
    val comp = ops.Dedup.componentsConverged(pairs).localCheckpoint()
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("n_members"))
    val rebuilt = comp.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("n_members"),
        (col("doc_id") === col("component")).as("is_survivor"))
      .orderBy("doc_id")
      .collect().toSeq
    assert(got.nonEmpty, "fixture must exercise the cycle")
    assert(got === rebuilt,
      "incremental ingest cycle must equal the batch rebuild")
  }

  test("q298 ships q296's measured sizing policy: the registered " +
      "output equals decontaminateSemantic at k = ceil(sqrt(n)), " +
      "probes = max(2, ceil(k/4)) over a FRESH (uncached) quantizer") {
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val probes = math.max(2, math.ceil(k * 0.25).toInt)
    assert(probes >= 2, "quarter-coverage must stay multi-probe")
    val got = SparkEntry.queries("q298_semantic_decon_scaled")(
      spark, dir).collect().toSeq
    val direct = ops.Curate.decontaminateSemantic(
        ops.Sim.kmeansCells(emb, k, 2),
        isEval = col("vec_id") % 97 === 0, threshold = 0.25,
        probes = probes)
      .orderBy(col("sim").desc, col("train_id"), col("eval_id"))
      .collect().toSeq
    assert(got.nonEmpty, "fixture must surface audit pairs")
    assert(got === direct,
      "registered engine must be the sized policy over the shared memo")
  }

  test("q299: serving from the maintained merged head equals serving " +
      "from the from-scratch snapshot base store bit-for-bit, and the " +
      "head scan reads code bytes only (no embedding, no audit cols)") {
    val got = SparkEntry.queries("q299_ann_index_serve")(spark, dir)
    val rows = got.collect().toSeq
    // the snapshot reference runs at the SAME measured sizing the
    // registered serving path derives (r15: k = ceil(sqrt(n)),
    // probes = max(2, ceil(k/4)) — the store no longer serves fixed
    // k=8)
    val (k, probes) = ops.AnnIndex.sizedParams(spark, dir)
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
      .join(ops.AnnIndex.cells(spark, dir, tag = "base", k = k)
        .select("vec_id", "cell"), Seq("vec_id"))
    val snapshot = ops.Sim.topKIvfAdcCoded(queries,
        ops.AnnIndex.codes(spark, dir, tag = "base", k = k),
        ops.AnnIndex.probeCentroids(spark, dir, tag = "base", k = k),
        ops.AnnIndex.books(spark, dir, tag = "base", k = k), k = 5,
        probes = probes)
      .select(col("q_id"), col("c_id"), col("rk"))
      .orderBy("q_id", "rk").collect().toSeq
    assert(rows.nonEmpty, "fixture must surface retrievals")
    assert(rows === snapshot,
      "the maintained head must be interchangeable with a snapshot")
    // the history head carries (sim_e9, is_delta) audit columns;
    // column pruning must keep them (and any raw vector) out of the
    // serving scan — the m-bytes-per-candidate contract
    val p = got.queryExecution.executedPlan.toString
    val headScan = p.linesIterator
      .find(l => l.contains("FileScan parquet") &&
        l.contains("annidxhist") && l.contains("code_0"))
    assert(headScan.isDefined, s"merged-head scan missing:\n" +
      p.take(2000))
    assert(!headScan.get.contains("embedding") &&
      !headScan.get.contains("sim_e9") &&
      !headScan.get.contains("is_delta"),
      s"serving scan must read codes only: ${headScan.get}")
  }

  test("q300: the fully-maintained hybrid (merged lex frames + merged " +
      "ANN head) equals the same fusion over one-shot snapshot arms " +
      "bit-for-bit") {
    val got = SparkEntry.queries("q300_hybrid_maintained")(spark, dir)
      .collect().toSeq
    val docs = Tables.load(spark, dir, "documents")
    val (k, probes) = ops.AnnIndex.sizedParams(spark, dir)
    val snapshot = ops.Sim.hybridRrfIvfAdc(docs,
        ops.AnnIndex.cells(spark, dir, tag = "base", k = k),
        ops.AnnIndex.books(spark, dir, tag = "base", k = k),
        cacheKey = None, // arm computed fresh, not from q300's memo
        coded = Some((ops.AnnIndex.codes(spark, dir, tag = "base",
            k = k),
          ops.AnnIndex.probeCentroids(spark, dir, tag = "base",
            k = k))),
        lexStore = Some(ops.LexIndex.buildFrames(docs)),
        probes = probes)
      .orderBy("q_id", "rk").collect().toSeq
    assert(got.nonEmpty, "fixture must surface fused retrievals")
    assert(got === snapshot,
      "maintained arms must be interchangeable with one-shot arms")
  }

  test("q302 compaction is serving-invariant: the compacted snapshot " +
      "serves identically to the version-history head, holds the " +
      "identical row set, and collapses the layout to one file") {
    val served = SparkEntry.queries("q302_ann_index_compact")(
      spark, dir).collect().toSeq
    val head = SparkEntry.queries("q299_ann_index_serve")(
      spark, dir).collect().toSeq
    assert(served.nonEmpty && served === head,
      "compaction must not change what the index serves")
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val compacted = ops.AnnIndex.compactedHeadPostings(spark, dir, k = k)
    val headRows = ops.AnnIndex.postingsAsOf(spark, dir, version = 1L,
      k = k)
    assert(compacted.exceptAll(headRows).count() === 0L &&
      headRows.exceptAll(compacted).count() === 0L,
      "compaction must carry the head's rows byte-for-byte")
    val files = compacted.inputFiles
    assert(files.length === 1,
      s"compaction must fold the chain to one file: ${files.length}")
  }

  test("q303 effective token mass: eff <= raw in micro-tokens per " +
      "lang, the corpus-wide dedup discount is real on the fixture, " +
      "and raw_tokens is the plain per-lang token sum") {
    val rows = SparkEntry.queries("q303_effective_token_mass")(
      spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nd, raw, eff) =>
      assert(nd > 0 && raw >= 0)
      assert(eff <= raw * 1000000L,
        s"$lang: effective mass cannot exceed raw mass")
    }
    assert(rows.map(_._3).sum * 1000000L > rows.map(_._4).sum,
      "the fixture's near-dup clusters must discount some token mass")
    val raw = Tables.load(spark, dir, "documents")
      .groupBy("lang")
      .agg(sum(size(ops.Text.cleanTokens(col("text"))).cast("long"))
        .as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (lang, _, r, _) => assert(raw(lang) === r) }
  }

  test("q301 soft dedup: every document appears exactly once, " +
      "cluster weights sum to 1 per cluster, and survivors-only hard " +
      "dedup is the weight-1-per-cluster projection of the same table") {
    val rows = SparkEntry.queries("q301_soft_dedup_weights")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val nDocs = Tables.load(spark, dir, "documents").count()
    assert(rows.length.toLong === nDocs, "one weight row per document")
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.foreach { case (_, _, n, w) =>
      assert(w > 0.0 && w <= 1.0 && w === 1.0 / n)
    }
    // each cluster's weights sum to 1 — the duplicated CONTENT counts
    // once in any weighted loss
    rows.groupBy(_._2).foreach { case (c, members) =>
      val s = members.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-9, s"cluster $c sums to $s")
    }
    assert(rows.exists(_._3 > 1), "fixture must contain real clusters")
  }

  test("BootstrapWeightExpr is bit-equal to the built-in md5/conv/" +
      "when-chain reference draw over every (fixture id, replicate)") {
    val ev = Tables.load(spark, dir, "events")
    // include NULL ids: the reference chain's when-conditions are all
    // false on a null uniform, so it falls through to weight
    // cdf.length (8) — the expression must match, not return NULL
    // (r14 advice)
    val reps = ev.select(col("event_id"))
      .unionByName(spark.range(3).select(
        lit(null).cast("long").as("event_id")))
      .withColumn("__rep", explode(sequence(lit(0), lit(39))))
    val native = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BootstrapWeightExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          col("event_id").cast("string")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("__rep")),
        ops.Agg.poisson1Cdf.toArray))
    val nDiff = reps
      .withColumn("wn", native)
      .withColumn("wr", ops.Agg.bootstrapWeightRef(
        col("event_id"), col("__rep")))
      .where(col("wn") =!= col("wr"))
      .count()
    assert(nDiff === 0L, s"$nDiff (id, rep) draws diverged")
    // the draw really is Poisson(1)-ish: weights stay in [0, 8]
    val rng = reps.withColumn("wn", native)
      .agg(min(col("wn")), max(col("wn"))).collect().head
    assert(rng.getInt(0) >= 0 && rng.getInt(1) <= 8)
  }
}
