package graft

import org.apache.spark.sql.functions._

/** Round-15 additions: the physical ANN store sized by its own
  * measured policy (the r14 verdict's weak mark — AnnIndex.sizing
  * shared between the q298 decontaminator and the q299/q300/q302
  * serving consumers), and the store-served recall measurement
  * (q304, bound to q296's oracle string).
  */
class Round15OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("AnnIndex.sizing is the measured policy: k = ceil(sqrt(n)), " +
      "probes = max(2, ceil(k/4)), with the probe floor active on " +
      "small corpora and inactive past k = 8") {
    // boundary arithmetic — the exact values the oracles derive in SQL
    assert(ops.AnnIndex.sizing(1L) === ((1, 2)), "floor at probes=2")
    assert(ops.AnnIndex.sizing(64L) === ((8, 2)),
      "perfect square: k=8, ceil(8/4)=2 — the floor is exactly met")
    assert(ops.AnnIndex.sizing(65L) === ((9, 3)),
      "one past the square bumps k and the quarter budget")
    assert(ops.AnnIndex.sizing(500L) === ((23, 6)),
      "the sf0.001/sf0.01 fixture point")
    assert(ops.AnnIndex.sizing(2000L) === ((45, 12)),
      "the sf0.1 fixture point")
    assert(ops.AnnIndex.sizing(1000000L) === ((1000, 250)),
      "at 1M vectors the per-cell bound is ~1000, probes 250 = k/4")
    intercept[IllegalArgumentException](ops.AnnIndex.sizing(0L))
  }

  test("q299/q300/q302 serve at AnnIndex.sizedParams — the store " +
      "root they read carries the derived cell count, not the fixed " +
      "k=8 the measurements refute") {
    val (k, probes) = ops.AnnIndex.sizedParams(spark, dir)
    val n = Tables.load(spark, dir, "embeddings").count()
    assert((k, probes) === ops.AnnIndex.sizing(n))
    assert(k !== 8,
      "fixture must exercise a NON-default size or the test is vacuous")
    val head = ops.AnnIndex.postingsAsOf(spark, dir, version = 1L,
      k = k)
    val cells = head.select("cell").distinct().collect()
      .map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < k),
      s"merged head must be assigned on the sized 0..${k - 1} grid")
    assert(cells.length > 8,
      "the sized store must actually use more cells than the fixed " +
        s"default on this corpus: ${cells.length}")
  }

  test("q304 store-served recall IS q296's in-memory measurement " +
      "bit-for-bit — one contract, two engines — and the scaled " +
      "physical store beats the fixed-8 physical store at matched " +
      "coverage on the fixture") {
    val stored = SparkEntry.queries("q304_sized_store_recall")(
      spark, dir).collect().toSeq
    val inMem = SparkEntry.queries("q296_coverage_matched_recall")(
      spark, dir).collect().toSeq
    assert(stored.nonEmpty && stored === inMem,
      "the physical store's postings must reproduce the in-memory " +
        "quantizer's measurement exactly")
    def recallAt(policy: String, f: Double): Double = stored
      .find(r => r.getString(0) == policy && r.getDouble(2) == f)
      .map(_.getDouble(7)).get
    assert(recallAt("scaled_sqrt", 0.25) >= recallAt("fixed8", 0.25),
      "at matched quarter coverage the sized store must hold at " +
        "least the fixed store's recall (q296's measured claim, " +
        "served from parquet)")
  }

  test("LexIndex segment history: the append segment holds ONLY the " +
      "delta batch (write cost ∝ batch), the merged head equals a " +
      "from-scratch full build bit-for-bit, and compaction collapses " +
      "the layout without changing what the index serves") {
    val roots = ops.LexIndex.ensureAppendHistory(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
    // segment 1 indexes the delta slice alone — its per-doc lengths
    // are exactly the delta ids, so the append never re-wrote a
    // standing posting
    val segIds = spark.read.parquet(roots(1) + "/dl").select("id")
    val deltaIds = docs.where(ops.LexIndex.deltaSplit)
      .select(col("doc_id").as("id"))
    assert(segIds.exceptAll(deltaIds).count() === 0L &&
      deltaIds.exceptAll(segIds).count() === 0L,
      "append segment must hold the delta doc set exactly")
    // merged head ≡ build(all): the q292 merge property, now over
    // PUBLISHED segment bytes
    val head = ops.LexIndex.framesAsOf(spark, dir, 1L)
    val full = ops.LexIndex.buildFrames(docs)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() === 0L &&
        b.exceptAll(a).count() === 0L, s"$what must match build(all)")
    same(head._1.drop("tbkt"), full._1, "tf")
    same(head._2, full._2, "dl")
    same(head._3, full._3, "df")
    same(head._4, full._4, "stats")
    // compaction: serving-invariant (q306 binds the oracle; here the
    // frames themselves) and single-file side frames
    val c = ops.LexIndex.compactedHeadFrames(spark, dir)
    same(c._1.drop("tbkt"), full._1, "compacted tf")
    same(c._3, full._3, "compacted df")
    assert(c._2.inputFiles.length === 1 &&
      c._3.inputFiles.length === 1,
      "compaction must fold each side frame to one file")
  }

  test("mixtureAllocationByMass allocates by MASS, not doc count: " +
      "equal doc counts with a 4x mass ratio split the budget 2:1 " +
      "(sqrt damping), integer allocations summing exactly to target") {
    import spark.implicits._
    val frame = ((1 to 40).map(i => ("heavy", i.toLong, 400L)) ++
      (1 to 40).map(i => ("light", 100L + i.toLong, 100L)))
      .toDF("src", "id", "wt")
    val alloc = ops.Curate
      .mixtureAllocationByMass(frame, "src", "wt", 99L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // masses 16000 vs 4000 → frozen weights 126491 vs 63245 → shares
    // 2:1 under sqrt damping; a doc-count allocator would split ~even
    assert(alloc === Map("heavy" -> 66L, "light" -> 33L),
      s"got $alloc")
  }

  test("q307 composes the q301 soft-dedup discount into the draw: " +
      "every sampled doc's weight equals the dedup-discounted " +
      "micro-token mass derived from q301's cluster sizes, and " +
      "per-language draws respect integer quotas summing to the " +
      "budget") {
    val drawn = SparkEntry.queries("q307_effective_mixture_sample")(
      spark, dir).collect().toSeq
    assert(drawn.nonEmpty)
    // quotas: rk <= alloc everywhere; Σ over languages of alloc = 60
    assert(drawn.forall(r => r.getInt(3) <= r.getLong(4)))
    val allocs = drawn.map(r => (r.getString(0), r.getLong(4)))
      .distinct.map(_._2).sum
    assert(allocs === 60L, s"allocations must sum to the budget: " +
      s"$allocs (a language drawing fewer than its quota still " +
      "reports the full alloc)")
    // the weight really is the q301-discounted mass: recompute from
    // the soft-dedup table (doc_id, n_members) and the token counts
    val soft = SparkEntry.queries("q301_soft_dedup_weights")(spark, dir)
      .select(col("doc_id"), col("n_members"))
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(ops.Text.cleanTokens(col("text"))).as("n_tok"))
    val expect = toks.join(soft, "doc_id")
      .select(col("doc_id"),
        (expr("(CAST(n_tok AS BIGINT) * 1000000) div n_members") +
          lit(1L)).as("wt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    drawn.foreach { r =>
      assert(r.getLong(2) === expect(r.getLong(1)),
        s"doc ${r.getLong(1)} weight must be its discounted mass")
    }
  }

  test("q308 re-plans the mixture from MAINTAINED STORES: bit-equal " +
      "to q307's scan-and-tokenize plan, with the documents scan " +
      "reading only (doc_id, lang) — the corpus text is never " +
      "touched at planning time") {
    val stored = SparkEntry.queries("q308_ingest_mixture_replan")(
      spark, dir)
    val rows = stored.collect().toSeq
    val scanned = SparkEntry.queries("q307_effective_mixture_sample")(
      spark, dir).collect().toSeq
    assert(rows.nonEmpty && rows === scanned,
      "the store-served planner must reproduce the from-scratch plan")
    val docScans = stored.queryExecution.executedPlan.toString
      .linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("documents.parquet"))
      .toSeq
    assert(docScans.nonEmpty, "plan must scan the documents table")
    docScans.foreach(l => assert(!l.contains("text"),
      s"documents scan must be pruned to (doc_id, lang): $l"))
  }

  test("q309 streaming segment appends serve the BM25 contract: the " +
      "gate's fold equals the stored merged head's retrieval " +
      "bit-for-bit (six engines, one contract)") {
    val streamed = SparkEntry.queries("q309_stream_lex_append")(
      spark, dir).collect().toSeq
    val storedHead = SparkEntry.queries("q305_bm25_index_serve")(
      spark, dir).collect().toSeq
    assert(streamed.nonEmpty && streamed === storedHead,
      "standing ∪ streamed micro-segments must serve exactly what " +
        "the batch-maintained head serves")
  }

  test("q311 as-of-v0 ANN serving is leak-free: no delta vector " +
      "appears as query or candidate, and v0's probe geometry " +
      "summarizes ONLY the standing postings (it differs from the " +
      "head's whole-corpus geometry)") {
    val rows = SparkEntry.queries("q311_ann_asof_serve")(spark, dir)
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 5 != 0 && r.getLong(1) % 5 != 0,
        s"pre-append serving must never see a delta vector: $r")
    }
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val g0 = ops.AnnIndex.probeCentsAsOf(spark, dir, 0L, k = k)
    val g1 = ops.AnnIndex.probeCentsAsOf(spark, dir, 1L, k = k)
    assert(g0.exceptAll(g1).count() > 0L,
      "v0 geometry must be the standing-only member means — " +
        "identical frames would mean the append leaked into the past")
    // and v1's geometry IS the whole-corpus snapshot geometry (its
    // published-bytes copy)
    val base = ops.AnnIndex.probeCentroids(spark, dir, tag = "base",
      k = k)
    assert(g1.exceptAll(base).count() === 0L &&
      base.exceptAll(g1).count() === 0L)
  }

  test("the stored lex serving paths never scan the documents table: " +
      "q305 (segment fold), q306 (compacted), and q310 (as-of v0) " +
      "plans read only index stores — zero corpus tokenization at " +
      "query time") {
    Seq("q305_bm25_index_serve", "q306_bm25_index_compact",
        "q310_lex_asof_serve").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"$name must serve from stores only, but its plan scans the " +
          "corpus")
    }
  }

  test("store serving returns the same rows whether small store files " +
      "share scan tasks (the session's packing) or each get their own " +
      "task and a listing job (Spark's defaults)") {
    val queries = Seq("q305_bm25_index_serve", "q299_ann_index_serve")
    def serve(): Seq[Seq[org.apache.spark.sql.Row]] =
      queries.map(q => SparkEntry.queries(q)(spark, dir).collect().toSeq)
    val packed = serve()
    val sparkDefaults = Seq(
      "spark.sql.files.openCostInBytes" -> Some("4194304"),
      "spark.sql.files.minPartitionNum" -> None,
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Some("32"))
    val saved = sparkDefaults.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    def setAll(confs: Seq[(String, Option[String])]): Unit =
      confs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val unpacked =
      try { setAll(sparkDefaults); serve() } finally setAll(saved)
    queries.indices.foreach { i =>
      assert(packed(i).nonEmpty, s"${queries(i)} must serve rows")
      assert(packed(i) === unpacked(i), queries(i))
    }
  }
}
