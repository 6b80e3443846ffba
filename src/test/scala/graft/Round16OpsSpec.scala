package graft

import org.apache.spark.sql.functions._

/** Round-16 additions: the ANN append history's DELTA-ONLY segment
  * layout (the r15 verdict's one weak — an append must write ∝ batch,
  * never rewrite standing postings), geometry-as-of folded from exact
  * DECIMAL partials, the ≥3-version mid-chain as-of contracts
  * (q312/q313), the retrain-decision policy row (q314), and the lex
  * history's publish-time df/stats pre-folds.
  */
class Round16OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("AnnIndex append history is DELTA-ONLY on disk: segment 1's " +
      "published postings hold exactly the delta batch (write cost " +
      "∝ batch — the r15 weak's fix), segment 0 exactly the standing " +
      "slice, and the head FOLD still equals standing ∪ delta") {
    val roots = ops.AnnIndex.ensureAppendHistory(spark, dir)
    val emb = Tables.load(spark, dir, "embeddings")
    // what segment 1's directory physically holds — not the fold
    val seg1 = spark.read.parquet(roots(1) + "/postings")
      .select("vec_id")
    val deltaIds = emb.where(ops.Sim.frozenDeltaSplit)
      .select("vec_id")
    assert(seg1.exceptAll(deltaIds).count() === 0L &&
      deltaIds.exceptAll(seg1).count() === 0L,
      "the append segment must hold the delta vector set exactly — " +
        "anything more means the append rewrote standing postings")
    val seg0 = spark.read.parquet(roots(0) + "/postings")
    assert(seg0.where(col("is_delta")).count() === 0L)
    assert(seg0.count() === emb.where(!ops.Sim.frozenDeltaSplit).count())
    // the as-of fold reconstructs the head from the two segments
    val head = ops.AnnIndex.postingsAsOf(spark, dir, version = 1L)
    assert(head.count() === emb.count(),
      "head fold must cover the whole corpus")
  }

  test("geometry-as-of folds DECIMAL partials bit-exactly: the head's " +
      "folded probe geometry equals the base snapshot store's one-pass " +
      "cellCentroids frame value-for-value, on the default AND the " +
      "3-segment chain") {
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val base = ops.AnnIndex.probeCentroids(spark, dir, tag = "base",
      k = k)
    Seq("" -> 1L, "c3" -> 2L).foreach { case (chain, headV) =>
      val folded = ops.AnnIndex.probeCentsAsOf(spark, dir, headV,
        k = k, chain = chain)
      assert(folded.exceptAll(base).count() === 0L &&
        base.exceptAll(folded).count() === 0L,
        s"chain '$chain': folding ${headV + 1} segments' partials " +
          "must reproduce the one-pass whole-corpus geometry exactly " +
          "(DECIMAL sums are associative)")
    }
  }

  test("q313 mid-chain ANN serving is leak-free: no second-batch " +
      "vector (vec_id % 10 = 5) appears as query or candidate, and " +
      "the c3 chain's HEAD postings equal the default chain's head " +
      "row-for-row (same corpus, same frozen encoder, different " +
      "segmentation)") {
    val rows = SparkEntry.queries("q313_ann_midchain_serve")(spark, dir)
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 10 != 5 && r.getLong(1) % 10 != 5,
        s"mid-chain serving must never see the second batch: $r")
    }
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val c3Head = ops.AnnIndex.postingsAsOf(spark, dir, version = 2L,
      k = k, chain = "c3")
    val defHead = ops.AnnIndex.postingsAsOf(spark, dir, version = 1L,
      k = k)
    assert(c3Head.exceptAll(defHead).count() === 0L &&
      defHead.exceptAll(c3Head).count() === 0L,
      "how the history is segmented must not change what the head " +
        "holds")
  }

  test("q312 mid-chain lex serving reflects the corpus BETWEEN the " +
      "two appends: the as-of-v1 stats row counts standing ∪ first " +
      "batch only, and served doc_ids never come from the second " +
      "batch") {
    val docs = Tables.load(spark, dir, "documents")
    val mid = ops.LexIndex.framesAsOf(spark, dir, 1L, chain = "c3")
    val nDocs = mid._4.collect()(0).getLong(1)
    val expect = docs
      .where(!ops.LexIndex.deltaSplit || col("doc_id") % 10 === 0)
      .count()
    assert(nDocs === expect,
      s"mid-chain n_docs must be standing ∪ batch A: $nDocs vs $expect")
    SparkEntry.queries("q312_lex_midchain_serve")(spark, dir)
      .collect().foreach { r =>
        assert(r.getLong(1) % 10 != 5,
          s"mid-chain serving must never rank a second-batch doc: $r")
      }
  }

  test("lex segment publishes carry the df/stats PRE-FOLD: framesAsOf " +
      "reads dfcum/statscum as plain scans (no read-side vocabulary " +
      "re-aggregation), and the pre-folded frames equal the in-memory " +
      "merge fold bit-for-bit") {
    val head = ops.LexIndex.framesAsOf(spark, dir, 1L)
    // plan shape: the df/stats frames are straight parquet reads
    Seq(head._3, head._4).foreach { f =>
      val plan = f.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate"),
        s"pre-folded side frame must read without re-aggregation:\n" +
          plan.linesIterator.take(4).mkString("\n"))
    }
    // value shape: identical to the merge() read-side fold
    val roots = ops.LexIndex.ensureAppendHistory(spark, dir)
    def seg(i: Int) = (
      spark.read.parquet(roots(i) + "/tf"),
      spark.read.parquet(roots(i) + "/dl"),
      spark.read.parquet(roots(i) + "/df"),
      spark.read.parquet(roots(i) + "/stats"))
    val folded = ops.LexIndex.merge(seg(0), seg(1),
      checkDisjoint = false)
    assert(head._3.exceptAll(folded._3).count() === 0L &&
      folded._3.exceptAll(head._3).count() === 0L, "dfcum ≡ fold(df)")
    assert(head._4.collect().toSeq === folded._4.collect().toSeq,
      "statscum ≡ fold(stats)")
  }

  test("q314 retrain decision: growth numbers come from the corpus " +
      "split, the budgets are the matched-coverage arithmetic, " +
      "recalls are valid, and the emitted decision IS the rule " +
      "applied to the measured row") {
    val r = SparkEntry.queries("q314_ann_retrain_decision")(spark, dir)
      .collect()
    assert(r.length === 1)
    val row = r(0)
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val n0 = emb.where(!ops.Sim.frozenDeltaSplit).count()
    assert(row.getLong(0) === n0 && row.getLong(1) === n - n0,
      "growth must be the maintained head's standing/delta sizes")
    val kStale = math.ceil(math.sqrt(n0.toDouble)).toInt
    val kRes = math.ceil(math.sqrt(n.toDouble)).toInt
    assert(row.getInt(2) === kStale && row.getInt(3) === kRes)
    assert(row.getInt(4) === math.max(1, math.ceil(kStale * 0.25).toInt)
      && row.getInt(5) === math.max(1, math.ceil(kRes * 0.25).toInt),
      "matched quarter coverage on both arms")
    val (rs, rr, gain) =
      (row.getDouble(7), row.getDouble(8), row.getDouble(9))
    assert(rs >= 0.0 && rs <= 1.0 && rr >= 0.0 && rr <= 1.0)
    assert(row.getBoolean(10) === (kRes > kStale && gain >= 0.02),
      "the emitted decision must be the documented rule applied to " +
        "the measured gain")
  }

  test("tombstone deletes write ∝ batch: the lex tombstone segment " +
      "holds exactly the deleted ids plus vocab-sized AFTER frames " +
      "(df/stats bit-equal to indexing the survivors from scratch), " +
      "and no served row on either arm carries a deleted id") {
    val p = ops.LexIndex.ensureAppendHistory(spark, dir, "md").last
    val docs = Tables.load(spark, dir, "documents")
    val dels = spark.read.parquet(p + "/dels")
    val expect = docs.where(ops.LexIndex.deleteSplit)
      .select(col("doc_id").as("id"))
    assert(dels.exceptAll(expect).count() === 0L &&
      expect.exceptAll(dels).count() === 0L,
      "tombstones must be the delete batch exactly")
    // the AFTER pre-folds equal a from-scratch build over survivors —
    // the exact-integer segment algebra (head cum − deleted counts)
    val survivors = ops.LexIndex.buildFrames(
      docs.where(!ops.LexIndex.deleteSplit))
    val f = ops.LexIndex.framesAsOf(spark, dir, 2L, "md")
    assert(f._3.exceptAll(survivors._3).count() === 0L &&
      survivors._3.exceptAll(f._3).count() === 0L,
      "dfafter must equal the survivors' df, zero-df terms dropped")
    assert(f._4.collect().toSeq === survivors._4.collect().toSeq,
      "statsafter must equal the survivors' stats")
    // serving never surfaces a deleted entity, on either arm
    SparkEntry.queries("q315_lex_delete_serve")(spark, dir)
      .collect().foreach(r => assert(r.getLong(1) % 7 != 3,
        s"lex serving surfaced a deleted doc: $r"))
    SparkEntry.queries("q316_ann_delete_serve")(spark, dir)
      .collect().foreach { r =>
        assert(r.getLong(0) % 7 != 3 && r.getLong(1) % 7 != 3,
          s"ANN serving surfaced a deleted vector: $r")
      }
  }

  test("ANN geometry-after-delete is the survivors' one-pass " +
      "geometry bit-for-bit (negated partials subtract exactly), " +
      "masked and compacted layouts serve identical rows, and a " +
      "fully-emptied cell disappears instead of dividing by zero") {
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val after = ops.AnnIndex.probeCentsAsOf(spark, dir, 2L, k = k,
      chain = "md")
    val onePass = ops.Sim.cellCentroids(
      ops.AnnIndex.postingsAsOf(spark, dir, 1L, k = k)
        .where(!ops.AnnIndex.deleteSplit)
        .join(Tables.load(spark, dir, "embeddings"), Seq("vec_id"))
        .select(col("cell"), col("embedding")), "cell")
    assert(after.exceptAll(onePass).count() === 0L &&
      onePass.exceptAll(after).count() === 0L)
    val masked = ops.AnnIndex.postingsAsOf(spark, dir, 2L, k = k,
      chain = "md")
    val compacted = ops.AnnIndex
      .compactedHeadPostings(spark, dir, k = k, chain = "md")
    assert(masked.exceptAll(compacted).count() === 0L &&
      compacted.exceptAll(masked).count() === 0L,
      "compaction must carry exactly the surviving rows")
    // emptied-cell behavior, synthetically: negate cell 1's whole
    // membership — its geometry row must vanish, others unchanged
    import spark.implicits._
    val tiny = Seq((0L, 0, Seq(1.0f, 2.0f)), (1L, 0, Seq(3.0f, 4.0f)),
      (2L, 1, Seq(5.0f, 6.0f)))
      .toDF("vec_id", "cell", "embedding")
    val parts = ops.Sim.cellCentroidPartials(tiny, "cell")
    val neg = ops.Sim.cellCentroidPartials(
        tiny.where(col("cell") === 1), "cell")
      .select(col("cell"), col("pos"), (-col("s")).as("s"),
        (-col("cnt")).as("cnt"))
    val folded = ops.Sim.centroidsFromPartials(
      parts.unionByName(neg)).collect()
    assert(folded.length === 1 && folded(0).getInt(0) === 0,
      "an emptied cell must disappear from the folded geometry")
  }

  test("q319 takedown re-plan runs entirely over the survivors: no " +
      "deleted doc is drawn, no cluster label survives through a " +
      "deleted bridge doc, and each drawn weight is the discounted " +
      "mass under the RE-FOLDED (post-delete) cluster sizes") {
    val drawn = SparkEntry.queries("q319_takedown_mixture_replan")(
      spark, dir).collect().toSeq
    assert(drawn.nonEmpty)
    drawn.foreach(r => assert(r.getLong(1) % 7 != 3,
      s"a deleted doc was drawn into the mixture: $r"))
    // labels genuinely re-derived: a component label is the min
    // SURVIVING member, never a deleted id carried from pre-delete
    val comp = ops.Dedup.componentsConverged(
      ops.Artifacts.nearDupPairs(spark, dir, k = 8, bands = 4,
          minJaccard = 0.2)
        .where(col("id_a") % 7 =!= 3 && col("id_b") % 7 =!= 3))
    comp.select("component").distinct().collect()
      .foreach(r => assert(r.getLong(0) % 7 != 3,
        "a surviving cluster is labeled by a deleted doc — the fold " +
          "did not re-derive labels"))
    // weights: recompute from surviving docs + re-folded sizes
    val docs = Tables.load(spark, dir, "documents")
      .where(!ops.LexIndex.deleteSplit)
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("n_members"))
    val expect = docs.select(col("doc_id"),
        size(ops.Text.cleanTokens(col("text"))).as("n_tok"))
      .join(comp, Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .withColumn("nm", coalesce(col("n_members"), lit(1L)))
      .select(col("doc_id"),
        (expr("(CAST(n_tok AS BIGINT) * 1000000) div nm") + lit(1L))
          .as("wt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    drawn.foreach(r => assert(r.getLong(2) === expect(r.getLong(1)),
      s"doc ${r.getLong(1)}: weight must be the post-delete " +
        "discounted mass"))
  }

  test("the new stored lex serving paths never scan the documents " +
      "table: q312 (mid-chain), q315 (masked delete serve), and q317 " +
      "(delete compaction) plans read only index stores — the r15 " +
      "no-corpus-scan pin extended to the round-16 engines") {
    Seq("q312_lex_midchain_serve", "q315_lex_delete_serve",
        "q317_lex_delete_compact").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"$name must serve from stores only, but its plan scans the " +
          "corpus")
    }
  }

  test("StoreCommit.singleFlight: one build per key under " +
      "contention, losers observe the winner's value, and a failed " +
      "build clears the slot for retry") {
    val map = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.CompletableFuture[java.lang.Integer]]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[Integer]())
    val threads = (1 to 16).map(_ => new Thread(() =>
      results.add(ops.StoreCommit.singleFlight(map, "k") {
        Thread.sleep(20)
        Integer.valueOf(builds.incrementAndGet())
      })))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get() === 1, "exactly one thread builds")
    import scala.jdk.CollectionConverters._
    assert(results.asScala.size === 16 &&
      results.asScala.forall(_ === Integer.valueOf(1)))
    // failure path: the future is removed so the key can rebuild
    intercept[RuntimeException](
      ops.StoreCommit.singleFlight[Integer](map, "fail") {
        throw new RuntimeException("boom") })
    assert(ops.StoreCommit.singleFlight(map, "fail")(
      Integer.valueOf(7)) === Integer.valueOf(7),
      "a failed build must not poison the key")
  }
}
