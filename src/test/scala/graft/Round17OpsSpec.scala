package graft

import org.apache.spark.sql.functions._

/** Round-17 additions: the INCREMENTAL post-takedown survivor
  * re-label (the r16 verdict's one weak — a delete must pay O(touched
  * components), not O(all pairs)), deletes as a first-class segment
  * TYPE in the chain algebra (mixed append→delete→append chains with
  * as-of reads at every version), and prefix-keyed segment roots
  * (chains share common segments' published bytes — r16 advice).
  */
class Round17OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("componentsAfterDelete splits touched components exactly and " +
      "serves untouched labels VERBATIM from the standing artifact " +
      "(poisoned-label proof: an untouched component's label passes " +
      "through unchanged, so its pairs were never re-folded)") {
    import spark.implicits._
    // component A = path 1-2-3-4-5 (label 1); component B = {10,11,12}
    // with its label POISONED to 777 — a re-fold would emit 10
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val base = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 777L, 11L -> 777L, 12L -> 777L)
      .toDF("doc_id", "component")
    val out = ops.Dedup.componentsAfterDelete(base, pairs,
        Seq(3L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deleting 3 splits A into {1,2} (min 1) and {4,5} (min 4); the
    // deleted node is gone
    assert(out === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 777L, 11L -> 777L, 12L -> 777L),
      s"got $out — untouched labels must pass through verbatim (777), " +
        "touched components must re-fold to surviving minima")
  }

  test("Artifacts.survivorLabels (incremental) equals the from-scratch " +
      "fixpoint over surviving pairs row-for-row on the real artifact " +
      "— the q319 contract, now at O(touched components) cost") {
    val incr = ops.Artifacts.survivorLabels(spark, dir,
      k = 8, bands = 4, minJaccard = 0.2)
    val scratch = ops.Dedup.componentsConverged(
      ops.Artifacts.nearDupPairs(spark, dir, k = 8, bands = 4,
          minJaccard = 0.2)
        .where(col("id_a") % 7 =!= 3 && col("id_b") % 7 =!= 3))
    assert(incr.exceptAll(scratch).count() === 0L &&
      scratch.exceptAll(incr).count() === 0L,
      "incremental survivor re-label must equal the from-scratch fold")
  }

  test("segment roots are PREFIX-keyed: every chain's standing segment " +
      "is the same directory on both sides (built and stored ONCE — " +
      "the r16 advice), and the delete chain 'md' reuses the default " +
      "chain's two segments byte-for-byte") {
    Seq("c3", "md", "m3").foreach { chain =>
      assert(ops.LexIndex.versionRoot(dir, 0L, chain) ===
        ops.LexIndex.versionRoot(dir, 0L, ""),
        s"lex chain '$chain' must share the standing segment root")
      assert(ops.AnnIndex.appendVersionRoot(dir, 0L, chain = chain) ===
        ops.AnnIndex.appendVersionRoot(dir, 0L, chain = ""),
        s"ANN chain '$chain' must share the standing segment root")
    }
    assert(ops.LexIndex.versionRoot(dir, 1L, "md") ===
      ops.LexIndex.versionRoot(dir, 1L, "") &&
      ops.AnnIndex.appendVersionRoot(dir, 1L, chain = "md") ===
        ops.AnnIndex.appendVersionRoot(dir, 1L, chain = ""),
      "the 'md' chain's delta segment IS the default chain's")
    // distinct prefixes stay distinct: c3's first batch is not the
    // default delta, and m3's delta (post-delete) is not md's
    assert(ops.LexIndex.versionRoot(dir, 1L, "c3") !==
      ops.LexIndex.versionRoot(dir, 1L, ""))
    assert(ops.LexIndex.versionRoot(dir, 2L, "m3") !==
      ops.LexIndex.versionRoot(dir, 1L, ""))
  }

  test("lex mixed chain m3 (append→delete→append): every version's " +
      "as-of frames equal a from-scratch build over that version's " +
      "LIVE corpus, and capture-time semantics keep a post-delete " +
      "append's matching docs alive") {
    val docs = Tables.load(spark, dir, "documents")
    (0L to 2L).foreach { v =>
      val (tf, dl, df, stats) =
        ops.LexIndex.framesAsOf(spark, dir, v, chain = "m3")
      val live = ops.LexIndex.buildFrames(
        docs.where(ops.LexIndex.liveAsOf(v, "m3")))
      assert(tf.drop("tbkt").exceptAll(live._1).count() === 0L &&
        live._1.exceptAll(tf.drop("tbkt")).count() === 0L,
        s"v$v tf must be the live corpus's postings")
      assert(dl.exceptAll(live._2).count() === 0L &&
        live._2.exceptAll(dl).count() === 0L, s"v$v dl")
      assert(df.exceptAll(live._3).count() === 0L &&
        live._3.exceptAll(df).count() === 0L,
        s"v$v dfcum must equal the live corpus's df")
      assert(stats.collect().toSeq === live._4.collect().toSeq,
        s"v$v statscum")
    }
    // capture-time semantics: the v2 append's docs matching the
    // delete predicate (doc_id%5=0 ∧ %7=3) arrive AFTER the delete
    // and must be live at v2
    val lateMatching = ops.LexIndex.framesAsOf(spark, dir, 2L, "m3")
      ._2.where(col("id") % 7 === 3)
    assert(lateMatching.count() ===
      docs.where(ops.LexIndex.deltaSplit && col("doc_id") % 7 === 3)
        .count() && lateMatching.where(col("id") % 5 =!= 0)
        .count() === 0L,
      "a doc appended after the delete must stay live even if it " +
        "matches the delete predicate — tombstones are captured ids, " +
        "not a standing filter")
  }

  test("ANN mixed chain m3: every version's postings hold exactly the " +
      "live vector set, and the as-of probe geometry folds the " +
      "positive and negative partials to the live members' one-pass " +
      "means bit-for-bit") {
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val emb = Tables.load(spark, dir, "embeddings")
    (0L to 2L).foreach { v =>
      val got = ops.AnnIndex.postingsAsOf(spark, dir, v, k = k,
        chain = "m3").select("vec_id")
      val want = emb.where(ops.AnnIndex.liveAsOf(v, "m3"))
        .select("vec_id")
      assert(got.exceptAll(want).count() === 0L &&
        want.exceptAll(got).count() === 0L,
        s"v$v postings must be the live vector set")
      val gotGeo = ops.AnnIndex.probeCentsAsOf(spark, dir, v, k = k,
        chain = "m3")
      val wantGeo = ops.Sim.cellCentroids(
        ops.AnnIndex.postingsAsOf(spark, dir, v, k = k, chain = "m3")
          .join(emb, Seq("vec_id"))
          .select(col("cell"), col("embedding")), "cell")
      assert(gotGeo.exceptAll(wantGeo).count() === 0L &&
        wantGeo.exceptAll(gotGeo).count() === 0L,
        s"v$v geometry must be the live members' one-pass means")
    }
    // capture-time: v2 holds the delta's %7=3 vectors (appended after
    // the delete)
    val late = ops.AnnIndex.postingsAsOf(spark, dir, 2L, k = k,
      chain = "m3").where(col("vec_id") % 7 === 3)
    assert(late.count() > 0L &&
      late.where(col("vec_id") % 5 =!= 0).count() === 0L,
      "post-delete appends matching the predicate must stay live")
  }

  test("q322/q323 serve the mixed chain leak-free at every version: " +
      "v0/v1 rows never surface a delta doc, v1 rows never surface a " +
      "captured takedown doc, and v2 DOES surface post-delete " +
      "appends matching the delete predicate (capture-time pin)") {
    val lex = SparkEntry.queries("q322_lex_mixed_asof")(spark, dir)
      .collect().toSeq
    assert(lex.nonEmpty)
    lex.foreach { r =>
      val (v, id) = (r.getLong(0), r.getLong(2))
      if (v <= 1L) assert(id % 5 != 0,
        s"v$v served a delta doc before its append: $r")
      if (v == 1L) assert(id % 7 != 3,
        s"v1 served a captured takedown doc: $r")
    }
    val ann = SparkEntry.queries("q323_ann_mixed_asof")(spark, dir)
      .collect().toSeq
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val (v, q, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (v <= 1L) assert(q % 5 != 0 && c % 5 != 0,
        s"v$v served a delta vector before its append: $r")
      if (v == 1L) assert(q % 7 != 3 && c % 7 != 3,
        s"v1 served a captured takedown vector: $r")
    }
  }

  test("q321 executes the retrain q314 decides, with serving " +
      "continuity: the rotation publishes an epoch record naming the " +
      "resized full store, the served branch matches the decision " +
      "row, and OLD-version time travel still reads the pre-retrain " +
      "chain byte-identically after the rotation") {
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    // snapshot the pre-rotation v0 read (the standing segment)
    val v0Before = ops.AnnIndex.postingsAsOf(spark, dir, 0L, k = k)
      .collect().toSet
    val dec = SparkEntry.queries("q314_ann_retrain_decision")(
      spark, dir).collect()(0)
    val served = SparkEntry.queries("q321_ann_retrain_execute")(
      spark, dir).collect().toSeq
    assert(served.nonEmpty)
    val branch = served.head.getString(0)
    assert(served.forall(_.getString(0) === branch))
    assert(branch === (if (dec.getBoolean(10)) "retrained"
      else "stale"),
      "the served branch must be the decision row's verdict")
    if (dec.getBoolean(10)) {
      // the sf0.001 fixture decides RETRAIN — the rotation record
      // must exist and name the resized full store
      val rec = spark.read.parquet(
        ops.AnnIndex.retrainEpochRoot(dir, k) + "/record").collect()
      assert(rec.length === 1 && rec(0).getLong(0) === 1L &&
        rec(0).getInt(1) === k && rec(0).getString(2) === "full")
      assert(new java.io.File(rec(0).getString(3), "_DONE").exists(),
        "the rotation record must name a published store")
      // served rows come from the retrained store: every corpus
      // vector is a candidate (the full snapshot indexes everything)
      assert(served.head.getLong(1) === 1L, "epoch must be 1")
    }
    // continuity: rotation writes only NEW roots — the pre-retrain
    // chain's v0 read is unchanged
    val v0After = ops.AnnIndex.postingsAsOf(spark, dir, 0L, k = k)
      .collect().toSet
    assert(v0After === v0Before,
      "epoch rotation must not touch the old chain's bytes")
  }

  test("Chains.compactionPolicy at both thresholds: 1 tombstone of 8 " +
      "(share exactly 125000) compacts, 1 of 9 (111111) keeps, 4 " +
      "segments with no tombstones compact, 3 keep") {
    import spark.implicits._
    val stats = Seq(("t1of8", 3, 7L, 1L), ("t1of9", 3, 8L, 1L),
        ("s4", 4, 10L, 0L), ("s3", 3, 10L, 0L))
      .toDF("chain", "n_segments", "n_live", "n_tomb")
    val got = ops.Chains.compactionPolicy(stats)
      .select("chain", "tomb_share_e6", "compact").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got === Map("t1of8" -> (125000L, true),
      "t1of9" -> (111111L, false), "s4" -> (0L, true),
      "s3" -> (0L, false)))
    assert(ops.Chains.compactDecisions(stats) === got.map {
      case (ch, (_, c)) => ch -> c })
  }

  test("q324 compaction policy: every input is a store read, both " +
      "rule arms fire INDEPENDENTLY on the fixture (md compacts on " +
      "tombstone share alone, c4 on segment count alone), and the " +
      "emitted decision is the rule applied to the measured row") {
    val rows = SparkEntry.queries("q324_compaction_policy")(spark, dir)
      .collect().toSeq
    assert(rows.length === 10, "2 sides x 5 chain states")
    rows.foreach { r =>
      val (segs, live, tomb) =
        (r.getInt(2), r.getLong(3), r.getLong(4))
      assert(r.getLong(5) === tomb * 1000000L / (live + tomb),
        s"share must be the integer arithmetic: $r")
      assert(r.getBoolean(6) === (r.getLong(5) >= 125000L ||
        segs >= 4), s"decision must be the rule: $r")
    }
    val byKey = rows.map(r =>
      (r.getString(0), r.getString(1)) -> r).toMap
    Seq("ann", "lex").foreach { s =>
      // share arm alone: md has 3 segments but ~1/7 tombstoned
      val md = byKey((s, "md"))
      assert(md.getBoolean(6) && md.getInt(2) < 4 &&
        md.getLong(5) >= 125000L)
      // segment arm alone: c4 has zero tombstones but 4 appends
      val c4 = byKey((s, "c4"))
      assert(c4.getBoolean(6) && c4.getLong(4) === 0L &&
        c4.getInt(2) === 4)
      // keep branch: m3's captured share sits deliberately under the
      // threshold (the gate pins arithmetic, not just the branch)
      val m3 = byKey((s, "m3"))
      assert(!m3.getBoolean(6) && m3.getLong(4) > 0L &&
        m3.getLong(5) < 125000L)
      assert(!byKey((s, "default")).getBoolean(6) &&
        !byKey((s, "c3")).getBoolean(6))
    }
  }

  test("ccDeleteBatch (q325's commit step): takedown versions re-fold " +
      "only touched components — the head equals from-scratch CC over " +
      "survivors, untouched labels are byte-identical to the base " +
      "head, and the base version stays readable (time travel)") {
    import graft.streaming.StreamOps
    val store = java.nio.file.Files
      .createTempDirectory("graft-cctd-spec").toString
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    (0 until 2).foreach { b =>
      StreamOps.incrementalCCBatch(store, "text", 8, 4, 0.2)(
        docs.where(pmod(col("doc_id"), lit(2L)) === b), b.toLong)
    }
    val baseHead = spark.read.parquet(s"$store/v1/labels")
      .collect().toSet
    val dels = docs.where(col("doc_id") % 7 === 3)
    StreamOps.ccDeleteBatch(store, 100L, "text", 8, 4, 0.2)(
      dels.where(col("doc_id") % 2 === 1), 0L)
    StreamOps.ccDeleteBatch(store, 100L, "text", 8, 4, 0.2)(
      dels.where(col("doc_id") % 2 === 0), 1L)
    val head = spark.read.parquet(s"$store/v101/labels")
    val scratch = ops.Dedup.componentsConverged(
      ops.Dedup.lshVerifiedPairs(docs.where(col("doc_id") % 7 =!= 3),
        "doc_id", "text", 8, 4, 0.2))
    assert(head.exceptAll(scratch).count() === 0L &&
      scratch.exceptAll(head).count() === 0L,
      "takedown head must equal the from-scratch survivor fold")
    // time travel: the pre-delete head is byte-identical after commits
    assert(spark.read.parquet(s"$store/v1/labels").collect().toSet
      === baseHead, "delete commits must not touch past versions")
    // untouched components' rows pass through both delete commits
    val touchedComps = baseHead
      .filter(r => r.getLong(0) % 7 == 3).map(_.getLong(1)).toSet
    val untouchedBase = baseHead.filterNot(r =>
      touchedComps.contains(r.getLong(1)))
    val headSet = head.collect().toSet
    assert(untouchedBase.subsetOf(headSet),
      "untouched components' labels must serve unchanged through " +
        "the takedown commits")
    // idempotent replay: re-running a committed delete batch no-ops
    StreamOps.ccDeleteBatch(store, 100L, "text", 8, 4, 0.2)(
      dels.where(col("doc_id") % 2 === 1), 0L)
    assert(spark.read.parquet(s"$store/v101/labels").collect().toSet
      === headSet)
  }

  test("q326/q327 execute the compaction q324 decides: each " +
      "tombstoned chain serves from the layout the measured policy " +
      "chose (md compacted, m3 masked — both branches fire), no " +
      "served row carries a captured-tombstone id, and the compacted " +
      "md store physically drops the masked rows") {
    Seq("q326_lex_compaction_execute" -> 3,
        "q327_ann_compaction_execute" -> 2).foreach {
      case (name, idCol) =>
        val rows = SparkEntry.queries(name)(spark, dir)
          .collect().toSeq
        assert(rows.nonEmpty)
        val layouts = rows.map(r =>
          r.getString(0) -> r.getString(1)).distinct.toMap
        assert(layouts === Map("md" -> "compacted", "m3" -> "masked"),
          s"$name must serve each chain from the policy's layout")
        rows.filter(_.getString(0) == "md").foreach(r =>
          assert(r.getLong(idCol) % 7 != 3,
            s"$name md served a tombstoned id: $r"))
    }
    // the reclaim is physical: the compacted md store holds no
    // tombstoned row (mask-serving equality is the oracle's job)
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    assert(ops.AnnIndex.compactedHeadPostings(spark, dir, k = k,
        chain = "md")
      .where(ops.AnnIndex.deleteSplit).count() === 0L)
    assert(ops.LexIndex.compactedHeadFrames(spark, dir, "md")._2
      .where(col("id") % 7 === 3).count() === 0L)
  }

  test("q328/q329 execute the TIERED arm of the compaction policy: " +
      "c4 (segs >= 4) serves through [base, merged-tail] with the " +
      "base segment's published bytes physically reused, c3 keeps " +
      "the plain fold, and the tiered layout is value-identical to " +
      "the N-segment head fold on both stores") {
    Seq("q328_lex_tiered_execute" -> 3,
        "q329_ann_tiered_execute" -> 2).foreach {
      case (name, _) =>
        val rows = SparkEntry.queries(name)(spark, dir)
          .collect().toSeq
        assert(rows.nonEmpty)
        val layouts = rows.map(r =>
          r.getString(0) -> r.getString(1)).distinct.toMap
        assert(layouts === Map("c4" -> "tiered", "c3" -> "fold"),
          s"$name must route each chain to the policy's layout")
    }
    // the tiered serve READS the base segment's published files —
    // the same bytes the chain fold reads (prefix root `std`, shared
    // with every chain): tiering never rewrote the base
    val baseRoot = ops.LexIndex.versionRoot(dir, 0L, "c4")
    val (ttf, tdl, tdf, tst) =
      ops.LexIndex.tieredHeadFrames(spark, dir, "c4")
    assert(ttf.inputFiles.exists(_.contains(
        baseRoot.stripPrefix("/"))),
      "tiered tf must serve the base segment's published files")
    // value identity with the 4-segment head fold (lex): same tf
    // multiset, same head pre-folds
    val (htf, hdl, hdf, hst) = ops.LexIndex.framesAsOf(spark, dir,
      ops.LexIndex.headVersion("c4"), "c4")
    assert(ttf.select("id", "term", "tf").except(
        htf.select("id", "term", "tf")).isEmpty &&
      htf.select("id", "term", "tf").except(
        ttf.select("id", "term", "tf")).isEmpty)
    assert(ttf.count() === htf.count() && tdl.count() === hdl.count())
    assert(tdf.except(hdf).isEmpty && hdf.except(tdf).isEmpty)
    assert(tst.collect().toSeq === hst.collect().toSeq)
    // ANN: tiered postings ≡ head fold, tiered probe geometry
    // bit-identical to the head's partial fold
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val tp = ops.AnnIndex.tieredHeadPostings(spark, dir, k = k,
      chain = "c4")
    val hp = ops.AnnIndex.postingsAsOf(spark, dir,
      ops.AnnIndex.headVersion("c4"), k = k, chain = "c4")
    assert(tp.except(hp).isEmpty && hp.except(tp).isEmpty)
    val tc = ops.AnnIndex.tieredProbeCents(spark, dir, k = k,
      chain = "c4").collect().map(_.toString).sorted
    val hc = ops.AnnIndex.probeCentsAsOf(spark, dir,
      ops.AnnIndex.headVersion("c4"), k = k, chain = "c4")
      .collect().map(_.toString).sorted
    assert(tc.toSeq === hc.toSeq,
      "tiered probe geometry must fold bit-identically")
  }

  test("q330 serves the RRF hybrid with BOTH arms at their " +
      "tombstoned md heads: no victim appears as a query or a " +
      "candidate on either side, and both rank lists contribute to " +
      "the fusion") {
    val rows = SparkEntry
      .queries("q330_hybrid_takedown_serve")(spark, dir)
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 7 != 3 && r.getLong(1) % 7 != 3,
        s"takedown victim served by the hybrid: $r")
    }
    assert(rows.exists(r => !r.isNullAt(2)) &&
      rows.exists(r => !r.isNullAt(3)),
      "both the lexical and dense arms must contribute ranks")
  }

  test("q331 composes the takedown with the epoch rotation: the " +
      "delete lands on whichever epoch is serving (the sf0.001 " +
      "fixture fires RETRAIN, so the rotated epoch-1 store serves " +
      "masked), no victim appears as query or candidate, and the " +
      "published epoch tombstone artifact physically masks the store") {
    val rows = SparkEntry
      .queries("q331_epoch_takedown_serve")(spark, dir)
      .collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct === Seq("retrained"),
      "sf0.001 flips the measured decision to RETRAIN (q321's " +
        "fixture note) — the takedown must land on epoch 1")
    rows.foreach { r =>
      assert(r.getLong(2) % 7 != 3 && r.getLong(3) % 7 != 3,
        s"takedown victim served from the rotated epoch: $r")
    }
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val (posts, _) = ops.AnnIndex.epochTakedownStore(spark, dir,
      k = k)
    assert(posts.where(ops.AnnIndex.deleteSplit).count() === 0L,
      "the masked epoch store must hold no victim row")
  }

  test("q332 runs the compaction rule inside the streaming commit: " +
      "once the micro-segments cross the 4-segment threshold the " +
      "commit folds the streamed tail into one merged segment and " +
      "retires the micro-segments, and the served layout label is " +
      "derived from that physical end state") {
    val rows = SparkEntry
      .queries("q332_stream_auto_compact")(spark, dir)
      .collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct === Seq("tiered"),
      "the stream must leave exactly [standing, merged] on disk — " +
        "a 'fold' label means the in-commit compaction never fired")
  }

  test("q333 runs the compaction rule inside the streaming ANN " +
      "commit: the threshold-crossing commit folds the streamed " +
      "postings tail into one merged segment, retires the " +
      "micro-segments, and the serve derives its layout label from " +
      "that physical end state") {
    val rows = SparkEntry
      .queries("q333_stream_ann_auto_compact")(spark, dir)
      .collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct === Seq("tiered"),
      "the stream must leave exactly [standing, merged] on disk")
  }

  test("the delete lifecycle re-expressed through the chain algebra " +
      "is value-identical to round 16's sibling-root form: " +
      "framesAfterDelete ≡ md-chain head state ≡ survivors from " +
      "scratch, on both arms") {
    val docs = Tables.load(spark, dir, "documents")
    val f = ops.LexIndex.framesAsOf(spark, dir, 2L, "md")
    val scratch = ops.LexIndex.buildFrames(
      docs.where(!ops.LexIndex.deleteSplit))
    assert(f._3.exceptAll(scratch._3).count() === 0L &&
      scratch._3.exceptAll(f._3).count() === 0L,
      "post-delete df must equal the survivors' df")
    assert(f._4.collect().toSeq === scratch._4.collect().toSeq)
    val (k, _) = ops.AnnIndex.sizedParams(spark, dir)
    val masked = ops.AnnIndex.postingsAsOf(spark, dir, 2L, k = k,
      chain = "md")
      .select("vec_id")
    val want = Tables.load(spark, dir, "embeddings")
      .where(!ops.AnnIndex.deleteSplit).select("vec_id")
    assert(masked.exceptAll(want).count() === 0L &&
      want.exceptAll(masked).count() === 0L)
  }
}
