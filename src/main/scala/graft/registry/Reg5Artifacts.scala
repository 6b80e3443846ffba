package graft.registry

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Agg, Artifacts, Audio, Chains, Curate, Dedup, EventsOps, Graph, Jpeg, Layout, LexIndex, Multimodal, Num, Prune, Sentiment, Sim, Sketch, Skew, Star, Text}
import graft.sources.Sources

import Shared._
import Fragments._
import graft.ops.Present._

/** Artifact store, multimodal codecs (PNG/WAV/aHash), splits,
  * retrieval (BM25), distribution monitors, text/statistical
  * analysis extensions.
  *
  * Mechanically split out of SparkEntry.scala (round 10) — every entry
  * is verbatim; SparkEntry composes the parts back into the one map.
  */
private[graft] object Reg5Artifacts {

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(


    // north star — the ARTIFACT STORE made physical (Artifacts
    // scaladoc): the (pairs, components) dedup artifact written to
    // parquet once and the summary report read back ENTIRELY from the
    // store — the cluster shape where every dedup report is a cheap
    // scan of a materialized snapshot, not a pipeline re-run. This
    // query is the WRITER: it runs the pair+CC pipeline directly (not
    // via the memo), so the bench keeps charging the full build cost
    // somewhere visible even though every report query reads the
    // memoized artifact for free.
    "q167_artifact_store" -> ((s, dir) => {
      val path = stagePath("q167", dir)
      val pairsBuilt = Dedup.lshVerifiedPairs(t(s, dir, "documents"),
          "doc_id", "text", k = 8, bands = 4, minJaccard = 0.2)
        .localCheckpoint() // feeds the write AND the CC build
      pairsBuilt.write.mode("overwrite").parquet(s"$path/pairs")
      Dedup.componentsConverged(pairsBuilt)
        .write.mode("overwrite").parquet(s"$path/components")
      val pairs = graft.ops.StoreRead.parquet(s, s"$path/pairs")
      val comp = graft.ops.StoreRead.parquet(s, s"$path/components")
      // jaccard is floored at 4 dp upstream, so the decimal(18,4) sum
      // is exact and order-insensitive (the q01 money-sum contract)
      val pStats = pairs.agg(count(lit(1)).as("n_pairs"),
        Num.floorAt(sum(col("jaccard").cast("decimal(18,4)"))
          .cast("double") / count(lit(1)), 4).as("mean_jaccard"))
      val cStats = comp.groupBy("component")
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_components"),
          sum(col("sz")).as("n_labeled_docs"),
          max(col("sz")).as("max_cluster"))
      pStats.crossJoin(broadcast(cStats))
    }),


    // north star — REAL PNG decode (Multimodal.decodePng scaladoc):
    // q70's closed-form pixel rule encoded as real PNG files through
    // the JDK's own javax.imageio writer, decoded back
    // partition-parallel, per-channel means exact. PNG is LOSSLESS, so
    // the oracle replays the pixel rule — encoder byte streams differ,
    // decoded pixels cannot (n_bytes is encoder-dependent and
    // deliberately not in the output).
    "q168_png_decode" -> ((s, dir) => {
      val media = Multimodal.pngMediaFromDocuments(t(s, dir, "documents"))
      Multimodal.decodeImages(media).toDF()
        .select(col("media_id"), col("kind"),
          col("width"), col("height"), col("n_pixels"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .presentLargeBy("media_id")
    }),

    // north star — REAL baseline-JPEG round-trip (Jpeg scaladoc): the
    // last stub in the multimodal matrix closed. Grayscale rule rasters
    // encoded as real JFIF streams (Annex-K huffman, zigzag, byte
    // stuffing), decoded back partition-parallel; the FIXED integer
    // DCT basis makes the lossy chain bit-exact, so the oracle replays
    // rule -> FDCT -> quantize -> dequantize -> IDCT -> clamp with the
    // SAME interpolated basis/quant constants. One wrong huffman bit
    // anywhere in the real bitstream shifts every later coefficient —
    // a hash mismatch, not a near-miss. (n_bytes is entropy-dependent
    // and deliberately not in the output.)
    "q234_jpeg_decode" -> ((s, dir) => {
      val media = Jpeg.jpegMediaFromDocuments(t(s, dir, "documents"))
      Jpeg.decodeJpegs(media).toDF()
        .select(col("media_id"), col("kind"),
          col("width"), col("height"), col("n_pixels"),
          col("sum_gray"), col("mean_gray"))
        .presentLargeBy("media_id")
    }),


    // north star — REAL WAV/PCM16 audio decode (Audio scaladoc): the
    // audio twin of q70/q168 — real RIFF files built from a closed-form
    // sample rule, chunk-walked and measured partition-parallel;
    // integer-exact features (peak, zero crossings, integer-division
    // duration) plus one floored mean and one floored IEEE-sqrt rms,
    // all replayed by the oracle from the rule.
    "q169_wav_decode" -> ((s, dir) => {
      val media = Audio.wavMediaFromDocuments(t(s, dir, "documents"))
      Audio.decodeAudio(media).toDF()
        .select(col("media_id"), col("kind"), col("sample_rate"),
          col("n_samples"), col("duration_ms"), col("peak_abs"),
          col("n_zero_cross"), col("mean_sample"), col("rms"))
        .presentLargeBy("media_id")
    }),


    // north star — Cavnar–Trenkle n-gram language ID (Text.langIdNgram
    // scaladoc): trigram rank profiles per declared lang, out-of-place
    // distance per (doc, lang), argmin prediction — the real public
    // lang-ID method replacing q38's stopword heuristic; profiles are
    // |langs|*k rows, broadcast.
    "q170_langid_ct" -> ((s, dir) =>
      // the prediction-artifact build; q173 reads the same artifact
      Artifacts.ctPredictions(s, dir, k = 40)
        .orderBy("doc_id")),


    // north star — image perceptual hash (Multimodal.aHash36 scaladoc):
    // real decode → 6x6 nearest-neighbor aHash per image, then the
    // exact-duplicate bucket size via groupBy+join-back (the q128
    // member-count shape — a viral logo/thumbnail is exactly the hot
    // bucket). The image-side dedup fingerprint next to the text-side
    // SimHash family; hamming-banded pair joins ride the q34 machinery.
    "q171_image_phash" -> ((s, dir) => {
      val hashed = Multimodal.perceptualHash(
        Multimodal.ppmMediaFromDocuments(t(s, dir, "documents"))).toDF()
        .localCheckpoint() // feeds the bucket agg AND the join-back
      val sizes = hashed.groupBy("phash")
        .agg(count(lit(1)).as("n_bucket"))
      hashed.join(sizes, Seq("phash"))
        .select(col("media_id"), col("kind"), col("phash"),
          col("n_bucket"))
        .orderBy("media_id")
    }),


    // north star — LEAKAGE-SAFE k-fold split: fold assignment is a pure
    // md5 function of the near-dup COMPONENT (docs outside the pair
    // graph are their own group), so near-duplicates can never straddle
    // a train/eval boundary — the q74 random split leaks: a doc and its
    // near-copy land in different folds and the eval is contaminated.
    // Composes the Artifacts component labels with q74's deterministic
    // hash-split; one left join, scan-local fold math.
    "q172_leakage_safe_split" -> ((s, dir) => {
      val comp = Artifacts.components(s, dir,
        k = 8, bands = 4, minJaccard = 0.2)
      t(s, dir, "documents").select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("split_group",
          coalesce(col("component"), col("doc_id")))
        .withColumn("fold",
          (conv(substring(md5(col("split_group").cast("string")), 1, 4),
            16, 10).cast("int") % 5).cast("int"))
        .select(col("doc_id"), col("split_group"), col("fold"))
        .orderBy("doc_id")
    }),


    // north star — mixture weights over the PREDICTED language: q170's
    // CT classifier feeding q152's α-temperature recipe — the trained
    // per-language rebalance (declared labels are scraped metadata;
    // mixture recipes in production weigh what the classifier says the
    // text IS). Profile scoring rides the broadcast shape; weights are
    // |langs| rows.
    "q173_pred_lang_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = Artifacts.ctPredictions(s, dir, k = 40)
        .select(col("doc_id"), col("pred_lang"))
      Curate.mixtureWeights(docs.join(pred, Seq("doc_id")),
          "pred_lang", "text", alpha = 0.5, budget = 1000000L)
        .withColumnRenamed("grp", "pred_lang")
        .orderBy("pred_lang")
    }),


    // §2.5 gap — per-group MAD (Agg.madByRank scaladoc): the robust
    // scale estimate next to q158's winsorization — both medians exact
    // rank selections, no per-group buffer anywhere.
    "q174_mad" -> ((s, dir) =>
      Agg.madByRank(t(s, dir, "events"), "event_type", "value")
        .orderBy("event_type")),


    // north star — audio fingerprint (Audio.energyFingerprint
    // scaladoc): real WAV decode → energy-delta sign bits — the audio
    // twin of q171's image aHash; exact-dup buckets via the same
    // groupBy+join-back, oracle replays energies from the sample rule.
    "q175_audio_fingerprint" -> ((s, dir) => {
      val fp = Audio.fingerprintAudio(
          Audio.wavMediaFromDocuments(t(s, dir, "documents")), win = 2)
        .toDF()
        .localCheckpoint() // feeds the bucket agg AND the join-back
      val sizes = fp.groupBy("fingerprint")
        .agg(count(lit(1)).as("n_bucket"))
      fp.join(sizes, Seq("fingerprint"))
        .select(col("media_id"), col("kind"), col("n_windows"),
          col("fingerprint"), col("n_bucket"))
        .orderBy("media_id")
    }),


    // op-1 RANKED twin — BM25 retrieval (Text.bm25Retrieve scaladoc):
    // the reference's keyword search (etl_pipeline.py:44-51) as ranked
    // retrieval over an inverted index instead of substring match;
    // broadcast query terms reduce the corpus to matching postings
    // before any other join.
    "q176_bm25_retrieval" -> ((s, dir) =>
      LexIndex.serveKeywords(s,
          LexIndex.buildFrames(t(s, dir, "documents")))
        .orderBy("query_id", "rk")),


    // artifacts — BM25 served from the PHYSICAL inverted index
    // (LexIndex scaladoc): q176's exact queries ranked from the stored
    // (tf, dl, df, stats) frames — the corpus text is never tokenized
    // at query time; one training-pass publishes the store, every
    // query batch (and restart) reads bytes. Bound to q176's oracle
    // string: one contract, on-the-fly and stored engines.
    "q291_bm25_stored" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.frames(s, dir))
        .orderBy("query_id", "rk")),


    // artifacts — INCREMENTAL inverted-index maintenance (LexIndex.
    // merge scaladoc): the corpus split 80/20, each slice indexed
    // alone, the delta FOLDED into the standing frames with three
    // count-sum aggregates (postings never rebuild — the q280 append
    // story for text), and q176's queries served from the merged
    // index. Bound to q176's oracle string: one contract, THREE
    // engines (on-the-fly q176, stored q291, incremental-merge q292).
    "q292_bm25_index_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      LexIndex.serveKeywords(s, LexIndex.merge(
          LexIndex.buildFrames(docs.where(col("doc_id") % 5 =!= 0)),
          LexIndex.buildFrames(docs.where(col("doc_id") % 5 === 0))))
        .orderBy("query_id", "rk")
    }),


    // artifacts — the maintained inverted index SERVES FROM STORAGE
    // (r15, the LexIndex segment lifecycle — the AnnIndex q299 shape
    // for text): segment 0 = the standing slice's four frames,
    // segment 1 = the delta batch indexed ALONE (an append writes
    // ∝ batch and never touches a standing posting byte), and q176's
    // queries rank from the segments' published bytes folded at read
    // (tf/dl pure unions, df/stats re-summed — merge ≡ build(A∪B),
    // q292's property). Bound to q176's oracle string: one contract,
    // five engines.
    "q305_bm25_index_serve" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.framesAsOf(s, dir, 1L))
        .orderBy("query_id", "rk")),


    // artifacts — TIME-TRAVEL serving (the audit read a maintained
    // index owes its operators): q176's queries served from segment 0
    // ALONE — the index exactly as it stood before the append, with
    // df/dl/stats all scoped to the standing corpus (what segment 0
    // physically stores). The oracle is the BM25 chain restricted to
    // the standing slice, so "as of version 0" is itself an
    // oracle-gated contract, not just a readable directory.
    "q310_lex_asof_serve" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.framesAsOf(s, dir, 0L))
        .orderBy("query_id", "rk")),


    // artifacts — STREAMING segment appends (the q282 frozen-append
    // story for text; StreamOps.lexAppendGate scaladoc): the delta
    // slice replayed as 3 real micro-batches, each indexed alone and
    // published as its own segment (write ∝ batch), then q176's
    // queries served from the standing-∪-streamed fold — bound to
    // q176's oracle string: with q176/q291/q292/q305/q306 the BM25
    // contract now has SIX provably-equal engines, and the text
    // index's ingest path is gated under a REAL multi-micro-batch
    // streaming replay like the ANN side's q282.
    "q309_stream_lex_append" -> ((s, dir) =>
      graft.streaming.StreamOps.docsGateResult(s, dir,
          "q309_stream_lex_append")
        .orderBy("query_id", "rk")),


    // artifacts — STREAMING auto-compaction (r17;
    // StreamOps.lexAutoCompactGate scaladoc): the q309 ingest with
    // the q324 segment-count rule evaluated INSIDE every micro-batch
    // commit — crossing the 4-segment threshold makes the same commit
    // fold the streamed tail into one merged segment and retire the
    // micro-segments (the q328 tiered merge as stream maintenance;
    // the standing segment is never read). The layout column is
    // derived from the store's PHYSICAL end state, so the oracle's
    // pinned 'tiered' label gates that the compaction actually
    // committed, and the rows stay bound to q176's full-corpus
    // string.
    "q332_stream_auto_compact" -> ((s, dir) =>
      graft.streaming.StreamOps.docsGateResult(s, dir,
          "q332_stream_auto_compact")
        .orderBy("query_id", "rk")),


    // artifacts — STREAMING takedown (StreamOps.lexDeleteGate
    // scaladoc): the delete slice replayed as 3 real micro-batches,
    // each publishing its own batch-sized tombstone mini-segment
    // (ids + negative df/stats counts), then q176's queries served
    // from the head masked by the union of committed tombstones with
    // the count negatives folded off the pre-folded cums — bound to
    // q315's oracle string, so batch and streaming takedown are
    // provably ONE maintenance operator (the q280≡q282 / q305≡q309
    // discipline, now for deletes).
    "q320_stream_takedown" -> ((s, dir) =>
      graft.streaming.StreamOps.docsGateResult(s, dir,
          "q320_stream_takedown")
        .orderBy("query_id", "rk")),


    // artifacts — inverted-index COMPACTION (the q302 step for text):
    // the segment chain folded into one fresh single-segment snapshot
    // (per-bucket single postings files; reads stop paying the
    // per-segment union and the read-side df/stats re-aggregation),
    // then the SAME serving as q305 runs against it — bound to q176's
    // oracle string, so the driver gate proves compaction is
    // serving-invariant. With q291/q292/q305 the text index now
    // closes build → append → serve → compact under oracle gates,
    // matching the ANN side's lifecycle.
    "q306_bm25_index_compact" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.compactedHeadFrames(s, dir))
        .orderBy("query_id", "rk")),


    // artifacts — MID-CHAIN time-travel serving (r15 verdict ask #6:
    // the 2-segment fixture proved the fold shape but no registered
    // query read an as-of version that is neither the standing index
    // nor the head). The "c3" chain splits the delta into TWO ingest
    // batches (doc_id%10 = 0, then = 5); this serves q176's queries
    // AS OF version 1 — standing ∪ first batch, folded from published
    // segment bytes with the SECOND batch's segment never read. The
    // oracle is the BM25 chain scoped to exactly that doc set, so a
    // mid-chain read is an oracle-gated contract: df/dl/stats all
    // reflect the corpus as it stood between the two appends.
    "q312_lex_midchain_serve" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.framesAsOf(s, dir, 1L, "c3"))
        .orderBy("query_id", "rk")),


    // artifacts — tombstone DELETES (r16; LexIndex delete scaladoc):
    // the lifecycle's missing production operation — a takedown pass
    // (doc_id%7=3) publishes ONE tombstone segment (the deleted ids +
    // the deleted docs' own count frames as a NEGATIVE segment; cost
    // ∝ batch, no standing posting byte read), and q176's queries
    // serve from the masked head: tf/dl anti-join the broadcast
    // tombstones, df/stats read the pre-folded AFTER frames (head cum
    // − deleted counts, zero-df terms dropped — exact integer
    // algebra). The oracle is the BM25 chain over the SURVIVING
    // corpus, so the delete's effect on every BM25 component (df, dl,
    // avgdl, n_docs) is driver-gated — a masked index that silently
    // served stale df would fail the gate.
    "q315_lex_delete_serve" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.framesAsOf(s, dir, 2L, "md"))
        .orderBy("query_id", "rk")),


    // artifacts — delete COMPACTION (the reclaim step every tombstone
    // design needs, or masked rows accrete forever): the surviving
    // postings physically rewritten into one fresh snapshot, the
    // tombstoned rows dropped for real, then the SAME serving as q315
    // runs against it — bound to q315's oracle string (one contract,
    // two layouts: masked fold / compacted survivors). With
    // q291/q305/q306/q309/q310/q312 the text index now closes
    // build → append → serve → delete → compact under oracle gates.
    "q317_lex_delete_compact" -> ((s, dir) =>
      LexIndex.serveKeywords(s, LexIndex.compactedHeadFrames(s, dir, "md"))
        .orderBy("query_id", "rk")),


    // artifacts — the MIXED chain served at EVERY version (r17; r16
    // verdict ask #3: append→delete→append histories were
    // inexpressible while deletes lived as a sibling root over the
    // head). The "m3" chain is append(standing) → delete(doc_id%7=3,
    // captured against the then-live corpus) → append(delta); this
    // serves q176's queries AS OF each of its three versions in one
    // output — v0 the standing index, v1 the takedown-masked standing
    // index (df/dl/stats from the tombstone segment's pre-folds), v2
    // the masked standing ∪ the post-delete batch, whose %7=3 docs
    // STAY LIVE because tombstones are captured ids, not a filter.
    // The oracle is the BM25 chain scoped to each version's surviving
    // corpus, union'd with the version column — so every state of a
    // mixed chain is an oracle-gated serving contract, including the
    // capture-time semantics (a global %7 filter in the engine would
    // fail v2's gate).
    "q322_lex_mixed_asof" -> ((s, dir) =>
      (0L to 2L).map { v =>
        LexIndex.serveKeywords(s, LexIndex.framesAsOf(s, dir, v, "m3"))
          .select(lit(v).as("version"), col("*"))
      }.reduce(_.unionByName(_))
        .orderBy("version", "query_id", "rk")),


    // artifacts — EXECUTING the compaction q324 decides (r17, the
    // q321 decide→act pattern applied to the text index): the policy
    // row is MEASURED from the stores (chainStatsFrame — the q324
    // inputs), then each tombstoned chain's head SERVES FROM THE
    // LAYOUT THE POLICY CHOSE — "md" clears the 1/8 tombstone-share
    // threshold and serves from the compacted survivors (the reclaim
    // executed), "m3" sits under it and serves through the mask. Rows
    // are layout-invariant by the compaction contract (q317 proved
    // masked ≡ compacted), so the oracle pins WHICH layout served via
    // the replayed policy flag in the layout column — an engine that
    // compacted without the decision, or ignored it, fails the gate.
    "q326_lex_compaction_execute" -> ((s, dir) => {
      val decisions = Chains.compactDecisions(
        LexIndex.chainStatsFrame(s, dir, Seq("md", "m3")))
      Seq("md", "m3").map { ch =>
        val f =
          if (decisions(ch)) LexIndex.compactedHeadFrames(s, dir, ch)
          else LexIndex.framesAsOf(s, dir, LexIndex.headVersion(ch), ch)
        LexIndex.serveKeywords(s, f)
          .select(lit(ch).as("chain"),
            lit(if (decisions(ch)) "compacted" else "masked")
              .as("layout"), col("*"))
      }.reduce(_.unionByName(_))
        .orderBy("chain", "query_id", "rk")
    }),


    // artifacts — TIERED compaction EXECUTED (r17; q326's sibling for
    // the policy's OTHER arm): when the segment-COUNT arm fires on an
    // all-append chain there is nothing to reclaim, and the 100 TB
    // cure is the LSM one — merge only the batch-sized tail segments,
    // never touch the base ([[graft.ops.LexIndex.tieredHeadFrames]]).
    // The policy row is MEASURED (chainStatsFrame), then "c4" (4
    // segments — over the segs ≥ 4 threshold) serves its head through
    // the tiered [base, merged-tail] layout while "c3" (3 segments —
    // under it) keeps the plain N-segment fold. Rows are layout-
    // invariant by append disjointness; the oracle pins WHICH layout
    // served via the replayed rule in the layout column.
    "q328_lex_tiered_execute" -> ((s, dir) => {
      val decisions = Chains.compactDecisions(
        LexIndex.chainStatsFrame(s, dir, Seq("c4", "c3")))
      Seq("c4", "c3").map { ch =>
        val f =
          if (decisions(ch)) LexIndex.tieredHeadFrames(s, dir, ch)
          else LexIndex.framesAsOf(s, dir, LexIndex.headVersion(ch), ch)
        LexIndex.serveKeywords(s, f)
          .select(lit(ch).as("chain"),
            lit(if (decisions(ch)) "tiered" else "fold").as("layout"),
            col("*"))
      }.reduce(_.unionByName(_))
        .orderBy("chain", "query_id", "rk")
    }),


    // §2.5 gap — pairwise correlation MATRIX (Agg.exactCorrMatrix
    // scaladoc): all power sums for all pairs in ONE scan, closed
    // forms off the 1-row state — the feature-redundancy profile, and
    // mergeable across shards like q116's states.
    "q177_corr_matrix" -> ((s, dir) =>
      Agg.exactCorrMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")),


    // §2.5 gap — equi-depth histogram (Agg.equiDepthHistogram
    // scaladoc): exact k-quantile bin edges by rank selection over the
    // pre-aggregated VALUE DOMAIN (not the row stream), k-1 edges
    // broadcast back for one binning scan — the feature-binning /
    // range-partition-planning profile.
    "q178_equidepth_hist" -> ((s, dir) =>
      Agg.equiDepthHistogram(t(s, dir, "events"), "value", k = 8)
        .orderBy("bin")),


    // north star — ingest DELTA pair generation (Dedup.lshDeltaPairs
    // scaladoc): the pair step of an incremental artifact refresh —
    // candidates from batch-banded × union-banded (cost ∝ batch), the
    // oracle checks the invariant delta ≡ full-corpus pairs filtered
    // to those touching the batch. Composes q135 (admission) upstream
    // and q140 (incremental CC) downstream into the complete
    // per-ingest artifact maintenance loop.
    "q179_ingest_delta_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the standing band frame is a store read (Artifacts.
      // standingBands): only the batch is signed per ingest
      Dedup.lshDeltaPairs(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 8, bands = 4, minJaccard = 0.2,
          standingBanded = Some(Artifacts.standingBands(s, dir,
            k = 8, bands = 4)))
        .orderBy("id_a", "id_b")
    }),


    // north star — chi² independence audit (Agg.chi2Independence
    // scaladoc): is `lang` independent of `source`, or does a scraper
    // mislabel languages? Zero-observed cells contribute in closed
    // form (Σ_all E = n); per-cell terms sum order-free through
    // decimal.
    "q180_chi2_independence" -> ((s, dir) =>
      Agg.chi2Independence(t(s, dir, "documents"), "source", "lang")),


    // north star — distributional source similarity (Curate.jsDivergence
    // scaladoc): Jensen-Shannon divergence between per-source unigram
    // distributions — q146 catches literal mirrors, this catches
    // same-register sources with zero literal overlap; exclusive mass
    // in closed form, shared-term join bounded by S per term.
    "q181_js_divergence" -> ((s, dir) =>
      Curate.jsDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy("g_a", "g_b")),


    // north star — robust anomaly profile (Agg.robustAnomalies
    // scaladoc): modified z-scores from median/MAD (50% breakdown —
    // an extreme value cannot inflate the scale estimate and mask
    // itself, the q147 mean/sigma failure mode), flagged at the
    // standard 3.5 on the FLOORED score.
    "q182_robust_anomalies" -> ((s, dir) =>
      Agg.robustAnomalies(t(s, dir, "events"), "event_type", "value")
        .presentBy("event_type")),


    // north star — ingest novelty (Curate.batchNovelty scaladoc): the
    // content-level admission signal next to q135's signature identity
    // — share of each batch doc's shingles the standing corpus has
    // never seen; anti-join on the shingle key, cost ∝ batch.
    "q183_batch_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curate.batchNovelty(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .orderBy("doc_id")
    }),


    // §2.5 gap — WEIGHTED median (Agg.weightedMedian scaladoc): the
    // quantity-weighted median price per return flag — tie-invariant
    // rank selection over exact integer cumulative weights, the value
    // itself is data (no float arithmetic anywhere).
    "q184_weighted_median" -> ((s, dir) =>
      Agg.weightedMedian(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", "l_quantity")
        .presentBy("l_returnflag")),


    // north star — mixture concentration (Agg.hhiConcentration
    // scaladoc): HHI of token mass over sources + the effective-source
    // count — the is-one-source-dominating monitor that triggers
    // q152's re-weigh.
    "q185_source_hhi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Agg.hhiConcentration(
        docs.select(col("source"),
          Text.cleanTokens(col("text")).as("t"))
          .select(col("source"), size(col("t")).as("nt")),
        "source", col("nt"))
    }),


    // north star — embedding-store quality gate (Sim.embeddingAudit
    // scaladoc): zero vectors, non-finite vectors, mixed dims, norm
    // profile per label — one scan-local pass, no vector shuffle.
    "q186_embedding_audit" -> ((s, dir) =>
      Sim.embeddingAudit(t(s, dir, "embeddings")).orderBy("label")),


    // north star — lexical-richness profile (Text.vocabGrowth
    // scaladoc): hapax/dis-legomena counts, TTR and hapax share per
    // source — the Heaps-law health check that flags template or
    // generated sources next to q151's entropy.
    "q187_vocab_growth" -> ((s, dir) =>
      Text.vocabGrowth(t(s, dir, "documents"), "source", "text")
        .withColumnRenamed("grp", "source")
        .orderBy("source")),


    // north star — containment on the verified pair graph
    // (Dedup.containmentPairs scaladoc): the quote/subset signature
    // Jaccard under-reports — |A∩B|/|A| vs |A∩B|/|B| per pair, cost
    // bounded by the pair artifact, not the corpus.
    "q188_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"),
          Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
            minJaccard = 0.2),
          "doc_id", "text", w = 3)
        .orderBy("id_a", "id_b")),


    // north star — cluster cap (Dedup.clusterCap scaladoc): keep the 2
    // smallest doc_ids per near-dup component — the keep-n-exemplars
    // policy between q157's single survivor and no dedup; the window
    // is WindowGroupLimit-pruned (PlanSpec), input is the label
    // artifact.
    "q189_cluster_cap" -> ((s, dir) =>
      Dedup.clusterCap(
          Artifacts.components(s, dir, k = 8, bands = 4,
            minJaccard = 0.2),
          n = 2)
        .orderBy("doc_id")),


    // north star — HyperLogLog distinct sketch AS A KEYED AGGREGATION
    // (Sketch.hllRegisters scaladoc): registers are (key, reg, mx)
    // rows, union = cell-max groupBy — asserted in-query against the
    // one-shot frame (merge_equals_full, the q136/q122 pattern) — and
    // the oracle replays every register exactly; the only float in
    // the whole pipeline is the final floored estimate.
    "q190_hll_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val merged = Sketch.hllMerge(Seq(
        Sketch.hllRegisters(ev.where(col("event_id") % 10 =!= 0),
          "event_type", "user_id"),
        Sketch.hllRegisters(ev.where(col("event_id") % 10 === 0),
          "event_type", "user_id")))
      val full = Sketch.hllRegisters(ev, "event_type", "user_id")
      val nDiff = merged
        .join(full.withColumnRenamed("mx", "mx_full"),
          Seq("key", "reg"), "full")
        .where(coalesce(col("mx"), lit(-1)) =!=
          coalesce(col("mx_full"), lit(-1)))
        .agg(count(lit(1)).as("n_cell_diff"))
      val exact = ev.groupBy(col("event_type").as("key"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      Sketch.hllEstimate(merged)
        .join(exact, "key")
        .crossJoin(broadcast(nDiff))
        .select(col("key").as("event_type"), col("exact_distinct"),
          col("hll_estimate"), col("nz_registers"), col("v_zero"),
          col("n_cell_diff"))
        .presentBy("event_type")
    }),


    // north star — source×source dup matrix (Dedup.pairSourceMatrix
    // scaladoc): heavy off-diagonal cells are mirrors/scrapes caught
    // at the VERIFIED-pair level (q146 sees shared vocabulary; this
    // sees confirmed pairs); pair-artifact-bounded.
    "q191_pair_source_matrix" -> ((s, dir) =>
      Dedup.pairSourceMatrix(t(s, dir, "documents"),
          Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
            minJaccard = 0.2),
          "doc_id", "source")
        .orderBy("src_a", "src_b")),


    // monitoring — two-sample KS between the two largest sources' doc
    // lengths (Agg.ksTwoSample scaladoc): binning-free distribution
    // gate; the ordered pass runs over the VALUE DOMAIN, not rows.
    "q192_ks_two_sample" -> ((s, dir) =>
      Agg.ksTwoSample(t(s, dir, "documents"), "source", "n_chars",
        "src0", "src1")),


    // monitoring — per-source Gini of doc-length inequality
    // (Agg.giniByGroup scaladoc): HHI asks which group dominates,
    // Gini asks how unequal the mass is INSIDE a group.
    "q193_gini_lengths" -> ((s, dir) =>
      Agg.giniByGroup(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source")),


    // dedup — order-insensitive exact dedup on the sorted distinct
    // token set (Dedup.bagOfWordsDupGroups scaladoc): catches
    // reshuffled boilerplate at exact-dedup (one-shuffle) cost.
    "q194_bow_dedup" -> ((s, dir) =>
      Dedup.bagOfWordsDupGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    // similarity — label-centroid cosine matrix
    // (Sim.labelCentroidCosine scaladoc): the label-confusion monitor;
    // one hash agg reduces the corpus to |labels|·dim rows.
    "q195_centroid_cosine" -> ((s, dir) =>
      Sim.labelCentroidCosine(t(s, dir, "embeddings"), "label",
          "embedding")
        .orderBy("label_a", "label_b")),


    // monitoring — single-changepoint scan over daily event-value means
    // (EventsOps.changepointScan scaladoc): the level-shift detector
    // dailyAnomalies is blind to; |days|-sized after one scan.
    "q196_changepoint" -> ((s, dir) =>
      EventsOps.changepointScan(t(s, dir, "events"), "value")),


    // dedup — longest common verbatim token run per verified pair
    // (Dedup.commonRunPairs scaladoc): the substring-level signal set
    // similarity dilutes; gaps-and-islands on shingle-position
    // diagonals, cost ∝ the pair list.
    "q197_common_run" -> ((s, dir) =>
      Dedup.commonRunPairs(t(s, dir, "documents"),
          Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
            minJaccard = 0.2),
          "doc_id", "text", w = 3)
        .orderBy("id_a", "id_b")),


    // dedup — duplication rate by equi-depth length decile
    // (Curate.dupRateByBucket scaladoc): is duplication length-biased?
    // Rank-selected edges over the value domain + pair-membership probe.
    "q198_dup_rate_by_length" -> ((s, dir) =>
      Curate.dupRateByBucket(t(s, dir, "documents"),
          Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
            minJaccard = 0.2),
          "doc_id", "n_chars", k = 10)
        .orderBy("bin")),


    // dedup — IDF-weighted Jaccard per verified pair
    // (Dedup.idfWeightedJaccard scaladoc): shared rare terms count for
    // more than shared stopwords; corpus-df pass + pair-bounded joins.
    "q199_idf_jaccard" -> ((s, dir) =>
      Dedup.idfWeightedJaccard(t(s, dir, "documents"),
          Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
            minJaccard = 0.2),
          "doc_id", "text")
        .orderBy("id_a", "id_b")),


    // text quality — interpolated-bigram mean log2 prob
    // (Curate.bigramLogProb scaladoc): the word-order-aware rung above
    // q127's unigram proxy; twice the q127 df-pass skeleton.
    "q200_bigram_logprob" -> ((s, dir) =>
      Artifacts.bigramScores(s, dir)
        .orderBy("doc_id")),


    // dedup — degree profile of the verified pair graph
    // (Dedup.pairDegreeProfile scaladoc): the hub/template alarm; two
    // keyed aggs over the pair artifact, corpus untouched.
    "q201_dup_degree_profile" -> ((s, dir) =>
      Dedup.pairDegreeProfile(
          Artifacts.nearDupPairs(s, dir, k = 8, bands = 4,
            minJaccard = 0.2))
        .orderBy("deg")),


    // text analysis — vocabulary coverage curve (Text.vocabCoverage
    // scaladoc): token mass covered by the top-k terms at tokenizer
    // budgets 100/1k/10k; the rank window runs over vocab rows only.
    "q202_vocab_coverage" -> ((s, dir) =>
      Text.vocabCoverage(t(s, dir, "documents"), "text",
          Seq(100, 1000, 10000))
        .orderBy("k")),


    // text analysis — lang-ID confusion matrix (Text.langConfusion
    // scaladoc) over the memoized q170 prediction artifact; the corpus
    // text is never re-touched.
    "q203_langid_confusion" -> ((s, dir) =>
      Text.langConfusion(Artifacts.ctPredictions(s, dir))
        .orderBy("lang", "pred_lang")),


    // curation — CCNet-style perplexity terciles
    // (Curate.perplexityBuckets scaladoc): head/middle/tail cut of the
    // corpus by q200's bigram score, rank-selected exact edges.
    "q204_perplexity_buckets" -> ((s, dir) =>
      Curate.perplexityBucketsFromScores(Artifacts.bigramScores(s, dir))
        .orderBy("bucket"))
  )

  def oracles: ListMap[String, String] = ListMap(


      // the artifact round-trip is lossless, so the oracle is the same
      // pair+CC replay the rest of the family shares, summarized
      "q167_artifact_store" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |$ccCte,
           |p AS (SELECT COUNT(*) AS n_pairs,
           |  ${Num.floorAtSql(
             "CAST(SUM(CAST(jacc AS DECIMAL(18,4))) AS DOUBLE)" +
               " / COUNT(*)", 4)} AS mean_jaccard FROM pairs),
           |c AS (SELECT component, COUNT(*) AS sz FROM comp
           |  GROUP BY 1),
           |cs AS (SELECT COUNT(*) AS n_components,
           |  CAST(SUM(sz) AS BIGINT) AS n_labeled_docs,
           |  CAST(MAX(sz) AS BIGINT) AS max_cluster FROM c)
           |SELECT p.n_pairs, p.mean_jaccard, cs.n_components,
           |  cs.n_labeled_docs, cs.max_cluster FROM p, cs""".stripMargin,


      // full CT replay: trigram ranks (count desc, trigram asc — the
      // same total order both engines sort), out-of-place distance
      // with the absent-trigram penalty, argmin with alphabetical
      // tie-break; SUMs cast to BIGINT (DuckDB HUGEINT would surface
      // as float through pandas). Chain shared with q173.
      "q170_langid_ct" ->
        s"""WITH $ctPredCte
           |SELECT doc_id, lang, pred_lang, dist FROM ct_pred
           |ORDER BY doc_id""".stripMargin,


      // q152's weight arithmetic verbatim, grouped on q170's PREDICTED
      // language (the shared ct_pred chain)
      "q173_pred_lang_mixture" ->
        s"""WITH $ctPredCte,
           |c AS (SELECT p.pred_lang,
           |    CAST(SUM(len($toks)) AS BIGINT) AS n_tokens
           |  FROM documents JOIN ct_pred p USING (doc_id) GROUP BY 1),
           |z AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |    SUM(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM c)
           |SELECT pred_lang, n_tokens,
           |  ${Num.floorAtSql(
             "CAST(n_tokens AS DOUBLE) / total_tokens", 6)} AS share,
           |  ${Num.floorAtSql(
             "pow(CAST(n_tokens AS DOUBLE), 0.5) / z", 6)} AS weight,
           |  CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.5) / z
           |    * 1000000) AS BIGINT) AS expected_tokens
           |FROM c CROSS JOIN z ORDER BY pred_lang""".stripMargin,


      // fold = md5 of the COMPONENT (the q74 hash-split rule lifted to
      // the dup-cluster grain); pair+CC replay shared with the q128
      // family
      "q172_leakage_safe_split" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |$ccCte,
           |g AS (SELECT d.doc_id,
           |    COALESCE(c.component, d.doc_id) AS split_group
           |  FROM documents d LEFT JOIN comp c USING (doc_id))
           |SELECT doc_id, split_group,
           |  CAST(${md5Hex4Sql("CAST(split_group AS VARCHAR)")} % 5
           |    AS INTEGER) AS fold
           |FROM g ORDER BY doc_id""".stripMargin,


      // double rank selection: the q120 middle-rank median, then the
      // same selection over |x - p50| — identical IEEE subtract/abs on
      // identical doubles in both engines
      "q174_mad" ->
        s"""WITH r1 AS (SELECT event_type, value,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY value) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS n
           |  FROM events),
           |m AS (SELECT event_type, AVG(value) AS p50 FROM r1
           |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
           |d AS (SELECT e.event_type, abs(e.value - m.p50) AS dv
           |  FROM events e JOIN m USING (event_type)),
           |r2 AS (SELECT event_type, dv,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY dv) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS n
           |  FROM d),
           |md AS (SELECT event_type, MAX(n) AS n, AVG(dv) AS mad
           |  FROM r2
           |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1)
           |SELECT m.event_type, md.n,
           |  ${Num.floorAtSql("m.p50", 4)} AS p50,
           |  ${Num.floorAtSql("md.mad", 4)} AS mad
           |FROM m JOIN md USING (event_type)
           |ORDER BY event_type""".stripMargin,


      // the q93 BM25 replay joined to a literal query list; per-doc
      // scores sum the 4dp-floored weights through DECIMAL(18,4) (the
      // q160 floored-score-sum contract) so ranking is order-free
      "q176_bm25_retrieval" -> bm25RetrievalOracleSql,
      // ONE oracle, two engines: the stored-index serving form
      // (LexIndex postings, zero corpus tokenization at query
      // time) must rank bit-identically to the on-the-fly form
      "q291_bm25_stored" -> bm25RetrievalOracleSql,
      "q292_bm25_index_merge" -> bm25RetrievalOracleSql,
      // the stored-segment serve, the compacted snapshot, and the
      // streaming-append fold bind the SAME retrieval contract — six
      // engines, one string
      "q305_bm25_index_serve" -> bm25RetrievalOracleSql,
      "q306_bm25_index_compact" -> bm25RetrievalOracleSql,
      "q309_stream_lex_append" -> bm25RetrievalOracleSql,

      // the streaming auto-compaction contract: rows are the q176
      // full-corpus serve; the layout label replays the in-commit
      // rule (1 standing + 3 streamed segments crosses the 4-segment
      // threshold) and the engine derives its label from the store's
      // physical end state — 'fold' there fails this pin
      "q332_stream_auto_compact" ->
        s"""SELECT CASE WHEN 4 >= 4 THEN 'tiered' ELSE 'fold' END
           |    AS layout, * FROM (
           |$bm25RetrievalOracleSql)
           |ORDER BY query_id, rk""".stripMargin,
      // the as-of-v0 contract: the SAME chain scoped to the standing
      // slice — what segment 0 physically stores
      "q310_lex_asof_serve" ->
        bm25RetrievalOracleSqlOver("NOT (doc_id % 5 = 0)"),
      // the MID-CHAIN contract: the same chain scoped to
      // standing ∪ first ingest batch — the corpus as it stood
      // between the c3 chain's two appends
      "q312_lex_midchain_serve" ->
        bm25RetrievalOracleSqlOver(
          "NOT (doc_id % 5 = 0) OR doc_id % 10 = 0"),
      // the post-delete contract: the same chain over the SURVIVING
      // corpus — what the masked head (q315) and the compacted
      // survivors (q317) must both serve
      "q315_lex_delete_serve" ->
        bm25RetrievalOracleSqlOver("NOT (doc_id % 7 = 3)"),
      "q317_lex_delete_compact" ->
        bm25RetrievalOracleSqlOver("NOT (doc_id % 7 = 3)"),
      // the streaming-takedown fold binds the same surviving-corpus
      // contract — batch and streamed deletes, one string
      "q320_stream_takedown" ->
        bm25RetrievalOracleSqlOver("NOT (doc_id % 7 = 3)"),
      // the compaction-EXECUTE contract: the policy rule replayed per
      // chain picks the layout label; the serve rows are the family
      // chain scoped to each tombstoned head's survivors (layout-
      // invariant by the q317 compaction contract)
      "q326_lex_compaction_execute" -> {
        val mdRule = "((SELECT COUNT(*) FROM documents WHERE " +
          "doc_id % 7 = 3) * 1000000) // " +
          "(SELECT COUNT(*) FROM documents) >= 125000 OR 3 >= 4"
        val m3Rule = "((SELECT COUNT(*) FROM documents WHERE " +
          "doc_id % 5 <> 0 AND doc_id % 7 = 3) * 1000000) // " +
          "(SELECT COUNT(*) FROM documents) >= 125000 OR 3 >= 4"
        s"""SELECT 'md' AS chain,
           |  CASE WHEN $mdRule THEN 'compacted' ELSE 'masked' END
           |    AS layout, * FROM (
           |${bm25RetrievalOracleSqlOver("NOT (doc_id % 7 = 3)")})
           |UNION ALL
           |SELECT 'm3',
           |  CASE WHEN $m3Rule THEN 'compacted' ELSE 'masked' END,
           |  * FROM (
           |${bm25RetrievalOracleSqlOver(
              "(doc_id % 5 <> 0 AND NOT (doc_id % 7 = 3)) " +
                "OR doc_id % 5 = 0")})
           |ORDER BY chain, query_id, rk""".stripMargin
      },

      // the tiered-EXECUTE contract: both all-append chains' heads
      // are the full corpus (layout-invariant rows — the q176
      // full-corpus string); the layout label replays the policy rule
      // with each chain's structural facts (share is literally 0 — an
      // all-append chain publishes no delete segment — and the
      // segment counts are the chain definitions)
      "q328_lex_tiered_execute" ->
        s"""SELECT 'c4' AS chain,
           |  CASE WHEN (0 >= 125000 OR 4 >= 4) THEN 'tiered'
           |    ELSE 'fold' END AS layout, * FROM (
           |${bm25RetrievalOracleSqlOver("TRUE")})
           |UNION ALL
           |SELECT 'c3',
           |  CASE WHEN (0 >= 125000 OR 3 >= 4) THEN 'tiered'
           |    ELSE 'fold' END, * FROM (
           |${bm25RetrievalOracleSqlOver("TRUE")})
           |ORDER BY chain, query_id, rk""".stripMargin,

      // the MIXED-chain contract: the same chain scoped to each
      // version's surviving corpus, union'd with the version column —
      // v1 is the takedown-masked standing slice, v2 adds the
      // post-delete batch (whose %7=3 docs stay live: tombstones are
      // captured ids, the capture-time semantics the gate pins)
      "q322_lex_mixed_asof" ->
        Seq("NOT (doc_id % 5 = 0)",
          "NOT (doc_id % 5 = 0) AND NOT (doc_id % 7 = 3)",
          "(NOT (doc_id % 5 = 0) AND NOT (doc_id % 7 = 3))" +
            " OR doc_id % 5 = 0")
          .zipWithIndex.map { case (scope, v) =>
            s"SELECT CAST($v AS BIGINT) AS version, * FROM (\n" +
              s"${bm25RetrievalOracleSqlOver(scope)})"
          }.mkString("", "\nUNION ALL\n",
            "\nORDER BY version, query_id, rk"),


      // observed cells + marginals replay; zero-observed cells enter
      // via the closed form n - sum(E_observed); 9dp-floored decimal
      // term sums mirror the engine exactly
      "q180_chi2_independence" ->
        s"""WITH obs AS (SELECT source AS va, lang AS vb, COUNT(*) AS o
           |  FROM documents GROUP BY 1, 2),
           |ra AS (SELECT va, CAST(SUM(o) AS BIGINT) AS ta FROM obs
           |  GROUP BY 1),
           |rb AS (SELECT vb, CAST(SUM(o) AS BIGINT) AS tb FROM obs
           |  GROUP BY 1),
           |nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
           |  COUNT(*) AS n_cells FROM obs),
           |ks AS (SELECT (SELECT COUNT(*) FROM ra) AS ka,
           |  (SELECT COUNT(*) FROM rb) AS kb),
           |cells AS (SELECT o, CAST(ta AS DOUBLE) * tb / n AS e
           |  FROM obs JOIN ra USING (va) JOIN rb USING (vb)
           |  CROSS JOIN nn),
           |tm AS (SELECT
           |  CAST(SUM(CAST(${Num.floorAtSql(
             "(o - e) * (o - e) / e", 9)} AS DECIMAL(28,9)))
           |    AS DOUBLE) AS chi2obs,
           |  CAST(SUM(CAST(${Num.floorAtSql("e", 9)}
           |    AS DECIMAL(28,9))) AS DOUBLE) AS esum
           |  FROM cells)
           |SELECT nn.n, nn.n_cells,
           |  CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
           |  ${Num.floorAtSql("chi2obs + (nn.n - esum)", 6)}
           |    AS chi2_total
           |FROM nn CROSS JOIN ks CROSS JOIN tm""".stripMargin,


      // shared-term join + exclusive-mass closed form, log2 floored at
      // 9dp per term and summed through decimal (the q151 log2
      // precedent)
      "q181_js_divergence" ->
        s"""WITH cleaned AS (SELECT source AS g, $clean AS c
           |  FROM documents),
           |tc AS (SELECT g, term, COUNT(*) AS cnt FROM (
           |    SELECT g, UNNEST($cleanToks) AS term FROM cleaned)
           |  GROUP BY 1, 2),
           |tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM tc
           |  GROUP BY 1),
           |p AS (SELECT g, term, CAST(cnt AS DOUBLE) / n AS p
           |  FROM tc JOIN tot USING (g)),
           |j AS (SELECT x.g AS g_a, y.g AS g_b,
           |    COUNT(*) AS n_shared_terms,
           |    CAST(SUM(CAST(${Num.floorAtSql(
             "x.p/2 * log2(x.p / ((x.p + y.p)/2))" +
               " + y.p/2 * log2(y.p / ((x.p + y.p)/2))", 9)}
           |      AS DECIMAL(28,9))) AS DOUBLE) AS shared,
           |    CAST(SUM(CAST(${Num.floorAtSql("x.p", 9)}
           |      AS DECIMAL(28,9))) AS DOUBLE) AS sp,
           |    CAST(SUM(CAST(${Num.floorAtSql("y.p", 9)}
           |      AS DECIMAL(28,9))) AS DOUBLE) AS sq
           |  FROM p x JOIN p y ON x.term = y.term AND x.g < y.g
           |  GROUP BY 1, 2)
           |SELECT g_a, g_b, n_shared_terms,
           |  ${Num.floorAtSql(
             "shared + (1.0 - sp)/2 + (1.0 - sq)/2", 6)} AS jsd
           |FROM j ORDER BY g_a, g_b""".stripMargin,


      // qualifying set {v : 2*W(<=v) >= W} is tie-order invariant, so
      // both engines pick the identical lower weighted median
      "q184_weighted_median" ->
        """WITH r AS (SELECT l_returnflag AS k, l_extendedprice AS x,
          |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
          |c AS (SELECT k, x,
          |    SUM(w) OVER (PARTITION BY k ORDER BY x
          |      ROWS UNBOUNDED PRECEDING) AS cum,
          |    SUM(w) OVER (PARTITION BY k) AS tw
          |  FROM r)
          |SELECT k AS l_returnflag, CAST(MAX(tw) AS BIGINT)
          |    AS total_weight, MIN(x) AS wmedian
          |FROM c WHERE cum * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin,


      // shares from exact BIGINT token sums; share^2 terms floored at
      // 9dp and decimal-summed (order-free), one floored close
      "q185_source_hhi" ->
        s"""WITH g AS (SELECT source, CAST(SUM(len($toks)) AS BIGINT)
           |    AS m FROM documents GROUP BY 1),
           |tot AS (SELECT CAST(SUM(m) AS BIGINT) AS total,
           |    COUNT(*) AS n_groups FROM g),
           |h AS (SELECT CAST(SUM(CAST(${Num.floorAtSql(
             "(CAST(m AS DOUBLE) / total) * (CAST(m AS DOUBLE) / total)",
             9)} AS DECIMAL(28,9))) AS DOUBLE) AS hhiraw
           |  FROM g CROSS JOIN tot)
           |SELECT tot.n_groups, tot.total,
           |  ${Num.floorAtSql("hhiraw", 6)} AS hhi,
           |  ${Num.floorAtSql("1.0 / hhiraw", 4)} AS effective_groups
           |FROM tot CROSS JOIN h""".stripMargin,


      // one scan-local pass per vector: squared norm via the same
      // left-to-right double fold as the engine's aggregate(); norms
      // floored at 6 dp BEFORE the decimal mean (order-free), the
      // mean divided double/count like the engine
      "q186_embedding_audit" ->
        s"""WITH a AS (SELECT label, len(embedding) AS dim,
           |    list_sum(list_transform(embedding,
           |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq,
           |    len(list_filter(embedding,
           |      x -> isnan(x) OR isinf(x))) > 0 AS bad
           |  FROM embeddings)
           |SELECT label, COUNT(*) AS n_vecs,
           |  COUNT(DISTINCT dim) AS n_dims,
           |  CAST(SUM(CASE WHEN NOT bad AND nsq = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_zero,
           |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nonfinite,
           |  ${Num.floorAtSql(
             "CAST(SUM(CASE WHEN NOT bad THEN CAST(floor(sqrt(nsq) " +
               "* 1000000) / 1000000 AS DECIMAL(28,6)) END) AS DOUBLE) " +
               "/ SUM(CASE WHEN NOT bad THEN 1 ELSE 0 END)", 6)}
           |    AS mean_norm,
           |  MIN(CASE WHEN NOT bad
           |    THEN floor(sqrt(nsq) * 1000000) / 1000000 END) AS min_norm,
           |  MAX(CASE WHEN NOT bad
           |    THEN floor(sqrt(nsq) * 1000000) / 1000000 END) AS max_norm
           |FROM a GROUP BY label ORDER BY label""".stripMargin,


      // (source, term) counts over the CLEANED tokenizer (the engine's
      // cleanTokens), rolled up to vocab/hapax/dis counts; ratios
      // floored after one double division each
      "q187_vocab_growth" ->
        s"""WITH cl AS (SELECT source, $clean AS c FROM documents),
           |tf AS (SELECT source, term, COUNT(*) AS cnt FROM (
           |    SELECT source, UNNEST($cleanToks) AS term FROM cl)
           |  GROUP BY 1, 2),
           |g AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           |    COUNT(*) AS vocab,
           |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS hapax,
           |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS dis_legomena
           |  FROM tf GROUP BY 1),
           |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents
           |  GROUP BY 1)
           |SELECT g.source, nd.n_docs, g.n_tokens, g.vocab, g.hapax,
           |  g.dis_legomena,
           |  ${Num.floorAtSql("CAST(g.vocab AS DOUBLE) / g.n_tokens", 6)}
           |    AS ttr,
           |  ${Num.floorAtSql("CAST(g.hapax AS DOUBLE) / g.vocab", 6)}
           |    AS hapax_share
           |FROM g JOIN nd ON nd.source = g.source
           |ORDER BY g.source""".stripMargin,


      // containment from the SAME scored CTE the verified-pair oracle
      // uses (c, na, nb are the exact distinct-shingle counts), joined
      // back to the >= 0.2 pair list
      "q188_containment_pairs" ->
        s"""WITH $verifiedPairsCte
           |SELECT s.id_a, s.id_b,
           |  ${Num.floorAtSql("CAST(s.c AS DOUBLE) / s.na", 4)}
           |    AS containment_a,
           |  ${Num.floorAtSql("CAST(s.c AS DOUBLE) / s.nb", 4)}
           |    AS containment_b
           |FROM scored s JOIN pairs p
           |  ON p.id_a = s.id_a AND p.id_b = s.id_b
           |ORDER BY s.id_a, s.id_b""".stripMargin,


      // the SAME pair + CC CTE chain as q128/q130, then a capped
      // ranking per component (row_number cast to INTEGER to match
      // Spark's int rank)
      "q189_cluster_cap" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |$ccCte
           |SELECT doc_id, component, CAST(rk AS INTEGER) AS rk FROM (
           |  SELECT doc_id, component,
           |    row_number() OVER (PARTITION BY component
           |      ORDER BY doc_id) AS rk
           |  FROM comp) WHERE rk <= 2 ORDER BY doc_id""".stripMargin,


      // every register replayed exactly (md5-nibble index, hex-string
      // leading-zero rank); the indicator sum is the integer T
      // (2^52-scaled bit shifts); the estimator constant is ONE
      // precomputed double literal shared with the engine
      // (Sketch.HllC), so the only per-row float is the final floored
      // estimate / linear-counting ln
      "q190_hll_distinct" -> {
        val rankCase =
          """CASE WHEN length(st) = 0 THEN 53
            |      ELSE (13 - length(st)) * 4 +
            |        (CASE WHEN substring(st, 1, 1) >= '8' THEN 0
            |              WHEN substring(st, 1, 1) >= '4' THEN 1
            |              WHEN substring(st, 1, 1) >= '2' THEN 2
            |              ELSE 3 END) + 1 END""".stripMargin
        s"""WITH h AS (SELECT event_type,
           |    ${md5HexNSql("CAST(user_id AS VARCHAR)", 2)} AS reg,
           |    regexp_replace(substring(
           |      md5(CAST(user_id AS VARCHAR)), 3, 13), '^0+', '') AS st
           |  FROM events),
           |r AS (SELECT event_type, reg, $rankCase AS rank FROM h),
           |regs AS (SELECT event_type, reg, MAX(rank) AS mx
           |  FROM r GROUP BY 1, 2),
           |agg AS (SELECT event_type, COUNT(*) AS nz,
           |    CAST(SUM(CAST(1 AS BIGINT) << (52 - mx)) AS BIGINT)
           |      AS t_nz
           |  FROM regs GROUP BY 1),
           |est AS (SELECT event_type,
           |    CAST(nz AS BIGINT) AS nz_registers,
           |    CAST(256 - nz AS BIGINT) AS v_zero,
           |    t_nz + (256 - nz) * (CAST(1 AS BIGINT) << 52) AS t
           |  FROM agg),
           |ex AS (SELECT event_type,
           |    COUNT(DISTINCT user_id) AS exact_distinct
           |  FROM events GROUP BY 1)
           |SELECT est.event_type, ex.exact_distinct,
           |  CAST(floor(CASE
           |    WHEN ${Sketch.HllC} / t <= 640.0 AND v_zero > 0
           |    THEN 256.0 * ln(256.0 / v_zero)
           |    ELSE ${Sketch.HllC} / t END) AS BIGINT) AS hll_estimate,
           |  nz_registers, v_zero,
           |  CAST(0 AS BIGINT) AS n_cell_diff
           |FROM est JOIN ex USING (event_type)
           |ORDER BY event_type""".stripMargin
      },


      // the verified pair list joined to its endpoints' sources;
      // least/greatest canonicalize the unordered source pair
      "q191_pair_source_matrix" ->
        s"""WITH RECURSIVE
           |$verifiedPairsCte,
           |src AS (SELECT doc_id AS id, source FROM documents),
           |ps AS (SELECT least(x.source, y.source) AS src_a,
           |    greatest(x.source, y.source) AS src_b
           |  FROM pairs JOIN src x ON x.id = pairs.id_a
           |             JOIN src y ON y.id = pairs.id_b)
           |SELECT src_a, src_b, COUNT(*) AS n_pairs,
           |  (src_a = src_b) AS within_source
           |FROM ps GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,


      // counts reduce to the value domain, the ECDF runs over it;
      // D and the critical value floor BEFORE the reject comparison
      "q192_ks_two_sample" -> {
        val crit = Num.floorAtSql(
          "1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))", 6)
        s"""WITH cnt AS (SELECT n_chars AS v,
           |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
           |    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
           |  FROM documents WHERE source IN ('src0', 'src1')
           |  GROUP BY 1),
           |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
           |    CAST(SUM(cb) AS BIGINT) AS n_b FROM cnt),
           |cum AS (SELECT
           |    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           |      AS cuma,
           |    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           |      AS cumb
           |  FROM cnt),
           |d AS (SELECT MAX(abs(CAST(cuma AS DOUBLE) / n_a
           |      - CAST(cumb AS DOUBLE) / n_b)) AS draw
           |  FROM cum CROSS JOIN tot)
           |SELECT n_a, n_b,
           |  ${Num.floorAtSql("draw", 6)} AS d_stat, $crit AS crit_05,
           |  (${Num.floorAtSql("draw", 6)} > $crit) AS reject_05
           |FROM d CROSS JOIN tot""".stripMargin
      },


      // rank-weighted exact BIGINT sums; ties are order-free because
      // sum(rn*x) over a tied block is x*sum(rn)
      "q193_gini_lengths" ->
        s"""WITH r AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
           |    CAST(row_number() OVER (PARTITION BY source
           |      ORDER BY n_chars) AS BIGINT) AS rn
           |  FROM documents)
           |SELECT source, COUNT(*) AS n,
           |  CAST(SUM(x) AS BIGINT) AS total,
           |  CASE WHEN SUM(x) > 0 THEN ${Num.floorAtSql(
             "2.0 * SUM(rn * x) / (COUNT(*) * SUM(x))" +
               " - (COUNT(*) + 1.0) / COUNT(*)", 6)} END AS gini
           |FROM r GROUP BY 1 ORDER BY source""".stripMargin,


      // the sorted-distinct-token key replayed byte-for-byte (tokens
      // are lowercased ASCII, so binary sort order agrees)
      "q194_bow_dedup" ->
        s"""WITH tok AS (SELECT doc_id, $cleanToks AS t
           |  FROM (SELECT doc_id, $clean AS c FROM documents)),
           |k AS (SELECT doc_id, md5(array_to_string(
           |    list_sort(list_distinct(t)), ' ')) AS bow_key FROM tok),
           |g AS (SELECT doc_id, bow_key,
           |    row_number() OVER (PARTITION BY bow_key
           |      ORDER BY doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY bow_key) AS n_docs
           |  FROM k)
           |SELECT doc_id, bow_key, (rn = 1) AS is_keeper
           |FROM g WHERE n_docs > 1 ORDER BY doc_id""".stripMargin,


      // centroid coordinates: floored 9 dp element terms summed
      // through decimal (order-free), ONE double division; the pair
      // stage re-floors its product terms the same way
      "q195_centroid_cosine" -> {
        def dterm(e: String) =
          s"CAST(${Num.floorAtSql(e, 9)} AS DECIMAL(38,9))"
        s"""WITH el AS (SELECT label AS lab,
           |    UNNEST(range(1, len(embedding) + 1)) AS i,
           |    UNNEST(embedding) AS x
           |  FROM embeddings),
           |c AS (SELECT lab, i, COUNT(*) AS n,
           |    CAST(SUM(CAST(${Num.floorAtSql("CAST(x AS DOUBLE)", 9)}
           |      AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS c
           |  FROM el GROUP BY 1, 2),
           |p AS (SELECT a.lab AS label_a, b.lab AS label_b,
           |    CAST(MAX(a.n) AS BIGINT) AS n_a,
           |    CAST(MAX(b.n) AS BIGINT) AS n_b,
           |    CAST(SUM(${dterm("a.c * b.c")}) AS DOUBLE) AS dot,
           |    CAST(SUM(${dterm("a.c * a.c")}) AS DOUBLE) AS na2,
           |    CAST(SUM(${dterm("b.c * b.c")}) AS DOUBLE) AS nb2
           |  FROM c a JOIN c b ON a.i = b.i AND a.lab < b.lab
           |  GROUP BY 1, 2)
           |SELECT label_a, label_b, n_a, n_b,
           |  ${Num.floorAtSql("dot / (sqrt(na2) * sqrt(nb2))", 6)}
           |    AS cos_sim
           |FROM p ORDER BY label_a, label_b""".stripMargin
      },


      // the |days|-domain cumulative scan; argmax with the earlier-day
      // tie-break, exactly the engine's ORDER BY ... LIMIT 1
      "q196_changepoint" ->
        s"""WITH daily AS (SELECT
           |    CAST(${epochSql("ts")} // 86400 AS BIGINT) AS day,
           |    COUNT(*) AS c,
           |    SUM(CAST(${Num.floorAtSql("value", 6)}
           |      AS DECIMAL(28,6))) AS s
           |  FROM events GROUP BY 1),
           |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
           |    SUM(s) AS s_total, COUNT(*) AS n_days FROM daily),
           |cum AS (SELECT day,
           |    CAST(SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           |      AS BIGINT) AS nl,
           |    SUM(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           |      AS sl,
           |    row_number() OVER (ORDER BY day) AS rd
           |  FROM daily)
           |SELECT day AS split_day, nl AS n_left,
           |  n_total - nl AS n_right,
           |  ${Num.floorAtSql(
             "abs(CAST(sl AS DOUBLE) / nl" +
               " - CAST(s_total - sl AS DOUBLE) / (n_total - nl))" +
               " * sqrt(CAST(nl * (n_total - nl) AS DOUBLE) / n_total)",
             6)} AS shift_stat
           |FROM cum CROSS JOIN tot WHERE rd < n_days
           |ORDER BY shift_stat DESC, split_day LIMIT 1""".stripMargin,


      // positional shingles replayed; islands = constant (pa - rank)
      // per (pair, diagonal); run of r shingles = r + w - 1 tokens
      "q197_common_run" ->
        s"""WITH $verifiedPairsCte,
           |tokd AS (SELECT doc_id AS id, $cleanToks AS t
           |  FROM (SELECT doc_id, $clean AS c FROM documents)),
           |shl AS (SELECT id, ${shinglesSql("t")} AS shs FROM tokd),
           |posed AS (SELECT id,
           |    UNNEST(range(1, len(shs) + 1)) - 1 AS pos,
           |    UNNEST(shs) AS sh
           |  FROM shl),
           |m AS (SELECT p.id_a, p.id_b, a.pos AS pa,
           |    a.pos - b.pos AS d
           |  FROM pairs p
           |  JOIN posed a ON a.id = p.id_a
           |  JOIN posed b ON b.id = p.id_b AND b.sh = a.sh),
           |isl AS (SELECT id_a, id_b, d,
           |    pa - row_number() OVER (PARTITION BY id_a, id_b, d
           |      ORDER BY pa) AS isl
           |  FROM m),
           |runs AS (SELECT id_a, id_b, d, isl, COUNT(*) AS run
           |  FROM isl GROUP BY 1, 2, 3, 4),
           |agg AS (SELECT id_a, id_b,
           |    CAST(SUM(run) AS BIGINT) AS n_pos_matches,
           |    CAST(MAX(run) + 2 AS BIGINT) AS max_run_tokens
           |  FROM runs GROUP BY 1, 2)
           |SELECT p.id_a, p.id_b,
           |  CAST(COALESCE(n_pos_matches, 0) AS BIGINT)
           |    AS n_pos_matches,
           |  CAST(COALESCE(max_run_tokens, 0) AS BIGINT)
           |    AS max_run_tokens
           |FROM pairs p LEFT JOIN agg USING (id_a, id_b)
           |ORDER BY id_a, id_b""".stripMargin,


      // the q178 rank-selected decile edges over doc lengths + the
      // pair-membership probe; bin = edges strictly below the value
      "q198_dup_rate_by_length" ->
        s"""WITH $verifiedPairsCte,
           |dup AS (SELECT DISTINCT id FROM
           |  (SELECT id_a AS id FROM pairs
           |   UNION ALL SELECT id_b FROM pairs)),
           |tot AS (SELECT COUNT(*) AS n FROM documents),
           |vc AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents
           |  GROUP BY 1),
           |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vc),
           |eq AS (SELECT q, MIN(v) AS edge
           |  FROM cum CROSS JOIN tot
           |  CROSS JOIN (SELECT UNNEST(range(1, 10)) AS q)
           |  WHERE cum >= (n - 1) * q // 10 + 1 GROUP BY q),
           |edges AS (SELECT list_sort(list(edge)) AS es FROM eq),
           |b AS (SELECT
           |    CAST(len(list_filter(es, e -> d.n_chars > e))
           |      AS INTEGER) AS bin,
           |    CASE WHEN dup.id IS NULL THEN 0 ELSE 1 END AS dup
           |  FROM documents d CROSS JOIN edges
           |  LEFT JOIN dup ON dup.id = d.doc_id)
           |SELECT bin, COUNT(*) AS n_docs,
           |  CAST(SUM(dup) AS BIGINT) AS n_dup,
           |  ${Num.floorAtSql("CAST(SUM(dup) AS DOUBLE) / COUNT(*)", 6)}
           |    AS dup_rate
           |FROM b GROUP BY bin ORDER BY bin""".stripMargin,


      // per-doc distinct tokens; idf floored 6 dp into decimal, all
      // sums decimal, ONE double division per pair at the close
      "q199_idf_jaccard" ->
        s"""WITH $verifiedPairsCte,
           |tok AS (SELECT id, UNNEST(list_distinct(t)) AS tok
           |  FROM (SELECT doc_id AS id, $cleanToks AS t
           |    FROM (SELECT doc_id, $clean AS c FROM documents))),
           |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
           |idf AS (SELECT tok, CAST(${Num.floorAtSql(
             "ln(CAST(n_docs + 1 AS DOUBLE) / COUNT(*))", 6)}
           |    AS DECIMAL(28,6)) AS w
           |  FROM tok CROSS JOIN nd GROUP BY tok, n_docs),
           |wt AS (SELECT id, tok.tok AS tok, w
           |  FROM tok JOIN idf USING (tok)),
           |dw AS (SELECT id, SUM(w) AS wtot FROM wt GROUP BY id),
           |inter AS (SELECT p.id_a, p.id_b,
           |    COUNT(*) AS n_shared_tokens, SUM(a.w) AS wi
           |  FROM pairs p
           |  JOIN wt a ON a.id = p.id_a
           |  JOIN wt b ON b.id = p.id_b AND b.tok = a.tok
           |  GROUP BY 1, 2)
           |SELECT i.id_a, i.id_b, n_shared_tokens,
           |  ${Num.floorAtSql(
             "CAST(wi AS DOUBLE) / CAST(x.wtot + y.wtot - wi AS DOUBLE)",
             6)} AS w_jaccard
           |FROM inter i
           |JOIN dw x ON x.id = i.id_a
           |JOIN dw y ON y.id = i.id_b
           |ORDER BY id_a, id_b""".stripMargin,


      // Jelinek-Mercer 0.5/0.5 replay: bigram tf, context counts
      // re-aggregated from the bigram stream, unigram tf on the second
      // token; per-term log2 floored 9 dp, decimal-summed per doc
      // (the CTE chain is shared with the q204 bucket oracle)
      "q200_bigram_logprob" ->
        s"""WITH $bigramScoredCte
           |SELECT doc_id, n_bigrams, mean_log2p
           |FROM bg_scored ORDER BY doc_id""".stripMargin,


      // q200's scores, tercile edges by the q178 rank rule (k = 3),
      // deterministic (score desc, doc_id) ties
      "q204_perplexity_buckets" ->
        s"""WITH $bigramScoredCte,
           |tc AS (SELECT COUNT(*) AS nd FROM bg_scored),
           |rk AS (SELECT doc_id, mean_log2p, n_bigrams,
           |    row_number() OVER (ORDER BY mean_log2p DESC, doc_id)
           |      AS rk
           |  FROM bg_scored),
           |b AS (SELECT mean_log2p, n_bigrams,
           |    CASE WHEN rk > (nd - 1) * 2 // 3 + 1 THEN 2
           |         WHEN rk > (nd - 1) * 1 // 3 + 1 THEN 1
           |         ELSE 0 END AS bucket
           |  FROM rk CROSS JOIN tc)
           |SELECT bucket, COUNT(*) AS n_docs,
           |  ${Num.floorAtSql("MIN(mean_log2p)", 6)} AS min_score,
           |  ${Num.floorAtSql("MAX(mean_log2p)", 6)} AS max_score,
           |  CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams
           |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,


      // degrees from both endpoint columns, then the histogram
      "q201_dup_degree_profile" ->
        s"""WITH $verifiedPairsCte,
           |deg AS (SELECT id, COUNT(*) AS deg FROM
           |  (SELECT id_a AS id FROM pairs
           |   UNION ALL SELECT id_b FROM pairs) GROUP BY 1)
           |SELECT deg, COUNT(*) AS n_docs, MIN(id) AS min_doc_id
           |FROM deg GROUP BY 1 ORDER BY deg""".stripMargin,


      // rank over the vocabulary frame, (tf desc, term) ties; coverage
      // from exact BIGINT mass sums, one double division per k
      "q202_vocab_coverage" ->
        s"""WITH tf AS (SELECT term, COUNT(*) AS tf
           |  FROM (SELECT UNNEST(t) AS term
           |    FROM (SELECT $cleanToks AS t
           |      FROM (SELECT ${cleanSql("text")} AS c FROM documents)))
           |  GROUP BY 1),
           |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total,
           |    COUNT(*) AS vocab FROM tf),
           |rk AS (SELECT tf, row_number() OVER
           |    (ORDER BY tf DESC, term) AS rk FROM tf),
           |ks AS (SELECT UNNEST([100, 1000, 10000]) AS k)
           |SELECT k, CAST(least(k, vocab) AS BIGINT) AS n_terms,
           |  ${Num.floorAtSql("CAST(SUM(tf) AS DOUBLE) / total", 6)}
           |    AS coverage
           |FROM rk CROSS JOIN ks CROSS JOIN tot
           |WHERE rk <= k GROUP BY k, vocab, total ORDER BY k""".stripMargin,


      // cells + row totals over the shared ct_pred CTE — the same
      // classifier the q170/q173 oracles replay
      "q203_langid_confusion" ->
        s"""WITH $ctPredCte,
           |cells AS (SELECT lang, pred_lang, COUNT(*) AS n
           |  FROM ct_pred GROUP BY 1, 2),
           |rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
           |  FROM cells GROUP BY 1)
           |SELECT c.lang, c.pred_lang, c.n,
           |  ${Num.floorAtSql("CAST(c.n AS DOUBLE) / n_lang", 6)}
           |    AS row_share,
           |  (c.lang = c.pred_lang) AS is_correct
           |FROM cells c JOIN rt USING (lang)
           |ORDER BY lang, pred_lang""".stripMargin,


      // the q174 double-rank chain (deviations from the RAW median,
      // per the engine), then scoring against the FLOORED (p50, mad)
      // — the same values the engine broadcasts; flags test the
      // floored score so the boundary decision is bit-portable
      "q182_robust_anomalies" ->
        s"""WITH r1 AS (SELECT event_type, value,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY value) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS n
           |  FROM events),
           |mraw AS (SELECT event_type, AVG(value) AS p50raw FROM r1
           |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
           |d AS (SELECT e.event_type, abs(e.value - m.p50raw) AS dv
           |  FROM events e JOIN mraw m USING (event_type)),
           |r2 AS (SELECT event_type, dv,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY dv) AS rn,
           |    COUNT(*) OVER (PARTITION BY event_type) AS n
           |  FROM d),
           |md AS (SELECT event_type, MAX(n) AS n, AVG(dv) AS madraw
           |  FROM r2
           |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
           |st AS (SELECT m.event_type, md.n,
           |    ${Num.floorAtSql("m.p50raw", 4)} AS p50,
           |    ${Num.floorAtSql("md.madraw", 4)} AS mad
           |  FROM mraw m JOIN md USING (event_type))
           |SELECT e.event_type, MAX(st.n) AS n, MAX(st.p50) AS p50,
           |  MAX(st.mad) AS mad,
           |  CAST(SUM(CASE WHEN st.mad > 0 AND ${Num.floorAtSql(
             "abs(e.value - st.p50) / (1.4826 * st.mad)", 4)} > 3.5
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           |  MAX(CASE WHEN st.mad > 0 THEN ${Num.floorAtSql(
             "abs(e.value - st.p50) / (1.4826 * st.mad)", 4)}
           |    ELSE 0.0 END) AS max_score
           |FROM events e JOIN st USING (event_type)
           |GROUP BY 1 ORDER BY 1""".stripMargin,


      // distinct batch shingles anti-joined on the standing distinct
      // set; docs with < w tokens absent on both sides (empty UNNEST
      // == empty explode)
      "q183_batch_novelty" ->
        s"""WITH tok AS (SELECT doc_id, $cleanToks AS t
           |  FROM (SELECT doc_id, $clean AS c FROM documents)),
           |sh AS (SELECT doc_id,
           |    UNNEST(list_distinct(${shinglesSql("t")})) AS sh
           |  FROM tok),
           |standing AS (SELECT DISTINCT sh FROM sh
           |  WHERE doc_id % 5 <> 0),
           |batch AS (SELECT doc_id, sh FROM sh WHERE doc_id % 5 = 0),
           |nv AS (SELECT b.doc_id, COUNT(*) AS n_novel FROM batch b
           |  WHERE b.sh NOT IN (SELECT sh FROM standing) GROUP BY 1),
           |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM batch
           |  GROUP BY 1)
           |SELECT t.doc_id, t.n_shingles,
           |  CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
           |  ${Num.floorAtSql(
             "CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / t.n_shingles",
             6)} AS novelty
           |FROM tot t LEFT JOIN nv USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin,


      // the invariant IS the oracle: delta pairs == the full-corpus
      // pair set (the shared CTE) filtered to pairs touching the batch
      "q179_ingest_delta_pairs" ->
        s"""WITH $verifiedPairsCte
           |SELECT id_a, id_b, jacc AS jaccard FROM pairs
           |WHERE id_a % 5 = 0 OR id_b % 5 = 0
           |ORDER BY id_a, id_b""".stripMargin,


      // rank-selected edges replayed over the value-domain cumsum;
      // binning = count of edges strictly below the value, so tie
      // ordering cannot matter
      "q178_equidepth_hist" ->
        """WITH tot AS (SELECT COUNT(*) AS n FROM events),
          |vc AS (SELECT value AS v, COUNT(*) AS c FROM events
          |  GROUP BY 1),
          |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vc),
          |eq AS (SELECT q, MIN(v) AS edge
          |  FROM cum CROSS JOIN tot
          |  CROSS JOIN (SELECT UNNEST(range(1, 8)) AS q)
          |  WHERE cum >= (n - 1) * q // 8 + 1 GROUP BY q),
          |edges AS (SELECT list_sort(list(edge)) AS es FROM eq),
          |b AS (SELECT CAST(len(list_filter(es, e -> value > e))
          |    AS INTEGER) AS bin, value
          |  FROM events CROSS JOIN edges)
          |SELECT bin, COUNT(*) AS n,
          |  floor(MIN(value) * 10000) / 10000 AS lo,
          |  floor(MAX(value) * 10000) / 10000 AS hi
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,


      // the same decimal power sums the engine accumulates, one scan,
      // closed forms per pair off the 1-row state
      "q177_corr_matrix" -> {
        val mcols = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        def dsql(c: String) = s"CAST($c AS DECIMAL(18,2))"
        val sums = (Seq("COUNT(*) AS n") ++
          mcols.map(c => s"SUM(${dsql(c)}) AS s_$c") ++
          mcols.map(c => s"SUM(${dsql(c)} * ${dsql(c)}) AS ss_$c") ++
          (for (i <- mcols.indices; j <- i + 1 until mcols.size)
            yield s"SUM(${dsql(mcols(i))} * ${dsql(mcols(j))})" +
              s" AS sp_${mcols(i)}_${mcols(j)}")).mkString(", ")
        val selects = (for (i <- mcols.indices; j <- i + 1 until
          mcols.size) yield {
          val (a, b) = (mcols(i), mcols(j))
          def dbl(c: String) = s"CAST($c AS DOUBLE)"
          s"SELECT '$a' AS col_a, '$b' AS col_b, n, " + Num.floorAtSql(
            s"(n * ${dbl(s"sp_${a}_$b")} - ${dbl(s"s_$a")} * ${dbl(s"s_$b")})" +
              s" / (sqrt(n * ${dbl(s"ss_$a")} - ${dbl(s"s_$a")} * ${dbl(s"s_$a")})" +
              s" * sqrt(n * ${dbl(s"ss_$b")} - ${dbl(s"s_$b")} * ${dbl(s"s_$b")}))",
            6) + " AS corr FROM g"
        }).mkString(" UNION ALL ")
        s"WITH g AS (SELECT $sums FROM lineitem) $selects " +
          "ORDER BY col_a, col_b"
      },


      // energy replay from the sample rule: e_w = s_{2w}² + s_{2w+1}²
      // (1-based list indexing), bit w = e_{w+1} > e_w, all integer
      "q175_audio_fingerprint" ->
        s"""WITH m AS (SELECT doc_id, source,
           |    CAST(50 + doc_id % 30 AS INTEGER) AS n FROM documents),
           |s AS (SELECT doc_id, source, n,
           |    list_transform(range(0, n),
           |      i -> (doc_id*31 + i*17) % 4001 - 2000) AS smp
           |  FROM m),
           |e AS (SELECT doc_id, source, n // 2 AS nw,
           |    list_transform(range(0, n // 2), w ->
           |      smp[CAST(2*w + 1 AS INTEGER)]
           |        * smp[CAST(2*w + 1 AS INTEGER)]
           |      + smp[CAST(2*w + 2 AS INTEGER)]
           |        * smp[CAST(2*w + 2 AS INTEGER)]) AS ev
           |  FROM s),
           |f AS (SELECT doc_id AS media_id, source AS kind,
           |    CAST(nw AS BIGINT) AS n_windows,
           |    CAST(COALESCE(list_sum(list_transform(
           |      range(0, least(nw - 1, 63)),
           |      w -> CASE WHEN ev[CAST(w + 2 AS INTEGER)]
           |          > ev[CAST(w + 1 AS INTEGER)]
           |        THEN CAST(1 AS BIGINT) << CAST(w AS INTEGER)
           |        ELSE 0 END)), 0) AS BIGINT) AS fingerprint
           |  FROM e)
           |SELECT media_id, kind, n_windows, fingerprint,
           |  COUNT(*) OVER (PARTITION BY fingerprint) AS n_bucket
           |FROM f ORDER BY media_id""".stripMargin,


      // the WAV sample-rule replay (lists are 1-based in DuckDB; the
      // crossing pairs smp[i], smp[i+1] for i in 1..n-1 are exactly the
      // engine's consecutive-sample pairs). All sums integer-exact;
      // mean and rms floored after one double division / IEEE sqrt.
      "q169_wav_decode" ->
        s"""WITH m AS (SELECT doc_id, source,
           |    CAST(50 + doc_id % 30 AS INTEGER) AS n FROM documents),
           |s AS (SELECT doc_id, source, n,
           |    list_transform(range(0, n),
           |      i -> (doc_id*31 + i*17) % 4001 - 2000) AS smp
           |  FROM m)
           |SELECT doc_id AS media_id, source AS kind,
           |  CAST(8000 AS INTEGER) AS sample_rate,
           |  CAST(n AS BIGINT) AS n_samples,
           |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           |  CAST(list_max(list_transform(smp, x -> abs(x)))
           |    AS BIGINT) AS peak_abs,
           |  CAST(len(list_filter(range(1, n),
           |    i -> (smp[CAST(i AS INTEGER)] < 0)
           |      <> (smp[CAST(i + 1 AS INTEGER)] < 0)))
           |    AS BIGINT) AS n_zero_cross,
           |  ${Num.floorAtSql(
             "CAST(list_sum(smp) AS DOUBLE) / n", 4)} AS mean_sample,
           |  ${Num.floorAtSql(
             "sqrt(CAST(list_sum(list_transform(smp, x -> x*x))" +
               " AS DOUBLE) / n)", 4)} AS rms
           |FROM s ORDER BY media_id""".stripMargin,


      // aHash replay from the pixel rule: nearest-neighbor sample
      // indices ((b//6)*h)//6 rows, ((b%6)*w)//6 cols — identical
      // integer division order to the engine; the strict gray*36 > sum
      // threshold and bit b -> 1<<b reconstruction keep every step in
      // signed 64-bit BIGINTs
      "q171_image_phash" ->
        """WITH m AS (SELECT doc_id, source,
          |    CAST(4 + doc_id % 5 AS INTEGER) AS w,
          |    CAST(3 + doc_id % 4 AS INTEGER) AS h
          |  FROM documents),
          |px AS (SELECT doc_id, source, list_transform(range(0, 36),
          |    b -> (((b // 6) * h) // 6) * w + (((b % 6) * w) // 6))
          |    AS ps
          |  FROM m),
          |g AS (SELECT doc_id, source, list_transform(ps, p ->
          |    (doc_id + 3*p) % 256 + (doc_id + 3*p + 1) % 256
          |      + (doc_id + 3*p + 2) % 256) AS gv
          |  FROM px),
          |hh AS (SELECT doc_id AS media_id, source AS kind,
          |    CAST(COALESCE(list_sum(list_transform(range(0, 36), b ->
          |      CASE WHEN gv[CAST(b + 1 AS INTEGER)] * 36
          |        > list_sum(gv)
          |      THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
          |      ELSE 0 END)), 0) AS BIGINT) AS phash
          |  FROM g)
          |SELECT media_id, kind, phash,
          |  COUNT(*) OVER (PARTITION BY phash) AS n_bucket
          |FROM hh ORDER BY media_id""".stripMargin,


      // q70's pixel-rule replay minus n_bytes: PNG decode is lossless,
      // so decoded statistics equal the generating rule exactly
      "q168_png_decode" ->
        """WITH m AS (SELECT doc_id, source,
          |    CAST(4 + doc_id % 5 AS INTEGER) AS w,
          |    CAST(3 + doc_id % 4 AS INTEGER) AS h
          |  FROM documents)
          |SELECT doc_id AS media_id, source AS kind,
          |  w AS width, h AS height,
          |  CAST(w * h AS BIGINT) AS n_pixels,
          |  CAST(list_sum(list_transform(range(0, w*h),
          |    p -> (doc_id + 3*p) % 256)) AS DOUBLE) / (w*h) AS mean_r,
          |  CAST(list_sum(list_transform(range(0, w*h),
          |    p -> (doc_id + 3*p + 1) % 256)) AS DOUBLE) / (w*h) AS mean_g,
          |  CAST(list_sum(list_transform(range(0, w*h),
          |    p -> (doc_id + 3*p + 2) % 256)) AS DOUBLE) / (w*h) AS mean_b
          |FROM m ORDER BY media_id""".stripMargin,

      // the whole lossy JPEG chain replayed in SQL with the SAME
      // integer basis/quant constants the codec compiled in
      // (Fragments.jpegBasisSql / jpegQtSql — interpolated from
      // Jpeg.Basis, one source of truth): rule block -> FDCT
      // (half-up /2^24) -> quantize (half-up magnitude) -> dequantize
      // -> IDCT -> clamp -> per-image gray sums. The entropy layer is
      // lossless, so Spark's real-bitstream round-trip must land on
      // exactly these integers.
      "q234_jpeg_decode" ->
        s"""WITH bb AS (SELECT $jpegBasisSql AS b),
           |qq AS (SELECT $jpegQtSql AS q),
           |m AS (SELECT doc_id, source,
           |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS w,
           |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS h
           |  FROM documents),
           |blk AS (SELECT doc_id, w, h, bx.i AS bx, by.i AS by
           |  FROM m CROSS JOIN range(0, 2) bx(i)
           |  CROSS JOIN range(0, 3) by(i)
           |  WHERE bx.i < w // 8 AND by.i < h // 8),
           |coeft AS (SELECT doc_id, w, h, bx, by, uv.i AS uv,
           |    list_sum(list_transform(range(0, 64), xy ->
           |      (((doc_id + 3*((by*8 + xy//8)*w + bx*8 + (xy%8))) % 256) - 128)
           |      * b[uv.i//8 + 1][xy//8 + 1] * b[uv.i%8 + 1][xy%8 + 1])) AS t
           |  FROM blk CROSS JOIN range(0, 64) uv(i) CROSS JOIN bb),
           |coef AS (SELECT doc_id, w, h, bx, by, uv,
           |    ${jdivHalfUpSql("t", 16777216L)} AS f FROM coeft),
           |quant AS (SELECT doc_id, w, h, bx, by, uv,
           |    (CASE WHEN f >= 0 THEN (2*f + q[uv + 1]) // (2*q[uv + 1])
           |          ELSE -((2*(-f) + q[uv + 1]) // (2*q[uv + 1])) END)
           |      * q[uv + 1] AS d
           |  FROM coef CROSS JOIN qq),
           |dd AS (SELECT doc_id, w, h, bx, by, list(d ORDER BY uv) AS dl
           |  FROM quant GROUP BY doc_id, w, h, bx, by),
           |pix AS (SELECT doc_id, w, h,
           |    list_sum(list_transform(range(0, 64), xy ->
           |      GREATEST(0, LEAST(255,
           |        ${jdivHalfUpSql(
             "list_sum(list_transform(range(0, 64), i ->" +
               " dl[i + 1] * b[i//8 + 1][xy//8 + 1]" +
               " * b[i%8 + 1][xy%8 + 1]))", 16777216L)} + 128))))
           |      AS bsum
           |  FROM dd CROSS JOIN bb),
           |s AS (SELECT doc_id, SUM(bsum) AS sg FROM pix GROUP BY doc_id)
           |SELECT m.doc_id AS media_id, m.source AS kind,
           |  m.w AS width, m.h AS height,
           |  CAST(m.w * m.h AS BIGINT) AS n_pixels,
           |  CAST(s.sg AS BIGINT) AS sum_gray,
           |  CAST(s.sg AS DOUBLE) / (m.w * m.h) AS mean_gray
           |FROM m JOIN s ON s.doc_id = m.doc_id
           |ORDER BY media_id""".stripMargin
  )
  // the q93 BM25 replay joined to a literal query list; per-doc
  // scores sum the 4dp-floored weights through DECIMAL(18,4) (the
  // q160 floored-score-sum contract) so ranking is order-free.
  // ONE string for the on-the-fly (q176) and stored-index (q291)
  // engines.
  /** The BM25 chain parameterized by a document predicate — "TRUE"
    * is the full-corpus contract (q176 and its five engine twins);
    * the standing-slice instance is q310's as-of-v0 serving contract
    * (the index as it stood BEFORE the append — df/dl/stats all
    * computed over the standing corpus only, which is exactly what
    * segment 0 stores).
    */
  private def bm25RetrievalOracleSqlOver(docWhere: String): String =
        s"""WITH q(query_id, query_text) AS (VALUES
           |    ('kw_cust', 'customer order value'),
           |    ('kw_join', 'join merge hash'),
           |    ('kw_scan', 'spark scan filter'),
           |    ('kw_win', 'window batch sort')),
           |qt AS (SELECT query_id, UNNEST(list_distinct(
           |    ${toksSql(cleanSql("query_text"))})) AS term FROM q),
           |cleaned AS (SELECT doc_id AS id, $clean AS c
           |  FROM documents WHERE $docWhere),
           |terms AS (SELECT id, UNNEST($cleanToks) AS term FROM cleaned),
           |tf AS (SELECT id, term, COUNT(*) AS tf FROM terms
           |  GROUP BY 1, 2),
           |dl AS (SELECT id, COUNT(*) AS dl FROM terms GROUP BY 1),
           |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
           |stats AS (SELECT (SELECT COUNT(*) FROM terms) AS n_terms,
           |                 (SELECT COUNT(*) FROM documents
           |                  WHERE $docWhere) AS n_docs),
           |w AS (SELECT qt.query_id, tf.id,
           |    floor((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           |      * (tf * 2.5)
           |      / (tf + 1.5 * (0.25 + 0.75 * dl
           |        / (CAST(n_terms AS DOUBLE) / n_docs)))) * 10000)
           |      / 10000 AS w
           |  FROM tf JOIN qt USING (term) JOIN dl USING (id)
           |  JOIN dfreq USING (term) CROSS JOIN stats),
           |s AS (SELECT query_id, id, COUNT(*) AS n_matched,
           |    ${Num.floorAtSql(
             "CAST(SUM(CAST(w AS DECIMAL(18,4))) AS DOUBLE)", 4)}
           |      AS score
           |  FROM w GROUP BY 1, 2),
           |r AS (SELECT query_id, id, n_matched, score, row_number()
           |    OVER (PARTITION BY query_id ORDER BY score DESC, id)
           |    AS rk
           |  FROM s)
           |SELECT query_id, id AS doc_id, n_matched, score,
           |  CAST(rk AS INTEGER) AS rk
           |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private val bm25RetrievalOracleSql: String =
    bm25RetrievalOracleSqlOver("TRUE")

}
