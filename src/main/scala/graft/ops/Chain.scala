package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr, lit}

/** The segment ALGEBRA of a maintained index chain, shared by the two
  * physical stores ([[AnnIndex]], [[LexIndex]]) — round 17's
  * generalization of the r16 tombstone design: a delete is a segment
  * TYPE inside a named chain, not a sibling root bolted onto the
  * chain head, so append→delete→append histories exist and every
  * version of a mixed chain is an as-of-readable state (r16 verdict
  * ask #3: "as-of reads across a mixed chain (v0 append, v1 delete,
  * v2 append) are inexpressible").
  *
  * A chain is an ordered list of segments; each is either
  *   - an APPEND of a corpus slice (disjoint from every other
  *     append's slice — the [[LexIndex.merge]] disjointness,
  *     by construction of the chain's split predicates), or
  *   - a DELETE of a predicate over the corpus LIVE when it runs
  *     (capture-time semantics: the published tombstone ids are the
  *     matching docs that exist at that version — a later append may
  *     add rows matching the same predicate and they stay live, which
  *     is what distinguishes a delete segment from a global filter).
  *
  * Segment identity drives storage: a segment's store root is keyed
  * by the PREFIX of segment ids up to it (e.g. `std`, `std.d0`,
  * `std.del7.d`), not by (chain name, version) — so chains sharing a
  * prefix share the published bytes. The default 2-segment chain and
  * the 3-segment "c3" chain both start with the standing slice, and
  * under prefix keying its segment — the most expensive build in the
  * history — is built and stored ONCE (r16 advice: c3 duplicated v0
  * on both the ANN and lex sides). Cumulative side artifacts (the lex
  * `dfcum`/`statscum` pre-folds) are prefix-dependent by nature, so
  * prefix keying is also the CORRECT key for them — two chains may
  * only share a segment when everything before it is identical too.
  */
private[graft] sealed trait Segment { def id: String }

/** An ingest batch: `slice` selects the batch's rows from the fixture
  * corpus. Disjoint from every other append in the chain. */
private[graft] final case class Append(id: String, slice: Column)
    extends Segment

/** A takedown batch: `pred` selects the doomed rows among the corpus
  * LIVE at this point in the chain (capture-time semantics). */
private[graft] final case class Delete(id: String, pred: Column)
    extends Segment

private[graft] object Chains {

  /** Resolve capture-time semantics: for each segment, the EFFECTIVE
    * row predicate of what it publishes — an append's slice as given;
    * a delete's predicate restricted to the corpus live when it runs
    * (so a doc appended AFTER the delete is never captured even if it
    * matches the predicate). Also used to derive the live-corpus
    * predicate as of any version ([[liveAsOf]]).
    */
  def effective(segs: Seq[Segment]): Seq[(Segment, Column)] = {
    var live: Column = lit(false)
    segs.map {
      case a @ Append(_, slice) =>
        live = live || slice
        (a, slice)
      case d @ Delete(_, pred) =>
        val captured = live && pred
        live = live && !pred
        (d, captured)
    }
  }

  /** The live-corpus predicate after segments 0..version — what an
    * as-of read at `version` must serve (the oracle scope). */
  def liveAsOf(segs: Seq[Segment], version: Long): Column = {
    var live: Column = lit(false)
    segs.take(version.toInt + 1).foreach {
      case Append(_, slice) => live = live || slice
      case Delete(_, pred) => live = live && !pred
    }
    live
  }

  /** The store-root prefix for segment `version` of a chain: the
    * dot-joined segment ids up to and including it — the identity
    * that lets chains share common prefixes' published bytes. */
  def prefix(segs: Seq[Segment], version: Int): String =
    segs.take(version + 1).map(_.id).mkString(".")

  /** The compaction policy's reclaim threshold: compact once tombstones
    * are ≥ 1/8 of the chain's entities (masked reads scan ≥ 12.5 % dead
    * rows), as a share in millionths. */
  val CompactTombShareE6 = 125000

  /** The policy's fragmentation threshold: compact once a chain holds
    * this many segments (per-read fold fan-in). */
  val CompactSegments = 4

  /** The compaction policy over a `chainStatsFrame` (chain, n_segments,
    * n_live, n_tomb): adds `tomb_share_e6` (integer millionths) and
    * `compact` — the one definition q324 reports and q326–q329 and the
    * auto-compacting stream gates execute. */
  def compactionPolicy(stats: DataFrame): DataFrame =
    stats
      .withColumn("tomb_share_e6",
        expr("(n_tomb * 1000000) div (n_live + n_tomb)"))
      .withColumn("compact", col("tomb_share_e6") >= CompactTombShareE6 ||
        col("n_segments") >= CompactSegments)

  /** [[compactionPolicy]] collected to a chain → compact? map. */
  def compactDecisions(stats: DataFrame): Map[String, Boolean] =
    compactionPolicy(stats).select("chain", "compact").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
}
