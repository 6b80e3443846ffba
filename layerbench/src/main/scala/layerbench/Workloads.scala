package layerbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{AnnIndex, Dedup, LexIndex, Pipeline, Sim, StoreRead, Text}
import graft.sources.Sources

/** What one step hands back: items completed, and two things run after
  * the step's clock stops: the per-step counts the trace reports and the
  * output check. */
final case class StepResult(items: Long,
                            extras: () => Map[String, Double],
                            check: () => Seq[String])

/** One workload: builds its standing stores, then runs steps, each on a
  * fresh generated batch and writing only under its own step directory. */
trait Workload {
  /** Build and check the standing stores the steps use. */
  def setup(): Unit
  def step(batch: Int, outDir: String): StepResult
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_spine" => new EtlSpine(ctx)
    case "index_ingest" => new IndexIngest(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (etl_spine|index_ingest)")
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, data: String,
                     stores: String, truth: JsonNode) {
  def batchTruth(b: Int): JsonNode = truth.get("batches").get(b)
}

object Io {
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .map(c => du(c.getPath)).sum
    else if (f.isFile) f.length()
    else 0L
  }

  /** Bytes of every store under the stores root, which is also the
    * JVM's temporary directory where the engine publishes its index
    * stores. Stores are directories; loose files there are native
    * libraries the JVM unpacks, not data. */
  def storeBytes(root: String): Long =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(f => du(f.getPath)).sum

  def require(errs: collection.mutable.Buffer[String], ok: Boolean,
              msg: => String): Unit = if (!ok) errs += msg

  /** Run independent store builds side by side and wait for all: each is
    * bound by query planning and job scheduling, not by the four
    * cores, so set-up pays for the longest build, not their sum. */
  def inParallel(builds: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try builds.map(b => pool.submit(new Runnable { def run(): Unit = b() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}

/** The reference's own job: extract -> transform -> incremental star load
  * -> audited parquet write -> analytics view and the four charts. */
final class EtlSpine(ctx: Ctx) extends Workload {
  import ctx._
  // the job's parameters come with the generated inputs
  private val keywords =
    truth.get("keywords").elements().asScala.map(_.asText).toSeq
  private val limit = truth.get("limit_per_subreddit").asInt
  private val raw = StructType(Seq(
    StructField("id", StringType), StructField("title", StringType),
    StructField("selftext", StringType),
    StructField("created_utc", LongType), StructField("url", StringType),
    StructField("subreddit", StringType)))
  private var star = ""

  private def writeStar(dir: String, s: (DataFrame, DataFrame, DataFrame))
      : Map[String, Long] = {
    Sources.writeParquetAudited(s._1, s"$dir/dim_subreddit", Nil)
    Sources.writeParquetAudited(s._2, s"$dir/dim_time", Nil)
    Sources.writeParquetAudited(s._3, s"$dir/fact",
      Seq("url", "subreddit_id", "time_id"))
  }

  private def readStar(dir: String): (DataFrame, DataFrame, DataFrame) =
    (StoreRead.parquet(spark, s"$dir/dim_subreddit"),
      StoreRead.parquet(spark, s"$dir/dim_time"),
      StoreRead.parquet(spark, s"$dir/fact"))

  def setup(): Unit = {
    val dir = s"$stores/star"
    val posts = spark.read.schema(raw).parquet(s"$data/standing.parquet")
    val enriched = Pipeline.transform(
      Pipeline.extract(posts, keywords, limit)).localCheckpoint()
    val audit = writeStar(dir, Pipeline.load(enriched))
    enriched.unpersist()
    val want = truth.get("standing").get("fact_rows").asLong
    require(audit("rows_written") == want,
      s"standing star: ${audit("rows_written")} fact rows, expected $want")
    star = dir
  }

  def step(b: Int, out: String): StepResult = {
    val t = tracer
    val posts = spark.read.schema(raw).parquet(f"$data/batches/b$b%04d.parquet")
    val (extracted, nExtracted) = t.layer("pipeline.extract") {
      val e = Pipeline.extract(posts, keywords, limit).localCheckpoint()
      (e, e.count())
    }
    val enriched = t.layer("pipeline.transform") {
      Pipeline.transform(extracted).localCheckpoint()
    }
    val loaded = t.layer("pipeline.load") {
      val (d1, d2, f) = Pipeline.loadIncremental(readStar(star), enriched)
      (d1.localCheckpoint(), d2.localCheckpoint(), f.localCheckpoint())
    }
    val audit = t.layer("sources.write")(writeStar(out, loaded))
    val charts = t.layer("pipeline.analytics") {
      // the view is materialized once and the charts read it, as the
      // reference loads the view into one frame before charting
      val (d1, d2, f) = readStar(out)
      val view = Pipeline.analyticsView(d1, d2, f).localCheckpoint()
      val c = (Pipeline.sentimentDistribution(view).collect(),
        Pipeline.postsPerYear(view).collect(),
        Pipeline.subredditHeatmap(view).collect(),
        Pipeline.insights(view).collect())
      view.unpersist()
      c
    }
    Seq(extracted, enriched, loaded._1, loaded._2, loaded._3)
      .foreach(_.unpersist())
    val bt = batchTruth(b)
    val rows = bt.get("rows").asLong
    StepResult(rows,
      () => Map("pipeline.extract.kept_share" -> nExtracted.toDouble / rows,
        "sources.write.output_bytes" -> Io.du(out).toDouble),
      () => checkEtl(bt, nExtracted, audit, charts))
  }

  private def checkEtl(bt: JsonNode, nExtracted: Long,
                       audit: Map[String, Long],
                       charts: (Array[Row], Array[Row], Array[Row],
                         Array[Row])): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val want = bt.get("charts")
    Io.require(errs, nExtracted == bt.get("extracted").asLong,
      s"extracted $nExtracted posts, expected ${bt.get("extracted")}")
    Io.require(errs, audit("rows_written") == bt.get("fact_rows").asLong,
      s"fact rows ${audit("rows_written")} != ${bt.get("fact_rows")}")
    Io.require(errs, audit.filter(_._1.startsWith("nulls_")).values
      .forall(_ == 0L), s"null keys in fact: $audit")
    val sent = charts._1.map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantSent = Json.fields(want.get("sentiment"))
      .map { case (k, v) => k -> v.asLong }.filter(_._2 > 0).toMap
    Io.require(errs, sent == wantSent, s"sentiment $sent != $wantSent")
    val perYear = charts._2.map(r =>
      s"${r.getInt(0)}|${r.getBoolean(1)}" -> r.getLong(2)).toMap
    val wantYear = Json.fields(want.get("per_year"))
      .map { case (k, v) => k -> v.asLong }.toMap
    Io.require(errs, perYear == wantYear, s"per-year $perYear != $wantYear")
    val heat = charts._3.map(r => r.getString(0) ->
      Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val wantHeat = Json.fields(want.get("heatmap"))
      .map { case (k, v) => k -> Json.longs(v) }.toMap
    Io.require(errs, heat == wantHeat, "heatmap differs")
    val ins = charts._4.head
    val wi = want.get("insights")
    val got = (ins.getLong(0), ins.getLong(1),
      math.round(ins.getDouble(2) * 100), ins.getInt(3), ins.getString(4))
    val exp = (wi.get("total_posts").asLong, wi.get("dropout_mentions").asLong,
      wi.get("pct_neutral_x100").asLong, wi.get("most_active_year").asInt,
      wi.get("top_subreddit").asText)
    Io.require(errs, got == exp, s"insights $got != $exp")
    errs.toSeq
  }
}

/** The index workload: ingest a fresh batch into the standing stores,
  * then serve a query batch from the merged head.
  *
  * Ingest admits the batch against the persisted standing keys, finds its
  * near-duplicate pairs, folds them into the standing components, merges
  * its postings with the lexical store and writes the merged head, and
  * assigns it under the stored quantizer. Serving runs bm25 over the
  * written head, IVF-ADC over the stored codes plus the batch's new
  * codes, and MMR over the fused candidates. The ANN store keeps the
  * engine's default size (8 cells, 2 probes): the serving policy
  * (AnnIndex.sizedParams) would train 64 cells here, which alone would
  * take most of a run's time budget. */
final class IndexIngest(ctx: Ctx) extends Workload {
  import ctx._
  private val dir = s"$data/corpus"
  private val own = s"$stores/ingest"
  private val topK = 10
  private val mmrK = 5
  private val queries: StructType = StructType(Seq(
    StructField("query_id", LongType), StructField("query_text", StringType),
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def setup(): Unit = {
    val docs = graft.Tables.load(spark, dir, "documents")
    Io.inParallel(() => LexIndex.frames(spark, dir),
      () => AnnIndex.codes(spark, dir, "base"),
      () => {
        Dedup.signatureKeys(docs, "doc_id", "text").select("sig_key")
          .distinct().write.parquet(s"$own/keys")
        Dedup.bandedSignatures(docs, "doc_id", "text")
          .write.parquet(s"$own/banded")
        Dedup.componentsConverged(
            Dedup.lshVerifiedPairs(docs, "doc_id", "text")
              .select("id_a", "id_b"))
          .write.parquet(s"$own/labels")
      })
    require(StoreRead.parquet(spark, s"$own/labels").count() > 0,
      "standing corpus has no near-duplicate components")
  }

  def step(b: Int, out: String): StepResult = {
    val t = tracer
    val bdir = f"$data/batches/b$b%04d"
    val batch = spark.read.schema(graft.Tables.documents)
      .parquet(s"$bdir/docs.parquet")
    val standing = graft.Tables.load(spark, dir, "documents")
    val q = spark.read.schema(queries).parquet(s"$bdir/queries.parquet")
    val (admittedIds, admitted) = t.layer("dedup.admit") {
      val ids = Dedup.admitBySignature(standing, batch, "doc_id", "text",
          baseKeysPre = Some(StoreRead.parquet(spark, s"$own/keys")))
        .select("doc_id").localCheckpoint()
      val docs = batch.join(ids, Seq("doc_id"), "left_semi").localCheckpoint()
      (ids.collect().map(_.getLong(0)).toSet, docs)
    }
    val emb = spark.read.schema(graft.Tables.embeddings)
      .parquet(s"$bdir/emb.parquet")
      .join(admitted.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
    val (pairs, pairRows) = t.layer("dedup.delta_pairs") {
      val p = Dedup.lshDeltaPairs(standing, admitted, "doc_id", "text",
          standingBanded = Some(StoreRead.parquet(spark, s"$own/banded")))
        .select("id_a", "id_b").localCheckpoint()
      (p, p.collect())
    }
    val labels = t.layer("dedup.components") {
      Dedup.componentsIncremental(StoreRead.parquet(spark, s"$own/labels"),
        pairs).collect()
    }
    val head = t.layer("lexindex.merge") {
      // the batch's frames merged with the standing store (the
      // disjointness guard runs here) and written as the merged head;
      // bm25 then serves from the written head, so the merge's execution
      // is charged here and not to the serving call. The postings keep
      // their term-bucket column, which the query side filters on, but
      // are not split into bucket directories: that split costs a
      // step more than the rest of the merge
      val (tf, dl, df, st) = LexIndex.buildFrames(admitted)
      val tbkt = pmod(hash(col("term")), lit(LexIndex.TermBuckets))
      val (mtf, mdl, mdf, mst) = LexIndex.merge(LexIndex.frames(spark, dir),
        (tf.withColumn("tbkt", tbkt), dl, df, st))
      mtf.write.parquet(s"$out/lex/tf")
      mdl.write.parquet(s"$out/lex/dl")
      mdf.write.parquet(s"$out/lex/df")
      mst.coalesce(1).write.parquet(s"$out/lex/stats")
      val h = Seq("tf", "dl", "df", "stats")
        .map(f => StoreRead.parquet(spark, s"$out/lex/$f"))
      (h(0), h(1), h(2), h(3))
    }
    val assigned = t.layer("annindex.assign") {
      Sources.writeParquetAudited(AnnIndex.assignUnderStored(spark, dir, emb),
        s"$out/ann", Seq("cell"))
    }
    val lex = t.layer("lexindex.bm25") {
      Text.bm25RetrieveStored(q.select("query_id", "query_text"),
        head._1, head._2, head._3, head._4, topK).collect()
    }
    val dense = t.layer("annindex.ivf_adc") {
      val vecs = q.select("vec_id", "embedding")
      val cells = AnnIndex.assignUnderStored(spark, dir, vecs)
        .select("vec_id", "cell")
      // the stored codes plus the batch's, in the columns both share
      val stored = AnnIndex.codes(spark, dir, "base")
      val fresh = StoreRead.parquet(spark, s"$out/ann")
      val shared = stored.columns.filter(fresh.columns.contains).map(col)
      val codes = stored.select(shared: _*)
        .unionByName(fresh.select(shared: _*))
      Sim.topKIvfAdcCoded(vecs.join(cells, "vec_id"), codes,
        AnnIndex.probeCentroids(spark, dir, "base"),
        AnnIndex.books(spark, dir, "base"), topK).collect()
    }
    val fused = (lex.map(_.getAs[Long]("id")) ++
      dense.map(_.getAs[Long]("c_id"))).distinct.toSeq
    val mmr = t.layer("sim.mmr") {
      val cands = AnnIndex.cells(spark, dir, "base")
        .select("vec_id", "embedding")
        .unionByName(emb.select("vec_id", "embedding"))
        .where(col("vec_id").isin(fused: _*))
      Sim.mmrTopK(q.select("vec_id", "embedding"), cands, mmrK).collect()
    }
    admitted.unpersist()
    pairs.unpersist()
    val bt = batchTruth(b)
    val rows = bt.get("rows").asLong
    val nq = bt.get("targets").size
    StepResult(rows,
      () => Map("dedup.admit.kept_share" -> admittedIds.size.toDouble / rows,
        "lexindex.bm25.rows_per_query" -> lex.length.toDouble / nq,
        "queries" -> nq.toDouble,
        "lexindex.merge.output_bytes" -> Io.du(s"$out/lex").toDouble,
        "annindex.assign.output_bytes" -> Io.du(s"$out/ann").toDouble),
      () => checkIngest(bt, admittedIds, pairRows, labels, assigned,
        head._4.collect().head.getAs[Long]("n_docs")) ++
        checkServe(bt, lex, dense, mmr))
  }

  private def checkIngest(bt: JsonNode, admitted: Set[Long],
                          pairs: Array[Row], labels: Array[Row],
                          assigned: Map[String, Long],
                          nDocs: Long): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val fresh = Json.longs(bt.get("fresh")).toSet
    val rejected = (Json.longs(bt.get("exact_dups")) ++
      Json.longs(bt.get("intra_dups"))).toSet
    Io.require(errs, fresh.subsetOf(admitted),
      s"${(fresh -- admitted).size} fresh documents not admitted")
    Io.require(errs, (rejected & admitted).isEmpty,
      s"${(rejected & admitted).size} duplicates admitted")
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = bt.get("near_pairs").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong))
      .filter(p => admitted(p._1)).toSeq
    val hit = planted.filter { case (b, s) => found((s, b)) }
    Io.require(errs, hit.size >= IndexIngest.PairRecallFloor * planted.size,
      s"near-duplicate pairs: ${hit.size} of ${planted.size} admitted " +
        "planted pairs found")
    val comp = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Io.require(errs, hit.forall { case (b, s) =>
      comp.get(b).isDefined && comp.get(b) == comp.get(s) },
      "a found near-duplicate is not in its source's component")
    val standingDocs = truth.get("standing_docs").asLong
    Io.require(errs, nDocs == standingDocs + admitted.size,
      s"merged index holds $nDocs docs, expected " +
        s"${standingDocs + admitted.size}")
    Io.require(errs, assigned("rows_written") == admitted.size &&
      assigned("nulls_cell") == 0L, s"assigned rows $assigned")
    errs.toSeq
  }

  private def checkServe(bt: JsonNode, lex: Array[Row], dense: Array[Row],
                         mmr: Array[Row]): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val want = Json.longs(bt.get("qids"))
      .zip(Json.longs(bt.get("targets"))).toMap
    val lexTop = lex.filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("id")).toMap
    Io.require(errs, lexTop == want, s"bm25 top-1 $lexTop != targets $want")
    val id0 = bt.get("id0").asLong
    def label(id: Long): Int =
      if (id >= id0) bt.get("labels").get((id - id0).toInt).asInt
      else truth.get("labels").get(id.toInt).asInt
    val sameCluster = dense.count(r => label(r.getAs[Long]("c_id")) ==
      label(want(r.getAs[Long]("q_id"))))
    Io.require(errs, dense.length == want.size * topK &&
      sameCluster >= IndexIngest.ClusterPrecisionFloor * dense.length,
      s"ivf-adc: $sameCluster of ${dense.length} candidates in the " +
        "target's cluster")
    val first = mmr.filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id")).toMap
    Io.require(errs, first == want, s"mmr first picks $first != $want")
    Io.require(errs, mmr.length == want.size * mmrK,
      s"mmr returned ${mmr.length} rows, expected ${want.size * mmrK}")
    errs.toSeq
  }
}

object IndexIngest {
  /** Share of admitted planted near-duplicates LSH must pair with their
    * source: one replaced token leaves about 0.86 shingle Jaccard, which
    * 4 bands x 2 rows miss with probability below 1%. */
  val PairRecallFloor = 0.75

  /** Share of IVF-ADC candidates that must come from the planted cluster
    * of the query's target (a random ranking would score 1/10). Clusters
    * sit about 11 apart with a spread of 3.6, but 4 x 8-code product
    * quantization is coarse, so a few neighbours from other clusters
    * are expected. */
  val ClusterPrecisionFloor = 0.5
}
