package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Pipeline

/** End-to-end reference-parity pipeline over the reference's own posts
  * data model (FIXTURES.md §1 golden edge rows: duplicate ids, URL-only
  * content, missing selftext, zero-filled pivot cells, argmax ties).
  */
object PipelineSpec {
  // (id, title, selftext, created_utc, url, subreddit)
  def raw(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("a", "Dropout risk", "I will drop out", 1710000000L, "u/a", "srA"),
      ("a", "Dropout risk OLD", "dup row", 1690000000L, "u/a0", "srA"),
      ("b", "university fees!!!", null, 1700000000L, "u/b", "srA"),
      ("c", "http://x.co university", null, 1700000100L, "u/c", "srA"),
      ("d", "irrelevant post", "nothing", 1700000200L, "u/d", "srA"),
      ("e", "spark fast university", null, 1710000100L, "u/e", "srB"),
      ("f", "university slow", null, 1700000300L, "u/f", "srB"),
      ("g", "dropout university dirty", null, 1710000200L, "u/g", "srB")
    ).toDF("id", "title", "selftext", "created_utc", "url", "subreddit")
  }

  val keywords: Seq[String] = Seq("dropout", "university")
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._
  import PipelineSpec.keywords

  private def raw: DataFrame = PipelineSpec.raw(spark)

  private def extracted = Pipeline.extract(raw, keywords, 1000)
  private def enriched = Pipeline.transform(extracted)

  test("extract: keyword filter, keep-first dedup, projection") {
    val got = extracted.select("id").as[String].collect().toSet
    assert(got === Set("a", "b", "c", "e", "f", "g")) // d filtered, dup-a dropped
    val a = extracted.where($"id" === "a")
      .select("content").as[String].head()
    assert(a === "Dropout risk I will drop out") // newest 'a' won the dedup
    assert(extracted.columns.toSeq ===
      Seq("id", "content", "date", "url", "subreddit"))
  }

  test("extract: per-subreddit top-N by recency") {
    val top2 = Pipeline.extract(raw, keywords, 2)
      .select("id").as[String].collect().toSet
    // srA newest two: a (2024), c (1700000100); srB: g, e
    assert(top2 === Set("a", "c", "e", "g"))
  }

  test("transform: derived columns match the reference semantics") {
    val got = enriched.select("id", "sentiment_label", "dropout_mentioned",
        "year")
      .as[(String, String, Boolean, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      "a" -> (("negative", true, 2024)),  // 'drop' -0.375
      "b" -> (("neutral", false, 2023)),
      "c" -> (("neutral", false, 2023)),  // URL stripped by clean_text
      "e" -> (("positive", false, 2024)), // spark+fast 0.6875
      "f" -> (("negative", false, 2023)), // slow -0.875
      "g" -> (("negative", true, 2024)))) // dirty -0.625; 'dropout' flagged
  }

  test("load: star schema with dense surrogate keys and consistent fact") {
    val (dimSub, dimTime, fact) = Pipeline.load(enriched)
    assert(dimSub.as[(String, Long)].collect().toSet ===
      Set(("srA", 1L), ("srB", 2L)))
    assert(dimTime.select("year", "time_id").as[(Int, Long)].collect().toSet
      === Set((2023, 1L), (2024, 2L)))
    assert(fact.count() === 6)
    // every fact row resolves both dims (no dangling keys)
    assert(fact.where($"subreddit_id".isNull || $"time_id".isNull)
      .count() === 0)
  }

  test("loadIncremental: INSERT IGNORE — rerun is a no-op, new rows append") {
    val firstBatch = Pipeline.transform(
      Pipeline.extract(raw.where($"subreddit" === "srA"), keywords, 1000))
    val initial = Pipeline.load(firstBatch)
    val (dimSub1, dimTime1, fact1) = initial
    assert(dimSub1.count() === 1 && fact1.count() === 3)

    val (dimSub2, dimTime2, fact2) =
      Pipeline.loadIncremental(initial, enriched)
    assert(dimSub2.as[(String, Long)].collect().toSet ===
      Set(("srA", 1L), ("srB", 2L))) // srA id unchanged, srB appended
    assert(fact2.count() === 6)

    val (_, _, fact3) = Pipeline.loadIncremental(
      (dimSub2, dimTime2, fact2), enriched)
    assert(fact3.count() === 6) // idempotent rerun
  }

  test("analytics: charts and insights reproduce the reference outputs") {
    val (dimSub, dimTime, fact) = Pipeline.load(enriched)
    val view = Pipeline.analyticsView(dimSub, dimTime, fact)

    assert(Pipeline.sentimentDistribution(view)
      .as[(String, Long)].collect().toSeq ===
      Seq(("negative", 3L), ("neutral", 2L), ("positive", 1L)))

    assert(Pipeline.postsPerYear(view)
      .as[(Int, Boolean, Long)].collect().toSeq ===
      Seq((2023, false, 3L), (2024, false, 1L), (2024, true, 2L)))

    val heat = Pipeline.subredditHeatmap(view)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(heat === Seq(("srA", 1L, 2L, 0L), ("srB", 2L, 0L, 1L)))

    val ins = Pipeline.insights(view)
      .as[(Long, Long, Double, Int, String)].head()
    // 6 posts, 2 dropout mentions, 33.33% neutral; year tie 2023 vs 2024
    // -> smaller wins (pandas idxmax first); subreddit tie srA vs srB -> srA
    assert(ins === ((6L, 2L, 33.33, 2023, "srA")))
  }
}
