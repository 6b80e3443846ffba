package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

import graft.ops.Pipeline

/** A batch job repeats one set of plans per batch, so a second batch must
  * find the first batch's generated classes in Spark's codegen cache
  * instead of recompiling them (the cache is sized in [[Sessions.local]]).
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated ETL spine pass compiles (almost) no new classes") {
    val dir = Files.createTempDirectory("graft-codegen-cache").toString
    PipelineSpec.raw(spark).write.parquet(s"$dir/raw")
    val keywords = PipelineSpec.keywords

    // extract -> transform -> incremental load onto a standing star ->
    // analytics view and the four charts, every result collected
    def pass(): Unit = {
      val raw = spark.read.parquet(s"$dir/raw")
      val standing = Pipeline.load(Pipeline.transform(Pipeline.extract(
        raw.where(col("subreddit") === "srA"), keywords, 1000)))
      val enriched = Pipeline.transform(Pipeline.extract(raw, keywords, 1000))
      val (dimSub, dimTime, fact) =
        Pipeline.loadIncremental(standing, enriched)
      val view = Pipeline.analyticsView(dimSub, dimTime, fact)
      Seq(Pipeline.sentimentDistribution(view), Pipeline.postsPerYear(view),
        Pipeline.subredditHeatmap(view), Pipeline.insights(view))
        .foreach(_.collect())
    }

    val start = compiles
    pass()
    val first = compiles - start
    pass()
    val second = compiles - start - first
    // slack for a few compiles outside the pass; with Spark's default
    // 100-entry cache the second pass recompiled 654 of the first's 671
    assert(second <= 5,
      s"second pass compiled $second classes (first pass: $first)")
  }
}
