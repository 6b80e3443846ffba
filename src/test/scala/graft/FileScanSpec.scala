package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ops.StoreRead

/** How [[Sessions.local]] plans file scans: small files share a task,
  * a store's directories are listed on the driver, and a single file
  * splits into 128 KB pieces as before.
  */
class FileScanSpec extends SparkSpec {

  /** Jobs started while `body` runs (the listener bus is drained
    * before the count is read). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.grafttest.TestBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.grafttest.TestBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  /** A store laid out like the lex postings: 64 `tbkt` directories of
    * one tiny file each. */
  private def bucketedStore(): String = {
    val path = Files.createTempDirectory("graft-filescan").toString +
      "/tf"
    spark.range(0, 6400).withColumn("tbkt", col("id") % 64)
      .repartition(col("tbkt"))
      .write.partitionBy("tbkt").parquet(path)
    path
  }

  private def parquetFiles(path: String): Seq[File] =
    Files.walk(new File(path).toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  test("a store of 64 directories is listed without a Spark job and " +
      "its tiny files are packed into a few split-sized tasks") {
    val path = bucketedStore()
    val files = parquetFiles(path)
    assert(files.size === 64 && files.forall(_.length < 4096),
      s"fixture must be 64 tiny files: ${files.map(_.length)}")
    StoreRead.parquet(spark, path) // infers and memoizes the schema
    var partitions = 0
    val jobs = jobsDuring {
      partitions = StoreRead.parquet(spark, path).rdd.getNumPartitions
    }
    assert(jobs === 0,
      "a memoized store read must list its directories on the driver")
    // one task per file would be 64
    assert(partitions <= 8, s"planned $partitions scan partitions")
    assert(StoreRead.parquet(spark, path).count() === 6400L)
  }

  test("a single parquet file still splits into 128 KB pieces, or " +
      "stays whole when smaller") {
    def singleFile(rows: Long): (Long, Int) = {
      val path = Files.createTempDirectory("graft-filescan").toString +
        "/one"
      // random doubles do not compress: ~8 bytes a row
      spark.range(0, rows, 1, 1).select(rand(7).as("x"))
        .write.parquet(path)
      val Seq(f) = parquetFiles(path)
      (f.length, spark.read.parquet(path).rdd.getNumPartitions)
    }
    val (bigBytes, bigParts) = singleFile(47500L)
    assert(bigBytes > 2 * 131072 && bigBytes <= 3 * 131072,
      s"fixture must span three 128 KB splits: $bigBytes bytes")
    assert(bigParts === 3)
    val (smallBytes, smallParts) = singleFile(7500L)
    assert(smallBytes > 32768 && smallBytes < 131072,
      s"fixture must fit one 128 KB split: $smallBytes bytes")
    assert(smallParts === 1)
  }
}
