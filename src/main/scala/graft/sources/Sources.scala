package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.1 ops 1-6).
  *
  * The reference's sources/sinks are a Reddit HTTP loop, a CSV backup sink
  * (reddit_etl_proj/etl_pipeline.py:66-70) and a MySQL JDBC star-schema
  * load (etl_pipeline.py:84-129). The engine equivalents are schema-declared
  * batch readers and task-parallel writers; the upsert-ignore JDBC
  * semantics live in graft.ops.Star.upsertIgnore (left-anti before append).
  *
  * Scale notes:
  *  - every reader takes an explicit schema — inference is a full extra
  *    scan at 100 TB and breaks column pruning for CSV/JSON;
  *  - `writePartitioned` is the scale path for fact tables: partition
  *    columns become directory keys, so downstream queries with partition
  *    predicates prune whole directories (Catalyst PartitionFilters);
  *  - CSV keeps the reference's header/UTF-8/skip-empty behavior.
  */
object Sources {

  def readCsv(spark: SparkSession, path: String,
              schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** JSON-lines reader (one object per line — the splittable layout). */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Raw text-line sink: `df` must be a single string column. The
    * format every raw 100 TB log corpus actually arrives in — newline-
    * delimited, schema-on-read, parsed with regexes at scan time
    * ([[readText]] + `regexp_extract` is the ingestion half of q222).
    */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** Raw text-line source: one `value` string column per line.
    * Newline-split files are splittable, so the parse parallelizes per
    * 128 MB block like any columnar scan — the regex runs inside
    * whole-stage codegen, no UDF.
    */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Parquet sink with OBSERVED write metrics: row count and per-column
    * null counts are accumulated inside the write pass itself
    * (`df.observe` + `Observation`) and returned after it commits. The
    * audit a production load runs after every batch — and at 100 TB the
    * difference between this and `write(); count(); filter(isnull).count()`
    * is two full extra scans of the table. Metrics ride the task results
    * (an internal accumulator), so they cost no shuffle and no action.
    */
  def writeParquetAudited(df: DataFrame, path: String,
                          nullAudited: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation("write_audit")
    val metrics =
      count(lit(1)).as("rows_written") +:
        nullAudited.map(c =>
          sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
    df.observe(obs, metrics.head, metrics.tail: _*)
      .write.mode("overwrite").parquet(path)
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }

  /** CSV sink mirroring the reference backup (etl_pipeline.py:66-70):
    * header row, UTF-8, and skip-when-empty. Returns true iff written.
    * The empty-guard uses `isEmpty` (reads at most one row), not count().
    */
  def writeCsv(df: DataFrame, path: String): Boolean =
    if (df.isEmpty) false
    else {
      df.write.mode("overwrite").option("header", "true")
        .option("encoding", "UTF-8").csv(path)
      true
    }

  /** Partitioned parquet sink: directory-partition by low-cardinality
    * keys so partition predicates prune at the file listing.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed+sorted managed table: two tables bucketed the same way on
    * their join key join WITHOUT a shuffle (the 100 TB co-located-join
    * path; SCALE.md). Requires saveAsTable — bucket metadata lives in the
    * catalog, not in plain parquet paths.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit = {
    // a killed JVM can orphan the managed-table directory while the
    // (in-memory) catalog forgets the table — mode("overwrite") then
    // refuses the location on the next pid-reusing run. Clear both.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // hadoop Path, not java.net.URI: the warehouse dir is a possibly-
    // unencoded file URI (spaces etc.) that raw URI parsing rejects
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val loc = new java.io.File(warehouse, table)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)
  }

  /** JDBC sink — the physical twin of the reference's MySQL star-schema
    * load (etl_pipeline.py:84-129; the upsert-ignore LOGIC is
    * graft.ops.Star.upsertIgnore). The sandbox ships no server database,
    * but Spark's own Derby (the embedded Hive-metastore DB) is on the
    * classpath, so `jdbc:derby:memory:` exercises the real
    * `df.write.jdbc` path: dialect type mapping, batched INSERTs, and
    * numPartitions-parallel writers.
    *
    * Scale notes: JDBC writes run one INSERT batch stream per partition —
    * `df.coalesce(n)` bounds connection count; the reference's
    * one-row-per-roundtrip executemany is the anti-pattern this replaces.
    * VARCHAR lengths are explicit (`createTableColumnTypes`) because the
    * Derby dialect's default StringType mapping is CLOB, which Derby
    * refuses in GROUP BY/DISTINCT.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                stringCols: Map[String, Int] = Map.empty): Unit = {
    val props = new java.util.Properties()
    val w = df.write.mode("overwrite")
    val typed =
      if (stringCols.isEmpty) w
      else w.option("createTableColumnTypes",
        stringCols.map { case (c, n) => s"$c VARCHAR($n)" }.mkString(", "))
    typed.jdbc(url, table, props)
  }

  /** JDBC source: reads `table` back through the dialect's type mapping.
    * At scale the reader takes partitionColumn/bounds to parallelize; a
    * single-partition read is correct for dimension-sized tables.
    */
  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties())

  /** Numbered-shard corpus writer: materialize
    * [[graft.ops.Curate.deterministicShuffle]]'s layout as one parquet
    * file per shard directory (`shard=K/part-*.parquet`), rows sorted by
    * `pos` within the file — so the bytes a trainer streams are a pure
    * function of the doc ids, independent of engine, run, or cluster
    * partitioning (asserted across two writes in SourcesSpec).
    *
    * One `repartition(shards, col("shard"))` hash shuffle co-locates each
    * shard on one task; the within-task sort is the same spillable sort
    * `pos` already paid for — at 100 TB, `shards` bounds both reducer
    * memory and output file size.
    */
  def writeShards(shuffled: DataFrame, shards: Int, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    shuffled
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetFileBytes) files, optionally sorted within
    * files by `sortCols` so column min/max statistics cluster and
    * downstream range predicates skip row groups. The streaming-ingest
    * maintenance job: micro-batch sinks produce one file per trigger per
    * partition, and at 100 TB an uncompacted table's file count (not its
    * bytes) becomes the bottleneck — driver listing, footer reads, and
    * task-per-file scheduling all scale with it.
    *
    * Returns (filesBefore, filesAfter). Writes to `outPath` — parquet
    * has no transactional in-place rewrite; the swap is the caller's
    * rename (a table format like Iceberg/Delta makes it atomic).
    */
  /** Schema-drift ingestion: read a lake directory whose parquet files
    * were written across SCHEMA VERSIONS (columns added over time —
    * the normal state of a corpus that has been collected for years)
    * as one frame. `mergeSchema` makes the scan reconcile footers
    * (files missing a later column surface it as NULL); the read stays
    * a plain parquet scan with pushdown — the reconciliation is
    * per-file metadata, not a data pass, which is why this is the
    * right shape at 100 TB vs rewriting old files.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def compact(spark: SparkSession, inPath: String, outPath: String,
              schema: StructType, targetFileBytes: Long,
              sortCols: Seq[String] = Nil): (Int, Int) = {
    // resolve the filesystem FROM the path (inPath may live on a non-
    // default FS, e.g. an object store while the default is HDFS), and
    // null-guard globStatus (Hadoop returns null, not empty, for a
    // nonexistent parent)
    def parquetFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val path = new org.apache.hadoop.fs.Path(p + "/*.parquet")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
    }
    val before = parquetFiles(inPath)
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(
      totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.schema(schema).parquet(inPath)
    val arranged =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(df(_)): _*)
          .sortWithinPartitions(sortCols.map(df(_)): _*)
      else df.repartition(nFiles)
    arranged.write.mode("overwrite").parquet(outPath)
    (before.size, parquetFiles(outPath).size)
  }
}
