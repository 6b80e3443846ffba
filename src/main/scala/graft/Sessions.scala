package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by Verify / Bench / tests so every
  * entry point reads the fixtures identically.
  */
object Sessions {

  /** Local session: UTC, shuffle partitions = cores (not the 200 default —
    * at sf0.1 and below 200 partitions is pure scheduling overhead; a real
    * cluster deployment sets this to ~2-3× total cores or relies on AQE
    * coalescing), AQE on, and the nanos-as-long parquet flag required to
    * read the `events` fixture (see [[Tables.events]]).
    *
    * File scans: 128 KB splits spread a single-file fixture across the
    * cores, while small files (a store's per-directory files) are packed
    * into split-sized tasks, and store directories are listed on the
    * driver instead of in a listing job. The codegen cache is sized to
    * the engine's working set, so a repeated batch compiles no new
    * classes. Each setting's comment gives its measured reason.
    */
  def local(cpus: String): SparkSession = {
    // in-memory imageio stream cache for the multimodal decode family:
    // the default FILE-backed cache writes a temp file per decode of an
    // already-on-heap payload (see ops/Multimodal.scala header; q168's
    // measured late-session inflation). JVM-global, so owned HERE at
    // the entry point, not by a library class-load side effect.
    javax.imageio.ImageIO.setUseCache(false)
    SparkSession.builder()
    .master(s"local[$cpus]")
    // native functions (SQL names) — e.g. dot_f32 for similarity search —
    // and the bounded-edit-distance filter rewrite (fuzzy-match scale path)
    .withExtensions { ext =>
      ext.injectFunction(graft.functions.DotProductF32.descriptor)
      ext.injectFunction(graft.functions.CleanTextFast.descriptor)
      ext.injectFunction(graft.functions.CleanTokensFast.descriptor)
      ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    }
    .config("spark.sql.shuffle.partitions", cpus)
    // split the small single-file fixtures across cores: the default
    // 128 MB split puts EVERY fixture scan (and whatever per-row work
    // pipelines into it — shingling, hashing, codecs, partial aggs) on
    // ONE task. 128 KB splits mirror the many-split reality of a real
    // deployment at fixture scale; a cluster keeps the 128 MB default.
    .config("spark.sql.files.maxPartitionBytes", "131072")
    // Spark charges each file this "open cost" when it packs files into
    // splits. The 4 MB default is larger than a whole 128 KB split, so
    // no two files ever shared a task: the 64 one-file term-bucket
    // directories of a lex postings store ran as 64 tasks per scan and
    // per merged-head write (traced index-ingest batch: lexindex.merge
    // 152 -> 32 tasks, 2.9 s -> 1.75 s). 4 KB restores Spark's default
    // 1:32 ratio of open cost to split size.
    .config("spark.sql.files.openCostInBytes", "4096")
    // split size = min(maxPartitionBytes, max(openCost, bytes / this)).
    // With 1, a single file splits exactly as without the line above:
    // into 128 KB pieces, or whole when smaller. The default (cores)
    // would cut any input under 512 KB into 4 pieces.
    .config("spark.sql.files.minPartitionNum", "1")
    // list a store's directories on the driver: above 32 leaf dirs
    // (the default) Spark lists them in a Spark job, and a local
    // session pays ~0.4 s for that job over the lex stores' 64 bucket
    // directories, far more than listing them in place. The engine's
    // widest store fans out to 64 directories.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    .config("spark.sql.session.timeZone", "UTC")
    // plan-string metadata (FileScan Location/PushedFilters) truncates
    // at 100 chars by default — too short for the fingerprint-keyed
    // store roots the plan pins assert on (…/graft-annindex-…/codes)
    .config("spark.sql.maxMetadataStringLength", "256")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // managed (bucketed) tables land in tmp, not the project cwd
    .config("spark.sql.warehouse.dir",
      sys.props("java.io.tmpdir") + "/graft-warehouse")
    .config("spark.ui.enabled", "false")
    // the UI is off but the SQL listener still RETAINS per-execution plan
    // data (default 1000 executions) — and some plans embed megabyte
    // literals (q131's serialized Bloom filter), so a 100+-query session
    // accumulates hundreds of MB of old-gen and every late-query GC pays
    // for it (observed: q121 at 4-6 s in a fresh JVM vs 26-58 s late in a
    // bench run). A long-lived ETL/bench session wants a tight cap.
    .config("spark.sql.ui.retainedExecutions", "8")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "200")
    // Spark keeps 100 generated classes by default, but one ETL spine
    // batch uses ~150 cache entries and one index-ingest batch ~330, so
    // every batch recompiled what the previous one had just compiled
    // (traced: 147 and 325 Janino compiles per measured batch, ~14 ms
    // each, down to 0 and 12 with this cap). Each entry retains ~28 KB
    // of old gen (its class loader, source key and bytecode), so the
    // cap bounds the cache at ~28 MB. Static: read once per JVM, when
    // Spark first generates code.
    .config("spark.sql.codegen.cache.maxEntries", "1024")
    // without the stage id in generated class names, identical
    // whole-stage bodies at different stage positions share one cache
    // entry (distinct entries per index-ingest run: 446 -> 356). That
    // is what keeps the larger cache's retained heap inside budget;
    // plans still print the stage id as *(n).
    .config("spark.sql.codegen.useIdInClassName", "false")
    .getOrCreate()
  }
}
