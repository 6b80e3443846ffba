package graft.ops

import scala.jdk.CollectionConverters._

/** Write-once atomic publish shared by the physical index stores
  * ([[AnnIndex]], [[LexIndex]]): build into a pid-suffixed staging
  * directory, stamp `_DONE`, `Files.move(ATOMIC_MOVE)` to the stable
  * target; the loser of a concurrent cross-JVM race deletes its
  * staging and reads the winner's store. Within one JVM, [[ensure]] is
  * single-flight per target path — two threads building into the SAME
  * pid-keyed staging dir would corrupt each other mid-write.
  */
private[graft] object StoreCommit {

  /** Single-flight memoization over a ConcurrentHashMap of FUTURES —
    * the pattern [[Curate]]'s decon-truth memo introduced (r14
    * advice), shared so every store/count memo uses it: the build (a
    * full Spark job) runs OUTSIDE any map bin lock — `putIfAbsent`
    * installs the future first, so a concurrent thread whose key
    * hashes to the same bin never blocks behind another key's build
    * (computeIfAbsent would hold the bin lock for the whole job, r15
    * advice). One creator per key; losers `join()` the winner's
    * future; a failed build removes its future so a retry can rebuild.
    */
  def singleFlight[V](
      map: java.util.concurrent.ConcurrentHashMap[
        String, java.util.concurrent.CompletableFuture[V]],
      key: String)(build: => V): V = {
    val created = new java.util.concurrent.CompletableFuture[V]()
    val existing = map.putIfAbsent(key, created)
    // losers rethrow the winner's ORIGINAL exception, not the
    // CompletionException join() wraps it in — callers catching
    // specific exception types must behave identically whether they
    // won or lost the race (r16 advice)
    if (existing != null)
      try existing.join()
      catch {
        case e: java.util.concurrent.CompletionException
            if e.getCause != null => throw e.getCause
      }
    else
      try { val v = build; created.complete(v); v }
      catch {
        case e: Throwable =>
          created.completeExceptionally(e)
          map.remove(key, created)
          throw e
      }
  }

  private val ensured = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]

  /** Returns `target`, building it first if no `_DONE` stamp exists.
    * `build` receives the staging path and must write every file of
    * the store under it. Single-flight per target within the JVM. */
  def ensure(target: String)(build: String => Unit): String =
    singleFlight(ensured, target)(publish(target)(build))

  private def publish(target: String)(build: String => Unit): String = {
    if (new java.io.File(target, "_DONE").exists()) return target
    val staging = target + s"-stage-${ProcessHandle.current().pid}"
    build(staging)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(staging, "_DONE"), "ok")
    try
      java.nio.file.Files.move(
        java.nio.file.Paths.get(staging),
        java.nio.file.Paths.get(target),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.AccessDeniedException |
           _: java.nio.file.DirectoryNotEmptyException =>
        // a concurrent JVM published first — read theirs, drop ours
        graft.TempDirs.deleteNow(staging)
    }
    require(new java.io.File(target, "_DONE").exists(),
      s"store publish failed for $target")
    target
  }

  /** Readable path slug + a short md5 of the RAW dir string: the
    * readable part collapses non-alphanumeric runs (so two distinct
    * fixture dirs like `/a/sf0.1` and `/a-sf0.1` would collide on it),
    * and the hash suffix makes the mapping injective — distinct dirs
    * can never silently share a store root (r13 advice).
    */
  private[ops] def slug(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]+", "-").replaceAll("^-|-$", "") +
      "-" + md5Hex(dir).take(8)

  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Content fingerprint of a fixture directory: md5 over the sorted
    * (relative-path, size, mtime) listing of every regular file under
    * it, 8 hex chars. Folded into the durable store roots so a store
    * is keyed by WHAT it indexed, not just where the fixture lived —
    * regenerating the test data at the same path invalidates the
    * store instead of silently serving stale centroids/postings (r13
    * advice). The production analogue is keying an index by the
    * source snapshot/version id, which object stores expose without a
    * walk; locally a listing of a handful of parquet files is
    * microseconds, memoized per JVM.
    */
  private[ops] def fingerprint(dir: String): String =
    fpMemo.computeIfAbsent(dir, d => {
      val root = java.nio.file.Paths.get(d)
      val lines =
        if (!java.nio.file.Files.isDirectory(root)) Seq(s"missing:$d")
        else {
          val s = java.nio.file.Files.walk(root)
          try s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => s"${root.relativize(p)}|${java.nio.file.Files
              .size(p)}|${java.nio.file.Files
              .getLastModifiedTime(p).toMillis}")
            .toSeq.sorted
          finally s.close()
        }
      md5Hex(lines.mkString("\n")).take(8)
    })

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
