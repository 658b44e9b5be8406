package graft.engine

/** Local-filesystem scratch helpers shared by the scratch-dir lifecycles in
  * [[graft.ext.Dedup]], [[Bucketing]], and the test suites (one definition —
  * the four previous copies each lacked the null guard below).
  *
  * These are for JVM-local scratch/warehouse paths only. Anything that may
  * live on a non-local filesystem (e.g. gold partition directories at cluster
  * scale) must go through Hadoop's `FileSystem` API instead — see
  * [[graft.streaming.IncrementalPipeline.refreshGoldOrderYears]].
  */
object Fs {

  /** One-level directory signature: root mtime + child names, mtimes AND
    * sizes. Child sizes close the same-second in-place rewrite hole
    * (round-13 ADVICE): File.lastModified is millisecond-granular and some
    * filesystems coarser, so an overwrite that keeps names and lands inside
    * the granularity window would otherwise serve a stale file index. A
    * same-name same-mtime same-size rewrite remains undetectable — Spark
    * writers never produce one (fresh UUID part names per write). */
  private[graft] def pathSig(path: String): Long = {
    val f = new java.io.File(path)
    var h = f.lastModified ^ (if (f.exists) 1L else 0L)
    val kids = f.listFiles
    if (kids != null) {
      var i = 0
      while (i < kids.length) {
        h = h * 31 + kids(i).getName.hashCode * 17 + kids(i).lastModified +
          kids(i).length * 13
        i += 1
      }
    }
    h
  }

  /** A parquet read, RESOLVED once per (session, path) through
    * [[SessionMemo]]. `spark.read.parquet` pays driver-side source
    * resolution on every call — file listing plus a footer read for schema
    * inference — and the bench/verify drivers construct every query fresh on
    * every pass, so the same table was being re-resolved hundreds of times
    * per run (measured: 40-85 ms of the per-query plan-construction time at
    * sf0.1; OPTIMIZATION_r13.md). NO data is cached — every execution still
    * scans the parquet bytes — only the logical read plan (schema + file
    * index) is reused, as if the path had been registered as an external
    * table once at session start. The memo's [[pathSig]] check re-resolves a
    * path rewritten in place (a fresh file index instead of FILE_NOT_EXIST on
    * the old part files). Non-local paths (a URI scheme) skip the memo —
    * java.io.File cannot stat them. Per-round iteration scratch
    * (`$tmp/labels$i`, [[overwriteVersioned]] paths) keeps calling
    * `spark.read.parquet` directly: their file sets change every invocation,
    * so a memo would never hit. The session is part of the key: a resolved
    * DataFrame belongs to the session that built it. */
  def readParquet(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    if (path.contains("://")) spark.read.parquet(path)
    else SessionMemo(spark, ("read", spark, path), path)(spark.read.parquet(path))

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val stableDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => scratchDirs.forEach(rmTree)))

  /** Fresh JVM-lifetime scratch dir (shutdown-hook reclaimed) for operators
    * that materialize intermediate data a returned lazy frame may still read
    * (eager deletion is unsafe; the hook reclaims at JVM exit). The single
    * queue+hook here is THE scratch lifecycle — [[graft.ext.Dedup]] delegates
    * to it. Callers that re-run per bench pass should prefer
    * [[stableScratchDir]] so repeated invocations don't accumulate copies. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs.add(p)
    p
  }

  /** Injective 12-hex tag of a source dir for layout/scratch cache keys —
    * character sanitization is NOT injective ("/a/b_c" vs "/a/b/c" collide),
    * and a tag collision silently serves one dataset's cached layout for
    * another. A mutable-source deployment would tag a snapshot/commit id
    * instead of the path. */
  def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** One scratch dir PER PREFIX per JVM (cached): repeated invocations of the
    * same operator overwrite one location instead of stacking a full table
    * copy per call — a bench looping a sink-roundtrip query N times holds one
    * copy, not N. Only safe for WRITE-ONCE callers (the dir is populated on
    * first use and read-only after — see [[graft.engine.Layout]]); callers
    * that re-write per invocation must use [[overwriteVersioned]], which a
    * concurrently-held lazy frame can survive. */
  def stableScratchDir(prefix: String): String =
    stableDirs.computeIfAbsent(prefix, p => scratchDir(p))

  private val prefixLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val versions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Run `body` under the JVM-wide lock for `prefix` — serializes build-or-
    * reuse decisions on a shared per-prefix dir (two threads racing a
    * marker-guarded build would otherwise both write it). */
  def withPrefixLock[A](prefix: String)(body: => A): A =
    prefixLocks.computeIfAbsent(prefix, _ => new Object).synchronized(body)

  /** Build-or-reuse a per-prefix scratch dir guarded by a `_SUCCESS` marker:
    * the first caller (per JVM per prefix, serialized by [[withPrefixLock]])
    * runs `write` into the stable dir; later callers — and callers racing on
    * other threads — reuse the marker-committed build. `write` must commit
    * the marker itself (every Spark write does). The shared build-once
    * lifecycle behind the cached layouts ([[Layout]]); one definition so a
    * marker-protocol fix cannot miss a site. */
  def buildOnce(prefix: String, hadoopConf: org.apache.hadoop.conf.Configuration)(
      write: String => Unit): String =
    withPrefixLock(prefix) {
      val p = stableScratchDir(prefix)
      val marker = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      val fs = marker.getFileSystem(hadoopConf)
      if (!fs.exists(marker)) write(p)
      p
    }

  /** Overwrite-safe bounded scratch: each invocation writes a FRESH `vN`
    * subdir under the stable per-prefix dir, and the PREVIOUS version is
    * deleted only after `write` returns (commits). Space stays bounded at ~1
    * table copy per prefix (transiently 2 during the write), like the old
    * overwrite-in-place pattern — but a lazy frame over a previously returned
    * path never observes a mid-overwrite or mixed state: it either reads its
    * own fully-committed version, or (if held across a LATER invocation) fails
    * loudly on the deleted path instead of silently reading torn data.
    * Invocations are serialized per prefix by [[withPrefixLock]], so two
    * suites sharing a JVM cannot interleave writes either. */
  def overwriteVersioned(prefix: String)(write: String => Unit): String =
    withPrefixLock(prefix) {
      val base = stableDirs.computeIfAbsent(prefix, p => scratchDir(p))
      val prev = Option(versions.get(prefix)).map(_.longValue)
      val n = prev.getOrElse(0L) + 1
      val next = s"$base/v$n"
      write(next)
      versions.put(prefix, n)
      prev.foreach(v => rmTree(s"$base/v$v"))
      next
    }

  /** Recursively delete `path`; no-op if absent. `listFiles` returns null on
    * an IO error or a concurrent delete — guarded, so one bad directory
    * cannot abort a caller iterating over many (the Dedup shutdown hook
    * cleans its whole queue on one thread). */
  def rmTree(path: String): Unit = rm(new java.io.File(path))

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }
}
