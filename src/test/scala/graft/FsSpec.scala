package graft

/** Contracts of the [[graft.engine.Fs]] read-resolution memo (a
  * [[graft.engine.SessionMemo]] entry per session and path): eviction on
  * application end so stopped sessions cannot leak resolved plans, and a
  * directory signature that detects same-name in-place rewrites by size
  * even when mtime granularity hides them. */
class FsSpec extends SparkSuite {

  test("readParquet memo: entries for a context drop on eviction and re-resolve cleanly") {
    import graft.engine.SessionMemo
    val dir = "/tmp/graft_fs_spec/t1"
    rmTree(dir)
    spark.range(5).write.mode("overwrite").parquet(dir)
    val before = SessionMemo.size
    assert(graft.engine.Fs.readParquet(spark, dir).count() == 5)
    assert(SessionMemo.size == before + 1, "read resolution is memoized")
    assert(graft.engine.Fs.readParquet(spark, dir).count() == 5)
    assert(SessionMemo.size == before + 1, "one key holds one entry")
    // the same routine the per-context ApplicationEnd listener invokes —
    // exercising it directly (stopping the shared test session here would
    // kill every later test of this suite; SessionRebuildSpec stops it)
    SessionMemo.evict(spark.sparkContext)
    assert(SessionMemo.size == 0,
      "all entries riding the ended context are evicted")
    // memo re-populates and serves correct data after eviction
    assert(graft.engine.Fs.readParquet(spark, dir).count() == 5)
    assert(SessionMemo.size == 1)
  }

  test("pathSig: a same-name same-mtime rewrite with different length changes the signature") {
    val dir = new java.io.File("/tmp/graft_fs_spec/t2")
    rmTree(dir.getPath)
    dir.mkdirs()
    val f = new java.io.File(dir, "part-000")
    val mt = 1700000000000L // fixed mtime: simulate a rewrite inside the mtime granularity window
    java.nio.file.Files.writeString(f.toPath, "abc")
    assert(f.setLastModified(mt) && dir.setLastModified(mt))
    val s1 = graft.engine.Fs.pathSig(dir.getPath)
    java.nio.file.Files.writeString(f.toPath, "abcdef")
    assert(f.setLastModified(mt) && dir.setLastModified(mt))
    val s2 = graft.engine.Fs.pathSig(dir.getPath)
    assert(s1 != s2, "file LENGTH must be folded into the signature")
  }
}
