package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for driver-side memos.
  *
  * [[graft.engine.SessionMemo]] is the engine's one result memo: its entries
  * are keyed on the SparkContext and the fixture's signature, and dropped
  * when that context ends. A `ConcurrentHashMap` field (or a
  * `computeIfAbsent` on one) anywhere else in the main sources is the
  * pattern it replaced: a JVM-lifetime map keyed by directory, with its own
  * eviction policy or none, that serves a stale value after a fixture
  * rewrite and a dangling catalog name to a rebuilt session.
  *
  * To add a site: put the memo on `SessionMemo`, or add an allowlist entry
  * stating why the map holds no memoized RESULT (scratch paths, locks).
  *
  * Derived data at rest follows the same policy through
  * [[graft.engine.SessionMemo.atRest]]. The second test fails on the
  * protocol it replaced: a build reused for the life of the JVM whenever
  * its `_SUCCESS` marker or its catalog table exists, which kept serving
  * the old build after the fixture was rewritten.
  */
class MemoGuardSpec extends AnyFunSuite {

  /** (file relative to src/main/scala, map field) → why it is not a memo. */
  private val allowlist: Map[(String, String), String] = Map(
    ("graft/engine/Fs.scala", "versionedDirs") ->
      "scratch directory per overwriteVersioned prefix: where each call writes its version, not a computed value",
    ("graft/engine/Fs.scala", "prefixLocks") ->
      "one lock object per scratch prefix",
    ("graft/engine/Fs.scala", "versions") ->
      "current version number of an overwriteVersioned scratch prefix (the directory in use)")

  private val owner = "graft/engine/SessionMemo.scala"

  test("every ConcurrentHashMap outside SessionMemo is on the not-a-memo allowlist") {
    val mapPat = "ConcurrentHashMap".r
    val valPat = "(?:val|var)\\s+([A-Za-z0-9_]+)".r
    val cfaPat = "([A-Za-z0-9_]+)\\s*\\.\\s*computeIfAbsent".r
    val found: Set[(String, String)] =
      SourceScan.sources("src/main/scala").filterNot(_._1 == owner).flatMap {
        case (rel, src) =>
          // a map is named by the field declared before it; a
          // computeIfAbsent by the map it is called on
          val maps = mapPat.findAllMatchIn(src).map { m =>
            valPat.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
              .map(_.group(1)).getOrElse("<top>")
          }
          (maps ++ cfaPat.findAllMatchIn(src).map(_.group(1))).map(rel -> _)
      }.toSet
    val extra = found -- allowlist.keySet
    val stale = allowlist.keySet -- found
    assert(extra.isEmpty,
      s"""NEW driver-side map(s): ${extra.mkString(", ")}.
         |Memoize results through graft.engine.SessionMemo (keyed on the
         |SparkContext and the fixture signature, evicted at context end), or
         |allowlist the map in MemoGuardSpec with why it holds no result.""".stripMargin)
    assert(stale.isEmpty,
      s"stale allowlist entries (site gone — prune them): ${stale.mkString(", ")}")
  }

  test("no build reuses an at-rest dir or table by its marker or name") {
    // the streaming upsert swap commits its renamed-in target by the marker
    // (upsertUserProfilesAvailableNow); it is a per-call rewrite, not a reuse
    val markerOwner = "graft/streaming/IncrementalPipeline.scala"
    val files = SourceScan.files("src/main/scala")
    val reuse = for {
      (rel, src) <- files
      word <- Seq("buildOnce", "catalog.tableExists") if src.contains(word)
    } yield s"$rel: $word"
    val markers = for {
      (rel, src) <- files if rel != markerOwner
      (line, lit, _) <- SourceScan.stringLiterals(src) if lit == "_SUCCESS"
    } yield s"$rel:$line (_SUCCESS marker)"
    assert((reuse ++ markers).isEmpty,
      s"""at-rest reuse outside SessionMemo: ${(reuse ++ markers).mkString(", ")}.
         |Build derived data through graft.engine.SessionMemo.atRest: a fresh
         |dir per build, published by the memo entry, rebuilt when the fixture
         |changes and deleted when the entry goes.""".stripMargin)
  }
}
