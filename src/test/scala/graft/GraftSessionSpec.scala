package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The session factory yields Bench's settings for a given (cpus, fixture). */
class GraftSessionSpec extends AnyFunSuite {

  private val sf01Bytes = 17L << 20

  test("settings are Bench's: extensions, AQE, skew join, 50 MB broadcast, UTC, caches") {
    assert(GraftSession.settings(4, sf01Bytes, None).toMap == Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.driver.maxResultSize" -> "2g",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "4",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "52428800",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000"))
  }

  test("initialPartitionNum is fixture/8 MB clamped to [cpus, 4096]") {
    def parts(cpus: Int, bytes: Long) = GraftSession.initialParts(cpus, bytes, None)
    assert(parts(4, 0L) == 4)
    assert(parts(32, sf01Bytes) == 32)
    assert(parts(4, 9400L << 20) == 1175)
    assert(parts(4, 1L << 40) == 4096)
    assert(GraftSession.settings(32, 1L << 40, None).toMap
      .apply("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4096")
  }

  test("SPARK_GRAFT_INITIAL_PARTS overrides; a malformed value falls back to the data-sized count") {
    val bytes = 800L << 20 // data-sized: 100
    assert(GraftSession.initialParts(4, bytes, Some("64")) == 64)
    assert(GraftSession.initialParts(4, bytes, Some(" 7000 ")) == 7000)
    for (bad <- Seq("", "abc", "0", "-3", "1.5"))
      assert(GraftSession.initialParts(4, bytes, Some(bad)) == 100, s"override '$bad'")
  }

  test("fixture size walk counts files and skips symlinks (no loop, no foreign tree)") {
    val root = Files.createTempDirectory("graft_tree")
    try {
      Files.write(root.resolve("a.parquet"), new Array[Byte](100))
      val sub = Files.createDirectory(root.resolve("t"))
      Files.write(sub.resolve("b.parquet"), new Array[Byte](23))
      Files.createSymbolicLink(root.resolve("loop"), root)
      Files.createSymbolicLink(sub.resolve("a_link"), root.resolve("a.parquet"))
      assert(GraftSession.treeBytes(root.toFile) == 123)
      assert(GraftSession.treeBytes(root.resolve("missing").toFile) == 0)
    } finally {
      // Files.walk does not follow links, so this deletes the links themselves
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
