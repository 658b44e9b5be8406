package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one live session),
  * built like every main's: local[4], 4 shuffle partitions. A suite that
  * stops it ([[SessionRebuildSpec]]) leaves the next caller a fresh one. */
object SparkSuite {
  private var current: SparkSession = _

  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      // no fixture to size from: the initial exchange partitioning stays at 4
      current = GraftSession.builder(4, None)
        .appName("graft-tests")
        .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse_test")
        .getOrCreate()
      current.sparkContext.setLogLevel("ERROR")
    }
    current
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Recursively delete a test scratch path (no-op if absent). */
  def rmTree(path: String): Unit = graft.engine.Fs.rmTree(path)
}
