package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session), built
  * like every main's: local[4], 4 shuffle partitions. */
object SparkSuite {
  lazy val session: SparkSession = {
    // no fixture to size from: the initial exchange partitioning stays at 4
    val s = GraftSession.builder(4, None)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse_test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Recursively delete a test scratch path (no-op if absent). */
  def rmTree(path: String): Unit = graft.engine.Fs.rmTree(path)
}
