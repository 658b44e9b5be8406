package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated list of query-name substrings to dump.
    val only: Option[Seq[String]] = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, Some(sfDir)).getOrCreate()
    // Opt-in ANSI dual-run (SPARK_GRAFT_ANSI=true): the engine's integer
    // division / overflow conventions are load-bearing in ~40 queries, and
    // non-ANSI Spark turns a class of defects (overflow wrap, bad casts,
    // div-by-zero) into silent NULLs the oracle may coincidentally match.
    // A periodic ANSI pass catches that class wholesale; the driver never
    // sets the var, so per-round behavior is unchanged. Set either way:
    // Spark 4 defaults to ANSI on, while the oracle run has always been off.
    spark.conf.set("spark.sql.ansi.enabled",
      sys.env.getOrElse("SPARK_GRAFT_ANSI", "false").toBoolean)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
