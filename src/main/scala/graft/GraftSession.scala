package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft session is built. Every main (Bench, Verify, Profile,
  * Explain, GenData) and the shared test session start from
  * [[builder]], so the configuration the bench measures is the configuration
  * everything else runs; caller-specific settings go on the returned builder
  * or on the live session's runtime conf. */
object GraftSession {

  /** Recursive on-disk bytes of a directory (the fixture working set).
    * Symlinks contribute 0 and are NOT followed — a link loop in the
    * fixture dir must not hang the bench before any query runs, and a link
    * to a larger tree must not inflate the working-set evidence
    * (round-12 ADVICE). */
  def treeBytes(f: java.io.File): Long =
    if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  /** Starting partition count of every exchange: `SPARK_GRAFT_INITIAL_PARTS`
    * when set, else fixture/8 MB clamped to [cpus, 4096]. A malformed
    * override falls back to the data-sized default (with a stderr note)
    * instead of crashing before any query runs. */
  private[graft] def initialParts(cpus: Int, fixtureBytes: Long, overrideVar: Option[String]): Int =
    overrideVar
      .flatMap { v =>
        val p = scala.util.Try(v.trim.toInt).toOption.filter(_ > 0)
        if (p.isEmpty) System.err.println(
          s"[session] ignoring malformed SPARK_GRAFT_INITIAL_PARTS='$v'")
        p
      }
      .getOrElse(math.min(4096L, math.max(cpus.toLong, fixtureBytes / (8L << 20))).toInt)

  /** The session conf for `cpus` cores over a fixture of `fixtureBytes`. */
  private[graft] def settings(cpus: Int, fixtureBytes: Long,
      initialPartsVar: Option[String]): Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // belt-and-braces for bloomPredicate's two ≤384 MB sketch partials
    // (RelOps.scala) — the default 1g leaves no headroom at the cap
    "spark.driver.maxResultSize" -> "2g",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // every exchange STARTS at initialParts partitions and AQE coalesces it
    // to ~advisory-sized reducer inputs measured from the actual map
    // output. This is what keeps corpus-mass aggregates' final-agg hash
    // maps memory-resident at ANY SF (the q93 sf300 partition cliff:
    // HashAggregate falls into sort-based spilling when distinct-key mass
    // / #reducers outgrows the task's map) WITHOUT sacrificing map-side
    // partial combine the way an explicit pre-aggregate repartition did
    // (round-11 ADVICE) — the aggregate keeps its own exchange, so
    // partial states collapse before the wire.
    //
    // The starting count is DATA-SIZED, not a constant: a fixed 2048 was
    // measured at sf0.1 to cost the catalog +33 s (q227 1.1→6.9 s, the
    // text aggregates +1-3 s each) — every map task pays per-bucket
    // writer overhead on every shuffle, coalesced or not, so the start
    // count must scale with the run's data like the reducer count it
    // feeds. fixture/8 MB ≈ one initial partition per ~32 MB of exploded
    // exchange mass (the n-gram streams run ~4× the at-rest corpus):
    // sf0.1 (17 MB) stays at #cores — baseline behavior unchanged —
    // while sf1000 (9.4 GB documents) starts at ~1200 and AQE settles
    // the real corpus-mass exchanges near the advisory size. On a real
    // cluster this is just "size shuffle.partitions to the input", the
    // standing deployment practice this local knob stands in for.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialParts(cpus, fixtureBytes, initialPartsVar).toString,
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "52428800",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // default codegen class cache (100 entries) thrashes across this
    // 61-query surface (several codegen stages per query): big generated
    // classes (q29's 12-min agg) would re-janino-compile EVERY pass,
    // charging seconds of compiler time to the timed run
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** A `local[cpus]` builder carrying [[settings]]. `sfDir` is the fixture
    * the session will read, sized for the initial partition count; `None`
    * (no fixture known up front) keeps that count at `cpus`. */
  def builder(cpus: Int, sfDir: Option[String]): SparkSession.Builder = {
    val bytes = sfDir.map(d => treeBytes(new java.io.File(d))).getOrElse(0L)
    settings(cpus, bytes, sys.env.get("SPARK_GRAFT_INITIAL_PARTS"))
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
  }
}
