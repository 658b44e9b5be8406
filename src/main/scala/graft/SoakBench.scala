package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-state soak benchmark (round 10, VERDICT r9 #3): the streaming
  * twins are replay-parity tested at sf0.1, but state-store size and
  * per-wave cost had no decade ladder — this main exercises the three
  * families whose state model differs, at any SF dir, and emits one JSON
  * artifact with per-wave telemetry plus loud flags when a boundedness law
  * breaks (exit 3, like Bench's growth gate):
  *
  *  - `dedup` ([[graft.streaming.Streams.dedupSoak]]): watermarked
  *    dedup-by-key. Law: state is O(wave) — FLAT as waves accumulate —
  *    and the sink emits every event exactly once despite planted
  *    duplicate feeds.
  *  - `text_ingest` ([[graft.streaming.Streams.runTextIngest]]):
  *    dedup-on-arrival against a growing at-rest fp/band index. Law: state
  *    is the INDEX (linear in corpus, at rest, by design); per-wave wall
  *    grows at most linearly with the index (the wave side broadcasts),
  *    never superlinearly. Planted exact copies in wave 2 must be flagged
  *    against wave 1's slice.
  *  - `packing` ([[graft.streaming.Streams.runPackingStream]]): sequence
  *    packing with a 1-ROW carry. Law: state is ONE scalar regardless of
  *    corpus; per-wave wall is flat; token totals conserve exactly.
  *  - `sessions` ([[graft.streaming.Streams.sessionizeStream]]):
  *    flatMapGroupsWithState sessionization with event-time timeout. Law:
  *    state is OPEN SESSIONS (users active inside the watermark horizon) —
  *    bounded by the user population and flat across waves, never
  *    event-volume-shaped; emitted session event-counts stay within the
  *    events fed and grow monotonically as the watermark closes sessions.
  *  - `heavy_hitters` ([[graft.streaming.Streams.heavyHitterCandidatesStream]]):
  *    Misra-Gries top-k over the token stream. Law: state is ONE sketch row
  *    (k slots) regardless of corpus — the strongest bound in the set — and
  *    the sketch's running total equals the tokens fed EXACTLY at every
  *    wave (eviction never loses the count).
  *  - `decon` ([[graft.streaming.Streams.runDeconStream]]): semantic
  *    decontamination screen. Law: ZERO state rows (stateless projection +
  *    broadcast benchmark fetch); verdicts equal vectors fed exactly;
  *    per-wave wall flat (wave × fixed benchmark).
  *
  * Wave slicing is contiguous and deterministic (dense doc ids → equal
  * ranges; events split at event-time percentiles inside dedupSoak), so a
  * run is reproducible at any SF. Staging writes are untimed; only each
  * wave's stream drain is on the clock.
  *
  * `SPARK_GRAFT_SOAK_FAMILIES` (comma list; empty = all) selects which
  * families run — a SKIPPED family never reads its fixture table, which is
  * the point: the sf1000 rung's box bound (BENCH.md) rules out the
  * EVENTS-dependent families (1 B rows ≈ 55-60 GB alone), but the
  * text-ingest family needs only the 9.4 GB doc fixture + ~8-10 GB
  * index/wave scratch and fits the same box (VERDICT r12 #6). Skipped
  * families report `null` wave arrays and -1 summary counts in the
  * artifact; the boundedness flags of a skipped family are simply not
  * evaluated (they are per-family laws, not cross-family invariants).
  */
object SoakBench {

  private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val waves = sys.env.getOrElse("SPARK_GRAFT_SOAK_WAVES", "4").toInt
    val scratch = args.headOption.getOrElse("/tmp/graft_soak_bench")
    val outPath = if (args.length > 1) args(1) else "soak_result.json"
    // the soak corpus is generated into scratch, so there is no fixture to
    // size the initial exchange partitioning from up front: it stays at
    // #cores unless SPARK_GRAFT_INITIAL_PARTS overrides it
    val spark = GraftSession.builder(cpus, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.engine.Fs.rmTree(scratch)

    val flags = scala.collection.mutable.ListBuffer[String]()

    // family selection (see scaladoc): empty = all; a skipped family never
    // reads its fixture table
    val knownFamilies = Set("dedup", "text_ingest", "packing", "sessions",
      "heavy_hitters", "decon")
    val families: Set[String] = sys.env.get("SPARK_GRAFT_SOAK_FAMILIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val unknownFam = families -- knownFamilies
    require(unknownFam.isEmpty,
      s"unknown SPARK_GRAFT_SOAK_FAMILIES: ${unknownFam.mkString(",")} (known: ${knownFamilies.mkString(",")})")
    def runFam(f: String): Boolean = families.isEmpty || families.contains(f)

    // summary counts for the artifact: -1 = the owning family was skipped
    // and the count was never computed (events/docs/embeddings not read)
    var nEvents = -1L; var nDocsTotal = -1L; var nUsers = -1L
    var nVecFed = -1L; var nPlanted = -1L

    // ---------------- family 1: watermarked dedup state ----------------
    val dedup: Option[Seq[graft.streaming.Streams.SoakWave]] =
      if (!runFam("dedup")) None else Some {
        val d = graft.streaming.Streams.dedupSoak(
          spark, sfDir, s"$scratch/dedup", waves = waves)
        nEvents = graft.engine.Tables.events(spark, sfDir).count()
        if (d.last.nEmittedTotal != nEvents)
          flags += s"dedup: emitted ${d.last.nEmittedTotal} != $nEvents events (exactly-once broken)"
        if (d.map(_.nInput).sum <= nEvents)
          flags += "dedup: planted duplicates were not fed"
        val s1 = d.head.stateRows
        d.foreach { w =>
          // same law the sf0.1 spec pins: state is O(wave) with 1.5x headroom
          // for the sub-watermark carry-over between waves
          if (s1 > 0 && w.stateRows > (s1 * 3) / 2)
            flags += s"dedup: state grew across waves (wave ${w.wave}: ${w.stateRows} vs first $s1)"
          if (w.stateRows >= nEvents / 2)
            flags += s"dedup: state tracks the corpus, not the wave (wave ${w.wave}: ${w.stateRows})"
        }
        d
      }

    // shared doc slicing: dense ids -> `waves` equal contiguous ranges
    // (lazy — only the doc-fed families force the read)
    lazy val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    lazy val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    def slice(i: Int): DataFrame = {
      val lo = (maxId + 1) * (i - 1) / waves
      val hi = if (i == waves) maxId + 1 else (maxId + 1) * i / waves
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }

    // ---------------- family 2: dedup-on-arrival text ingest ----------------
    val textWaves: Option[Seq[(Int, Long, Long, Long, Long, Long, Long, Long)]] =
      if (!runFam("text_ingest")) None else Some {
        val tSrc = s"$scratch/text/src"; val tIdx = s"$scratch/text/idx"
        val tVer = s"$scratch/text/ver"; val tCkpt = s"$scratch/text/ckpt"
        // planted exact copies: 1 in 200 of wave 1's docs re-arrives in wave 2
        // under a fresh id — the screen must catch every one via the fp index
        val planted = slice(1).filter(pmod(col("doc_id"), lit(200)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000000L))
        nPlanted = planted.count()
        val tw = (1 to waves).map { i =>
          val fed = if (i == 2) slice(i).unionByName(planted) else slice(i)
          val nDocs = fed.count()
          fed.write.mode("append").parquet(tSrc)
          val t0 = System.nanoTime()
          graft.streaming.Streams.runTextIngest(spark, tSrc, tIdx, tVer, tCkpt)
          val wall = ms(t0)
          val v = spark.read.option("recursiveFileLookup", "true").parquet(tVer)
          val agg = v.agg(
            count(lit(1)).as("n"),
            sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
            sum(when(col("exact_dup_of").isNotNull, 1L).otherwise(0L)).as("n_exact"),
            sum(when(col("exact_dup_of").isNull && col("n_near_candidates") > 0, 1L)
              .otherwise(0L)).as("n_near")).head()
          val idxRows = spark.read.option("recursiveFileLookup", "true")
            .parquet(s"$tIdx/fp").count()
          (i, nDocs, agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
            idxRows, wall)
        }
        nDocsTotal = docs.count()
        if (tw.last._3 != nDocsTotal + nPlanted)
          flags += s"text_ingest: ${tw.last._3} verdicts != ${nDocsTotal + nPlanted} fed docs"
        val exactAfterW2 = tw(1)._5 - tw(0)._5
        if (exactAfterW2 < nPlanted)
          flags += s"text_ingest: wave 2 flagged $exactAfterW2 exact dups < $nPlanted planted"
        // per-wave wall may grow LINEARLY with the at-rest index (wave k joins
        // against k-1 slices); flag superlinear blowup with jitter floor
        val tw1 = tw.head._8; val twL = tw.last._8
        if (twL >= 2000 && tw1 > 0 && twL > tw1 * (2L * waves))
          flags += s"text_ingest: wave wall grew ${twL}ms vs first ${tw1}ms (> ${2 * waves}x, index join superlinear)"
        tw
      }

    // ---------------- family 3: sequence packing (1-row carry) ----------------
    val packWaves: Option[Seq[(Int, Long, Long, Long, Long)]] =
      if (!runFam("packing")) None else Some {
        val pSrc = s"$scratch/pack/src"; val pMan = s"$scratch/pack/man"
        val pCkpt = s"$scratch/pack/ckpt"
        val pw = (1 to waves).map { i =>
          val fed = slice(i)
          val nDocs = fed.count()
          fed.write.mode("append").parquet(pSrc)
          val t0 = System.nanoTime()
          graft.streaming.Streams.runPackingStream(spark, pSrc, pMan, pCkpt)
          val wall = ms(t0)
          // every committed carry slice must hold exactly ONE row (the scalar
          // high-water mark) — scan all slices so a multi-batch drain still
          // checks out; the running total is the max across slices (monotone)
          val slices = Option(new java.io.File(s"$pMan/_carry").listFiles())
            .getOrElse(Array.empty[java.io.File]).filter(_.getName.startsWith("b"))
          val perSlice = slices.map(d => spark.read.parquet(d.getPath))
          val maxSliceRows = perSlice.map(_.count()).foldLeft(0L)(math.max)
          val corpusTokens = perSlice
            .map(_.agg(max(col("corpus_tokens"))).head().getLong(0))
            .foldLeft(0L)(math.max)
          (i, nDocs, corpusTokens, maxSliceRows, wall)
        }
        pw.foreach { w =>
          if (w._4 != 1L)
            flags += s"packing: wave ${w._1} carry slice has ${w._4} rows (state must be ONE scalar)"
        }
        val tokTotal = docs.select(sum(size(split(col("text"), " ")).cast("long")))
          .head().getLong(0)
        val manTokens = spark.read.option("recursiveFileLookup", "true").parquet(pMan)
          .where(col("n_tokens").isNotNull)
          .agg(sum(col("n_tokens"))).head().getLong(0)
        if (manTokens != tokTotal)
          flags += s"packing: manifest tokens $manTokens != corpus tokens $tokTotal"
        // packing's per-wave work is wave-sized + a 1-row carry read: FLAT walls
        val pw1 = pw.head._5; val pwL = pw.last._5
        if (pwL >= 2000 && pw1 > 0 && pwL > pw1 * 3)
          flags += s"packing: wave wall grew ${pwL}ms vs first ${pw1}ms (carry state is not flat)"
        pw
      }

    // ---------------- family 4: sessionization (open-session state) ----------------
    // same event-time percentile slicing as dedupSoak, no planted dups (a
    // real pipeline dedups upstream of sessionization)
    val sessWaves: Option[Seq[(Int, Long, Long, Long, Long, Long)]] =
      if (!runFam("sessions")) None else Some {
        val ev = graft.engine.Tables.events(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), col("props"))
        nUsers = ev.select("user_id").distinct().count()
        val probs = (1 until waves).map(i => i.toDouble / waves)
          .mkString("array(", ", ", ")")
        val cuts = ev.agg(expr(s"percentile(unix_micros(ts), $probs)"))
          .head().getSeq[Double](0).map(_.toLong)
        def evWave(i: Int): DataFrame = {
          val t = unix_micros(col("ts"))
          val lo = if (i == 1) lit(Long.MinValue) else lit(cuts(i - 2))
          val hi = if (i == waves) lit(Long.MaxValue) else lit(cuts(i - 1))
          ev.filter(t > lo && t <= hi)
        }
        val sSrc = s"$scratch/sess/src"; val sOut = s"$scratch/sess/out"
        val sCkpt = s"$scratch/sess/ckpt"
        val sw = (1 to waves).map { i =>
          val fed = evWave(i)
          val nEv = fed.count()
          fed.write.mode("append").parquet(sSrc)
          val t0 = System.nanoTime()
          val q = graft.streaming.Streams.sessionizeStream(spark, sSrc).toDF()
            .writeStream.format("parquet").option("path", sOut)
            .option("checkpointLocation", sCkpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          val wall = ms(t0)
          val stateRows = q.recentProgress.toSeq
            .flatMap(p => Option(p.stateOperators).toSeq.flatten)
            .map(_.numRowsTotal).foldLeft(0L)(math.max)
          val emitted = spark.read.parquet(sOut)
            .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_ev"))
            .head()
          (i, nEv, emitted.getLong(0), emitted.getLong(1), stateRows, wall)
        }
        val nEvFed = sw.map(_._2).sum
        sw.foreach { w =>
          if (w._5 > nUsers)
            flags += s"sessions: wave ${w._1} state ${w._5} exceeds the user population $nUsers"
        }
        val ss1 = math.max(sw.head._5, 1L)
        if (sw.last._5 > ss1 * 3)
          flags += s"sessions: open-session state grew across waves (${sw.last._5} vs first ${sw.head._5})"
        if (sw.last._4 > nEvFed)
          flags += s"sessions: emitted event count ${sw.last._4} exceeds events fed $nEvFed"
        if (sw.last._4 <= sw.head._4)
          flags += "sessions: the watermark never closed later sessions (no emission growth)"
        sw
      }

    // ---------------- family 5: heavy hitters (one sketch row) ----------------
    val hhWaves: Option[Seq[(Int, Long, Long, Int, Long, Long)]] =
      if (!runFam("heavy_hitters")) None else Some {
        val hSrc = s"$scratch/hh/src"; val hOut = s"$scratch/hh/out"
        val hCkpt = s"$scratch/hh/ckpt"
        val hw = (1 to waves).map { i =>
          val fed = slice(i)
          val nToks = fed.select(sum(size(split(col("text"), " ")).cast("long")))
            .head().getLong(0)
          fed.write.mode("append").parquet(hSrc)
          val t0 = System.nanoTime()
          val q = graft.streaming.Streams
            .heavyHitterCandidatesStream(spark, hSrc, k = 64)
            .toDF("candidates", "n")
            .writeStream.outputMode("update")
            .foreachBatch { (df: DataFrame, _: Long) =>
              df.write.mode("append").parquet(hOut); () }
            .option("checkpointLocation", hCkpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          val wall = ms(t0)
          val stateRows = q.recentProgress.toSeq
            .flatMap(p => Option(p.stateOperators).toSeq.flatten)
            .map(_.numRowsTotal).foldLeft(0L)(math.max)
          val snap = spark.read.parquet(hOut)
            .agg(max(col("n")).as("n_total")).head().getLong(0)
          val slots = spark.read.parquet(hOut).orderBy(col("n").desc)
            .head().getString(0).split(" ").length
          (i, nToks, snap, slots, stateRows, wall)
        }
        val tokCum = hw.map(_._2).scanLeft(0L)(_ + _).tail
        hw.zip(tokCum).foreach { case (w, cum) =>
          if (w._3 != cum)
            flags += s"heavy_hitters: wave ${w._1} running total ${w._3} != $cum tokens fed (eviction lost the count)"
          if (w._4 > 64)
            flags += s"heavy_hitters: wave ${w._1} sketch holds ${w._4} slots > k=64"
          if (w._5 > 8)
            flags += s"heavy_hitters: wave ${w._1} state store holds ${w._5} rows (sketch must be O(1) rows)"
        }
        hw
      }

    // ---------------- family 6: decon screen (zero state) ----------------
    val deconWaves: Option[Seq[(Int, Long, Long, Long)]] =
      if (!runFam("decon")) None else Some {
        val vecs = graft.engine.Tables.embeddings(spark, sfDir)
        val maxVid = vecs.agg(max(col("vec_id"))).head().getLong(0)
        def vecSlice(i: Int): DataFrame = {
          val lo = (maxVid + 1) * (i - 1) / waves
          val hi = if (i == waves) maxVid + 1 else (maxVid + 1) * i / waves
          vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
        }
        val dSrc = s"$scratch/decon/src"; val dOut = s"$scratch/decon/out"
        val dCkpt = s"$scratch/decon/ckpt"
        val dw = (1 to waves).map { i =>
          val fed = vecSlice(i)
          val nVec = fed.count()
          fed.write.mode("append").parquet(dSrc)
          val t0 = System.nanoTime()
          graft.streaming.Streams.runDeconStream(spark, dSrc, sfDir, dOut, dCkpt)
          val wall = ms(t0)
          val verdicts = spark.read.parquet(dOut).count()
          (i, nVec, verdicts, wall)
        }
        nVecFed = dw.map(_._2).sum
        if (dw.last._3 != nVecFed)
          flags += s"decon: ${dw.last._3} verdicts != $nVecFed vectors fed"
        val dw1 = dw.head._4; val dwL = dw.last._4
        if (dwL >= 2000 && dw1 > 0 && dwL > dw1 * 3)
          flags += s"decon: wave wall grew ${dwL}ms vs first ${dw1}ms (screen is not wave-bounded)"
        dw
      }

    // ---------------- artifact ----------------
    // a skipped family reports null (see scaladoc)
    val dedupJson = dedup.map(_.map(w =>
      s"""{"wave":${w.wave},"n_input":${w.nInput},"n_emitted_total":${w.nEmittedTotal},"state_rows":${w.stateRows},"wall_ms":${w.wallMs}}""")
      .mkString("[", ",", "]")).getOrElse("null")
    val textJson = textWaves.map(_.map(w =>
      s"""{"wave":${w._1},"n_docs_fed":${w._2},"n_verdicts_total":${w._3},"n_new_total":${w._4},"n_exact_total":${w._5},"n_near_total":${w._6},"index_fp_rows":${w._7},"wall_ms":${w._8}}""")
      .mkString("[", ",", "]")).getOrElse("null")
    val packJson = packWaves.map(_.map(w =>
      s"""{"wave":${w._1},"n_docs_fed":${w._2},"corpus_tokens":${w._3},"carry_rows":${w._4},"wall_ms":${w._5}}""")
      .mkString("[", ",", "]")).getOrElse("null")
    val sessJson = sessWaves.map(_.map(w =>
      s"""{"wave":${w._1},"n_events_fed":${w._2},"n_sessions_total":${w._3},"n_session_events_total":${w._4},"state_rows":${w._5},"wall_ms":${w._6}}""")
      .mkString("[", ",", "]")).getOrElse("null")
    val hhJson = hhWaves.map(_.map(w =>
      s"""{"wave":${w._1},"n_tokens_fed":${w._2},"running_total":${w._3},"sketch_slots":${w._4},"state_rows":${w._5},"wall_ms":${w._6}}""")
      .mkString("[", ",", "]")).getOrElse("null")
    val deconJson = deconWaves.map(_.map(w =>
      s"""{"wave":${w._1},"n_vectors_fed":${w._2},"n_verdicts_total":${w._3},"wall_ms":${w._4}}""")
      .mkString("[", ",", "]")).getOrElse("null")
    val flagsJson = flags.map("\"" + _ + "\"").mkString("[", ",", "]")
    val famJson = (if (families.isEmpty) knownFamilies else families).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"soak","sf":"$sfDir","waves":$waves,"families":$famJson,"n_events":$nEvents,"n_docs":$nDocsTotal,"n_users":$nUsers,"n_vectors":$nVecFed,"n_planted_dups":$nPlanted,"dedup":$dedupJson,"text_ingest":$textJson,"packing":$packJson,"sessions":$sessJson,"heavy_hitters":$hhJson,"decon":$deconJson,"flags":$flagsJson}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes("UTF-8"))
    } catch { case t: Throwable =>
      System.err.println(s"[soak] $outPath write failed: ${t.getMessage}") }
    println(json)
    spark.stop()
    if (flags.nonEmpty) {
      flags.foreach(f => System.err.println(s"[soak] FLAG $f"))
      sys.exit(3)
    }
  }
}
