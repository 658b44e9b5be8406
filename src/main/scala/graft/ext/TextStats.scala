package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dec, Tables}
import graft.functions.Native

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All operators are pure column expressions (no UDFs) so they stay inside
  * whole-stage codegen and scale linearly with input partitions — at 100 TB the
  * only shuffle in this file is the groupBy in [[exactDedup]], which is a
  * map-side-combinable hash aggregate on a 16-byte fingerprint.
  */
object TextStats {

  /** The 9-stopword marker list shared by [[qualityScore]], [[corpusExport]],
    * and the Catalog oracle SQL (single source — gate drift between the
    * engine, the capstone, and the oracle is impossible). */
  val stopWords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in", "for", "on")

  private val stopWordsSqlSet: String =
    stopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** C4-style quality-gate thresholds (chars min/max, token min) shared by
    * [[qualityScore]] and [[corpusExport]]. */
  val MinChars = 100
  val MaxChars = 20000
  val MinTokens = 20

  /** Content-addressed split bands (bucket upper bounds of 100) shared by
    * [[splitAssign]] and [[corpusExport]]: train < 90 ≤ val < 95 ≤ test. */
  val TrainUpper = 90
  val ValUpper = 95

  /** Normalized whitespace form used for fingerprinting. */
  private def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Document fingerprinting: md5 over the whitespace-normalized, lowercased
    * text. Deterministic and engine-agnostic (DuckDB md5 matches). */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Token statistics: counts only (integers are exactly comparable across
    * engines; ratios are left to consumers). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("text"),
        split(col("text"), " ").as("words"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        size(col("words")).cast("long").as("n_tokens"),
        size(array_distinct(col("words"))).cast("long").as("n_distinct_tokens"),
        length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("n_punct"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digits"),
        // BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Stopword-marker language ID (n-gram/dictionary heuristic): counts marker
    * tokens per language and picks the max with a deterministic precedence.
    * A real pipeline would plug a fastText-style model behind the same
    * signature; the Spark plumbing (pure projection, no shuffle) is identical. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    withLangMarkers(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("en_markers"), col("es_markers"),
        col("fr_markers"), col("predicted_lang"))
      .orderBy("doc_id")

  /** The marker vocabularies of the lang-id heuristic — single source for
    * [[withLangMarkers]] (q25/q159) and [[codeSwitchRate]] (q213) so the
    * doc-level and window-level classifiers can never drift apart. */
  private[ext] val enMarkers = Seq("the", "a", "of", "and", "is", "to", "in")
  private[ext] val esMarkers = Seq("el", "la", "de", "y", "que", "los")
  private[ext] val frMarkers = Seq("le", "la", "de", "et", "les", "des")

  /** Appends the language-marker counts and `predicted_lang` to any frame
    * with a `text` column — the single source of the lang-id heuristic,
    * shared by [[langId]] (q25) and [[langIdEval]] (q159) so the classifier
    * and its evaluation can never drift apart. Pure projection (no shuffle);
    * carries every input column through. */
  private[ext] def withLangMarkers(df: DataFrame): DataFrame = {
    def markerCount(langWords: Seq[String]): Column = {
      val set = langWords.map(w => s"'$w'").mkString("(", ", ", ")")
      size(expr(s"filter(words, w -> w IN $set)")).cast("long")
    }
    df
      .withColumn("words", split(col("text"), " "))
      .withColumn("en_markers", markerCount(enMarkers))
      .withColumn("es_markers", markerCount(esMarkers))
      .withColumn("fr_markers", markerCount(frMarkers))
      .withColumn("predicted_lang",
        when(col("en_markers") >= col("es_markers") && col("en_markers") >= col("fr_markers") && col("en_markers") > 0, "en")
          .when(col("es_markers") >= col("fr_markers") && col("es_markers") > 0, "es")
          .when(col("fr_markers") > 0, "fr")
          .otherwise("unknown"))
      .drop("words")
  }

  /** Quality scoring: integer component counts + boolean gate flags, the shape
    * of C4/RefinedWeb-style quality filters (length, punctuation density,
    * stopword presence). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("words"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("words")).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("n_punct"),
        size(expr(s"filter(words, w -> w IN $stopWordsSqlSet)")).cast("long").as("n_stopwords"))
      .withColumn("len_ok", col("n_chars") >= MinChars && col("n_chars") <= MaxChars)
      .withColumn("tokens_ok", col("n_tokens") >= MinTokens)
      .withColumn("has_stopwords", col("n_stopwords") > 0)
      .withColumn("passes_quality",
        col("len_ok") && col("tokens_ok") && col("has_stopwords"))
      .orderBy("doc_id")
  }

  /** Exact deduplication: hash-groupBy on the md5 fingerprint; survivor is the
    * deterministic min doc_id (the reference's `dropDuplicates` keeps an
    * arbitrary row — `spark_jobs/transformation.py:70` — ours is total-ordered). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("survivor_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("survivor_doc_id")

  /** Benchmark decontamination: flag documents sharing any 3-word shingle with
    * a holdout/benchmark set (here: doc_id % 50 == 0 as the stand-in set).
    * The overlap test is an equi-join on the shingle — the scalable form of
    * n-gram-overlap decontamination (never all-pairs text comparison). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(words)-2),
          |  i -> concat_ws(' ', element_at(words, i), element_at(words, i+1), element_at(words, i+2))))""".stripMargin)).as("sh"))
    // FIXED-SIZE benchmark law (round 10): membership mod derives from
    // COUNT(*) — max(50, nDocs/1000) ≈ a ~1000-doc eval set at every corpus
    // size, the same registered-artifact sizing q234's semantic twin uses
    // (a deployed decon benchmark is a FIXED eval suite; it does not grow
    // with the corpus). The previous fixed mod 50 made the benchmark 2% OF
    // THE CORPUS: at 50 M docs its shingle-type set outgrew both broadcast
    // guards, the join fell back to shuffling the corpus's full shingle
    // mass on Zipf-hot string keys, and the sf1000 probe filled the disk.
    // With the law, the broadcast fits BY CONSTRUCTION at any scale and the
    // corpus side stays shuffle-free (the only shuffle left is the
    // map-side-combinable per-doc count). The oracle re-derives the same
    // mod from COUNT(*) (the q72/q86 discipline).
    val mod = benchModFor(spark, dir)
    val benchmark = docs.filter(col("doc_id") % mod === 0)
      .select(col("sh")).distinct()
    val corpus = docs.filter(col("doc_id") % mod =!= 0)
    corpus.join(graft.engine.RelOps.guardedBroadcast(benchmark), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_shingles"))
      .orderBy("doc_id")
  }

  /** Benchmark membership mod for [[decontaminate]] — max(50, nDocs/1000),
    * a [[graft.engine.SessionMemo]] entry. At the shipped SFs (≤ 50 k docs)
    * this is exactly the historical mod 50, so small-SF oracles are
    * numerically unchanged. */
  private[graft] def benchModFor(spark: SparkSession, dir: String): Long =
    graft.engine.SessionMemo(spark, ("benchMod", dir), s"$dir/documents.parquet")(
      math.max(50L, Tables.documents(spark, dir).count() / 1000L))

  /** Token co-occurrence matrix (q119): document-frequency counts for pairs
    * of top-vocabulary tokens appearing in the same document — the input
    * statistic for PMI/embedding-style association measures. The self-join
    * is restricted to the BROADCAST top-50 vocabulary BEFORE
    * pairing, so each document contributes at most C(50, 2) pairs and
    * the output is bounded by vocab² regardless of corpus size — the join on
    * doc_id can never blow up on a long document. Top-20 by a full tie-break
    * via TakeOrderedAndProject. */
  def tokenCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(50).select("tok")
    val vt = toks.join(broadcast(vocab), Seq("tok"))
    vt.select(col("doc_id"), col("tok").as("tok_a"))
      .join(vt.select(col("doc_id"), col("tok").as("tok_b")), Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("tok_a"), col("tok_b"))
      .limit(20)
  }

  /** Corpus snapshot diff (q117): added / removed / changed / unchanged
    * document counts between two corpus versions — the audit a pipeline runs
    * before promoting a new crawl. Versions are derived deterministically
    * from the fixture (v1 = doc_id % 3 != 2, v2 = doc_id % 3 != 0, and every
    * 5th doc's v2 text is amended so the changed path is non-empty). One
    * full-outer join on doc_id with fingerprint comparison — the diff never
    * touches text bytes beyond the md5, so at 100 TB it joins two slim
    * (id, fp) projections. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(col("doc_id") % 3 =!= 2)
      .select(col("doc_id"), fingerprint(col("text")).as("fp1"))
    val v2 = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"),
        fingerprint(when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") === col("fp2"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("status")
  }

  /** Per-group top-k (q118): the 3 longest documents per language, ranked by
    * a full tie-break. `row_number <= 3` over a per-group window gets Spark's
    * WindowGroupLimit pushdown — each partition keeps only 3 rows per group
    * BEFORE the shuffle, so the window never sees the full corpus
    * (PlanSpec asserts the pushdown). */
  def topKPerLang(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("lang", "rk")
  }

  /** Per-source duplication rates (q116): docs, distinct fingerprints, and
    * the dup share per source — the curation dashboard that decides which
    * sources need aggressive dedup before mixing. One scan; the
    * count-distinct expands to a two-phase (source, fp) aggregate —
    * map-side combinable, no joins. */
  def sourceDupRates(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), fingerprint(col("text")).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"))
      .withColumn("dup_ppm", expr("n_dup_docs * 1000000L div n_docs"))
      .orderBy("source")

  /** Per-document n-gram novelty (q103): the share of a document's distinct
    * 3-token shingles whose corpus-wide FIRST occurrence (min doc_id) is this
    * document — the "how much new text does this doc contribute" signal a
    * curation pipeline uses to rank near-boilerplate sources.
    *
    * Shape (reworked round 8 after the sf10 gate flagged the join form at
    * 19× for 10× rows): the novelty credit is a per-shingle +1 to exactly its
    * first doc, so it AGGREGATES — `groupBy(sh).min(doc_id)` then a doc-grain
    * count — instead of re-joining the first-occurrence table against the
    * full shingle stream on the string key (that join shuffled the ~50-byte
    * shingle rows TWICE — both the probe side and the re-evaluated explode —
    * and spilled at 25 M shingles). Per-doc `n_shingles` is a pure projection
    * (`size` of the distinct-shingle array, no explode needed); the only
    * corpus-mass shuffle left is the one map-side-combinable groupBy(sh), and
    * the final join is doc-keyed at corpus ROW count, not shingle count. A
    * doc whose every shingle was seen earlier left-joins to a 0 credit.
    * Never all-pairs; integer ppm output. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // Round 11 (VERDICT r10 #4): the groupBy key is the 64-bit SHINGLE HASH
    // (xxhash64 applied IN-ROW inside the shingle transform), not the raw
    // shingle string — the min-doc aggregate was the heaviest honest sf0.1
    // exchange (4.3 s) because every distinct shingle per partition crossed
    // it as a ~40-60-byte string; a long is 8 bytes and stays in the
    // codegen hash map. Distinctness moves to the hash domain everywhere at
    // once (array_distinct over a LONG array — also far cheaper in-row than
    // string dedup), so per-doc n_shingles and the credit counts use the
    // SAME domain and the ppm ratio stays internally consistent. Collision
    // note (the q198 discipline): a cross-doc 64-bit collision merges two
    // shingles' first-occurrence credit (one ±1 in one doc's count);
    // expected colliding pairs ≈ D²/2⁶⁵ ≈ 0.03 at D = 10⁹ distinct
    // shingles (50 M docs). The oracle groups by the exact string, so the
    // gate itself re-verifies collision-freedom on every checked run. The
    // hash array comes from the codegen [[graft.functions.GramHashes]]
    // primitive — the interpreted transform/concat_ws form was the dominant
    // per-row cost once the exchange was keyed on longs.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .withColumn("shs", array_distinct(Native.gramHashes(col("words"), 3)))
    val perDoc = docs.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
    val novel = docs.select(col("doc_id"), explode(col("shs")).as("sh"))
      .groupBy(col("sh")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel_raw"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel_raw"), lit(0L)))
      .withColumn("novelty_ppm", expr("n_novel * 1000000L div n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"), col("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** Corpus boilerplate share (q130): 3-token shingles present in >= 1%
    * of documents are boilerplate (disclaimers, navigation chrome, license
    * headers); each document reports what share of its distinct shingles is
    * boilerplate — the corpus-level form of C4's repeated-line removal, and
    * the upstream signal for stripping chrome before dedup (boilerplate
    * inflates Jaccard between unrelated pages). Shapes: one groupBy(sh) for
    * doc frequency; the boilerplate set is tiny by construction (high-df
    * tail) so the per-doc re-join broadcasts; threshold compared in exact
    * integers against a broadcast 1-row corpus count — no driver collect. */
  def boilerplateShare(spark: SparkSession, dir: String): DataFrame = {
    // Round 11 (VERDICT r10 #4, the q103 treatment): the df aggregate — the
    // only corpus-mass exchange here — groups on the 64-bit in-row shingle
    // hash instead of the raw string, and the boilerplate set broadcasts as
    // 8-byte keys. The per-doc probe side computes the same hashes in-row,
    // so shingle strings never leave their input row anywhere in the plan.
    // Collision note as in [[ngramNovelty]] (expected colliding pairs
    // ≈ 0.03 at 10⁹ distinct shingles): a merge could only pool two
    // shingles' df counts; the string-exact oracle re-verifies
    // collision-freedom on every checked run. Hashing via the codegen
    // [[graft.functions.GramHashes]] primitive.
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(Native.gramHashes(col("words"), 3))).as("sh"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_total"))
    val boiler = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(1000000L) >= lit(10000L) * col("n_total"))
      .select(col("sh"), lit(1L).as("is_boiler"))
    sh.join(broadcast(boiler), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ppm", expr("n_boiler * 1000000L div n_shingles"))
      .orderBy("doc_id")
  }

  /** Document-length histogram: 100-char buckets (scan + one tiny aggregate). */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((col("n_chars") / 100).cast("int").as("bucket_100ch"))
      .groupBy(col("bucket_100ch"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket_100ch")

  /** Winnowing fingerprint sketch (rolling-hash document fingerprinting):
    * hash every positional 3-word shingle, slide a w = 4 shingle window, keep the
    * window minima — the classic plagiarism/near-dup sketch (guarantees any
    * shared run of >= w+2 words produces a shared fingerprint). Output is the
    * sketch summary per doc (distinct-minima count + checksum), integers only
    * so the oracle hash-matches. */
  def winnowingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val w = 4
    // IN-ROW sliding minima (r14 optimization pass — the q63/q150 round-10
    // discipline applied here): a doc's window minima depend only on the
    // doc's OWN shingle-hash array, so the previous posexplode + doc-keyed
    // exchange + per-doc sort + window (a full corpus-shingle repartition
    // at 100 TB, and the sort under it) collapses to a per-row projection:
    // hash array → slice minima → distinct → count/checksum. Same hashes
    // (md5-prefix-7 per positional shingle), same full-windows-only rule
    // (positions 1..m−w+1, non-empty because the length gate keeps
    // m = n_words−2 ≥ w), same distinct aggregation — the oracle is
    // unchanged. Plan: window exchange+sort gone; only the determinism
    // sort exchanges doc-level rows.
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3 + (w - 1))
      .select(col("doc_id"), transform(sequence(lit(1), size(col("words")) - 2), i =>
        Native.md5Prefix(concat_ws(" ", element_at(col("words"), i),
          element_at(col("words"), i + 1), element_at(col("words"), i + 2)), 7))
        .as("hs"))
      .select(col("doc_id"), expr(
        s"array_distinct(transform(sequence(1, size(hs) - $w + 1), i -> array_min(slice(hs, i, $w))))")
        .as("dw"))
      .select(col("doc_id"),
        size(col("dw")).cast("long").as("n_fingerprints"),
        expr("aggregate(dw, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("fp_checksum"))
      .orderBy("doc_id")
  }

  /** TF-IDF-style term weighting, top-k terms per document. The weight is the
    * ln-free rational form score = tf × N / df (exact integer ratio in double
    * — ln(x) is not guaranteed bit-identical across engines' libm, which
    * would poison cross-engine rank comparison; the RANKING under tf·N/df is
    * identical to tf·ln-smoothed idf for df monotone). Two shuffles: tf
    * groupBy (map-side combinable) and the doc-partitioned rank window —
    * never global.
    *
    * The df table joins as an EXPLICIT broadcast: it is term-vocabulary-sized
    * (Heaps-law bounded — millions of rows at web scale, a few MB), but the
    * planner cannot size an aggregate's output and falls back to a
    * sort-merge join keyed on the term string — the round-8 sf10 sweep
    * measured that join at +29 s on 20 M tf rows over a 310-term vocabulary
    * (≤ 310 distinct shuffle keys → skewed reducers), 57× for 10× rows.
    *
    * Round 10 (the sf1000 probe ENOSPC'd here): the previous form shuffled
    * the full (doc, term) stream TWICE — into the tf groupBy and again into
    * the per-doc rank window (~125 GB of exchange at 50 M docs). A doc's
    * exploded rows never leave their input partition, so everything per-doc
    * can stay in-partition: tf comes from the doc's own words array IN-ROW
    * (`filter(words, w -> w = term)` over the distinct-term stream), df from
    * a vocab-sized aggregate (partial combine collapses each partition to
    * ≤ |vocab| rows before its exchange), and the per-doc top-k from a
    * trimming typed aggregate ([[graft.functions.TfIdfTopKAggregator]])
    * whose map-side partials already hold ≤ k structs — the only doc-keyed
    * exchange carries k rows per doc. Same output, bit-identical ranks
    * (identical double arithmetic and tie-break). */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    import graft.functions.{DocTermScore, TfIdfTopKAggregator}
    val docs = Tables.documents(spark, dir)
    // (doc_id, term, tf) derived ONCE per row by run-length over the SORTED
    // token array — O(L log L) per doc. The round-10 form re-scanned the
    // words array per distinct term (`size(filter(words, w = term))`),
    // O(L · distinct) ≈ quadratic on long documents (round-10 ADVICE low).
    // The sorted array and its run-starts index are bound as LAMBDA
    // variables (single-element transform), never projected aliases:
    // CollapseProject inlines aliases into HOF lambdas (the q86 Sq8Codes
    // lesson), which would re-run array_sort per element. tf of the run
    // starting at s is (next run start − s); a bonus of the in-row form is
    // that the words array itself no longer rides through the df join.
    val termTf = docs
      .select(col("doc_id"), explode(expr(
        """flatten(transform(array(array_sort(split(text, ' '))), ws ->
          |  flatten(transform(array(filter(sequence(1, size(ws)),
          |      i -> i = 1 OR element_at(ws, i) != element_at(ws, i - 1))), starts ->
          |    transform(starts, (s, j) -> named_struct(
          |      'term', element_at(ws, s),
          |      'tf', CAST(coalesce(try_element_at(starts, j + 2), size(ws) + 1) - s AS BIGINT)))))))""".stripMargin)).as("tt"))
      .select(col("doc_id"), col("tt.term").as("term"), col("tt.tf").as("tf"))
    val dfreq = termTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // 1 row — broadcast cross join
    termTf.join(graft.engine.RelOps.guardedBroadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .as[DocTermScore]
      .groupByKey(_.doc_id)
      .agg(new TfIdfTopKAggregator(k).toColumn)
      .flatMap { case (id, top) => top.zipWithIndex.map { case (t, i) =>
        (id, i + 1, t.term, t.tf, t.df, t.score) } }
      .toDF("doc_id", "rank", "term", "tf", "df", "score")
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Gopher-style repetition statistics — the quality gates a pretraining
    * pipeline applies to catch low-quality/templated text (duplicate n-gram
    * fractions, dominance of the most frequent bigram). Integers + 6-dp
    * rounded ratios so the oracle hash-matches.
    *
    * Round 11: a PURE PROJECTION — every statistic is a function of one
    * doc's own n-grams, so nothing needs an explode or a groupBy at all:
    * distinct/max-count come from run-length over the SORTED per-doc array
    * of 64-bit n-gram HASHES (the q63 trick on the q103 key domain; sort
    * and run-starts bound as lambda variables so CollapseProject cannot
    * inline a re-sort per element), shingle counts from array_distinct over
    * longs in-row. The round-10 form exploded both n-gram streams into
    * doc-keyed string aggregates — the same strings-through-an-exchange
    * shape as q103/q130 (VERDICT r10 #4), just doc-scoped; now the only
    * exchange is the output orderBy. Collision note: hashes only ever
    * compare WITHIN one document here, so a merge needs two of a doc's
    * ≤ ~100 n-grams to collide in 64 bits — P ≈ L²/2⁶⁵ ≈ 3·10⁻¹⁶ per doc;
    * the string-exact oracle re-verifies on every checked run. Hash arrays
    * come from the codegen [[graft.functions.GramHashes]] primitive. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .withColumn("bst", element_at(transform(
        array(array_sort(Native.gramHashes(col("words"), 2))), bs =>
          element_at(transform(array(filter(sequence(lit(1), size(bs)),
              i => i === 1 || element_at(bs, i) =!= element_at(bs, i - 1))), starts =>
            struct(
              size(bs).cast("long").as("nb"),
              size(starts).cast("long").as("nd"),
              array_max(transform(starts, (s, j) =>
                coalesce(try_element_at(starts, j + 2), size(bs) + 1) - s)).cast("long").as("mx"))), 1)), 1))
      .withColumn("shst", element_at(transform(
        array(Native.gramHashes(col("words"), 3)), shs =>
          struct(
            size(shs).cast("long").as("ns"),
            size(array_distinct(shs)).cast("long").as("nds"))), 1))
      .select(
        col("doc_id"), size(col("words")).cast("long").as("n_tokens"),
        col("bst.nb").as("n_bigrams"), col("bst.nd").as("n_distinct_bigrams"),
        col("bst.mx").as("max_bigram_count"),
        round(col("bst.mx") * 2.0 / size(col("words")), 6).as("top_bigram_token_frac"),
        col("shst.ns").as("n_shingles"), col("shst.nds").as("n_distinct_shingles"),
        round(lit(1.0) - col("shst.nds").cast("double") / col("shst.ns"), 6)
          .as("dup_shingle_frac"))
      .orderBy("doc_id")
  }

  /** Sequence packing: assign documents to fixed-token-budget training chunks,
    * greedily in doc_id order per source stream — the batch form of the
    * pack-to-context-length step before tokenized examples are written. A doc
    * lands in the chunk where it STARTS (cumulative tokens before it /
    * 2048-token budget). One window partitioned by source — never a global
    * sort — so the packing parallelizes across streams at any scale. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        (col("cum_tokens") - col("n_tokens")).as("tokens_before"),
        ((col("cum_tokens") - col("n_tokens")) / 2048).cast("long").as("chunk_id"))
      .orderBy("doc_id")
  }

  /** Vocabulary build: top-V terms by corpus frequency with deterministic
    * tie-break — the tokenizer-training precursor. Map-side-combinable term
    * count + TakeOrderedAndProject (only V rows per partition cross the final
    * collect; no global sort materializes). */
  def vocabulary(spark: SparkSession, dir: String, topV: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("term_count"))
      .orderBy(col("term_count").desc, col("term").asc)
      .limit(topV)
    val w = Window.orderBy(col("term_count").desc, col("term").asc)
    ranked.withColumn("vocab_id", row_number().over(w)) // window over topV rows only
      .select(col("vocab_id"), col("term"), col("term_count"))
      .orderBy("vocab_id")
  }

  /** BPE merge-pair statistics (q126): the distributed half of byte-pair-
    * encoding vocabulary induction. Pre-tokenize to lowercase ASCII words
    * (the GPT-2-style regex boundary, restricted to `[a-z]+` so char
    * semantics are engine-identical), explode each word into its adjacent
    * symbol pairs, and count — the top pair is the next BPE merge. A full
    * BPE trainer loops this: the driver holds the (tiny) merge table and
    * re-counts after each merge; the pair COUNT is the only step that
    * touches the corpus, and it is one explode + one map-side-combinable
    * aggregate + a top-50 (TakeOrderedAndProject) here. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // explicit whitespace class: Java \s and RE2 \s differ on \x0B
      .select(explode(split(lower(col("text")), "[ \\t\\n\\f\\r\\x0B]+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("pair"))
      .limit(50)

  /** Content-addressed 100-bucket hash of an id — THE split-bucket primitive;
    * every split derivation (here, [[corpusExport]],
    * [[graft.ext.Dedup.clusterSafeSplit]]) and the Catalog's `splitCaseSql`
    * oracle fragment must agree with this definition. */
  def splitBucket(idCol: Column): Column =
    Native.md5Prefix(idCol.cast("string"), 7) % 100

  /** Split band over a [[splitBucket]] value: train < TrainUpper ≤ val <
    * ValUpper ≤ test. */
  def splitBand(bucket: Column): Column =
    when(bucket < TrainUpper, "train")
      .when(bucket < ValUpper, "val")
      .otherwise("test")

  /** Deterministic train/val/test split assignment: content-addressed hash of
    * doc_id into 100 buckets → split by fixed band (train 0-89, val 90-94,
    * test 95-99). Partition-layout-independent (the same doc always lands in
    * the same split, on any cluster at any parallelism) — the property a
    * random() split lacks. Same md5-bucket primitive as
    * [[graft.ext.Sampling.hashSample]]. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), splitBucket(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("source"), col("bucket"),
        splitBand(col("bucket")).as("split"))
      .orderBy("doc_id")
  }

  /** Capstone composition — the end-to-end corpus-export flow a training run
    * consumes, in one declarative plan: C4-style quality gates
    * ([[qualityScore]] thresholds) → content-addressed train/val/test split
    * ([[splitAssign]] bands) → token-budget sequence packing
    * ([[sequencePack]], 2048 tokens) per (split, source) stream. Output: one manifest row
    * per surviving doc with its split and chunk assignment. Single window
    * partitioned by (split, source); everything upstream is a linear scan. */
  def corpusExport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gated = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("words")).cast("long").as("n_tokens"),
        size(expr(s"filter(words, w -> w IN $stopWordsSqlSet)")).cast("long").as("n_stopwords"))
      .filter(col("n_chars").between(MinChars, MaxChars) &&
        col("n_tokens") >= MinTokens && col("n_stopwords") > 0)
    val withSplit = gated.withColumn("bucket", splitBucket(col("doc_id")))
      .withColumn("split", splitBand(col("bucket")))
    val w = Window.partitionBy(col("split"), col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSplit
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("split"), col("source"), col("n_tokens"),
        ((col("cum_tokens") - col("n_tokens")) / 2048).cast("long").as("chunk_id"))
      .orderBy("doc_id")
  }

  /** Bloom-filter benchmark decontamination — the constant-memory scale path
    * beside the exact shingle join of [[decontaminate]]: benchmark shingles
    * set 3 bit positions in a 65536-bit filter; a corpus shingle is
    * bloom-POSITIVE iff all of its positions are set. At 100 TB the exact join
    * shuffles the full corpus shingle stream against the benchmark set; the
    * bloom form reduces the benchmark side to a bitmap every executor holds
    * (here: a broadcast distinct-positions table — same join shape Spark's own
    * runtime bloom pushdown uses), and only positives proceed to exact
    * verification. False positives are inherent (and counted: the output
    * over-reports vs q57's exact answer at a rate ≈ (1−e^(−kn/m))^k);
    * false negatives are impossible.
    *
    * Hash positions are md5-derived (position j of shingle s =
    * int(md5("j:" || s)[0:7]) mod 65536), so the DuckDB oracle reproduces the
    * filter bit-for-bit — the bloom decision itself is deterministic, not just
    * statistically characterized.
    *
    * CONTRACT (round-13 ADVICE): unlike the lazy builders elsewhere, this
    * builder runs an EAGER driver-side job at DataFrame-construction time —
    * the benchmark-side bitmap collect ([[bloomBitmap]]). Callers that only
    * want the plan (plan dumps, Profile phase timings) pay that job on first
    * construction; later constructions reuse the memoized broadcast. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val mod = benchModFor(spark, dir)
    val bc = bloomBitmap(spark, dir, 65536, 3)
    val allSet = shinglePositions(3, 65536)
      .map(Native.bitmapContains(_, bc)).reduce(_ && _)
    bloomShingles(spark, dir).filter(col("doc_id") % mod =!= 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(allSet, 1L).otherwise(0L)).as("n_bloom_positive"))
      .orderBy("doc_id")
  }

  // (doc_id, sh): each doc's distinct 3-word shingles
  private def bloomShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(words)-2),
          |  i -> concat_ws(' ', element_at(words, i), element_at(words, i+1), element_at(words, i+2))))""".stripMargin)).as("sh"))

  // the kHashes md5-derived bit positions of shingle `sh`
  private def shinglePositions(kHashes: Int, mBits: Int): Seq[Column] =
    (0 until kHashes).map(j =>
      Native.md5Prefix(concat(lit(s"$j:"), col("sh")), 7) % mBits)

  /** The benchmark side of [[bloomDecontaminate]], a [[graft.engine.SessionMemo]]
    * entry: an EXACT `mBits`-bit bitmap (8 KB at q74's 65536, whatever the
    * corpus size) of the positions of every shingle in the
    * `doc_id % benchModFor == 0` slice, broadcast. Only that slice is read,
    * so a corpus-side document never changes its bytes. */
  private[graft] def bloomBitmap(spark: SparkSession, dir: String, mBits: Int,
      kHashes: Int): org.apache.spark.broadcast.Broadcast[Array[Byte]] = {
    // the fixed-benchmark law ([[benchModFor]], round 10) keeps the bench
    // ~1000 docs, so it neither saturates the filter nor outgrows the
    // broadcast. The bitmap is collected on the driver (bounded by mBits)
    // and probed per row: the r13 replacement of an explode + broadcast
    // join + string-keyed re-aggregation of the corpus shingle stream, with
    // identical bits (same md5 positions; the oracle is unchanged).
    val mod = benchModFor(spark, dir)
    graft.engine.SessionMemo(spark, ("bloomBitmap", dir, mBits, kHashes, mod),
      s"$dir/documents.parquet") {
      val bytes = new Array[Byte]((mBits + 7) / 8)
      bloomShingles(spark, dir).filter(col("doc_id") % mod === 0)
        .select(col("sh")).distinct()
        .select(explode(array(shinglePositions(kHashes, mBits): _*)).as("pos"))
        .distinct()
        .collect().foreach { r =>
          val p = r.getLong(0).toInt
          bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte
        }
      spark.sparkContext.broadcast(bytes)
    }
  }

  /** Per-language length-decile band filter — quantile-based corpus filtering
    * (drop the extreme tails, keep deciles 2-9). Uses ntile with a TOTAL
    * ordering (n_chars, doc_id), so decile boundaries are deterministic and
    * identical in the oracle — approx_percentile-style sketches would not
    * hash-match by construction. One window per language partition; no global
    * sort. */
  def lengthDecileFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w))
      .filter(col("decile").between(2, 9))
      .orderBy("doc_id")
  }

  /** Corpus-statistical bigram language-model scoring — the count-based
    * perplexity proxy a quality pipeline uses to flag improbable token
    * sequences. For each positional bigram (w1, w2): p(w2|w1) ≈
    * c(w1 w2) / c(w1 ·), scaled to an INTEGER per-occurrence score
    * ppm = c2 * 1_000_000 div c1 so the per-doc SUM is exact integer
    * arithmetic — order-independent and identical across engines (a float
    * sum over an unordered group would not hash-match). avg_ppm is the one
    * double (single division, then round).
    *
    * Shuffles: two map-side-combinable counts (bigram, prefix), both joined
    * back to the positional stream as broadcasts (see inline note) + the
    * per-doc rollup. A hot prefix ("the") is a popular dim key — 1:1
    * matches, no blowup, and no hot shuffle key either. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(words)-1),
          |  i -> named_struct('w1', element_at(words, i),
          |                    'bg', concat_ws(' ', element_at(words, i), element_at(words, i+1))))""".stripMargin)).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.bg").as("bg"))
    val c2 = bg.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // both count tables join as SIZE-GUARDED broadcasts: c1 is
    // vocabulary-sized and c2 bigram-TYPE-sized (Heaps-bounded; tiny next
    // to the positional stream), but the planner cannot size aggregate
    // outputs and would SMJ the 50 M-row stream on few-valued string keys —
    // the round-8 sf10 sweep measured that at 16× for 10× rows (53 s).
    // Past the guard (a corpus whose bigram types outgrow executor memory)
    // the hint drops automatically and AQE lays out the shuffle join.
    bg.join(graft.engine.RelOps.guardedBroadcast(c2), Seq("bg"))
      .join(graft.engine.RelOps.guardedBroadcast(c1), Seq("w1"))
      .withColumn("ppm", expr("c2 * 1000000L div c1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("lm_score_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score_sum"),
        round(col("lm_score_sum").cast("double") / col("n_bigrams"), 6).as("avg_ppm"))
      .orderBy("doc_id")
  }

  /** PMI collocation mining (q165): the corpus's strongest multi-word
    * expressions by pointwise mutual information, the signal a tokenizer/
    * vocabulary-curation pass uses to decide which bigrams deserve their own
    * token. PMI's exponential — the probability RATIO N·c(w1,w2) /
    * (c(w1)·c(w2)) — is computed instead of its log so the score stays exact
    * integer ppm (monotone in PMI, so the ranking is identical); the triple
    * product runs in DECIMAL(38,0) (HUGEINT on the oracle side). A minimum
    * pair count of 5 keeps rare-pair noise (the classic PMI failure mode) out.
    *
    * Scale shape: bigrams are a pure array projection + explode (same shape
    * as [[bigramLmScore]]); unigram counts join the bigram-count table on
    * each endpoint — vocabulary-sized equi-joins the planner broadcasts when
    * the vocab fits and SMJs when it doesn't; the total is a broadcast
    * scalar; the final top-25 is orderBy().limit() → TakeOrderedAndProject. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bg = docs
      .select(split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(words)-1),
          |  i -> named_struct('w1', element_at(words, i),
          |                    'w2', element_at(words, i+1)))""".stripMargin)).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"))
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5L)
    val total = bg.agg(count(lit(1)).as("n"))
    bc
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_xy"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * c_xy * 1000000 div " +
          "(CAST(cu1 AS DECIMAL(38,0)) * cu2) AS BIGINT)").as("pmi_ratio_ppm"))
      .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))
      .limit(25)
  }

  /** Per-source length-outlier detection with EXACT integer arithmetic: doc x
    * is an outlier iff |x − μ| > 2σ over its source's n_chars distribution,
    * evaluated as (n·x − S)² > 4·(n·Q − S²) where S = Σx, Q = Σx² — no
    * floating point anywhere, so the flag is bit-identical across engines and
    * partition layouts (mean/stddev in doubles are neither). Intermediates run
    * in DECIMAL(38,0) (HUGEINT on the oracle side): exact past 10¹⁹, where
    * 64-bit products would overflow long before 100 TB row counts.
    *
    * One map-side-combinable stats aggregate per source + a broadcast join
    * back (sources are a tiny dim) — two linear passes, no window. */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val dec = col("n_chars").cast("decimal(38,0)")
    val stats = docs.groupBy(col("source")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec).as("s"),
      sum(dec * dec).as("q"))
    docs.join(broadcast(stats), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("n").cast("long").as("n_docs_in_source"),
        ((col("n") * dec - col("s")) * (col("n") * dec - col("s")) >
          (col("n") * col("q") - col("s") * col("s")) * 4).as("is_len_outlier"))
      .orderBy("doc_id")
  }

  /** PII / dictionary scrub — the redaction pass a training corpus takes
    * before release: e-mail addresses and long digit runs are masked by
    * pattern, the blocklist terms "customer" and "stream" by word boundary;
    * counts are reported per doc
    * so downstream can filter "heavily redacted" documents. Pure regexp
    * column expressions (codegen'd, linear scan, no shuffle until the final
    * orderBy, which exists only for oracle determinism). */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val digitPat = "\\d{4,}"
    val blockPat = "\\b(customer|stream)\\b"
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), emailPat, "[EMAIL]"),
          digitPat, "[NUM]"),
        blockPat, "[TERM]")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(digitPat), lit(0))).cast("long").as("n_digit_runs"),
        size(regexp_extract_all(col("text"), lit(blockPat), lit(0))).cast("long").as("n_blocked_terms"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Robust per-language corpus statistics: exact lower-median length and the
    * modal source, both with total tie-break orderings (mean/mode/median are
    * the profile numbers a corpus card reports; sketches would not
    * hash-match). Two grouped windows partitioned by language — never a
    * single-partition sort; at 100 TB the heavy one is the per-language
    * length rank, which is exactly the distributed sort a percentile job
    * pays anyway. */
  def robustStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val wMode = Window.partitionBy(col("lang"))
      .orderBy(col("n_src").desc, col("source").asc)
    val mode = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select(col("lang"), col("source").as("mode_source"),
        col("n_src").as("n_docs_mode_source"))
    val wMed = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val med = docs
      .withColumn("rn", row_number().over(wMed))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rn") === expr("(n_docs + 1) div 2"))
      .select(col("lang"), col("n_docs"), col("n_chars").as("median_chars"))
    med.join(mode, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("median_chars"),
        col("mode_source"), col("n_docs_mode_source"))
      .orderBy("lang")
  }

  /** Out-of-vocabulary rate per document against the corpus-derived top-V
    * vocabulary ([[vocabulary]]): token counts with multiplicity, OOV counts,
    * and an integer parts-per-million rate (exact; the one double is a single
    * division). The tokenizer-coverage gate a corpus passes before training.
    *
    * Scale shape: the vocabulary is top-V by construction — a broadcast dim —
    * so the token join never shuffles the corpus; the per-doc rollup is one
    * map-side-combinable aggregate. */
  def oovRate(spark: SparkSession, dir: String, vocabSize: Int = 100): DataFrame = {
    val vocab = vocabulary(spark, dir, vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
      .orderBy("doc_id")
  }

  /** Largest-remainder apportionment of a sampling budget across sources —
    * the data-mixture step of corpus assembly: each source gets
    * floor(budget · tokens_s / total) (a budget of 10⁶) plus one of the
    * `budget − Σfloor`
    * leftovers, awarded by descending fractional remainder (ties to the
    * lexically first source). Pure integer arithmetic, so the allocation is
    * exact and bit-stable (at 100 TB token counts, the products belong in
    * DECIMAL(38,0); LONG covers the testdata scales).
    *
    * The windows run over the per-source rollup — a dim-sized frame (one row
    * per source), never the corpus. */
  def mixtureAllocation(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val tok = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"))
    val all = Window.partitionBy()
    val byRem = Window.partitionBy().orderBy(col("rem").desc, col("source").asc)
    tok
      .withColumn("total_tokens", sum(col("n_tokens")).over(all))
      .withColumn("base_alloc", expr(s"$budget * n_tokens div total_tokens"))
      .withColumn("rem", expr(s"($budget * n_tokens) % total_tokens"))
      .withColumn("leftover", lit(budget) - sum(col("base_alloc")).over(all))
      .withColumn("rk", row_number().over(byRem))
      .select(col("source"), col("n_tokens"), col("total_tokens"), col("base_alloc"),
        when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"),
        (col("base_alloc") +
          when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("final_alloc"))
      .orderBy("source")
  }

  /** Simpson lexical-diversity index per document, in exact integer ppm:
    * 1 − Σ(cᵢ/n)² = (n² − Σcᵢ²) / n², computed as
    * ((n² − Σcᵢ²)·10⁶) div n² — the entropy-style repetition/diversity
    * quality signal without a logarithm (ln is not bit-identical across
    * engines' libm; Simpson is rational). Two map-side-combinable hash
    * aggregates: (doc, term) counts, then the per-doc moment rollup. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        sum(col("c") * col("c")).as("sum_sq_counts"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"), col("sum_sq_counts"),
        expr("(n_tokens * n_tokens - sum_sq_counts) * 1000000 div (n_tokens * n_tokens)")
          .as("simpson_ppm"))
      .orderBy("doc_id")

  /** Per-language winsorization: n_chars clamped to the language's exact
    * discrete [p10, p90] band. The bounds are order statistics picked by
    * integer index (idx = (n−1)·p div 100 + 1 over the (n_chars, doc_id)
    * total order) — deterministic and engine-exact where interpolated
    * percentiles would not be. The rank window is per-language (the same
    * distributed sort any percentile job pays); the bounds table is
    * languages-sized and broadcast back. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").asc, col("doc_id").asc)
    val ranked = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    val bounds = ranked
      .filter(col("rn") === expr("(n - 1) * 10 div 100 + 1") ||
        col("rn") === expr("(n - 1) * 90 div 100 + 1"))
      .groupBy(col("lang"))
      .agg(min(col("n_chars")).as("p10_chars"), max(col("n_chars")).as("p90_chars"))
    docs.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("p10_chars"), col("p90_chars"),
        least(greatest(col("n_chars"), col("p10_chars")), col("p90_chars"))
          .as("n_chars_winsorized"))
      .orderBy("doc_id")
  }

  /** Overlapping sliding-window chunking (64 tokens, stride 32) — how long
    * documents become training sequences with context overlap, vs
    * [[sequencePack]]'s whole-doc packing. Chunk i covers tokens
    * [i*32+1, i*32+64]; the last chunk may be short. Pure per-row explode
    * (no shuffle until the determinism orderBy); output
    * carries the chunk md5 so the chunk table is content-addressable. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(spark, dir))

  /** Chunk starts stop once a start no longer extends past the previous
    * chunk's end — the last start is stride·⌈(len − chunkSize)/stride⌉, so a
    * tail chunk is never a strict subset of its predecessor (a contained
    * tail would re-inject exact duplicate token spans into the "clean"
    * corpus). The Spark `div` / DuckDB `//` negative-rounding difference is
    * neutralized by the greatest(0, _) clamp. */
  private def chunkDocs(docs: DataFrame): DataFrame = {
    val (chunkSize, stride) = (64, 32)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, greatest(0, (size(words) - $chunkSize + $stride - 1) div $stride)),
           |  i -> slice(words, i * $stride + 1, $chunkSize))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        size(col("chunk")).cast("int").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The corpus-v2 capstone: near-dup SURVIVORS ([[graft.ext.Dedup
    * .dedupSurvivors]]: corpus minus non-canonical LSH-cluster members)
    * intersected with the C4-style quality gate ([[qualityScore]]), then cut
    * into overlapping 64-token training chunks ([[chunkOverlap]]) — dedup → filter →
    * shape, the last mile of a corpus build, in one declarative composition.
    * Each stage keeps its own scale shape (bucketed LSH + iterative
    * components, linear gate scan, per-row explode); the intersection is a
    * left-semi join on doc_id. */
  def cleanCorpusChunks(spark: SparkSession, dir: String): DataFrame = {
    val survivors = graft.ext.Dedup.dedupSurvivors(spark, dir)
      .select(col("doc_id"))
    val clean = qualityScore(spark, dir)
      .filter(col("passes_quality"))
      .select(col("doc_id"))
      .join(survivors, Seq("doc_id"), "left_semi")
    chunkDocs(Tables.documents(spark, dir).join(clean, Seq("doc_id"), "left_semi"))
  }

  /** Fixed retrieval query terms shared by [[bm25Retrieval]] and the Catalog
    * oracle SQL (single source — the two engines must score the same query). */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "hash", "join", "vector", "stream")

  /** BM25 top-15 document retrieval (Okapi, k1 = 1.2, b = 0.75) for the fixed
    * query [[Bm25QueryTerms]] — the keyword-retrieval side of a training-data
    * curation stack (the lexical complement of the embedding ANN path in
    * [[Similarity]]).
    *
    * Scale shape: the per-(doc, term) frequency table is built by filtering
    * tokens to the (tiny, broadcast-literal) query set BEFORE the groupBy —
    * the shuffle carries only matching tokens, an inverted-index posting
    * probe, not the corpus. Corpus stats (N, avgdl) are two scalar aggregates
    * broadcast via a 1-row cross join; document lengths join on doc_id; the
    * final top-15 is `orderBy().limit()` (TakeOrderedAndProject — only 15
    * rows per partition cross the shuffle).
    *
    * Determinism: scores are IEEE doubles built from exact integer (tf, df,
    * dl) inputs with the same operation tree the oracle SQL spells, rounded
    * to 6 dp at the boundary (same convention as the tf-idf query). Ranking
    * ties break on doc_id. */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    bm25RawScores(docs, dl)
      .orderBy(col("raw_score").desc, col("doc_id"))
      .limit(15)
      .select(col("doc_id"), col("n_terms_matched"),
        round(col("raw_score"), 6).as("score"))
  }

  /** The Okapi BM25 scoring pipeline (k1 = 1.2, b = 0.75) for
    * [[Bm25QueryTerms]], shared by q139 and q151 so the determinism-critical
    * math (operation tree, constants, fixed-order float sum) has ONE
    * definition. `docs` must expose (doc_id, text); `dl` must expose
    * (doc_id, dl) — a caller that already scans the corpus for another
    * per-doc projection passes that frame so the length pass is not a
    * second scan. Returns (doc_id, n_terms_matched, raw_score), unranked.
    *
    * Per-doc score: (doc, term) is unique, so each conditional max picks up
    * at most ONE value and the final sum adds the per-term scores in the
    * FIXED written term order — a plain float sum() over the group would add
    * in partition order and the last-ulp noise could flip rank ties against
    * the oracle. */
  private def bm25RawScores(docs: DataFrame, dl: DataFrame): DataFrame = {
    val termSet = Bm25QueryTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(expr(s"term IN $termSet"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df per query term: (doc_id, term) is unique in tf, so count(*) = doc count
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val perTerm = Bm25QueryTerms.map(t =>
      max(when(col("term") === t, col("term_score"))).as(s"s_$t"))
    val total = Bm25QueryTerms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduce(_ + _)
    tf.join(broadcast(df), Seq("term"))
      .join(dl.select(col("doc_id"), col("dl")), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms_matched"), perTerm: _*)
      .withColumn("raw_score", total)
      .select(col("doc_id"), col("n_terms_matched"), col("raw_score"))
  }

  /** The exact phrase used by [[rrfFusion]]'s proximity signal and its
    * oracle (single source). */
  val RrfPhrase: String = "spark hash"

  /** Reciprocal-rank fusion of two retrieval signals (q151) — the standard
    * hybrid-retrieval combiner (score = Σ 1/(k + rank), k = 60), computed in
    * EXACT integers (1 000 000 div (60 + rank)) so the fusion is hash-stable
    * across engines: floats only influence the BM25 rank order itself (same
    * convention as q139). Signals:
    *   - lexical: the full BM25 ranking for [[Bm25QueryTerms]] (row_number
    *     over raw score desc, doc_id);
    *   - proximity: docs ranked by occurrences of the exact phrase
    *     [[RrfPhrase]] (desc, doc_id), docs without the phrase unranked.
    * A doc missing from a signal contributes 0 for it — the asymmetric-
    * coverage case every production fusion has to define.
    *
    * Scale shape: both signals are corpus-linear with broadcast-side joins
    * (q139's shape; the phrase count is one split projection); each signal
    * is trimmed to its top-100 via orderBy().limit() —
    * TakeOrderedAndProject, only 100 rows per partition cross the
    * shuffle — and the rank window then runs over that bounded frame (never
    * a corpus-wide single-partition rank). Fusing per-signal top-N lists is
    * also RRF's production semantics. The fusion itself is a full-outer
    * join of two ≤ 100-row frames; the fused top-10 is returned. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // one shared DEFINITION of the per-doc columns (length for BM25
    // normalization, phrase occurrences for proximity); each consumer still
    // scans the parquet on its own lineage path, with column pruning keeping
    // every scan minimal — sharing here is single-source-of-truth, not
    // materialization
    val dlPhrase = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"),
      (size(split(col("text"), java.util.regex.Pattern.quote(RrfPhrase), -1)) - 1)
        .cast("long").as("phrase_count"))
    val bm25 = bm25RawScores(docs, dlPhrase)
      .orderBy(col("raw_score").desc, col("doc_id"))
      .limit(100)
      .withColumn("bm25_rank",
        row_number().over(Window.orderBy(col("raw_score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    val phrase = dlPhrase
      .filter(col("phrase_count") > 0)
      .orderBy(col("phrase_count").desc, col("doc_id"))
      .limit(100)
      .withColumn("phrase_rank",
        row_number().over(Window.orderBy(col("phrase_count").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("phrase_rank"))
    bm25.join(phrase, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("phrase_rank"), lit(0L)).as("phrase_rank"),
        (coalesce(expr("1000000 div (60 + bm25_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + phrase_rank)"), lit(0L))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(10)
  }

  /** Deterministic count-min sketch over the token stream (d = 4 hash rows ×
    * w = 512 buckets, md5-derived row hashes), evaluated against the exact
    * counts for the 20 most frequent tokens: estimate, exact, and the
    * overestimate in ppm — the sketch-accuracy monitor a streaming
    * heavy-hitters pipeline runs beside its CMS.
    *
    * Scale shape: the sketch itself is 4 groupBys over (row, bucket) — at any
    * corpus size the sketch table is ≤ d·w = 2048 rows (map-side combine does
    * the heavy lifting), and the probe is a broadcast-sized join of the
    * top-20 terms' bucket coordinates against it. Everything is exact integer
    * arithmetic: the "estimate" is deterministic because the hash family is
    * (md5 of row:term), not a seeded RNG. */
  def countMinSketch(spark: SparkSession, dir: String): DataFrame = {
    val rows = 4
    val width = 512
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("exact_count"))
    def bucket(r: Int): Column =
      (Native.md5Prefix(concat(lit(s"$r:"), col("term")), 7) % width).as(s"b$r")
    val withBuckets = counts.select(
      col("term") +: col("exact_count") +: (0 until rows).map(bucket): _*)
    // (term, row, bucket, count) — the sketch update stream, one row per hash
    // row. Bucket totals come from a WINDOW over this (vocabulary-sized)
    // frame, not a groupBy + self-join back: the join form would evaluate the
    // corpus-scale token-count lineage twice (once under each join side);
    // the window shares the single pass, and its (hash_row, bucket)
    // partitions are bounded by the bucket's term population.
    val updates = withBuckets.select(col("term"), col("exact_count"),
      posexplode(array((0 until rows).map(r => col(s"b$r")): _*)).as(Seq("hash_row", "bucket")))
    val byCell = Window.partitionBy(col("hash_row"), col("bucket"))
    updates
      .withColumn("bucket_total", sum(col("exact_count")).over(byCell))
      .groupBy(col("term"), col("exact_count"))
      .agg(min(col("bucket_total")).as("cms_estimate"))
      .select(col("term"), col("exact_count"), col("cms_estimate"),
        expr("CAST((cms_estimate - exact_count) * 1000000 div exact_count AS BIGINT)").as("over_ppm"))
      .orderBy(col("exact_count").desc, col("term"))
      .limit(20)
  }

  /** Rank-ensemble quality score: three integer signals — document length,
    * lexical diversity (distinct-token ppm), stopword density (ppm) — each
    * ranked WITHIN the document's language (rank() ties, deterministic), then
    * combined by rank sum; the final per-language ordering is the composite
    * curation ranking. Rank blending is how production quality stacks combine
    * incommensurable signals without calibrating scales (and ranking within
    * language is the correct grain — length and stopword density are not
    * comparable across languages); ranks are exact integers, so the output is
    * hash-stable where a weighted float blend would not be.
    *
    * Scale shape: one linear pass computes the signals; the rank windows
    * partition by lang over slim (doc_id, signal) projections. A language's
    * partition is corpus-sized in the worst case — if exact global ranks are
    * required at 100 TB this becomes a range-partitioned sort per signal;
    * relaxing to quantile-bucket ranks turns it into one pass over
    * approx-quantile bounds. */
  def qualityRankEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        // cast BEFORE the ×1e6: size() is INT and a 3k-token doc would
        // overflow 32-bit under ANSI arithmetic
        expr("CAST(size(array_distinct(words)) AS BIGINT) * 1000000 div size(words)")
          .as("distinct_ppm"),
        expr(s"CAST(size(filter(words, w -> w IN $stopWordsSqlSet)) AS BIGINT) * 1000000 div size(words)")
          .as("stop_ppm"))
    val byLang = Window.partitionBy(col("lang"))
    val r1 = byLang.orderBy(col("n_chars").desc)
    val r2 = byLang.orderBy(col("distinct_ppm").desc)
    val r3 = byLang.orderBy(col("stop_ppm").desc)
    sig
      .withColumn("rank_len", rank().over(r1).cast("long"))
      .withColumn("rank_diversity", rank().over(r2).cast("long"))
      .withColumn("rank_stopword", rank().over(r3).cast("long"))
      .withColumn("rank_sum", col("rank_len") + col("rank_diversity") + col("rank_stopword"))
      .withColumn("final_rank",
        row_number().over(byLang.orderBy(col("rank_sum"), col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("distinct_ppm"), col("stop_ppm"),
        col("rank_len"), col("rank_diversity"), col("rank_stopword"),
        col("rank_sum"), col("final_rank"))
      .orderBy("doc_id")
  }

  /** Classifier evaluation (q159): per-class precision/recall of the
    * [[langId]] heuristic against the documents table's ground-truth `lang`
    * column — the eval harness every classifier in a curation stack runs
    * continuously (a quality/language/toxicity model is only as good as its
    * monitored precision). Classes are the union of true and predicted
    * labels; metrics are exact integer ppm (0 denominators → 0 rather than
    * NULL, so the frame stays hash-stable).
    *
    * Scale shape: truth and prediction come off the SAME documents row in
    * one scan ([[withLangMarkers]] is a pure projection — no doc_id
    * self-join), then one hash aggregate per (true, predicted) cell — the
    * matrix is |classes|² rows at any corpus size — and class-level rollups
    * over that tiny frame. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val cells = withLangMarkers(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val byTrue = cells.groupBy(col("lang").as("cls"))
      .agg(sum(col("n")).as("n_true"),
        sum(when(col("predicted_lang") === col("lang"), col("n")).otherwise(0L)).as("n_correct"))
    val byPred = cells.groupBy(col("predicted_lang").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    byTrue.join(byPred, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("precision_ppm",
        when(col("n_pred") > 0, expr("n_correct * 1000000 div n_pred")).otherwise(0L))
      .withColumn("recall_ppm",
        when(col("n_true") > 0, expr("n_correct * 1000000 div n_true")).otherwise(0L))
      .orderBy("cls")
  }

  /** Source concentration (q158): the exact-integer Gini coefficient of the
    * per-source token masses, plus the smallest number of sources covering
    * 50% and 90% of the corpus — the "is this corpus dominated by a handful
    * of domains" monitor that drives quota decisions ([[graft.ext.Sampling
    * .sourceQuotaCap]]) and temperature reweighting. Gini in ppm via the
    * rank formula G = (2Σ i·m_i − (n+1)Σm) / (nΣm) over masses sorted
    * ascending — every term an exact integer. Coverage counts come from the
    * same conditional-min selection as the counting percentiles (q152).
    *
    * All windows run over the n_sources-row mass frame (dimension
    * cardinality); the only corpus-scale work is the token count. */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame = {
    val masses = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("m"))
    val asc = Window.orderBy(col("m"), col("source")) // n_sources rows
    val desc = Window.orderBy(col("m").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    masses
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("total", sum(col("m")).over(Window.partitionBy()))
      .withColumn("cum_desc", sum(col("m")).over(desc))
      .withColumn("rank_desc", row_number().over(Window.orderBy(col("m").desc, col("source"))).cast("long"))
      .agg(
        count(lit(1)).as("n_sources"),
        max(col("total")).as("total_tokens"),
        // DECIMAL(38,0): rank-weighted mass x 1e6 clears int64 on a corpus
        // of ~1e14 tokens x 1e4 sources (same lift as q145/q148)
        sum(col("i").cast("decimal(38,0)") * col("m")).as("iw"),
        min(when(col("cum_desc") >= expr("(total + 1) div 2"), col("rank_desc"))).as("k50"),
        min(when(col("cum_desc") >= expr("(9 * total + 9) div 10"), col("rank_desc"))).as("k90"))
      .select(col("n_sources"), col("total_tokens"),
        expr("CAST((2 * iw - (n_sources + 1) * CAST(total_tokens AS DECIMAL(38,0))) * 1000000 div " +
          "(n_sources * CAST(total_tokens AS DECIMAL(38,0))) AS BIGINT)")
          .as("gini_ppm"),
        col("k50"), col("k90"))
  }

  /** Per-source vocabulary divergence — the domain-shift monitor: for each
    * source, the L1 distance between its token distribution and the whole
    * corpus's, computed entirely in exact integer cross-products
    * (|cnt_src · total_corpus − cnt_corpus · total_src| summed over the
    * vocabulary, scaled to ppm of 2 · total_src · total_corpus — the exact
    * integer form of ½ Σ|p_src − p_corpus|, range 0..1e6). Flags a source
    * whose text drifted from the corpus mix (scraper broke, new template,
    * language shift) without any float accumulation.
    *
    * Scale shape: two hash aggregates (per-source × term, and per-term) over
    * the token stream — both map-side-combinable; the join is on term
    * (vocabulary-sized, broadcastable); the output is one row per source.
    * Terms absent from a source still contribute |0 − cnt_corpus · total_src|
    * to that source's sum, handled by a right-join + per-source missing-mass
    * complement rather than materializing the full source × vocab grid.
    *
    * The cross-products run in DECIMAL(38,0): cnt·total products clear int64
    * around 10⁹·10¹⁰ tokens, well inside a 100 TB corpus — Spark would wrap
    * where the DuckDB oracle promotes to HUGEINT, a silent cross-engine
    * divergence. DECIMAL keeps both sides exact to 10³⁸ (≈ 10¹⁴ tokens
    * corpus-wide with ppm scaling). */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    val bySrc = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt_src"))
    val srcTotals = bySrc.groupBy(col("source"))
      .agg(sum(col("cnt_src")).as("total_src"))
    val corpus = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt_corpus"))
    val corpusTotal = corpus.agg(sum(col("cnt_corpus")).as("total_corpus"))
    // present terms: |cnt_src·T − cnt_corpus·t_s|; absent terms contribute
    // cnt_corpus·t_s each, i.e. (T − Σ_present cnt_corpus)·t_s in one closed form
    val present = bySrc.join(broadcast(corpus), Seq("term"))
      .join(broadcast(srcTotals), Seq("source"))
      .crossJoin(broadcast(corpusTotal))
      .groupBy(col("source"), col("total_src"), col("total_corpus"))
      .agg(
        sum(abs(col("cnt_src").cast(d38) * col("total_corpus") -
          col("cnt_corpus").cast(d38) * col("total_src")))
          .as("l1_present"),
        sum(col("cnt_corpus")).as("corpus_mass_present"))
    present
      .withColumn("l1_absent",
        (col("total_corpus") - col("corpus_mass_present")).cast(d38) * col("total_src"))
      .withColumn("divergence_ppm",
        expr(s"CAST((l1_present + l1_absent) * 1000000 div " +
          s"(2 * CAST(total_src AS $d38) * total_corpus) AS BIGINT)"))
      .select(col("source"), col("total_src"), col("divergence_ppm"))
      .orderBy("source")
  }

  /** Exact heavy hitters (q176) — every token with corpus frequency ≥
    * `thresholdPpm`, found via the scale-safe two-pass pattern instead of a
    * full-vocabulary groupBy:
    *
    *  1. ONE pass with the mergeable [[graft.functions.MisraGriesAggregator]]
    *     (capacity k): the shuffle carries ≤ k slots per partition, the
    *     driver receives ≤ k candidate terms plus the exact total count n.
    *     The MG guarantee (every term with freq > n/k survives) makes the
    *     candidate set a SUPERSET of the answer whenever
    *     k > 10⁶/thresholdPpm — enforced below, so the approximation can
    *     never silently drop a true heavy hitter.
    *  2. A second pass re-counts ONLY candidate rows (broadcast isin filter
    *     pushed to the scan) — the groupBy shuffles ≤ k distinct keys.
    *
    * Output is therefore EXACT and independent of partition order / merge
    * shape, even though pass 1's internal counts are noisy: candidates are
    * filtered by their re-counted frequency, so false candidates drop out and
    * true hitters (guaranteed present) carry exact counts. A full-vocabulary
    * groupBy computes the same answer with a vocabulary-sized shuffle — at
    * 100 TB that's the difference between k·partitions rows and billions. */
  def heavyHitters(spark: SparkSession, dir: String,
      thresholdPpm: Long = 20000L, k: Int = 128): DataFrame = {
    require(k.toLong * thresholdPpm > 1000000L,
      s"capacity k=$k cannot guarantee the superset at threshold $thresholdPpm ppm")
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    val (candidates, n) = toks.as[String]
      .select(new graft.functions.MisraGriesAggregator(k).toColumn)
      .head()
    toks.filter(col("term").isin(candidates: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 1000000L >= lit(thresholdPpm) * lit(n))
      .select(col("term"), col("cnt"),
        expr(s"CAST(cnt * 1000000 div ${n}L AS BIGINT)").as("freq_ppm"))
      .orderBy("term")
  }

  /** q201: DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023 — the linear
    * integer-exact variant): score each document by how much its bigram
    * distribution leans toward a TARGET slice (here lang = 'en') versus the
    * rest of the corpus. Each bigram carries weight
    * ppm_target(bg) − ppm_rest(bg) (occurrence shares in each slice's
    * bigram mass, integer ppm, absent → 0); a document's importance is the
    * sum over its bigrams, and the top-100 by weight are the docs DSIR-style
    * selection would keep. Exact integers end to end — the log-ratio form
    * the paper uses needs floats; the linear difference ranks by the same
    * "looks like the target" signal and is bit-stable across engines.
    *
    * Scale shape: two map-side-combinable aggregates over the exploded
    * bigrams (slice masses ride along as conditional sums in ONE pass),
    * a broadcast of the two scalar masses, one shuffle to re-join bigram
    * weights to documents, and a TakeOrdered top-100. */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    // The bigram explode previously fed THREE lineage paths (per-bigram
    // counts, the mass scalars, the doc re-join) and was materialized to
    // parquet per call. With the masses folded into the weights plan (r14,
    // below) only TWO paths remain, and the round-trip lost its case: the
    // write was a full positional-bigram stream (≈ 2× the at-rest corpus
    // bytes) written AND re-read twice per pass, versus re-running a cheap
    // explode over the smaller documents scan on each path (guide §1.2 —
    // the materialization itself had become the thing computed and thrown
    // away; the two explode paths also overlap on idle cores where the
    // write serialized). Measured (solo bench, min-of-N, same day): 1.62 s
    // with write + eager masses → 1.03 s in-plan without the write;
    // profile jobs 11 → 7.
    val docBigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, size(words) - 1),
          |  i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))""".stripMargin))
        .as("bg"))
    val perBigram = docBigrams.groupBy(col("bg")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("c_r"))
    // masses ride IN-PLAN as a broadcast 1-row cross join (r14; guide §1.2
    // "don't compute things you throw away" / §2.4): the previous
    // `.head()` was an EAGER driver job per construction that re-executed
    // the perBigram aggregate a second time per pass — in-plan, both the
    // mass scalar and the weights read ONE perBigram subtree and exchange
    // reuse collapses them (the broadcast-scalar-total pattern, q12).
    // greatest(·, 1) keeps the integer div total and NULL-free exactly as
    // the driver-side max(·, 1) did on an empty or single-class corpus.
    val masses = perBigram.agg(
      greatest(coalesce(sum(col("c_t")), lit(0L)), lit(1L)).as("m_t"),
      greatest(coalesce(sum(col("c_r")), lit(0L)), lit(1L)).as("m_r"))
    val weighted = perBigram.crossJoin(broadcast(masses)).select(col("bg"),
      (expr("c_t * 1000000 div m_t") - expr("c_r * 1000000 div m_r"))
        .as("w_ppm"))
    // weighted is bigram-TYPE-sized (Heaps-bounded) against the corpus-mass
    // positional stream; the broadcast-vs-shuffle decision is left to AQE's
    // RUNTIME stats of the aggregate stage (guide §3.1 — AQE rewrites to a
    // broadcast join when the materialized side fits, and keeps SMJ when
    // the type table outgrows it, the same bound guardedBroadcast enforced
    // from a DISK_ONLY persist + count). r14: the persist/count pair was an
    // eager full materialization of the type table per construction — one
    // extra execution and a disk cache round-trip per pass here, a full
    // type-table disk write at 100 TB — for a decision AQE takes from
    // stats it already has (the sf100 gate's 12.2×/decade type-table
    // reading is guarded the same way at any scale).
    docBigrams.join(weighted, Seq("bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w_ppm")).as("importance_ppm"))
      .orderBy(col("importance_ppm").desc, col("doc_id").asc)
      .limit(100)
  }

  /** q200: per-source RELEASE GATE — the datasheet verdict a training-data
    * pipeline ends with, composing three signals this engine already
    * computes into one pass/fail row per source:
    *   - quality pass rate (the q26 gates: length band, token floor,
    *     stopword presence) — ONE scan, conditional aggregates;
    *   - English share;
    *   - cross-doc duplicate-segment rate ([[graft.ext.Dedup.segmentDedup]]'s
    *     per-doc counts rolled up to the source).
    * A source releases iff pass_ppm ≥ 500000 and dup_ppm ≤ 250000 —
    * thresholds are arguments in spirit (fixed here for the oracle), the
    * composition is the point. Integer ppm arithmetic end to end. */
  def releaseGate(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("source"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"),
        when(length(col("text")) >= MinChars && length(col("text")) <= MaxChars &&
          size(col("words")) >= MinTokens &&
          size(expr(s"filter(words, w -> w IN $stopWordsSqlSet)")) > 0, 1L)
          .otherwise(0L).as("passes"))
    val perSource = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("is_en")).as("n_en"),
      sum(col("passes")).as("n_pass"))
    val dupBySource = graft.ext.Dedup.segmentDedup(spark, dir)
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source")).agg(
        sum(col("n_segments")).as("n_segments"),
        sum(col("n_dup_segments")).as("n_dup"))
    perSource.join(dupBySource, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        expr("n_en * 1000000 div n_docs").as("en_ppm"),
        expr("n_pass * 1000000 div n_docs").as("pass_ppm"),
        expr("CAST(coalesce(n_dup * 1000000 div n_segments, 0) AS BIGINT)").as("dup_ppm"))
      .withColumn("release_ok",
        col("pass_ppm") >= 500000L && col("dup_ppm") <= 250000L)
      .orderBy("source")
  }

  /** q197: preference-PAIR construction (the DPO/RLHF data-prep shape): per
    * source, the highest-scoring document as `chosen` against the
    * lowest-scoring as `rejected`, with the score margin. The score here is
    * the deterministic stopword-density ppm (a stand-in for any per-doc
    * scalar scorer — swap the score column, keep the pairing machinery).
    * Shape: ONE aggregate per group — chosen and rejected are lexicographic
    * min/max over (score, doc_id) structs (ties → lowest doc_id on both
    * sides), so there is no per-group window, no second scan, and the
    * shuffle is map-side combinable. */
  def preferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("source"),
        size(col("words")).cast("long").as("n_tokens"),
        size(expr(s"filter(words, w -> w IN $stopWordsSqlSet)")).cast("long").as("n_stop"))
      .filter(col("n_tokens") > 0)
      .withColumn("score_ppm", expr("n_stop * 1000000 div n_tokens"))
    scored.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(struct((-col("score_ppm")).as("ns"), col("doc_id").as("id"))).as("c"),
        min(struct(col("score_ppm").as("s"), col("doc_id").as("id"))).as("r"))
      .select(col("source"), col("n_docs"),
        col("c.id").as("chosen_id"), (-col("c.ns")).as("chosen_score_ppm"),
        col("r.id").as("rejected_id"), col("r.s").as("rejected_score_ppm"),
        (-col("c.ns") - col("r.s")).as("margin_ppm"))
      .orderBy("source")
  }

  /** q196: ITERATED BPE merge training (Sennrich et al., ACL 2016) — the
    * corpus-level tokenizer-training loop q126's single pair count only
    * previews. Classic BPE over the word-frequency dictionary: each word
    * type becomes its space-separated symbol sequence, every round counts
    * adjacent symbol pairs weighted by word count, picks the most frequent
    * (ties → lexicographically smallest pair, identical in both engines),
    * and REWRITES the dictionary by the literal replace "x y" → "xy" —
    * merged symbols then participate in later rounds' pairs, which is what
    * makes BPE BPE. Output: one row per merge (merge_idx, pair, freq) of
    * 3 rounds.
    *
    * Cross-engine exactness: symbols are plain strings, counts are integers,
    * and literal left-to-right non-overlapping replace behaves identically
    * in Spark and DuckDB — no floats anywhere. Scale shape: the dictionary
    * is |word types| rows (corpus-size-independent after the one word-count
    * aggregate); each round is one map-side-combinable pair count + a 1-row
    * driver argmax seed (the A1 pattern) + one projection rewrite,
    * materialized per round ([[graft.engine.Fs.overwriteVersioned]]) so
    * round k never re-derives rounds 1..k−1. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.engine.Fs.readParquet(spark, s"${bpeStatePath(spark, dir)}/merges")
      .select(col("merge_idx").cast("int").as("merge_idx"), col("pair"), col("freq"))
      .orderBy("merge_idx")
  }

  /** Zipf slope of the head vocabulary (q222) — the corpus-naturalness
    * health check: natural language follows count ∝ rank^(−s) with s ≈ 1,
    * while machine-generated/templated corpora flatten (s → 0) or collapse
    * to a few tokens (s ≫ 1). The fit is log-log OLS made ENGINE-EXACT by
    * taking both logs as integer bit lengths (`length(bin(v))` = ⌊log₂ v⌋+1
    * — identical in both engines) over the top-1024 terms, with the full
    * integer-moment slope formula and sign-aware division (the ols2
    * discipline). Restricting to the head keeps the rank window bounded at
    * 1024 rows (the q67 vocabulary pattern) — the head is where Zipf is
    * measured anyway; the corpus-sized work is one term-count aggregate. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("term")).limit(1024)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term"))
    val pts = top.withColumn("r", row_number().over(w))
      .select(expr("CAST(length(bin(r)) AS BIGINT)").as("x"),
        expr("CAST(length(bin(c)) AS BIGINT)").as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("n").as("n_terms"),
        when(expr("n * sxx - sx * sx") === 0, lit(null).cast("long"))
          .otherwise(when(expr("n * sxy - sx * sy") >= 0,
            expr("CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) AS BIGINT)"))
            .otherwise(expr(
              "-CAST((-(n * sxy - sx * sy)) * 1000000 div (n * sxx - sx * sx) AS BIGINT)")))
          .as("slope_ppm"))
  }

  /** Unicode canonicalization audit (q218) — NFC normalization via the
    * native [[graft.functions.NfcNormalize]] expression (`graft_nfc`), the
    * pass a text pipeline runs before fingerprinting/dedup/tokenization:
    * composed ("é") and decomposed ("e"+U+0301) spellings hash differently
    * raw, so un-normalized corpora silently miss canonically-equal
    * duplicates. The ASCII fixture corpus is trivially NFC, so denormalized
    * spellings are PLANTED deterministically (doc_id % 3 = 0 → a decomposed
    * suffix that NFC composes; % 3 = 1 → the precomposed spelling, already
    * canonical; else untouched) — both engines construct identical strings
    * and normalize per the same Unicode spec (JDK Normalizer here, DuckDB
    * nfc_normalize in the oracle). Pure projection, no shuffle; the
    * expression stays inside whole-stage codegen with an isNormalized
    * fast path for the dominant already-canonical case. */
  def unicodeAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" cafe\u0301")))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" caf\u00e9")))
          .otherwise(col("text")).as("raw"))
      .withColumn("nfc", Native.nfc(col("raw")))
      .select(col("doc_id"),
        (col("raw") =!= col("nfc")).as("changed"),
        length(col("raw")).cast("long").as("len_raw"),
        length(col("nfc")).cast("long").as("len_nfc"))
      .orderBy("doc_id")
  }

  /** Homoglyph-skeleton audit (q229) — the anti-evasion layer above q218's
    * NFC pass, via the native [[graft.functions.ConfusableSkeleton]]
    * expression (`graft_skeleton`): cross-script homoglyph substitution
    * (Cyrillic 'а' for Latin 'a', fullwidth 'ａ') defeats every current
    * dedup signal — shingles, MinHash, SimHash, and exact hashes all see
    * distinct codepoints — so dedup on adversarial corpora must group on
    * the NFKC + lowercase + confusables skeleton instead of the raw text.
    *
    * The ASCII fixture corpus is trivially clean, so evasive spellings are
    * PLANTED deterministically (doc_id % 7 = 3 → Cyrillic homoglyphs of
    * a/e/o/p/c; % 7 = 5 → fullwidth a/e/o, the NFKC territory; else
    * untouched), and the skeleton must restore the original text exactly.
    * The oracle recomputes restoration with an EXPLICIT inverse mapping
    * table (`translate` over the same codepoints) — independent machinery
    * from the engine's Normalizer+map path. Pure projection, no shuffle;
    * the expression stays inside whole-stage codegen with a clean-ASCII
    * fast path. */
  def homoglyphSkeleton(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("variant",
        when(col("doc_id") % 7 === 3, lit("cyrillic"))
          .when(col("doc_id") % 7 === 5, lit("fullwidth"))
          .otherwise(lit("clean")))
      .withColumn("dirty",
        when(col("variant") === "cyrillic",
          translate(col("text"), "aeopc", "аеорс"))
          .when(col("variant") === "fullwidth",
            translate(col("text"), "aeo", "ａｅｏ"))
          .otherwise(col("text")))
      .select(col("doc_id"), col("variant"),
        (col("dirty") =!= col("text")).as("changed"),
        (Native.skeleton(col("dirty")) === col("text")).as("restored"))
      .orderBy("doc_id")
  }

  /** Sequence packing, concat-and-chunk form (q231) — the dataset-assembly
    * step between curation and the trainer: the corpus's token stream (docs
    * concatenated in doc_id order) is cut into fixed `seqLen`-token training
    * sequences, GPT-style (documents may span a boundary; only the final
    * sequence is short). Output: one row per SEQUENCE with the docs it
    * spans, its token count, and its first/last doc — the packing manifest
    * a loader shards by.
    *
    * Scale shape: the global token-stream offset is
    * [[graft.engine.RelOps.rangedCumsum]] (chunked parallel-prefix — no
    * all-to-one window), each doc then expands to the sequences it overlaps
    * with pure arithmetic (a ~55-token doc spans ≤ 2 sequences at 256 — the
    * explode factor is 1 + n/seqLen, never corpus-shaped), and one groupBy
    * on seq_id finishes. No token-level explode anywhere: a 100 TB corpus
    * moves doc-grain rows only. */
  def sequencePacking(spark: SparkSession, dir: String,
      seqLen: Int = 256): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    packDocs(docs, 0L, seqLen)
  }

  /** Shared pack core of q231/q232: a
    * (doc_id, n)-grain token stream (doc_id order) cut into `seqLen`-token
    * sequences starting at global token `offset`. Doc-grain rows only; the
    * explode factor is 1 + n/seqLen. */
  private def packDocs(docs: DataFrame, offset: Long,
      seqLen: Int): DataFrame =
    graft.engine.RelOps.rangedCumsum(docs, "wcum", Seq("doc_id"), col("n"))
      .withColumn("cum", col("wcum") + lit(offset))
      .withColumn("strt", col("cum") - col("n"))
      .withColumn("first_seq", expr(s"strt div $seqLen"))
      .withColumn("last_seq", expr(s"(cum - 1) div $seqLen"))
      .select(col("doc_id"), col("strt"), col("cum"),
        explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .withColumn("tok_in_seq",
        least(col("cum"), (col("seq_id") + 1) * seqLen) -
          greatest(col("strt"), col("seq_id") * seqLen))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_in_seq")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("seq_id")

  /** Incremental sequence packing (q232) — the ingest-wave form of
    * [[sequencePacking]], same append semantics a real packer has: the
    * at-rest corpus (outside [[graft.engine.RelOps.inWave]]) is already
    * packed, its manifest
    * immutable; an arriving wave's docs CONTINUE the token stream — new
    * sequences start at the corpus's total token offset, never repacking
    * or even rescanning the corpus (the total is a 1-row at-rest seed, a
    * [[graft.engine.SessionMemo.atRest]] entry). Output: the WAVE's sequence
    * manifest, seq ids continuing the corpus numbering. If the corpus's final
    * sequence was partial, the first wave sequence starts at the next
    * boundary (standard shard-aligned append: a loader never re-reads a
    * sealed shard to top it up).
    *
    * Per-wave cost: one cumsum over the wave (chunked parallel-prefix) +
    * arithmetic — linear in the wave, not the corpus. */
  def incrementalPacking(spark: SparkSession, dir: String, seqLen: Int = 256): DataFrame = {
    val isWave = graft.engine.RelOps.inWave(col("doc_id"))
    val base = graft.engine.SessionMemo.atRest(spark, ("packoff", dir, seqLen),
        s"$dir/documents.parquet") { p =>
      Tables.documents(spark, dir)
        .filter(!isWave)
        .agg(coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
          .as("corpus_tokens"))
        .write.mode("overwrite").parquet(p)
    }
    val corpusTokens = graft.engine.Fs.readParquet(spark, base).head().getLong(0)
    // sealed-shard alignment: the wave starts at the next sequence boundary
    val offset = ((corpusTokens + seqLen - 1) / seqLen) * seqLen
    val wave = Tables.documents(spark, dir)
      .filter(isWave)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    packDocs(wave, offset, seqLen)
  }

  /** Code-switching rate (q213) — the WINDOW-level language-mix audit the
    * doc-level lang-id (q25) can't see: each doc's words split into 20-token
    * windows, every window classified with the SAME marker heuristic
    * ([[enMarkers]]/[[esMarkers]]/[[frMarkers]] — shared constants, the
    * classifiers cannot drift), and the doc scored by how often adjacent
    * windows disagree. High switch rates mark machine-concatenated or
    * boilerplate-stitched pages — docs a mono-lingual filter mislabels
    * whole. The entire computation is ONE in-row projection (windows, window
    * langs, and adjacent-disagreement counts all as array HOFs — no explode,
    * no shuffle, no window function): the ideal 100 TB shape, a pure scan.
    * `sequence(1, n-1)` is guarded for n < 2 (Spark's sequence DESCENDS when
    * hi < lo). */
  def codeSwitchRate(spark: SparkSession, dir: String): DataFrame = {
    def cnt(set: Seq[String]): String = {
      val s = set.map(w => s"'$w'").mkString("(", ", ", ")")
      s"size(filter(win, x -> x IN $s))"
    }
    val classify =
      s"""CASE WHEN ${cnt(enMarkers)} >= ${cnt(esMarkers)}
         |       AND ${cnt(enMarkers)} >= ${cnt(frMarkers)}
         |       AND ${cnt(enMarkers)} > 0 THEN 'en'
         |     WHEN ${cnt(esMarkers)} >= ${cnt(frMarkers)}
         |       AND ${cnt(esMarkers)} > 0 THEN 'es'
         |     WHEN ${cnt(frMarkers)} > 0 THEN 'fr'
         |     ELSE 'unknown' END""".stripMargin
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 20)
      .withColumn("langs", expr(
        s"""transform(
           |  transform(sequence(0, size(words) div 20 - 1),
           |    i -> slice(words, i * 20 + 1, 20)),
           |  win -> $classify)""".stripMargin))
      .select(
        col("doc_id"),
        size(col("langs")).cast("long").as("n_windows"),
        size(array_distinct(col("langs"))).cast("long").as("n_lang_kinds"),
        expr("""CAST(IF(size(langs) >= 2,
               |  size(filter(sequence(1, size(langs) - 1),
               |    i -> element_at(langs, i) != element_at(langs, i + 1))),
               |  0) AS BIGINT)""".stripMargin).as("n_switches"))
      .withColumn("switch_ppm",
        when(col("n_windows") >= 2,
          expr("n_switches * 1000000 div (n_windows - 1)")).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY by language (q210) — the metric that decides
    * whether a trained tokenizer is fair to each language in the mix
    * (fertility = symbols emitted per word; a tokenizer trained on an
    * English-heavy corpus fragments other languages, inflating their
    * training cost): the trained dictionary's per-word symbol counts
    * ([[bpeStatePath]]'s last materialized round — word recovered by
    * stripping the boundary encoding) joined to per-(lang, word) corpus
    * counts. The dictionary side is word-TYPES (corpus-size-independent, the
    * broadcast side at scale); the corpus side is one word-count aggregate.
    * Integer ppm end to end. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val p = bpeStatePath(spark, dir)
    val lastRound = graft.engine.Fs.readParquet(spark, s"$p/merges")
      .agg(coalesce(max(col("merge_idx")), lit(0)).cast("int")).head().getInt(0)
    val dict = graft.engine.Fs.readParquet(spark, s"$p/w$lastRound")
      .select(regexp_replace(trim(col("sp")), "  ", "").as("w"),
        size(split(trim(col("sp")), "  ")).cast("long").as("n_syms"))
    val langWords = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
    langWords.join(broadcast(dict), Seq("w"))
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("w"))).as("n_chars"),
        sum(col("cnt") * col("n_syms")).as("n_syms"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_syms"),
        expr("n_syms * 1000000 div n_words").as("fertility_ppm"),
        expr("n_syms * 1000000 div n_chars").as("syms_per_char_ppm"))
      .orderBy("lang")
  }

  /** The BPE training state at rest (3 rounds), built ONCE per documents
    * snapshot per session ([[graft.engine.SessionMemo.atRest]] — bench passes
    * reread instead of retraining): `w0..wN/` per-round dictionaries,
    * `merges/` the merge table. The training loop itself is documented at [[bpeMerges]]. */
  def bpeStatePath(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.Row
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    graft.engine.SessionMemo.atRest(spark, ("bpe", dir),
        s"$dir/documents.parquet") { p =>
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        // symbol-boundary-safe encoding: symbols joined by DOUBLE spaces,
        // single-space padding at the ends. The merge pattern " a  b " can
        // then only match where a and b are COMPLETE symbols (a plain
        // single-space join lets the pattern match a symbol SUFFIX — e.g.
        // after merging (c,a), replace("ca b", "a b", "ab") fuses the tail
        // of 'ca' with 'b', a merge no pair count ever produced), and the
        // replacement " ab " restores the invariant so consecutive merges
        // in one word ("x y x y" → "xy", "xy") still all fire.
        .select(concat(lit(" "), array_join(split(col("w"), ""), "  "), lit(" ")).as("sp"),
          col("cnt"))
        .write.mode("overwrite").parquet(s"$p/w0")
      var k = 1
      var exhausted = false
      while (k <= 3 && !exhausted) {
        val dict = spark.read.parquet(s"$p/w${k - 1}")
        val best: Array[Row] = dict
          .select(col("cnt"), split(trim(col("sp")), "  ").as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            // sequence() would DESCEND for 1-symbol rows; the filter above
            // guarantees size-1 never reaches it
            """transform(sequence(1, size(syms) - 1),
              |  i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))""".stripMargin))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("freq"))
          .orderBy(col("freq").desc, col("pair").asc)
          .limit(1).collect() // 1-row driver argmax seed per round
        if (best.isEmpty) {
          // every word is a single symbol: no pairs left — stop early, the
          // oracle's empty b_k CTE contributes no row either
          exhausted = true
        } else {
          val pair = best(0).getString(0)
          merges += ((k, pair, best(0).getLong(1)))
          // symbols never contain spaces, so the display pair splits back
          // into its two components unambiguously
          val Array(a, b) = pair.split(" ")
          dict.select(
              replace(col("sp"), lit(s" $a  $b "), lit(s" $a$b ")).as("sp"),
              col("cnt"))
            .write.mode("overwrite").parquet(s"$p/w$k")
        }
        k += 1
      }
      merges.toSeq.toDF("merge_idx", "pair", "freq")
        .write.mode("overwrite").parquet(s"$p/merges")
    }
  }

  /** q203: tokenizer compression-rate eval — THE metric a trained tokenizer
    * is judged by: corpus symbol count after the merges vs the character
    * baseline before them (tokens-per-character, integer ppm). Reads the
    * at-rest BPE state ([[bpeStatePath]]): `before` aggregates w0 (every
    * symbol a character), `after` aggregates the last materialized round's
    * dictionary — on a pair-exhausted corpus that is the unchanged dict,
    * matching the oracle's empty-merge fallback CTEs. One row out. */
  def bpeCompression(spark: SparkSession, dir: String): DataFrame = {
    val p = bpeStatePath(spark, dir)
    val lastRound = graft.engine.Fs.readParquet(spark, s"$p/merges")
      .agg(coalesce(max(col("merge_idx")), lit(0)).cast("int")).head().getInt(0)
    def symCount(path: String) =
      graft.engine.Fs.readParquet(spark, path).agg(
        count(lit(1)).as("n_word_types"),
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * size(split(trim(col("sp")), "  "))).as("syms"))
    val before = symCount(s"$p/w0")
      .select(col("n_word_types"), col("n_words"), col("syms").as("syms_before"))
    val after = symCount(s"$p/w$lastRound").select(col("syms").as("syms_after"))
    before.crossJoin(after)
      .select(col("n_word_types"), col("n_words"),
        col("syms_before"), col("syms_after"),
        expr("syms_after * 1000000 div syms_before").as("compression_ppm"))
  }
}
