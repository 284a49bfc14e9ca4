package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operator family for training-data pipelines
  * (BASELINE.json north_star; the reference tags documents with
  * `main_language=` partition values and ships spark-nlp for text
  * work — ascii-hydra `src/.../pipes/utils.py:56-62`,
  * `resources/spark.py:67`).
  *
  * Every operator is a single-pass projection of codegen'd built-ins
  * over the text column — at 100 TB these run map-side with zero
  * shuffle, so throughput is bounded by parquet scan speed. Each has
  * an exact DuckDB-SQL oracle (see [[graft.SparkEntry.oracleSql]]).
  */
object TextOps {

  /** Marker stopword lists per language — retained for the
    * stopword-ratio quality feature ([[qualityScore]]); language ID
    * itself uses the character-n-gram profiles below. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "y", "es", "que"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Rank-ordered character-n-gram profiles per language — the
    * Cavnar–Trenkle model data (public method; grams drawn from the
    * published most-frequent lists for each language). Latin
    * languages profile trigrams with spaces (word boundaries count);
    * Chinese degrades to unigrams (hanzi are morpheme-level — the
    * standard CT adaptation for unsegmented CJK). A gram at rank r in
    * a K-gram profile scores K−r points per occurrence. This data is
    * the single source of truth: the Spark kernel
    * ([[graft.functions.LangProfileIndex]]) and the generated DuckDB
    * oracle both derive from it. */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "he ", "ing", "and", " an", "nd ", " of",
      "of ", "ion", "ed ", " to", "to ", "tio", " in", "is ", "on ",
      "at ", "er ", "ent"),
    "de" -> Seq("en ", "er ", " de", "der", "ie ", "ch ", "sch", "die",
      "und", " un", "ein", "ich", "ung", " ge", "cht", "ten", " di",
      "ber", "gen", "ne "),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "el ", " el", "que",
      " qu", "ue ", "ión", "ón ", "ado", " co", "nte", " en", "ent",
      "as ", "ara", "ien"),
    "fr" -> Seq(" de", "de ", "es ", " le", "le ", "ent", "nt ", " la",
      "la ", "et ", " et", "ion", "re ", " pa", "eur", "les", " co",
      "que", "ais", "ur "),
    "zh" -> Seq("的", "是", "了", "在", "和", "一", "不", "有", "人", "我"))

  /** The plan-shipped profile model (built once per JVM). */
  lazy val langProfileIndex = new graft.functions.LangProfileIndex(trigramProfiles)

  /** The languages in argmax precedence order (ties go to the earlier
    * one), as [[trigramProfiles]] lists them. */
  private val langNames = trigramProfiles.map(_._1)

  /** The per-language profile scores of a text column, in
    * [[trigramProfiles]] order — one codegen kernel pass
    * ([[graft.functions.LangScores]]); null for a null text. */
  def langScores(text: Column): Column =
    graft.functions.GraftFunctions.langScores(lower(text), langProfileIndex)

  /** The predicted language of a score array: the argmax with ties to
    * the earlier language in [[trigramProfiles]] (so all-zero scores
    * give "en"), and the last language, "zh", for null scores.
    * Spelled as `array_max` over (score, precedence) structs so
    * `scores` appears once: a Filter inlines the projection that
    * computes it, and `FilterExec` does no subexpression elimination,
    * so a chain naming each score would run the kernel once per
    * reference. The index is never null: generated code for
    * `element_at` with a null index returns an element, not null, in
    * a Filter (Spark 4.1). */
  def langPred(scores: Column): Column = {
    val n = langNames.size
    val precedence = array((n - 1 to 0 by -1).map(lit): _*)
    element_at(array(langNames.reverse.map(lit): _*),
      coalesce(array_max(arrays_zip(scores, precedence)).getField("1"), lit(0)) + 1)
  }

  /** T1 — language identification by character-n-gram profile scoring
    * (Cavnar–Trenkle): score = Σ over every n-gram occurrence of the
    * gram's rank weight, prediction = argmax with a fixed precedence
    * order (en > de > es > fr > zh on ties) so the result is
    * deterministic and SQL-replicable ([[langPred]]). One codegen
    * kernel pass scores all languages ([[langScores]]); emits the
    * scores so the oracle checks the whole computation, not just the
    * argmax. Map-side projection — zero shuffle at any scale. */
  def langId(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), langScores(col("text")).as("scores"))
      .select(col("doc_id") +: col("lang") +:
        langNames.zipWithIndex.map { case (l, i) =>
          element_at(col("scores"), i + 1).as(s"s_$l")
        } :+ langPred(col("scores")).as("lang_pred"): _*)
      .orderBy("doc_id")

  /** Whitespace tokens of a text column. */
  def nTokens(text: Column): Column = size(split(text, " "))

  /** Mean word length, rounded to 6 places: non-space characters
    * over tokens. */
  private def meanWordLen(text: Column): Column =
    round((length(text) - (nTokens(text) - lit(1))).cast("double") / nTokens(text), 6)

  /** Share of tokens on the [[langMarkers]] stopword lists, rounded
    * to 6 places. */
  private def stopwordRatio(text: Column): Column =
    round(markerCount(split(text, " "), langMarkers.flatMap(_._2)).cast("double") /
      nTokens(text), 6)

  /** The T2 quality score ([[qualityScore]]) from its three features:
    * a length factor times a stopword and a word-length penalty. */
  private def quality(nTokens: Column, stopwordRatio: Column, meanWordLen: Column): Column =
    round(least(lit(1.0), nTokens / lit(50.0)) *
      when(stopwordRatio > 0.05, 1.0).otherwise(0.7) *
      when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5), 6)

  /** The T2 quality score of a text column. */
  def quality(text: Column): Column =
    quality(nTokens(text), stopwordRatio(text), meanWordLen(text))

  /** T2 — quality scoring: the standard cheap filters (length, mean
    * word length, punctuation density, stopword ratio) combined into
    * one score ([[quality]]). One projection, no shuffle. The score
    * reads the projected features, so the interpreted stopword `filter`
    * runs once per row. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val text = col("text")
    docs.select(
      col("doc_id"),
      length(text).as("n_chars_m"),
      nTokens(text).as("n_tokens"),
      meanWordLen(text).as("mean_word_len"),
      (length(text) - length(regexp_replace(text, "[.,;:!?]", "")))
        .as("n_punct"),
      stopwordRatio(text).as("stopword_ratio"))
      .withColumn("quality",
        quality(col("n_tokens"), col("stopword_ratio"), col("mean_word_len")))
      .orderBy("doc_id")
  }

  /** T3 — token counting: whitespace tokens vs a BPE-ish regex
    * tokenizer (letter runs | digit runs | single non-alnum), plus
    * the distinct-token count. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val lower_ = lower(col("text"))
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(regexp_extract_all(lower_, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("re_tokens"),
      size(array_distinct(split(lower_, " "))).as("distinct_tokens"))
      .orderBy("doc_id")
  }

  /** T4 — document fingerprinting: whole-content md5 (after
    * lower/trim normalization) + a winnowing-style shingle
    * fingerprint (min md5-prefix over word 5-grams — the rolling-hash
    * minimum used by MOSS-style dedup). md5 so the DuckDB oracle can
    * reproduce it byte-for-byte; docs shorter than 5 words get a null
    * shingle fingerprint. */
  /** T5 — URL/domain normalization (the reference's surt tooling,
    * ascii-hydra `resources/databricks.py:77`): host extraction,
    * registrable-domain heuristic (last two labels), and the SURT
    * canonical form (reversed host labels + path) used to
    * partition/sort web corpora. The fixtures carry no URL column, so
    * the gated query synthesizes one from (source, doc_id) — the
    * operator itself takes any URL column. */
  def urlNormalize(df: DataFrame, urlCol: String): DataFrame = {
    df
      .withColumn("host", regexp_extract(col(urlCol), "^[a-z]+://([^/]+)", 1))
      .withColumn("upath", regexp_extract(col(urlCol), "^[a-z]+://[^/]+(/.*)?$", 1))
      .withColumn("domain",
        concat_ws(".", slice(split(col("host"), "\\."), -2, 2)))
      .withColumn("surt", concat(
        concat_ws(",", reverse(split(col("host"), "\\."))), lit(")"),
        col("upath")))
  }

  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = lower(trim(col("text")))
    docs.select(
      col("doc_id"),
      md5(norm).as("content_fp"),
      // one codegen'd kernel pass (graft.functions.WinnowFingerprint);
      // the HOF spelling re-split the text per shingle and md5'd in
      // interpreted eval — 228 s at sf0.1 vs ~1 s
      graft.functions.GraftFunctions
        .winnowFingerprint(split(norm, " "), 5).as("winnow_fp"))
      .orderBy("doc_id")
  }

  /** T6 — string/regex scalar battery over the documents table: the
    * text-wrangling surface a cleaning pipeline leans on beyond
    * [[qualityScore]]'s ratios — global regex removal, fixed-position
    * token extraction, edit distance, char translation, padding. All
    * built-ins (codegen'd), one map-side projection, no shuffle until
    * the ordering. Semantics chosen to match DuckDB exactly (its
    * regexp_replace needs the 'g' flag for the same global behavior;
    * Spark is global by default). */
  /** T7 — per-document top-k term weighting (tf–idf family): weight =
    * tf × (N / df). The idf factor is the RATIONAL form, not
    * ln(N/df): IEEE division and multiplication are correctly
    * rounded, so the weight is bit-identical across engines and the
    * DuckDB oracle can gate it exactly — a transcendental idf would
    * be at the mercy of two libm implementations' last ulp. Ordering
    * (weight desc, term asc) makes the top-k deterministic.
    *
    * Scale: one shuffle on (doc_id, term) for tf, one on term for df
    * (both map-side partial), df re-joined tf-side; N rides in as a
    * broadcast 1-row aggregate — no driver action. The per-doc top-k
    * is a window over the doc's OWN terms (bounded by doc length). */
  def termWeights(docs: DataFrame, k: Int = 3): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("weight").desc, col("term").asc)
    tf.join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("weight",
        col("tf") * (col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), round(col("weight"), 6).as("weight"),
        col("rnk").cast("int").as("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** T18b — BM25 ranked retrieval over the corpus (Robertson–Spärck
    * Jones probabilistic weighting, the Lucene-default scoring): the
    * retrieval pass a curation pipeline runs to pull training
    * documents matching a quality/topic probe query. For each doc
    * containing a query term,
    *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    *   idf(t) = ln(1 + (N−df+0.5)/(df+0.5))
    * — exact doubles, 6dp-rounded like every float gate. The plan is
    * pure relational: tokenize once, tf/dl per doc, df per term, the
    * tiny (N, avgdl) scalar broadcast, then a semi-filtering join
    * against the query terms (a probe list, broadcast) — at corpus
    * scale the only data-sized shuffle is the tf groupBy; everything
    * downstream is term-bounded. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val scored = bm25Scores(docs, queryTerms, k1, b)
    // distributed top-k (TakeOrderedAndProject — per-partition k-heaps,
    // never a global single-partition window over every matching doc);
    // the rank label is assigned over the k-row RESULT
    scored
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), round(col("score"), 6).as("bm25"),
        col("n_terms_hit"), col("rnk").cast("int").as("rnk"))
      .orderBy("rnk")
  }

  /** The raw (unrounded) per-doc BM25 scores — the scoring core of
    * [[bm25TopK]], exposed so specs can probe cutoff gaps and
    * rounding-boundary distances on the exact doubles the gate
    * rounds. */
  private[graft] def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val q = docs.sparkSession.range(1)
      .select(explode(array(queryTerms.map(lit): _*)).as("term"))
    // candidate (doc, term) rows: term-bounded — docs containing a
    // query term, each with its tf and the term's df attached
    val hits = tf
      .join(broadcast(q), "term")
      .join(broadcast(dft.join(broadcast(q), "term")), "term")
    // the scoring join's broadcast decision is left to AQE ON
    // PURPOSE: for a probe-sized query the candidate set is tiny and
    // AQE's runtime size stat converts this to a broadcast-hash join
    // (dl streams out of its own doc_id aggregation, no re-exchange —
    // same plan a forced hint gave), but for a STOP-WORD query the
    // hit set is corpus-sized and a forced broadcast() would OOM the
    // driver where the shuffled join degrades gracefully. AQE's
    // post-shuffle statistics ARE the candidate-count bound — exact,
    // measured at runtime, no extra corpus pass to pre-count df.
    val scored = dl
      .join(hits, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("norm", col("tf").cast("double") * lit(k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) +
          lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum(col("idf") * col("norm")).as("score"),
        count(lit(1)).as("n_terms_hit"))
    scored
  }

  /** T22 — broadcast phrase tagging (blocklist / taxonomy
    * annotation): match a driver-sized phrase dictionary against
    * every document in ONE corpus pass — the Aho-Corasick-shaped
    * annotator every curation pipeline runs (blocklists, topic
    * lexicons, licence markers). Spark-first spelling: per n-gram
    * ORDER the dictionary actually contains (a handful), enumerate
    * the document's n-grams as string slices
    * (`transform(sequence)+slice+array_join` — codegen'd, the c17
    * shingle kernel) and hash-join them against the BROADCAST
    * dictionary. Cost ∝ tokens × |distinct orders|; no candidate
    * blowup exists (an n-gram matches at most one dictionary row),
    * and the corpus never shuffles — only (doc, phrase) hit groups
    * do. */
  def tagPhrases(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase dictionary must not be empty")
    val spark = docs.sparkSession
    val dict = phrases.distinct.map(p => (p, p.split(" ").length))
    val dictDf = spark.createDataFrame(dict).toDF("phrase", "n")
    val orders = dict.map(_._2).distinct.sorted
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
    val grams = orders.map { n =>
      toks.where(size(col("__toks")) >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(__toks) - $n), " +
            s"i -> array_join(slice(__toks, i + 1, $n), ' '))")).as("gram"))
        .withColumn("n", lit(n))
    }.reduce(_ unionAll _)
    grams.join(broadcast(dictDf),
        grams("gram") === dictDf("phrase") && grams("n") === dictDf("n"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id", "phrase")
  }

  /** T15 — n-gram LM perplexity filtering (the CCNet step: score
    * every document against a language model trained on a trusted
    * reference slice; junk scores high and is dropped — the standard
    * quality filter between heuristics and model-based scoring).
    * Model = word-bigram LM with add-`k` smoothing over the
    * reference: P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V), V = reference
    * vocabulary + 1 OOV slot. Score = average negative log-prob of
    * the document's adjacent word pairs (monotone in perplexity —
    * exp(avg_nll) — without the cross-engine exp).
    *
    * Scale shape: the model is REFERENCE-sized (bounded vocabulary),
    * so both scoring joins broadcast and the corpus streams past
    * once, embarrassingly parallel — the c16 decontamination
    * discipline. Determinism: per-pair log-probs round to 6dp and
    * sum as DECIMAL (the t2 discipline), so the DuckDB twin replays
    * the identical arithmetic from the same relational model. */
  def lmPerplexity(docs: DataFrame, reference: DataFrame,
      k: Double = 0.1): DataFrame = {
    def pairs(df: DataFrame, keep: Column*): DataFrame = df
      .withColumn("__t", split(col("text"), " "))
      .where(size(col("__t")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(1, size(__t) - 1), i -> " +
          "named_struct('w1', element_at(__t, i), " +
          "'w2', element_at(__t, i + 1)))")).as("p"): _*)
      .select(keep :+ col("p.w1") :+ col("p.w2"): _*)
    val bigrams = pairs(reference)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val unigrams = reference
      .select(explode(split(col("text"), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    // V is a MODEL-sized scalar (the c10 probe-id discipline): one
    // bounded driver count instead of a 1-row nested-loop join in
    // every scoring plan
    val v = unigrams.count() + 1L
    pairs(docs, col("doc_id"))
      .join(broadcast(bigrams), Seq("w1", "w2"), "left")
      .join(broadcast(unigrams), Seq("w1"), "left")
      .withColumn("lp", round(
        log((coalesce(col("c2"), lit(0L)) + lit(k)) /
            (coalesce(col("c1"), lit(0L)) + lit(k) * lit(v))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        // the exact DECIMAL sum divides AS DOUBLE, matching the DuckDB
        // twin bit-for-bit (DuckDB DECIMAL/BIGINT yields DOUBLE): a
        // Spark decimal-exact quotient rounds x.xxxxxx5 UP where the
        // double quotient is x.xxxxxx49999… and rounds DOWN — a real
        // sf0.001 knife edge (doc 169: 40.784046/12; found round 15,
        // pre-existing). Sum stays decimal, so partitioning/summation
        // order still cannot move the result.
        round((-sum(col("lp").cast("decimal(18,6)"))).cast("double") /
          count(lit(1)), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  def stringBattery(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(split(col("text"), " "), 1).as("first_token"),
      instr(col("text"), "the").cast("int").as("the_pos"),
      levenshtein(col("source"), col("lang")).cast("int").as("lev_src_lang"),
      translate(col("source"), "aeiou", "AEIOU").as("src_translated"),
      lpad(col("source"), 12, "*").as("src_padded"),
      reverse(col("source")).as("src_reversed"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[aeiou]", "")))
        .cast("int").as("n_vowels"))
      .orderBy("doc_id")
}
