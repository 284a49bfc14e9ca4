package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Pins, StreamShims}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Deduplication operator family — the LLM-training-data extension
  * surface (BASELINE.json north_star; motivated by the reference's
  * Common Crawl workload, ascii-hydra
  * `papers/multi_platform_orchestration/paper.md:141-144` "seed nodes
  * free of common problems" cleanup).
  *
  * All operators are declarative DataFrame programs built from
  * codegen'd built-ins and higher-order functions (`transform` /
  * `aggregate` / `array_*`) — zero UDFs, so whole-stage codegen spans
  * the hot path.
  *
  * Scale posture (100 TB): every candidate-generation step shuffles on
  * a *content-derived key* (hash / band / shingle), never on doc_id —
  * so the work distributes by data, and AQE handles skewed buckets.
  * The one known hazard is ultra-hot shingles/bands (stop-word-like
  * shingles shared by millions of docs); candidate fan-out is capped
  * by default at [[DefaultMaxDocFreq]] — standard df-filtering, with
  * the dropped count surfaced as an `observe()` metric.
  */
object Dedup {

  /** Default document-frequency cap on candidate-generation posting
    * lists (prefix-shingle lists in [[ngramJaccardPairs]], band
    * buckets in [[minHashLshPairs]], chunk buckets in
    * [[simHashPairs]]). An ultra-hot key — a stop-word shingle run or
    * boilerplate band shared by millions of docs — creates one posting
    * list whose pair emission is quadratic *inside a single task*; at
    * 100 TB that is the operator's only scale-killer, so the cap
    * defaults ON. 5000 ids ≈ 12.5M emitted pairs per hot key — the
    * most one task should absorb. [[postingPairs]] streams them as
    * 5000 generator rows of ≤ 5000 pairs each, so the cap bounds the
    * task's time, not one row's memory. Dropping is never silent: each
    * operator attaches an `observe()` metric (surfaced through
    * `QueryExecutionListener` / `DataFrame.observe` semantics) with
    * the dropped count. Verification stays exact, so the cap affects
    * recall only for pairs whose *every* shared candidate key is that
    * hot; true mass-duplicate floods belong to [[exactDedup]], which
    * handles them linearly. Pass `None` to disable. */
  val DefaultMaxDocFreq = 5000

  /** Distinct word n-gram shingles as `array<string>`.
    * Docs shorter than n words get an empty array. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val m = size(toks) - (n - 1) // shingle count
    when(m <= 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), m - lit(1)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** C1 — exact dedup via content hash: group on sha2(text) so the
    * shuffle key is a fixed-width 256-bit digest, not the full text
    * (at 100 TB the shuffle moves 32-byte keys + partial counts, and
    * map-side partial aggregation collapses intra-partition dups
    * before the exchange). Emits one row per distinct content with
    * the surviving doc_id (min) and the multiplicity. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** Distinct word n-gram shingles hashed to sorted 64-bit keys:
    * the canonical set representation all near-dup operators share
    * (8-byte shuffle keys; global sort order enables prefix
    * filtering; 64-bit collisions ≈ n²/2⁶⁵ — nil). One codegen'd
    * kernel pass, no shingle strings materialized
    * ([[graft.functions.ShingleHashes]]). */
  def hashedShingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingleHashes(split(text, " "), n)

  /** Every pair {(rs[i], rs[j]) : i < j} of each bucket's sorted
    * posting list: the one pair emitter of the dedup, similarity and
    * graph operators (c2, c3, c4, c8, c18, c19, g6). ONE aggregation
    * groups `id` by `bucketCols` into `rs = sort_array(collect_list(id))`;
    * the sort sits inside the aggregation, so no Filter the optimizer
    * infers for the generators can re-evaluate it (a sort in a Project
    * was copied into `InferFiltersFromGenerate`'s Filter: three sorts
    * per list). Lists of one id pair with nothing and are dropped;
    * lists above `cap` are dropped with an observe()d count
    * ([[capBuckets]]). Each surviving list emits through built-ins
    * alone, in one codegen'd stage: `posexplode(rs)` → (i, a), then
    * `explode(slice(rs, i + 2, size(rs) - i - 1))` → b. Any orderable
    * element type works (long, int, string, struct), and the rows one
    * list position emits are bounded by the list's length: the
    * quadratic mass of a cap-sized list streams through the
    * generators, never as one materialized pair array. Ascending
    * order makes each pair canonical (a ≤ b); an id listed twice in
    * one bucket pairs with itself. Returns (a, b).
    *
    * Metric caveat: if the WHOLE query comes back empty, AQE
    * empty-relation propagation may prune the subtree including the
    * CollectMetrics node, so the drop count is only reported on
    * queries that return rows — fine in practice (a corpus where
    * every candidate bucket is hot has no pairs to report anyway). */
  private[graft] def postingPairs(rows: DataFrame, bucketCols: Seq[String],
      id: Column, cap: Option[Int], metric: String): DataFrame = {
    val rs = col("rs")
    val i = col("i")
    capBuckets(
      rows.groupBy(bucketCols.map(col): _*)
        .agg(sort_array(collect_list(id)).as("rs"))
        .where(size(rs) > 1),
      cap, metric)
      .select(rs, posexplode(rs).as(Seq("i", "a")))
      .select(col("a"), explode(slice(rs, i + 2, size(rs) - i - 1)).as("b"))
  }

  /** The distinct id pairs of the `id` column's posting lists per
    * bucket ([[postingPairs]]), named (`aName`, `bName`) — the
    * candidate set of the LSH-family operators (c2/c4/c8/c18/c19),
    * whose exact verification follows. */
  private[ops] def cappedBucketPairs(rows: DataFrame, bucketCols: Seq[String],
      id: String, maxBucket: Option[Int], metric: String,
      aName: String, bName: String): DataFrame =
    postingPairs(rows, bucketCols, col(id), maxBucket, metric)
      .select(col("a").as(aName), col("b").as(bName))
      .distinct()

  /** The df-cap on a posting-list frame (`rs` per bucket): buckets
    * above the cap are dropped with an observe()d count of the
    * dropped buckets and postings (no silent caps). */
  private def capBuckets(buckets0: DataFrame, maxBucket: Option[Int],
      metric: String): DataFrame = maxBucket match {
    case Some(cap) =>
      val n = size(col("rs"))
      buckets0
        .observe(s"${metric}_gt$cap",
          sum(when(n > cap, 1L).otherwise(0L)).as("dropped_buckets"),
          coalesce(sum(when(n > cap, n.cast("long"))), lit(0L))
            .as("dropped_postings"))
        .where(n <= cap)
    case None => buckets0
  }

  /** The df-cap on (band, band_hash) signature postings — shared by
    * the index build and the probe's own batch: bands held by more
    * than the cap's docs are anti-joined away with an observe()d count
    * of the dropped bands and postings. */
  private def dropHotBands(banded: DataFrame, maxBucket: Option[Int],
      metric: String): DataFrame = maxBucket match {
    case Some(cap) =>
      val hot = banded.groupBy("band", "band_hash")
        .agg(count(lit(1)).as("df")).where(col("df") > cap)
        .observe(s"${metric}_gt$cap",
          count(lit(1)).as("dropped_bands"),
          coalesce(sum(col("df")), lit(0L)).as("dropped_postings"))
        .select("band", "band_hash")
      banded.join(hot, Seq("band", "band_hash"), "left_anti")
    case None => banded
  }

  private def jaccardVerify(cand: DataFrame, withSh: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 6))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** C4 — exact n-gram Jaccard near-dup pairs, AllPairs/PPJoin-style.
    *
    * Candidate generation uses **prefix filtering**: with shingle
    * sets sorted in one global order, two sets with
    * Jaccard ≥ t must share an element within each one's first
    * |A| − ⌈t·|A|⌉ + 1 elements — so only that prefix is exploded
    * into the inverted-index self-join (≈(1−t)·|A| rows instead of
    * |A|), cutting candidate pairs ~(1−t)² while keeping recall
    * exactly 1. Verification recomputes exact Jaccard on the full
    * sorted-hash arrays.
    *
    * Scale: shuffle key is the shingle hash; `maxDocFreq` optionally
    * drops ultra-hot prefix shingles from *candidate generation only*
    * (verification stays exact, so precision is unaffected; recall
    * drops only for pairs whose every shared prefix shingle is that
    * common). */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame = {
    // pre-filter on raw token count: a post-projection
    // `size(sh) > 0` gets inlined by predicate pushdown and the
    // kernel then runs twice per row (seen in a DumpPlans dump of c4:
    // Filter and Project both evaluating graft_shingle_hashes)
    val withSh = docs
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), hashedShingles(col("text"), n).as("sh"))
    val prefixLen =
      (size(col("sh")) - ceil(size(col("sh")) * lit(threshold)) + 1).cast("int")
    val pref0 = withSh
      .select(col("doc_id"), explode(slice(col("sh"), lit(1), prefixLen)).as("s"))
    // ONE aggregation builds the posting lists AND applies the df-cap
    // (round 16): a prefix shingle's document frequency IS its posting
    // list's length, so the separate hot-list aggregation + anti-join
    // (and the round-15 checkpoint that kept them from re-running the
    // shingle kernel twice, with its unreleasable-retention ADVICE) are
    // one `where(size(rs) <= cap)` on the single collect_list pass
    // ([[postingPairs]], the shape every pair emitter shares).
    // Plan diff: 2 corpus-posting aggregations + 1 anti-join +
    // 1 checkpoint job → 1 aggregation, zero checkpoints, and the gate
    // plan is visible again (no Scan ExistingRDD). §5 note: a hot
    // shingle's full list materializes in the aggregation before the
    // cap drops it — the same bounded exposure c2's band buckets
    // accepted from the start (ObjectHashAggregate falls back to
    // sort-based aggregation past its key threshold, and one list is
    // ≤ the hot key's df — the df-cap's own observability names the
    // mass that was dropped).
    val cand = cappedBucketPairs(pref0, Seq("s"), "doc_id",
      maxDocFreq, "graft_c4_hot_shingles", "doc_a", "doc_b")
    jaccardVerify(cand, withSh, threshold)
  }

  /** C2 — MinHash + LSH near-dup pairs (the subquadratic scale path
    * for C4's semantics).
    *
    * shingle → 128 min-hashes and 32 bands × 4 rows in one codegen
    * kernel pass ([[graft.functions.MinHashBands]]) → ONE
    * `collect_list` aggregation on (band, bandHash) builds each
    * bucket's id list → the bucket's pairs ([[cappedBucketPairs]]) →
    * *exact* Jaccard verification on the shingle arrays (so precision
    * is exact; only recall is probabilistic: P(miss) = (1−J⁴)³² ≈ 5e-8
    * at J = 0.8, ~0 at the fixture's planted J ≈ 0.99).
    *
    * Scale: signatures are 128 longs/doc regardless of doc size; the
    * only shuffles are the bucket aggregation (key = band hash) and
    * the verification joins (key = doc_id). A bucket above
    * `maxBucket` ids (the df-cap, [[DefaultMaxDocFreq]]) is a
    * mass-duplication flood, exactDedup territory: it is dropped with
    * an observe()d count rather than let its quadratic pair emission
    * pin one task. */
  def minHashLshPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 32,
      maxBucket: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame = {
    val withSh = docs
      .where(size(split(col("text"), " ")) >= n) // see ngramJaccardPairs note
      .select(col("doc_id"), hashedShingles(col("text"), n).as("sh"))
    // Signature + banding in ONE custom codegen expression
    // (graft.functions.MinHashBands): a single primitive loop
    // computes all `numHashes` mins and folds them into `bands`
    // bucket keys. The HOF spelling was (a) interpreted and (b) prone
    // to CollapseProject inlining the signature into the banding
    // lambda (128 minhashes recomputed per band — measured 134 s vs
    // ~1 s at sf0.01).
    val banded = withSh.select(
      col("doc_id"),
      posexplode(graft.functions.GraftFunctions
        .minHashBands(col("sh"), numHashes, bands))
        .as(Seq("band", "band_hash")))
    // Bucket by (band, bandHash) with ONE aggregation and emit pairs
    // from each bucket's id list — a banded-self-join would evaluate
    // the signature pipeline twice. Bucket lists are near-dup
    // clusters: tiny except for true mass duplication (where the
    // quadratic emission is the desired answer anyway).
    // df-cap (see [[DefaultMaxDocFreq]]): a bucket bigger than the cap
    // is a mass-duplication flood — exactDedup territory — whose
    // quadratic emission would pin one task.
    val cand = cappedBucketPairs(banded, Seq("band", "band_hash"), "doc_id",
      maxBucket, "graft_c2_hot_buckets", "doc_a", "doc_b")
    jaccardVerify(cand, withSh, threshold)
  }

  /** Persisted MinHash signature index — the daily-ingest half of
    * near-dup detection ([[minHashLshPairs]] recomputes the WHOLE
    * corpus per run; at 100 TB the corpus signatures must be computed
    * once, persisted, and PROBED by each new batch). Layout mirrors
    * the persisted IVF index ([[Similarity.buildIvfIndex]]):
    *
    *   - `sigs/bucket=B/` — (doc_id, band, band_hash) posting rows,
    *     Hive-partitioned by `bucket = pmod(hash(band, band_hash),
    *     nBuckets)`, one file per bucket (repartition before write):
    *     a probe touches only the buckets its own band hashes land
    *     in — partition-pruning IN filters, never a full index scan;
    *   - `shingles/` — (doc_id, sh) hashed shingle arrays for exact
    *     Jaccard verification of candidates (read only for matched
    *     doc_ids, joined on doc_id).
    *
    * Hot buckets (boilerplate bands shared by thousands of docs) are
    * dropped AT BUILD TIME with an observe()d count — same df-cap
    * discipline as [[DefaultMaxDocFreq]]; mass-dup floods belong to
    * [[exactDedup]]. */
  final case class SigIndex(dir: String, n: Int, threshold: Double,
      numHashes: Int, bands: Int, nBuckets: Int,
      maxBucket: Option[Int] = Some(DefaultMaxDocFreq))

  def buildSignatureIndex(docs: DataFrame, dir: String, n: Int = 3,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 32,
      nBuckets: Int = 64,
      maxBucket: Option[Int] = Some(DefaultMaxDocFreq)): SigIndex = {
    val withSh = docs
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), hashedShingles(col("text"), n).as("sh"))
    val banded = dropHotBands(signatureRows(withSh, numHashes, bands, nBuckets),
      maxBucket, "graft_sigindex_hot_bands")
    banded.repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/sigs")
    withSh.write.mode("overwrite").parquet(s"$dir/shingles")
    SigIndex(dir, n, threshold, numHashes, bands, nBuckets, maxBucket)
  }

  /** (doc_id, band, band_hash, bucket) rows for a shingled frame —
    * the one signature pipeline both build and probe must share (a
    * probe only joins buckets the SAME hash construction produces). */
  private def signatureRows(withSh: DataFrame, numHashes: Int, bands: Int,
      nBuckets: Int): DataFrame =
    withSh.select(
      col("doc_id"),
      posexplode(graft.functions.GraftFunctions
        .minHashBands(col("sh"), numHashes, bands))
        .as(Seq("band", "band_hash")))
      .withColumn("bucket", pmod(hash(col("band"), col("band_hash")),
        lit(nBuckets)))

  /** Incremental near-dup: pairs of `newDocs` against the indexed
    * corpus AND within the new batch, WITHOUT recomputing corpus
    * signatures — the new batch's signatures join the index's
    * partition-pruned posting buckets on (band, band_hash), then
    * candidates verify with exact Jaccard (precision exact, recall =
    * the LSH recall of [[minHashLshPairs]] with the same params).
    *
    * The probed bucket set is collected to the driver as the c10-style
    * bounded probe-id list (≤ nBuckets ints) and pushed as a
    * partition IN filter — the scan reads only matching `bucket=`
    * dirs (asserted in IncrementalDedupSpec). Cost scales with
    * |batch| + |matched postings|, never |corpus|. */
  def probeSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      idx: SigIndex, newDocs: DataFrame): DataFrame = {
    val withShNew = newDocs
      .where(size(split(col("text"), " ")) >= idx.n)
      .select(col("doc_id"), hashedShingles(col("text"), idx.n).as("sh"))
    val probe0 = signatureRows(withShNew, idx.numHashes, idx.bands, idx.nBuckets)
    // mirror the build-time df-cap on the batch's OWN postings: a hot
    // (boilerplate) band inside the batch would otherwise re-create on
    // the new×new side exactly the quadratic candidate blow-up the cap
    // prevents at build time — and make incremental results diverge
    // from a capped full recompute
    // reused: bucket collect + two join sides; stays pinned, because
    // the lazily returned pairs read it
    val probe = Pins.pin(
      dropHotBands(probe0, idx.maxBucket, "graft_sigprobe_hot_bands"))
    val probedBuckets = probe.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nBuckets
    val indexed = spark.read
      .option("basePath", s"${idx.dir}/sigs").parquet(s"${idx.dir}/sigs")
      .where(col("bucket").isin(probedBuckets: _*))
    // candidates: new signatures vs (pruned index ∪ new batch) —
    // covers new×old and new×new in one equi join on the band key
    val cand = probe
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_new"))
      .join(indexed.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_other"))
        .unionByName(probe.select(col("band"), col("band_hash"),
          col("doc_id").as("doc_other"))),
        Seq("band", "band_hash"))
      .where(col("doc_new") =!= col("doc_other"))
      .select(least(col("doc_new"), col("doc_other")).as("doc_a"),
        greatest(col("doc_new"), col("doc_other")).as("doc_b"))
      .distinct()
    // verification shingles: matched corpus docs come FROM THE INDEX
    // (no text re-shingling), new docs from the batch pipeline
    val allSh = spark.read.parquet(s"${idx.dir}/shingles")
      .unionByName(withShNew)
    jaccardVerify(cand, allSh, idx.threshold)
  }

  /** 64-bit SimHash of the token stream (frequency-weighted bit
    * votes): classic Charikar fingerprint — bit j of the output is 1
    * iff the sum over tokens of ±1 (sign = bit j of the token's
    * xxhash64) is positive. One codegen'd kernel pass per document
    * ([[graft.functions.SimHash64]]). */
  def simHash(text: Column): Column =
    graft.functions.GraftFunctions.simHash64(split(text, " "))

  /** C3 — SimHash near-dup pairs at Hamming distance ≤ maxHamming.
    *
    * Candidate generation by the pigeonhole principle: split the
    * 64-bit fingerprint into (maxHamming+1) chunks — any pair within
    * maxHamming must agree on at least one chunk, so bucket-joining on
    * (chunkIdx, chunkValue) has recall exactly 1. Verification is
    * exact Hamming via bit_count(xor). Deterministic end-to-end.
    *
    * Scale: one 8-byte fingerprint per doc; shuffle key = 16-bit
    * chunk value + index. (Not DuckDB-expressible — xxhash64 — so the
    * correctness gate records rows-only; ScalaTest covers semantics.) */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Option[Int] = Some(DefaultMaxDocFreq)): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPerChunk = 64 / chunks
    val fp = docs.select(col("doc_id"), simHash(col("text")).as("fp"))
    val banded = fp.select(
      col("doc_id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("fp"), c * lit(bitsPerChunk))
          .bitwiseAND(lit((1L << bitsPerChunk) - 1))))
        .as(Seq("chunk", "chunk_val")))
    // Bucket by (chunk, chunkValue) with ONE aggregation and emit
    // pairs from each bucket's sorted (doc_id, fp) list — the same
    // shape as c2/c4 (a banded self-join would evaluate the
    // fingerprint pipeline on both sides and shuffle doc rows twice).
    // The 8-byte fingerprint rides along in the bucket, so exact
    // Hamming verification happens inline with no re-join. df-cap:
    // see [[DefaultMaxDocFreq]].
    postingPairs(banded, Seq("chunk", "chunk_val"),
        struct(col("doc_id"), col("fp")), maxBucket, "graft_c3_hot_buckets")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** C11 — duplicate-CLUSTER assignment: connected components over a
    * near-dup pair graph, cluster id = min doc_id in the component.
    * Pair emission ([[minHashLshPairs]] et al.) is only half of a
    * production dedup pass — choosing ONE keeper per duplicate
    * *group* needs the transitive closure (A≈B, B≈C ⇒ {A,B,C} is one
    * cluster even when A≈C missed the threshold).
    *
    * The path is chosen by size. The pair set is pinned once
    * ([[pinPairs]]) and released before the call returns; an
    * `observe()` on the pin's job counts its rows,
    * its null ids and its id bytes. A pair set within [[LocalPairCap]]
    * pairs and [[LocalIdBytesCap]] id bytes is collected from the
    * cached blocks and one driver-side union-find finds its components
    * ([[localClusters]]). Larger graphs, which the driver cannot be
    * trusted to hold, run min-label propagation ([[labelPropagation]]),
    * which refuses by name when a component's diameter exceeds its
    * round bound. Both return `(doc_id,
    * cluster_id)` for every id that appears in a pair, with the same
    * schema, sorted by `doc_id`. A pair holding a null id is refused by
    * name. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val (p, rows, idBytes) = pinPairs(pairs)
    try {
      if (rows <= LocalPairCap && idBytes <= LocalIdBytesCap) localClusters(p)
      else labelPropagation(p, maxIters)
    } finally Pins.release(p)
  }

  /** The driver path's bounds: the most pairs, and the most id bytes
    * (summed over both ends, UTF-8 for strings, the type's width
    * otherwise), that [[dupClusters]] collects. Measured same-JVM on a
    * 4-vCPU VM with a 3 GB heap, over chains of 5 docs as
    * `graft.tools.ABProbe dup-clusters-cap` builds them: at 655,360 Long pairs the
    * driver path takes 6.5 s against the loop's 11.5 s and also runs in
    * a 1 GB heap; at 655,360 pairs of 24-byte String ids (31 MB) it
    * takes 9.7 s against 23.5 s; 100,000 pairs of 160-byte ids (32 MB)
    * run in a 1 GB heap in 2.8 s. Past the caps the driver path stops
    * paying: at 4,000,000 Long pairs both paths take 89-90 s, but the
    * union-find's result holds 2.1 GB of the 3 GB heap against the
    * loop's 0.7 GB. */
  private[graft] val LocalPairCap = 655360L
  private[graft] val LocalIdBytesCap = 32L << 20

  /** `(doc_a, doc_b)` of `pairs`, checkpointed once with its row count,
    * and the bytes of its ids, riding the same job: `pairs` is typically
    * a whole candidate-generation + verification pipeline
    * (minHashLshPairs in p1/c11/c14), which the distributed path would
    * otherwise evaluate twice. A global sort at the root of `pairs`
    * (every pair operator ends in one) is dropped first: component
    * labels do not depend on row order, and the sort would cost a
    * range-sampling job and a shuffle. A pair holding a null id is
    * refused by name. The caller releases the pin. */
  private[graft] def pinPairs(pairs: DataFrame): (DataFrame, Long, Long) = {
    val unsorted = StreamShims.analyzedPlan(pairs) match {
      case s: Sort if s.global => StreamShims.ofRows(pairs.sparkSession, s.child)
      case _ => pairs
    }
    val ab = unsorted.select(col("doc_a"), col("doc_b"))
    def width(c: String): Column = ab.schema(c).dataType match {
      case _: StringType | BinaryType => coalesce(octet_length(col(c)), lit(0))
      case t => lit(t.defaultSize)
    }
    val obs = Observation()
    val p = Pins.pin(ab
      .observe(obs, count(lit(1)).as("rows"),
        count_if(col("doc_a").isNull || col("doc_b").isNull).as("nulls"),
        coalesce(sum(width("doc_a") + width("doc_b")), lit(0L)).as("bytes")))
    val stats = obs.get
    val nulls = stats("nulls").asInstanceOf[Long]
    if (nulls > 0) {
      Pins.release(p)
      throw new IllegalArgumentException(
        s"dupClusters: $nulls pairs hold a null doc id; a null is no document")
    }
    (p, stats("rows").asInstanceOf[Long], stats("bytes").asInstanceOf[Long])
  }

  /** The ends of the pinned pairs as one `(src, dst)` edge list, both
    * directions; its column type is the wider of the two ends'. */
  private def symmetric(p: DataFrame): DataFrame =
    p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** The driver-side path of [[dupClusters]]: the pairs are collected,
    * their distinct ids sorted under the column type's interpreted
    * ordering (the ordering `min` uses) and numbered densely, and a
    * union-find over int arrays links each pair, the root always the
    * smaller index (so the component's minimum id), with path
    * compression. The result is a LocalRelation already sorted by
    * `doc_id`, typed like the distributed path's output. */
  private[graft] def localClusters(p: DataFrame): DataFrame = {
    val id = symmetric(p).schema("src")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(id.dataType)
    val ord = TypeUtils.getInterpretedOrdering(id.dataType)
    val ends = p.select(col("doc_a").cast(id.dataType), col("doc_b").cast(id.dataType))
      .collect().flatMap(r => Iterator(toCatalyst(r.get(0)), toCatalyst(r.get(1))))
    val sorted = ends.sorted(ord)
    val ids = sorted.indices
      .collect { case i if i == 0 || ord.compare(sorted(i - 1), sorted(i)) != 0 => sorted(i) }
      .toArray
    def index(v: Any): Int = java.util.Arrays.binarySearch(
      ids.asInstanceOf[Array[AnyRef]], v.asInstanceOf[AnyRef],
      ord.asInstanceOf[Ordering[AnyRef]])
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    for (k <- ends.indices by 2) {
      val (ra, rb) = (find(index(ends(k))), find(index(ends(k + 1))))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // the relation holds the catalyst values the union-find already
    // has, each id object shared by its own row and its members' rows
    val out = Seq("doc_id", "cluster_id")
      .map(AttributeReference(_, id.dataType, id.nullable)())
    StreamShims.ofRows(p.sparkSession, LocalRelation(out,
      ids.indices.map(i => InternalRow(ids(i), ids(find(i))))))
  }

  /** The distributed path of [[dupClusters]]: iterative min-label
    * propagation (Pregel-style CC). Each round every vertex takes the
    * min of its own label and its neighbours' labels; a round is two
    * shuffles over the EDGE set (only documents that have at least one
    * near-dup) and its labels are pinned ([[Pins]]) so lineage stays
    * flat; each superseded round's labels are released. The round's
    * changed-label count is an `observe()` on that same pin job, so
    * convergence costs no extra job. Rounds
    * grow with the component diameter: if `maxIters` rounds end with a
    * label still changing, the call refuses by name rather than return
    * partial labels. */
  private[graft] def labelPropagation(p: DataFrame, maxIters: Int): DataFrame = {
    val edges = Pins.pin(symmetric(p)) // reused every round
    var labels = Pins.pin(edges.select(col("src").as("doc")).distinct()
      .select(col("doc"), col("doc").as("cluster_id")))
    var changed = -1L
    var iter = 0
    while (changed != 0 && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc", "src"), "src")
        .groupBy(col("dst").as("doc"))
        .agg(min(col("cluster_id")).as("nmin"))
      // labels propagate MINIMA, so a node changed iff its neighbor-min
      // strictly undercuts its label — next ≠ prev, computed in the
      // same pass and counted by the round's own checkpoint job
      val obs = Observation()
      val next = Pins.pin(labels.join(neighborMin, Seq("doc"), "left")
        .select(col("doc"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nmin"), col("cluster_id")) < col("cluster_id"))
            .as("changed"))
        .observe(obs, count_if(col("changed")).as("changed"))
        .select("doc", "cluster_id"))
      changed = obs.get("changed").asInstanceOf[Long]
      Pins.release(labels)
      labels = next
      iter += 1
    }
    Pins.release(edges)
    if (changed != 0) {
      Pins.release(labels)
      throw new IllegalStateException(s"dupClusters: labels still changing " +
        s"after $maxIters rounds; a component's diameter exceeds the round " +
        "bound, and partial labels would split it")
    }
    // the final labels stay pinned: the returned frame reads them lazily
    labels.select(col("doc").as("doc_id"), col("cluster_id")).orderBy("doc_id")
  }

  /** C16 — benchmark decontamination: flag training documents sharing
    * ≥ `minShared` distinct word `n`-grams with an evaluation set
    * (the GPT-3/Pile decontamination step — training on eval text
    * silently inflates benchmarks). The benchmark's distinct shingle
    * set is eval-set-sized — SMALL by definition — so it broadcasts
    * and the corpus streams past it once, embarrassingly parallel:
    * the join that stays right at 100 TB of training text. Shingles
    * are the hashed kernel's ([[hashedShingles]] — 64-bit, per-doc
    * distinct); overlap COUNTS are hash-invariant, so the DuckDB twin
    * replays them with string shingles (the c4 precedent). */
  def contaminatedDocs(docs: DataFrame, benchmark: DataFrame,
      n: Int = 5, minShared: Int = 3): DataFrame = {
    val bShingles = benchmark
      .where(size(split(col("text"), " ")) >= n)
      .select(explode(hashedShingles(col("text"), n)).as("sh"))
      .distinct()
    docs
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), explode(hashedShingles(col("text"), n)).as("sh"))
      .join(broadcast(bShingles), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_id")
  }

  /** C20 — decontamination against a benchmark TOO BIG to broadcast
    * row-wise: [[contaminatedDocs]] broadcasts the benchmark's
    * distinct shingle SET, which a composite eval suite (hundreds of
    * benchmarks × contamination-window n-grams) can push into the
    * tens of GB. This path compresses the set into a BLOOM FILTER —
    * ~9.6 bits per shingle at fpp 1 % (Bloom's m = −n·ln p / ln²2),
    * so 100 M benchmark shingles ride in ~120 MB whatever the row
    * count — and keeps the single corpus pass:
    *
    *   1. the benchmark's distinct shingles aggregate into ONE filter
    *      ([[buildShingleBloom]] — per-partition sketch filters
    *      OR-merged like any partial agg);
    *   2. the filter lands on the driver (filter-sized, the t17
    *      broadcast-weights discipline) and probes the corpus as a
    *      codegen'd `BloomFilterMightContain` literal — one map-side
    *      pass, no shuffle, no row-wise broadcast;
    *   3. surviving candidates (true hits + fpp × corpus shingles)
    *      verify EXACTLY against the benchmark shingles with the
    *      plain join — now candidate-bounded, so AQE picks its
    *      strategy from the post-filter size.
    *
    * Bloom filters have NO false negatives and step 3 removes the
    * false positives, so the result is IDENTICAL to
    * [[contaminatedDocs]] — the gate shares its oracle. Filters past
    * `maxFilterBytes` (default 256 MB) refuse by name: past that,
    * shard the benchmark or revisit fpp — a silent multi-GB literal
    * would stress the driver exactly like the row-wise broadcast this
    * operator exists to avoid (driver heap is the cap that actually
    * binds: the sketch build below has no analysis-time item limit,
    * unlike `BloomFilterAggregate`, whose
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` default of
    * 4 M shingles would refuse exactly the scale regime this operator
    * exists for).
    *
    * The benchmark shingle set is CACHED across the build and the
    * verify join (benchmark-sized by contract — the same budget the
    * filter itself rides): count, filter aggregation, and step 3 all
    * read the one materialization instead of re-shingling the
    * benchmark three times. */
  def contaminatedDocsBloom(docs: DataFrame, benchmark: DataFrame,
      n: Int = 5, minShared: Int = 3, fpp: Double = 0.01,
      maxFilterBytes: Long = 256L * 1024 * 1024): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    val bShingles = benchmark
      .where(size(split(col("text"), " ")) >= n)
      .select(explode(hashedShingles(col("text"), n)).as("sh"))
      .distinct()
      .persist()
    // one benchmark-sized count sizes the filter; m = −n ln p / ln²2
    val nB = math.max(1L, bShingles.count())
    val numBits = math.max(64L, math.ceil(
      -nB * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    require(numBits / 8 <= maxFilterBytes,
      s"decontamination Bloom filter would need ${numBits / 8 / (1 << 20)}" +
        s" MiB for $nB benchmark shingles at fpp=$fpp — past " +
        s"maxFilterBytes; shard the benchmark, raise fpp, or use " +
        "contaminatedDocs (row-wise broadcast)")
    val bf = buildShingleBloom(bShingles, nB, numBits)
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(bf, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(col("sh"))))
    docs
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), explode(hashedShingles(col("text"), n)).as("sh"))
      .where(mightContain)
      .join(bShingles, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_id")
  }

  /** Distributed Bloom build over a single long `sh` column via the
    * sketch kernel (`org.apache.spark.util.sketch.BloomFilter` —
    * per-partition filters OR-merged up a tree), serialized to the
    * exact byte layout `BloomFilterMightContain` deserializes
    * (`BloomFilter.readFrom` — the same `BloomFilterImpl`
    * `putLong`/`mightContainLong` hashing on both sides, so build and
    * probe agree bit-for-bit). Unlike `BloomFilterAggregate`, this
    * path has NO `runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * analysis cap — a 100 M-shingle benchmark builds its ~120 MB
    * filter without touching session confs; [[contaminatedDocsBloom]]'s
    * own `maxFilterBytes` guard is the only (driver-heap) limit.
    * (`df.stat.bloomFilter` is NOT usable here: Spark 4 routes it
    * through the same `BloomFilterAggregate`, which silently CLAMPS
    * to `maxNumBits` — measured: a 76.7 Mbit request came back
    * 67.1 Mbit — so past ~7 M shingles the fpp quietly degrades and
    * the candidate verify join blows up instead.) */
  private[graft] def buildShingleBloom(bShingles: DataFrame, nB: Long,
      numBits: Long): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val seqOp = (f: BloomFilter, v: Long) => {
      val g = if (f == null) BloomFilter.create(nB, numBits) else f
      g.putLong(v); g
    }
    val combOp = (a: BloomFilter, b: BloomFilter) =>
      if (a == null) b else if (b == null) a
      else { a.mergeInPlace(b); a }
    val bf = Option(bShingles.select(col("sh"))
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).rdd
        .treeAggregate(null: BloomFilter)(seqOp, combOp, depth = 2))
      .getOrElse(BloomFilter.create(nB, numBits)) // empty benchmark
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** C17 — substring-level exact dedup (the Lee-et-al "Deduplicating
    * Training Data" span dedup, shingle-cover form): remove every
    * duplicated run of `k` consecutive tokens that also appears
    * elsewhere in the corpus, keeping exactly the FIRST occurrence
    * (lexicographic (doc_id, pos)) — the highest-impact dedup for LLM
    * corpora after doc-level, because boilerplate/license/header spans
    * repeat across millions of otherwise-distinct pages.
    *
    * Plan shape (the c16 shingle discipline, positional flavor):
    * positional k-token shingles hash map-side in ONE lambda
    * projection (no shingle strings shuffle — 16-byte 128-bit keys,
    * collision-free at 10^12 shingles);
    * one aggregation per shingle finds occurrence count and the
    * canonical occurrence via lexicographic `min` — a partial-agg
    * cell per shingle, never a posting LIST, so a pathological hot
    * shingle (the 100 TB boilerplate case) costs O(1) state instead
    * of a mega-bucket; non-canonical occurrences of duplicated
    * shingles ship back as per-doc removal-span lists (duplicated-
    * mass-sized — the shuffle is ∝ duplicated text, not corpus²);
    * one map-side lambda filter drops covered token positions and
    * rebuilds the cleaned text. Returns every doc with
    * (tokens_before, tokens_after, text); unaffected docs pass
    * through with text byte-identical.
    *
    * The DuckDB twin replays the same definition with STRING shingles
    * (hash-invariant grouping, the c4/c16 precedent). */
  def dedupSpans(docs: DataFrame, k: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"),
      split(col("text"), " ").as("__toks"))
    // 128-bit fingerprint: two independently-seeded chained-XXH64
    // lanes in ONE codegen kernel pass per document
    // ([[graft.functions.VectorKernels.spanFingerprints]]). A single
    // 64-bit key has expected birthday collisions in the tens of
    // thousands at the 10^12-shingle scale this targets, and a
    // collision DELETES legitimate text; at 128 bits the expectation
    // is ~10^-14. The fingerprint VALUES are a grouping key only
    // (never surfaced; the oracle replays the grouping with string
    // shingles), so the round-15 kernel — per-token hashes computed
    // once, windows chain-hashed — replaces the interpreted
    // `transform(..., xxhash64(array_join(slice(...))))` spelling
    // that built every k-token shingle string twice per position
    // (measured 3.6 s → see OPTIMIZATION_r15.md, c17).
    val occ = toks
      .where(size(col("__toks")) >= k)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions
          .spanFingerprints(col("__toks"), k)).as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"),
        col("o.h").as("h"), col("o.h2").as("h2"))
    val dup = occ.groupBy("h", "h2")
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("canon"))
      .where(col("n") > 1)
    val spans = occ.join(dup, Seq("h", "h2"))
      .where(!(col("doc_id") === col("canon.doc_id") &&
        col("pos") === col("canon.pos")))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("__spans"))
    // rebuild: merged-interval sweep kernel (codegen) instead of the
    // interpreted O(tokens × spans) filter/exists lambda; token i is
    // dropped iff some span p has p <= i < p + k — same predicate
    toks.join(spans, Seq("doc_id"), "left")
      .withColumn("__kept",
        when(col("__spans").isNull, col("__toks"))
          .otherwise(graft.functions.GraftFunctions
            .spanFilter(col("__toks"), col("__spans"), k)))
      .select(col("doc_id"),
        size(col("__toks")).as("tokens_before"),
        size(col("__kept")).as("tokens_after"),
        array_join(col("__kept"), " ").as("text"))
  }

  /** C14 — canonical-document selection: after clustering (c11 /
    * [[dupClusters]]), keep ONE representative per duplicate cluster
    * — the longest text, ties to the lowest doc_id (the standard
    * "keep best duplicate" dedup finisher; swap the `len` expression
    * for any quality score with the same shape). One equi join of the
    * (small) cluster assignment against the doc table plus one
    * map-side-partial `max_by` aggregation — no window holding a
    * cluster's members in one partition, so a pathological mega-
    * cluster (the spam case) still aggregates distributed. */
  def canonicalDocs(clusters: DataFrame, docs: DataFrame): DataFrame =
    clusters
      .join(docs.select(col("doc_id"),
        length(col("text")).cast("int").as("len")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("doc_id").as("canon_doc_id"),
            col("len").as("canon_len")),
          struct(col("len"), -col("doc_id"))).as("c"))
      .select(col("cluster_id"), col("c.canon_doc_id"),
        col("c.canon_len"), col("n_members"))
      .orderBy("cluster_id")
}
