package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Embedding similarity search over `array<float>` columns — the
  * north_star ANN surface (BASELINE.json), designed for a corpus that
  * doesn't fit one node.
  *
  * Vector math is pure higher-order-function arithmetic
  * (`zip_with` product + `aggregate` sum) — codegen'd, no UDFs, no
  * per-row JVM object churn. Everything computes in double to match
  * the DuckDB oracle bit-for-bit before 6dp rounding.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two float arrays, in double — custom codegen
    * expression ([[graft.functions.DotProduct]]): the HOF spelling
    * (`aggregate(zip_with(...))`) is interpreted, not codegen'd, and
    * measured ~30× slower on the sf0.1 all-pairs scan. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotProduct(a, b)

  /** ‖a‖₂ in double — codegen kernel (the HOF `aggregate` spelling is
    * interpreted; see [[dot]]). */
  def l2Norm(a: Column): Column =
    graft.functions.GraftFunctions.vecL2Norm(a)

  /** C9 — per-vector norm/stat battery: the embedding hygiene pass a
    * training pipeline runs before indexing (zero vectors, NaN/scale
    * outliers). One codegen'd projection, no shuffle until the
    * ordering. */
  def vectorNorms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      round(l2Norm(col("embedding")), 6).as("l2_norm"),
      size(col("embedding")).as("dim"),
      round(graft.functions.GraftFunctions.vecSum(col("embedding")), 6)
        .as("coord_sum"))
      .orderBy("vec_id")

  /** One-pass cosine, double accumulation, identical FP order to the
    * DuckDB oracle's formulation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Per-query bounded top-k as a typed Aggregator
    * ([[graft.functions.TypedAggregators.TopK]]): map-side partial
    * top-k per group, shuffle moves k-sized buffers — never a window
    * partition holding \|corpus\| candidate rows. Ordering (score
    * desc, id asc) matches the row_number spelling exactly. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val tk = udaf(new graft.functions.TypedAggregators.TopK(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    scored
      .groupBy("query_id")
      .agg(tk(col("cos"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk.items")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        round(col("nb.s"), 6).as("cosine"), (col("pos") + 1).as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** C6 — exact brute-force cosine top-k: the ANN baseline.
    *
    * The query set (every `queryStride`-th vector) is tiny and
    * broadcast; the corpus streams past it once — cost is
    * O(corpus × queries), embarrassingly parallel. The final
    * per-query top-k is a partial-aggregating k-heap
    * ([[topKPerQuery]]), so no stage ever materializes \|corpus\|
    * rows per query. Ties broken by vec_id. */
  def annTopK(emb: DataFrame, k: Int = 10, queryStride: Int = 100): DataFrame = {
    val queries = emb
      .where(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qnrm"))
    // corpus norm once per row, dot kernel per (query, row) — see
    // cosineNearDupPairs; bit-identical to the one-pass cosine
    val scored = emb
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("cnrm"))
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("embedding")) / (col("qnrm") * col("cnrm")))
          .as("cos"))
    topKPerQuery(scored, k)
  }

  /** Aggregate recall of an approximate top-k result against the
    * exact one, reduced to a gateable pair: (number of queries,
    * whether hit-rate ≥ `minRecall`). The approximate side's rows
    * aren't SQL-reproducible (that's what makes it approximate); the
    * recall BOUND is — the DuckDB twin emits (count, literal true),
    * so the driver gate fails exactly when recall degrades. Detailed
    * per-pair identity stays pinned in IvfIndexSpec/MultimodalSpec. */
  def recallVsExact(approx: DataFrame, exact: DataFrame,
      minRecall: Double = 0.5): DataFrame =
    // exact pairs left-joined to the approximate set (hit marker),
    // then ONE aggregate — a hash join + hash agg, not the 1-row
    // crossJoin spelling (which plans as a nested-loop join)
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("is_hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("total"),
        sum(coalesce(col("is_hit"), lit(0))).as("hit"))
      .select(col("n_queries"),
        (col("hit") >= col("total") * minRecall).as("recall_ok"))

  /** Collect a (model-sized) centroid DataFrame into a
    * [[graft.functions.CentroidIndex]] — the coarse quantizer shipped
    * to executors for per-row argmax assignment/probing. The collect
    * is k tiny rows (the MODEL, like MLlib's KMeans centers — never
    * the corpus); ids sorted ascending so kernel tie-breaks match the
    * `max_by(struct(cdist, -centroid_id))` spelling it replaced. */
  def centroidIndex(centroids: DataFrame): graft.functions.CentroidIndex =
    modelIndex(centroids.select(col("centroid_id"), col("cv")).collect())

  /** [[centroidIndex]] of already-collected `(centroid_id, cv)` rows. */
  private def modelIndex(model: Array[Row]): graft.functions.CentroidIndex = {
    val rows = model.sortBy(_.getLong(0))
    new graft.functions.CentroidIndex(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray))
  }

  /** Nearest-centroid assignment via the argmin kernel: one output row
    * per corpus row, no corpus × k intermediate. */
  def assignCentroids(emb: DataFrame,
      index: graft.functions.CentroidIndex): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.nearestCentroid(col("embedding"), index)
        .as("centroid_id"))

  /** Lloyd k-means over the embedding column, expressed as iterated
    * DataFrame aggregations — the real IVF index build (deterministic
    * seed: every `|corpus|/k`-th vector). Each iteration assigns via
    * the [[assignCentroids]] argmax kernel (one row per input row —
    * the old corpus × k `join(broadcast, lit(true))` + `max_by`
    * explosion is gone) and mean-reduces per centroid. A cluster that
    * loses every member is dropped (the standard Lloyd artifact — no
    * re-seeding), so the result can hold fewer than k rows; ids are
    * re-densified to 0..m-1 after each round. The model is k tiny rows
    * and stays on the driver: each round collects its centroids once,
    * the next round's assignment kernel ships them, so no round reads
    * another's frame and nothing is pinned. The result is the final
    * rows as a local relation, typed like the last round's frame. At
    * 100 TB you'd run this on a sample — same plumbing. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    val n = emb.count()
    val stride = math.max(1L, n / k)
    def densify(c: DataFrame): DataFrame =
      c.select((row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("centroid_id")) - 1).cast("long").as("centroid_id"),
        col("cv"))
    var centroids = densify(
      emb.where(col("vec_id") % stride === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
        .orderBy("centroid_id").limit(k))
    var model = centroids.collect()
    for (_ <- 1 to iters) {
      val assigned = assignCentroids(emb, modelIndex(model))
      // mean of member vectors per centroid (element-wise): aggregate
      // positional sums via posexplode, then re-assemble
      centroids = densify(assigned
        .select(col("centroid_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(avg(col("x")).as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("cv")))
      model = centroids.collect()
    }
    emb.sparkSession.createDataFrame(java.util.Arrays.asList(model: _*),
      centroids.schema)
  }

  /** C7 — IVF-style ANN: the subquadratic scale path for [[annTopK]].
    *
    * Deterministic coarse quantizer: every `centroidStride`-th vector
    * is a centroid (at real scale: [[kmeansCentroids]] from a sample —
    * the plumbing is identical). Assignment and probing both run the
    * centroid-index kernels — one argmax per corpus row, one top-nProbe
    * per query row, zero joins until the probed search itself — so the
    * per-query work drops from |corpus| to ~nProbe/|centroids| × |corpus|
    * and the plan contains no nested-loop join anywhere (PlanLintSpec
    * no longer whitelists c7). Recall < 1 by construction (rows-only
    * gate; ScalaTest measures recall vs [[annTopK]]).
    *
    * [[buildIvfIndex]] / [[annTopKIvfFromIndex]] are the persisted
    * form: the same `assigned` relation written partitioned by
    * centroid_id, probes pruned to matching partitions at scan time. */
  def annTopKIvf(emb: DataFrame, k: Int = 10, queryStride: Int = 100,
      centroidStride: Int = 40, nProbe: Int = 4,
      centroidsOverride: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOverride.getOrElse(
      emb.where(col("vec_id") % centroidStride === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv")))
    val idx = centroidIndex(centroids)
    val assigned = assignCentroids(emb, idx)
    val queries = emb.where(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    searchLists(assigned, queries, idx, k, nProbe)
  }

  /** Probe + search shared by the inline and persisted IVF paths:
    * per-query probe set from the [[graft.functions.CentroidIndex]]
    * kernel, then a hash join of the (tiny, broadcast) probe set
    * against the inverted lists on centroid_id. Norms precomputed per
    * side so the corpus × probes loop runs the dot kernel (see
    * [[cosineNearDupPairs]] — bit-identical to the one-pass cosine). */
  private def searchLists(assigned: DataFrame, queries: DataFrame,
      idx: graft.functions.CentroidIndex, k: Int, nProbe: Int): DataFrame = {
    val probes = queries.select(col("query_id"), col("qv"),
      explode(graft.functions.GraftFunctions
        .nearestCentroids(col("qv"), idx, nProbe)).as("centroid_id"))
    val scored = assigned
      .withColumn("cnrm", l2Norm(col("embedding")))
      .join(broadcast(probes.withColumn("qnrm", l2Norm(col("qv")))),
        Seq("centroid_id"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("embedding")) / (col("qnrm") * col("cnrm")))
          .as("cos"))
    topKPerQuery(scored, k)
  }

  /** Build and PERSIST the IVF index: the assigned corpus written
    * parquet-partitioned by centroid_id — the inverted lists as a
    * physical layout. At 100 TB this is the one-time index build;
    * every subsequent query batch reads only its probed partitions
    * (see [[annTopKIvfFromIndex]]: `PartitionFilters` in the scan,
    * non-probed lists never leave disk). Returns the quantizer for
    * probing. */
  def buildIvfIndex(emb: DataFrame, centroids: DataFrame,
      path: String): graft.functions.CentroidIndex = {
    val idx = centroidIndex(centroids)
    // repartition on the partition key before the partitioned write:
    // without it every scan task writes a file into every centroid
    // dir (tasks × k files — 1000 executors × 65536 lists is a
    // small-file catastrophe); with it each list is written by
    // exactly one task → one file per list. The shuffle is the
    // one-time index-build cost.
    new graft.core.ParquetIOManager(emb.sparkSession)
      .write(assignCentroids(emb, idx).repartition(col("centroid_id")),
        path, partitionBy = Seq("centroid_id"))
    idx
  }

  /** Incrementally extend a persisted IVF index with NEW vectors: the
    * batch assigns through the SAME frozen quantizer and appends into
    * its lists' partition dirs — cost ∝ |batch|, the index never
    * rebuilds, and probes pick the new rows up on their next scan
    * (the c12 rolling-ingest contract, ANN flavor). The quantizer
    * stays frozen by design: centroids drift only on an explicit
    * rebuild, exactly like FAISS's add-after-train. */
  def appendToIvfIndex(emb: DataFrame,
      idx: graft.functions.CentroidIndex, path: String): Unit =
    assignCentroids(emb, idx)
      .repartition(col("centroid_id"))
      .write.option("compression", "gzip")
      .mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("centroid_id").parquet(path)

  /** ANN top-k over a PERSISTED IVF index: compute each query's probe
    * set, then scan only those centroid partitions (the probed-id set
    * is model-sized — ≤ |centroids| — and becomes a partition-pruning
    * `IN` filter; the scan's `PartitionFilters` is asserted in
    * IvfIndexSpec). Same search/ranking semantics as [[annTopKIvf]]. */
  def annTopKIvfFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame,
      idx: graft.functions.CentroidIndex,
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    // distinct probed centroids: bounded by |centroids| (the model),
    // never the corpus — safe to collect for partition pruning
    val probedIds = queries.select(
        explode(graft.functions.GraftFunctions
          .nearestCentroids(col("qv"), idx, nProbe)).as("centroid_id"))
      .distinct().collect().map(_.getLong(0)).sorted
    val assigned = spark.read.option("basePath", indexPath).parquet(indexPath)
      .where(col("centroid_id").isin(probedIds: _*))
    searchLists(assigned, queries, idx, k, nProbe)
  }

  /** C5 — embedding cosine near-dup pairs (all pairs ≥ threshold).
    *
    * Exact by block-nested self-join. At the fixture thresholds the
    * corpus side is small enough to broadcast; at 100 TB with a *high*
    * threshold (true near-dups, cos ≥ 0.95) the scale path is
    * signed-random-projection banding — same bucket-join shape as
    * [[Dedup.minHashLshPairs]] (see [[srpSignature]]); at low
    * thresholds no sublinear method exists and the honest answer is
    * the blocked quadratic scan this plan performs. */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double = 0.45,
      maxRows: Long = 100000L): DataFrame = {
    // O(n²) BY CONSTRUCTION — this is the exact low-threshold gate
    // the subquadratic operators verify against, never a production
    // path. Refuse oversized corpora instead of melting the cluster
    // (the df-cap discipline, corpus-size flavor): the scale paths
    // are srpNearDupPairs (c8), srpNearDupPairsWide (c18) and
    // semDeDup (c19). The probe reads ≤ maxRows+1 rows, not the
    // corpus.
    val probe = emb.select(col("vec_id")).limit(
      (math.min(maxRows, Int.MaxValue - 1L) + 1).toInt).count()
    require(probe <= maxRows,
      s"cosineNearDupPairs is the exact O(n²) baseline and the corpus " +
        s"exceeds maxRows=$maxRows — use srpNearDupPairs / " +
        s"srpNearDupPairsWide / semDeDup (the subquadratic scale " +
        s"paths), or raise maxRows deliberately")
    // norms once per VECTOR below the join (computed in the per-side
    // projection, so the O(n²) pair loop runs the 1-FLOP/element dot
    // kernel instead of the 3-FLOP cosine — bit-identical result for
    // uniform-dimension corpora: same accumulation order, same
    // dot/(√na·√nb) expression tree. Caveat: the one-pass cosine
    // kernel truncates BOTH norms to min(len) on ragged rows, this
    // spelling uses full-length norms — run the c9 hygiene pass
    // first; the fixtures are uniform)
    val e = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    // REDISTRIBUTE the stream side before the nested loop (round 15,
    // guide §2.5): the per-row work here is O(n·dim) — a corpus that
    // arrives in fewer partitions than cores (a single-row-group
    // parquet fixture runs the whole n² loop on ONE task; measured
    // 6.3 s → 0.7 s at sf0.1/32 cores) pays one n-row exchange to
    // spread n² work. Deterministic key; when the input is already
    // wide the exchange is noise next to the loop by construction —
    // this is the one operator family (block-nested-loop) where an
    // unconditional spread is justified at every scale. The broadcast
    // (build) side stays bare: an exchange below a broadcast collect
    // buys nothing.
    e.repartition(emb.sparkSession.sparkContext.defaultParallelism,
        col("vec_id")).as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** C8 — SRP-banded cosine near-dup: the subquadratic scale path
    * [[cosineNearDupPairs]]'s scaladoc promises for HIGH thresholds.
    * b-bit signed-random-projection signatures, banded into
    * `bands` chunks (bucket-join on chunk equality — same candidate
    * shape as MinHash LSH), exact cosine verification. Recall per
    * pair = 1 − (1 − p^(bits/bands))^bands with
    * p = 1 − θ/π; at cos ≥ 0.95 and 16×4 bits, ≈ 0.997 — and
    * precision is exact (verification). Candidates scale with bucket
    * collisions, not |corpus|². */
  def srpNearDupPairs(emb: DataFrame, threshold: Double = 0.9,
      bits: Int = 64, bands: Int = 16,
      maxBucket: Option[Int] = Some(graft.ops.Dedup.DefaultMaxDocFreq)): DataFrame = {
    val bitsPerBand = bits / bands
    val mask = (1L << bitsPerBand) - 1
    val banded = emb.select(col("vec_id"),
      srpSignature(col("embedding"), bits).as("sig"))
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => call_function("shiftright", col("sig"), b * lit(bitsPerBand))
            .bitwiseAND(lit(mask)))).as(Seq("band", "chunk")))
    // bucket-collect pair emission (one signature evaluation, one
    // shuffle on the bucket key) — the banded self-join it replaces
    // ran the signature pipeline on both sides. df-cap as in
    // [[Dedup.DefaultMaxDocFreq]], dropped buckets observed.
    val cand = graft.ops.Dedup.cappedBucketPairs(banded, Seq("band", "chunk"),
      "vec_id", maxBucket, "graft_c8_hot_buckets", "vec_a", "vec_b")
    verifyCosinePairs(emb, cand, threshold)
  }

  /** C18 — WIDE-signature SRP near-dup: the production configuration
    * of [[srpNearDupPairs]] for real near-dup thresholds. At cos ≥
    * 0.9 a band needs ≥16 bits before unrelated pairs stop colliding
    * (collision ≈ 0.5¹⁶ per band for orthogonal pairs) and recall
    * then needs ~32 such bands — 512 effective signature bits, which
    * the packed-64-bit variant cannot express (its key space
    * saturates and candidate emission goes quadratic as the corpus
    * grows: the 10× bench point showed exactly that cliff on the
    * low-threshold c8 gate). The kernel emits per-band chunk values
    * directly, so bucketing is one posexplode — no shift/mask
    * extraction. Band width and count are CORPUS-ADAPTIVE by default
    * (see the sizing block in the body): fixed-width bands are
    * themselves a saturation cliff one decade further out. Candidates stay collision-bound: duplicated-vector
    * cliques emit pairs (the point), orthogonal mass never buckets
    * together. Recall at cos c: 1 − (1 − p^r)^k with p = 1 − acos(c)/π
    * — ≈ 0.999 for exact twins, ≈ 0.94 at 0.95, by design dropping
    * fast below the threshold. Low-threshold similarity (the c8 0.4
    * gate) is NOT this operator's regime — that is the IVF/PQ path. */
  def srpNearDupPairsWide(emb: DataFrame, threshold: Double = 0.9,
      bands: Int = 0, bitsPerBand: Int = 0,
      maxBucket: Option[Int] = Some(graft.ops.Dedup.DefaultMaxDocFreq),
      rowCountHint: Long = -1L): DataFrame = {
    // Half-specified signatures refuse by name: a caller passing
    // bands=64 alone would otherwise have it SILENTLY ignored (auto
    // engages unless both are set) — the worst failure mode for a
    // recall contract. Both-or-neither.
    require((bands > 0) == (bitsPerBand > 0),
      s"srpNearDupPairsWide: bands and bitsPerBand must be given " +
        s"together or both left 0 for corpus-adaptive auto-sizing " +
        s"(got bands=$bands, bitsPerBand=$bitsPerBand)")
    // ---- corpus-adaptive signature sizing (bands/bits = 0 = auto) --
    // A FIXED chunk width saturates: once n ≫ 2^bits, every band's
    // buckets fill with UNRELATED vectors (expected random-collision
    // pairs ≈ C(n,2)/2^bits per band) and candidate mass goes
    // quadratic — measured on the output-linear fixture
    // (tools.ProbeNearDup: 31×/decade at 100× with 16-bit bands and
    // ZERO true pairs). The published LSH discipline (Indyk–Motwani;
    // Andoni–Indyk CACM 2008) scales the band width with log₂(n) so
    // random collisions per band stay O(n), and re-scales the band
    // COUNT to hold recall at the threshold — total work Θ(n^(1+ρ)),
    // the known optimum for this family, paid as more (linear)
    // signature bits instead of quadratic candidates. r floors at 16
    // (n ≤ 64 K keeps today's 32×16 configuration — the gate fixtures
    // are bit-identical) and caps at 24 (16 M buckets ≈ 4 M-vector
    // corpora; past that, IVF/PQ is the regime). Band count from the
    // standard recall identity k = ln(1−R)/ln(1−p^r) at the 32×16
    // configuration's own contract R ≈ 0.94, capped at 128. The
    // floor engages below ~16 K rows — every gate fixture.
    // Auto mode needs n; `rowCountHint ≥ 0` lets a caller that already
    // knows the corpus size (a pipeline that just materialized it, a
    // table with catalog stats) skip the extra full-scan count action.
    val (kBands, rBits) =
      if (bands > 0) (bands, bitsPerBand)
      else srpAutoSize(
        if (rowCountHint >= 0) rowCountHint else emb.count(), threshold)
    val banded = emb.select(col("vec_id"),
      posexplode(graft.functions.GraftFunctions.srpBandChunks(
        col("embedding"), kBands, rBits)).as(Seq("band", "chunk")))
    val cand = graft.ops.Dedup.cappedBucketPairs(banded, Seq("band", "chunk"),
      "vec_id", maxBucket, "graft_c18_hot_buckets", "vec_a", "vec_b")
    verifyCosinePairs(emb, cand, threshold)
  }

  /** [[srpNearDupPairsWide]]'s corpus-adaptive (bands, bitsPerBand):
    * r = clamp(16, 24, ⌈log₂ n⌉ + 2) keeps expected random-collision
    * pairs per band ≈ C(n,2)/2^r sub-quadratic in n; k from the
    * recall identity ln(1−R)/ln(1−p^r) at R = 0.94 (the legacy 32×16
    * configuration's own recall at its default threshold), clamped to
    * [32, 128]. n ≤ ~16 K returns exactly (32, 16) — the gate
    * fixtures' configuration, bit-identical. */
  private[graft] def srpAutoSize(n: Long, threshold: Double): (Int, Int) = {
    val r = math.min(24, math.max(16,
      math.ceil(math.log(n.toDouble.max(2)) / math.log(2)).toInt + 2))
    if (r == 16) (32, 16)
    else {
      val p = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
      val k = math.ceil(
        math.log(1 - 0.94) / math.log(1 - math.pow(p, r))).toInt
      // The k cap is a COST ceiling, not free: below threshold ≈ 0.9
      // at multi-million n the recall identity wants k well past 128
      // (threshold 0.85, n = 4 M → k ≈ 297; clamped, achieved recall
      // falls to ~0.7, and ~0.4 at 0.8). Silent clamping would turn
      // the documented 0.94 contract into a lie — warn with the
      // achieved number so the caller can route to IVF/PQ (the
      // correct regime for low-threshold similarity; see the c8
      // guard's message).
      if (k > 128) {
        val recallAtCap = 1.0 - math.pow(1.0 - math.pow(p, r), 128)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"srpAutoSize: recall identity wants k=$k bands at " +
            f"threshold=$threshold%.2f, n=$n (r=$r bits); capped at " +
            f"128 — achieved recall ≈ $recallAtCap%.2f, BELOW the " +
            f"0.94 contract. For low-threshold similarity at this " +
            f"scale use the IVF/PQ path (annTopK / ivfTopK).")
      }
      (math.min(128, math.max(32, k)), r)
    }
  }

  /** Achieved recall of the (k, r) SRP configuration at cosine
    * `threshold` — 1 − (1 − p^r)^k with p = 1 − acos(c)/π. Exposed so
    * specs and callers can check the contract [[srpAutoSize]] warns
    * about instead of re-deriving it. */
  private[graft] def srpRecallAt(k: Int, r: Int, threshold: Double): Double = {
    val p = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, r), k)
  }

  /** C19 — semantic deduplication (SemDeDup, Abbas et al. 2023):
    * embedding-space near-duplicate REMOVAL at corpus scale. Hash
    * dedup misses paraphrases; all-pairs cosine is quadratic.
    * SemDeDup bounds the pairwise work by clustering:
    *
    *  1. one argmax-kernel pass assigns every vector to its nearest
    *     centroid (the IVF assign step — no corpus × k blowup);
    *  2. pairs are examined WITHIN clusters only — cost Σ|cluster|²,
    *     controlled by the centroid count, never corpus²;
    *  3. cosine ≥ `threshold` pairs form duplicate groups (connected
    *     components via the c11 label-propagation machinery); the
    *     lowest vec_id per group is kept (swap in any quality rank).
    *
    * Returns every MEMBER of a duplicate group:
    * (vec_id, centroid_id, dup_root, kept) — vectors in no group
    * are implicitly kept. Fully SQL-replayable: deterministic
    * centroids + the same assignment ordering (cosine desc, id asc)
    * + a recursive-CTE component replay. */
  def semDedup(emb: DataFrame, centroids: DataFrame,
      threshold: Double = 0.95,
      maxCluster: Option[Int] = Some(graft.ops.Dedup.DefaultMaxDocFreq)): DataFrame = {
    val idx = centroidIndex(centroids)
    val assigned = assignCentroids(emb, idx)
    // candidate pairs through the df-capped bucket machinery (the
    // c2/c8 discipline): a pathological mega-cluster — the spam case
    // where one centroid absorbs a constant fraction of the corpus —
    // is dropped with an OBSERVED count instead of silently going
    // quadratic; verification is the shared exact-cosine tail
    val cand = graft.ops.Dedup.cappedBucketPairs(assigned,
      Seq("centroid_id"), "vec_id", maxCluster, "graft_c19_hot_clusters",
      "vec_a", "vec_b")
    val pairs = verifyCosinePairs(emb, cand, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    graft.ops.Dedup.dupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("dup_root"))
      .join(assigned.select(col("vec_id"), col("centroid_id")), "vec_id")
      .select(col("vec_id"), col("centroid_id"), col("dup_root"),
        (col("vec_id") === col("dup_root")).as("kept"))
      .orderBy("vec_id")
  }

  /** Shared exact-verification tail of the SRP family: candidates →
    * (vec_a, vec_b, cosine ≥ threshold), cosine from the codegen dot
    * kernel with per-vector norms computed in the joined projections
    * — emitted pairs are bit-identical to the exact scan's. */
  private def verifyCosinePairs(emb: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val withNrm = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    cand
      .join(withNrm.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(withNrm.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .where(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Unit-normalize the embedding column (floats; zero vectors pass
    * through unchanged) — dot products of unit vectors ARE cosines,
    * which is what lets the PQ ADC scan rank by inner product. One
    * map-side projection; runs once per row, outside any pair loop,
    * so the interpreted HOF `transform` is fine here. */
  def unitVectors(emb: DataFrame): DataFrame = {
    val nrm = l2Norm(col("embedding"))
    emb.select(col("vec_id"),
      when(nrm === 0.0, col("embedding"))
        .otherwise(transform(col("embedding"),
          x => (x / nrm).cast("float"))).as("embedding"))
  }

  /** Train a product-quantization codebook
    * ([[graft.functions.PqCodebook]]): split the space into `m`
    * contiguous subspaces, k-means each to ≤ `ksub` centroids. Lloyd
    * assignment reuses the [[graft.functions.PqEncode]] kernel itself
    * (ALL m subspaces assigned in one codegen pass per row), means
    * reduce per (subspace, code, coordinate) — the collect is
    * m·ksub·dsub model cells (the codebook, like MLlib's KMeans
    * centers), never the corpus. Deterministic strided seeding; empty
    * cells keep their previous centroid. At 100 TB you train on a
    * sample — identical plumbing. */
  def pqTrainCodebook(emb: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 3): graft.functions.PqCodebook = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val n = emb.count()
    val stride = math.max(1L, n / ksub)
    // seed: ksub strided vectors, sliced into every subspace
    val seeds = emb.where(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(ksub)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.length == ksub,
      s"seeding produced ${seeds.length} < $ksub vectors")
    val counts = Array.fill(m)(ksub)
    val flat = new Array[Float](m * ksub * dsub)
    for (sub <- 0 until m; c <- 0 until ksub; i <- 0 until dsub)
      flat((sub * ksub + c) * dsub + i) =
        if (sub * dsub + i < seeds(c).length) seeds(c)(sub * dsub + i) else 0f
    var cb = new graft.functions.PqCodebook(dsub, ksub, counts, flat)
    for (_ <- 1 to iters) {
      val cells = emb
        .select(col("embedding"),
          posexplode(graft.functions.GraftFunctions
            .pqEncode(col("embedding"), cb)).as(Seq("sub", "code")))
        .select(col("sub"), col("code"),
          posexplode(slice(col("embedding"), col("sub") * dsub + 1,
            lit(dsub))).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg(avg(col("x")).as("mean"))
        .collect()
      val next = cb.flat.clone()
      cells.foreach { r =>
        next((r.getInt(0) * ksub + r.getInt(1)) * dsub + r.getInt(2)) =
          r.getDouble(3).toFloat
      }
      cb = new graft.functions.PqCodebook(dsub, ksub, counts, next)
    }
    cb
  }

  /** Encode the corpus against a trained codebook: one `m`-code array
    * per vector — `m` bytes standing in for `4·dim` (32× at dim 64 /
    * m 8). This is what a 100 TB embedding store keeps hot; the raw
    * vectors stay on disk for the refine step only. */
  def pqEncode(emb: DataFrame,
      cb: graft.functions.PqCodebook): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.GraftFunctions.pqEncode(col("embedding"), cb)
        .as("codes"))

  /** C13 — PQ/ADC ANN with exact re-rank: the compressed-corpus scale
    * path for [[annTopK]].
    *
    * The corpus is scanned as `m`-byte PQ codes; each (query,
    * candidate) costs `m` table adds against the query's one-time
    * lookup table ([[graft.functions.AdcDot]]) instead of a `dim`-dot
    * — an 8× FLOP cut here and, more importantly at scale, a 32×
    * working-set cut. The ADC top `refine·k` then re-ranks EXACTLY
    * (true cosine over the raw vectors of just those candidates), so
    * precision of the emitted scores is exact and recall is bounded
    * only by the candidate stage. Composes with IVF the obvious way
    * (encode each inverted list; probe then ADC-scan the probed
    * lists). Recall < 1 by construction → gated as a recall bound
    * like c7/c10; per-pair behavior pinned in PqSpec. */
  def annTopKPq(emb: DataFrame, k: Int = 10, queryStride: Int = 100,
      m: Int = 16, ksub: Int = 16, iters: Int = 3, refine: Int = 8,
      codebookOverride: Option[graft.functions.PqCodebook] = None): DataFrame = {
    val unit = unitVectors(emb)
    val cb = codebookOverride.getOrElse(pqTrainCodebook(unit, m, ksub, iters))
    val codes = pqEncode(unit, cb)
    val luts = unit.where(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("query_id"),
        graft.functions.GraftFunctions.pqLut(col("embedding"), cb).as("lut"))
    val adcScored = codes
      .join(broadcast(luts), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.GraftFunctions.adcDot(col("codes"), col("lut"), ksub)
          .as("cos"))
    val cand = topKPerQuery(adcScored, k * refine)
      .select("query_id", "neighbor_id")
    // exact re-rank: raw vectors touched ONLY for the refine·k
    // candidates per query — same scoring expression as annTopK, so
    // emitted cosines are bit-identical to the exact path's
    val queries = emb.where(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qnrm"))
    val rescored = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        l2Norm(col("embedding")).as("cnrm"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("embedding")) / (col("qnrm") * col("cnrm")))
          .as("cos"))
    topKPerQuery(rescored, k)
  }

  /** Build and PERSIST an IVF-PQ index (the FAISS IVFPQ composition —
    * Jégou et al. 2011): unit-normalized vectors assign to coarse
    * centroids (inverted lists = parquet partitions, as
    * [[buildIvfIndex]]), but each list stores `m`-code PQ rows
    * instead of raw vectors — the 100 TB shape, where the index is
    * 16× smaller than the corpus and a probe reads only its lists'
    * CODES. The codebook persists alongside (`_pq_codebook.json`) so
    * a fresh session can search without retraining. Returns the
    * coarse quantizer. */
  def buildIvfPqIndex(emb: DataFrame, centroids: DataFrame, path: String,
      m: Int = 16, ksub: Int = 16,
      iters: Int = 3): (graft.functions.CentroidIndex, graft.functions.PqCodebook) = {
    val unit = unitVectors(emb)
    val cb = pqTrainCodebook(unit, m, ksub, iters)
    val idx = centroidIndex(centroids)
    val coded = assignCentroids(emb, idx)
      .select(col("vec_id"), col("centroid_id"))
      .join(pqEncode(unit, cb), "vec_id")
    new graft.core.ParquetIOManager(emb.sparkSession)
      .write(coded.repartition(col("centroid_id")), path,
        partitionBy = Seq("centroid_id"))
    savePqCodebook(emb.sparkSession, cb, s"$path/_pq_codebook.json")
    (idx, cb)
  }

  /** ANN top-k over a persisted IVF-PQ index: probe the coarse
    * quantizer, scan ONLY the probed partitions' code lists (ADC —
    * `m` table adds per candidate over 16-byte rows), exact-re-rank
    * the ADC top `refine·k` against the raw corpus. Per-query IO =
    * probed lists' codes + refine·k raw vectors — at 1000 executors
    * and 10⁹ vectors the probe never touches the raw corpus beyond
    * the re-rank point reads. */
  def annTopKIvfPqFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame,
      idx: graft.functions.CentroidIndex, cb: graft.functions.PqCodebook,
      emb: DataFrame, k: Int = 10, nProbe: Int = 4,
      refine: Int = 8): DataFrame = {
    val probedIds = queries.select(
        explode(graft.functions.GraftFunctions
          .nearestCentroids(col("qv"), idx, nProbe)).as("centroid_id"))
      .distinct().collect().map(_.getLong(0)).sorted
    val luts = unitVectors(queries
        .select(col("query_id").as("vec_id"), col("qv").as("embedding")))
      .select(col("vec_id").as("query_id"),
        graft.functions.GraftFunctions.pqLut(col("embedding"), cb).as("lut"))
    val probes = queries.select(col("query_id"),
        explode(graft.functions.GraftFunctions
          .nearestCentroids(col("qv"), idx, nProbe)).as("centroid_id"))
      .join(luts, "query_id")
    val coded = spark.read.option("basePath", indexPath).parquet(indexPath)
      .where(col("centroid_id").isin(probedIds: _*))
    val adcScored = coded
      .join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.GraftFunctions.adcDot(col("codes"), col("lut"), cb.ksub)
          .as("cos"))
    val cand = topKPerQuery(adcScored, k * refine)
      .select("query_id", "neighbor_id")
    val qv = queries.select(col("query_id"), col("qv"),
      l2Norm(col("qv")).as("qnrm"))
    val rescored = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        l2Norm(col("embedding")).as("cnrm"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("embedding")) / (col("qnrm") * col("cnrm")))
          .as("cos"))
    topKPerQuery(rescored, k)
  }

  /** Codebook persistence: tiny JSON (m·ksub·dsub floats — the model),
    * so a search session needs no training pass. */
  def savePqCodebook(spark: org.apache.spark.sql.SparkSession,
      cb: graft.functions.PqCodebook, file: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = s"""{"dsub":${cb.dsub},"ksub":${cb.ksub},""" +
      s""""counts":[${cb.counts.mkString(",")}],""" +
      s""""flat":[${cb.flat.mkString(",")}]}"""
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
      file: String): graft.functions.PqCodebook = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    def arr(key: String): Array[String] = {
      val i = json.indexOf(s""""$key":[""") + key.length + 4
      json.substring(i, json.indexOf(']', i)).split(',').map(_.trim)
        .filter(_.nonEmpty)
    }
    def num(key: String): Int = {
      val i = json.indexOf(s""""$key":""") + key.length + 3
      json.substring(i).takeWhile(_.isDigit).toInt
    }
    new graft.functions.PqCodebook(num("dsub"), num("ksub"),
      arr("counts").map(_.toInt), arr("flat").map(_.toFloat))
  }

  /** Signed-random-projection b-bit signature (deterministic
    * hyperplanes from xxhash64 of (plane, dim)): bit p = sign of
    * Σᵢ hᵢₚ·vᵢ where hᵢₚ ∈ {−1,+1}. Hamming distance on signatures
    * estimates angular distance — band it like MinHash for candidate
    * generation at high cosine thresholds. Codegen kernel
    * ([[graft.functions.SrpSignature]]), bit-identical to the HOF
    * spelling it replaced. */
  def srpSignature(v: Column, bits: Int = 16): Column =
    graft.functions.GraftFunctions.srpSignature(v, bits)
}
