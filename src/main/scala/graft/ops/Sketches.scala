package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable one-pass sketches for corpus statistics at 100 TB —
  * the "what does this column look like" pass a training-data
  * pipeline runs before setting its quality thresholds (which
  * perplexity cut keeps 80%? which domains dominate? which docs does
  * a length-weighted sample surface?). Exact answers need a full
  * sort (quantiles) or a key-sized state (frequencies); the sketches
  * here are FIXED-SIZE, merge-order-independent, and deterministic —
  * so their gates hash-match a DuckDB replay bit-for-bit, the same
  * discipline as every other gate.
  *
  * Everything is declarative DataFrame composition: the sketch
  * state IS a tiny aggregation result (log-bounded bins / a d×w
  * counter matrix), built by one map-side-partial pass over the
  * data, never a driver-side structure. No UDFs, no UDAFs — the
  * group-by spelling lets Tungsten keep the hot pass in whole-stage
  * codegen and makes partial aggregation (= sketch merge) free.
  *
  * The reference's analytics surface stops at exact aggregation
  * (ascii-hydra `pipes/queries.py` step_2/step_6 shapes); these
  * extend it with the published sketch algorithms: DDSketch
  * (Masson, Rim, Lee — VLDB 2019) for relative-error quantiles,
  * Count-Min (Cormode, Muthukrishnan — J.Alg 2005) for point
  * frequencies, and A-ES weighted reservoir keys (Efraimidis,
  * Spirakis — IPL 2006) for deterministic weighted sampling.
  */
object Sketches {

  /** T18 — DDSketch quantiles with an exact twin: log-γ bins
    * (γ = (1+α)/(1−α)) give every estimate a RELATIVE error ≤ α at
    * any scale — the quantile-sketch property that matters for
    * long-tailed corpus stats, where a rank-error sketch smears the
    * p99. The sketch state is one count per touched bin (domain
    * 10⁻⁹..10⁹ at α=0.01 touches ≤ ~2100 bins), built by one
    * map-side-partial groupBy — mergeable across partitions/days by
    * construction (bin counts add; merge order cannot matter).
    *
    * Gate shape (the q18 approx-distinct discipline): each row is
    * one requested quantile with the EXACT value (one
    * `percentile()` pass, interpolated — DuckDB `quantile_cont`
    * replays it bit-for-bit at 6dp) and a `within_bound` boolean
    * asserting the sketch estimate landed within 2α of it (α vs the
    * rank item by the published guarantee, +α slack for
    * interpolation between order stats). The estimate itself stays
    * out of the hashed columns: its bin index is `ceil(ln x/ln γ)`
    * and `ln` is not bit-specified across engines — the boolean
    * carries the guarantee, the spec pins the tight α bound and
    * merge-order independence engine-side. */
  def ddQuantiles(df: DataFrame, valueCol: String, alpha: Double = 0.01,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      s"quantiles must lie in (0,1): $qs")
    val gamma = (1 + alpha) / (1 - alpha)
    val v = col(valueCol).cast("double")
    // one pass, map-side partial: the shuffle moves ≤ bins×partitions
    // rows. Strictly-positive FINITE domain (DDSketch's); zero/negative
    // values would need the standard mirrored second sketch. NaN is
    // excluded explicitly: Spark orders NaN greatest, so `NaN > 0` is
    // TRUE, but `ceil(log(NaN))` casts to bin 0 — mid-range — which
    // would corrupt both the sketch and the exact twin's rank
    // arithmetic (round-15 ADVICE; latent only, fixtures are clean).
    val bins = df.where(v > lit(0.0) && !isnan(v))
      .select((ceil(log(v) / lit(math.log(gamma)))).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    // cumulative walk over the BIN-sized frame: a single-partition
    // window over ≤ ~2100 rows, never the data
    val cum = bins.withColumn("cum",
      sum("cnt").over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = bins.agg(sum("cnt").as("n"))
    val qdf = df.sparkSession.range(1).select(
      explode(array(qs.map(lit): _*)).as("quantile"))
    // smallest bin whose cumulative count reaches ⌈q·n⌉ → estimate
    // 2γ^bin/(γ+1) (the bin's log-midpoint)
    val qbin = cum.crossJoin(broadcast(total)).crossJoin(broadcast(qdf))
      .where(col("cum") >= ceil(col("quantile") * col("n")))
      .groupBy("quantile").agg(min("bin").as("qbin"))
      .withColumn("dd_est",
        lit(2.0) * pow(lit(gamma), col("qbin")) / lit(gamma + 1))
    // EXACT twin over the same strictly-positive population — since
    // round 15 computed as BIN-BOUNDED ORDER STATISTICS instead of one
    // `percentile(x, array(...))` pass: percentile() buffers EVERY
    // distinct value per task in an ObjectHashAggregate map, merges
    // the maps single-threaded, and sorts them on one core — the exact
    // shape guide §5 bans at scale (the whole column in one
    // aggregation buffer; measured 16 MB of serialized map per
    // exchange at sf0.1 and the slowest span of the gate). Instead:
    //   1. the interpolation ranks are floor/ceil(q·(n−1)) + 1 —
    //      ≤ 2|qs| GLOBAL ranks, from the bin-sized `cum` table;
    //   2. each rank's value lives in the unique bin whose cumulative
    //      count first reaches it, at in-bin offset rank − cum(prev) —
    //      located by a broadcast join against `cum` (bin-sized);
    //   3. only the matching bins' rows (≈ α-fraction of the mass,
    //      never the column) shuffle to a per-rank row_number window
    //      that picks the offset-th smallest;
    //   4. Spark's Percentile interpolation is replayed exactly:
    //      (higher − pos)·x_lo + (pos − lower)·x_hi, degenerate ranks
    //      collapse to x_lo — bit-identical (SketchesSpec pins
    //      equality against percentile() on fixtures + planted
    //      duplicate/singleton shapes).
    val binExpr = (ceil(log(col("x")) / lit(math.log(gamma)))).cast("long")
    val ranks = qdf.crossJoin(broadcast(total))
      .select(col("quantile"),
        (col("quantile") * (col("n") - 1).cast("double")).as("pos"))
      .select(col("quantile"), col("pos"),
        (floor(col("pos")).cast("long") + 1).as("rank_lo"),
        (ceil(col("pos")).cast("long") + 1).as("rank_hi"))
    // one row per (quantile, side): side 0 = lower rank, 1 = higher
    val wanted = ranks.select(col("quantile"), col("pos"),
      explode(array(
        struct(lit(0).as("side"), col("rank_lo").as("rank")),
        struct(lit(1).as("side"), col("rank_hi").as("rank")))).as("w"))
      .select(col("quantile"), col("pos"),
        col("w.side").as("side"), col("w.rank").as("rank"))
    // locate each rank's bin + in-bin offset (bin-sized joins)
    val located = wanted.join(cum,
        col("cum") >= col("rank") && col("cum") - col("cnt") < col("rank"))
      .select(col("quantile"), col("pos"), col("side"), col("bin"),
        (col("rank") - (col("cum") - col("cnt"))).as("off"))
    // candidate rows: only the located bins' values leave the scan
    // (same NaN-excluding population as `bins` — the two filters MUST
    // agree or the located offsets index a different multiset)
    val cand = df.where(v > lit(0.0) && !isnan(v)).select(v.as("x"))
      .withColumn("bin", binExpr)
      .join(broadcast(located), "bin")
    val ordered = Window.partitionBy("quantile", "side").orderBy("x")
    val picked = cand
      .withColumn("rn", row_number().over(ordered))
      .where(col("rn") === col("off"))
      .groupBy("quantile", "pos")
      .agg(min(when(col("side") === 0, col("x"))).as("x_lo"),
        min(when(col("side") === 1, col("x"))).as("x_hi"))
    val exactArr = picked.select(col("quantile"),
      when(ceil(col("pos")) === floor(col("pos")), col("x_lo"))
        .otherwise((ceil(col("pos")) - col("pos")) * col("x_lo") +
          (col("pos") - floor(col("pos"))) * col("x_hi")).as("exact"))
    qbin.join(broadcast(exactArr), "quantile")
      .select(col("quantile"),
        round(col("exact"), 6).as("exact_value"),
        (abs(col("dd_est") - col("exact")) <=
          lit(2 * alpha) * col("exact")).as("within_bound"))
      .orderBy("quantile")
  }

  /** GROUPED exact percentiles as bin-bounded order statistics — the
    * per-group generalization of [[ddQuantiles]]'s exact twin,
    * bit-equal to `percentile(v, q)` per group (round 16; removes the
    * last `percentile()` ObjectHashAggregate in a declared query —
    * q25 — the guide-§5 whole-column-in-one-buffer shape: at scale
    * each group's aggregation buffer IS the group's column).
    *
    * Returns one row per (group, distinct quantile): `(groupCol,
    * quantile, exact)`, `exact` null for a group whose values are all
    * null (as `percentile()` returns). Same mechanics as the t18 twin, with every table keyed
    * by the group:
    *   1. log-γ bins per (group, value) — one map-side-partial pass;
    *      the FULL real line is covered (monotone encoding: negatives
    *      mirrored below a zero sentinel below the positive bins), so
    *      unlike DDSketch's strictly-positive domain this replays
    *      `percentile()` on any finite input. NaN is outside the
    *      contract (percentile orders NaN greatest; the fixtures and
    *      gates are NaN-free — the [[ddQuantiles]] precondition).
    *   2. interpolation ranks floor/ceil(q·(n_g−1))+1 per group from
    *      the bin-sized cumulative table;
    *   3. only the located bins' rows join back (broadcast, keyed
    *      (group, bin)) and a per-(group, q, side) row_number picks
    *      the in-bin offset;
    *   4. Spark's Percentile interpolation replayed exactly
    *      ((higher−pos)·x_lo + (pos−lower)·x_hi, degenerate → x_lo).
    * SketchesSpec pins per-group bit-equality against `percentile()`
    * on fixture + planted (duplicate-mass, negative/zero, tiny-n)
    * shapes. */
  private[graft] def groupedPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must lie in [0,1]: $qs")
    val g = col(groupCol)
    val v = col(valueCol).cast("double")
    // monotone full-domain binning: x ≤ y ⇒ bin(x) ≤ bin(y).
    // positives: ceil(ln x/ln γ) ∈ ±~36 000 over the double range;
    // zero: a sentinel strictly below every positive bin; negatives:
    // mirrored below the sentinel (NEG_BASE − ceil(ln(−x)/ln γ) is
    // increasing in x and tops out ≈ NEG_BASE + 37 600 < ZERO_BIN).
    val lgGamma = math.log((1 + 0.01) / (1 - 0.01))
    val negBase = -(1L << 41)
    val zeroBin = -(1L << 39)
    def binOf(x: Column): Column =
      when(x > 0.0, ceil(log(x) / lit(lgGamma)).cast("long"))
        .when(x === 0.0, lit(zeroBin))
        .otherwise(lit(negBase) - ceil(log(-x) / lit(lgGamma)).cast("long"))
    // percentile() ignores nulls — the population here must too; a
    // null value bins as null, so a group with ONLY nulls keeps one
    // (group, null) bin and leaves the total with a null count
    val pop = df.where(v.isNotNull).select(g.as("__g"), v.as("__x"))
    val bins = df.select(g.as("__g"), binOf(v).as("__bin"))
      .groupBy("__g", "__bin").agg(count(lit(1)).as("__cnt"))
    val cum = bins.where(col("__bin").isNotNull).withColumn("__cum",
      sum("__cnt").over(Window.partitionBy("__g").orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = bins.groupBy("__g")
      .agg(sum(when(col("__bin").isNotNull, col("__cnt"))).as("__n"))
    // each quantile ranked once: a repeated q would double the
    // candidate rows of its bin and shift the in-bin pick
    val qdf = df.sparkSession.range(1).select(
      explode(array(qs.distinct.map(lit): _*)).as("__q"))
    val ranks = total.where(col("__n").isNotNull).crossJoin(broadcast(qdf))
      .select(col("__g"), col("__q"),
        (col("__q") * (col("__n") - 1).cast("double")).as("__pos"))
      .select(col("__g"), col("__q"), col("__pos"),
        explode(array(
          struct(lit(0).as("side"),
            (floor(col("__pos")).cast("long") + 1).as("rank")),
          struct(lit(1).as("side"),
            (ceil(col("__pos")).cast("long") + 1).as("rank")))).as("__w"))
      .select(col("__g"), col("__q"), col("__pos"),
        col("__w.side").as("__side"), col("__w.rank").as("__rank"))
    val located = ranks.join(cum, ranks("__g") === cum("__g") &&
        col("__cum") >= col("__rank") &&
        col("__cum") - col("__cnt") < col("__rank"))
      .select(ranks("__g"), col("__q"), col("__pos"), col("__side"),
        col("__bin"), (col("__rank") - (col("__cum") - col("__cnt")))
          .as("__off"))
    val cand = pop.withColumn("__bin", binOf(col("__x")))
      .join(broadcast(located), Seq("__g", "__bin"))
    val ordered = Window.partitionBy("__g", "__q", "__side").orderBy("__x")
    val picked = cand
      .withColumn("__rn", row_number().over(ordered))
      .where(col("__rn") === col("__off"))
      .groupBy("__g", "__q", "__pos")
      .agg(min(when(col("__side") === 0, col("__x"))).as("__xlo"),
        min(when(col("__side") === 1, col("__x"))).as("__xhi"))
    // all-null groups: percentile() returns null for them
    val allNull = total.where(col("__n").isNull).crossJoin(broadcast(qdf))
      .select(col("__g").as(groupCol), col("__q").as("quantile"),
        lit(null).cast("double").as("exact"))
    picked.select(col("__g").as(groupCol), col("__q").as("quantile"),
      when(ceil(col("__pos")) === floor(col("__pos")), col("__xlo"))
        .otherwise((ceil(col("__pos")) - col("__pos")) * col("__xlo") +
          (col("__pos") - floor(col("__pos"))) * col("__xhi")).as("exact"))
      .unionByName(allNull)
  }

  /** Raw DDSketch (bin → count) for a column — the mergeable state
    * itself, exposed for the spec's merge-order-independence and
    * α-guarantee assertions. */
  private[graft] def ddBins(df: DataFrame, valueCol: String,
      alpha: Double): DataFrame = {
    val gamma = (1 + alpha) / (1 - alpha)
    val v = col(valueCol).cast("double")
    df.where(v > lit(0.0) && !isnan(v)) // same population as ddQuantiles
      .select((ceil(log(v) / lit(math.log(gamma)))).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
  }

  /** The d seeded bucket assignments of one key — seed enters as a
    * leading xxhash64 column (Spark's builtin seeds are fixed), width
    * by positive mod. Shared by the sketch build, the estimate join,
    * and the gate's persisted replay table, so all three agree by
    * construction. */
  private def cmsBuckets(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(j =>
      pmod(xxhash64(lit(j), key), lit(width.toLong))): _*)

  /** T19 — Count-Min heavy hitters with an exact twin: the sketch is
    * a d×w counter matrix (d seeded hash rows, w buckets — here
    * 4×2048 = 8 K counters whatever the key cardinality), built in
    * ONE map-side-partial pass; a key's estimate is the MIN of its d
    * counters — never below the true count, above it only by other
    * keys' collision mass (≤ εN with probability 1−δ, ε=e/w, δ=e^−d).
    * Counter sums are merge-order-independent, so the estimates are
    * a pure function of the multiset — hash-gateable.
    *
    * Returns the top-`k` keys by (estimate, key): estimate, exact
    * count (the verification second pass a real pipeline runs on the
    * candidate set — here the full gate column), and the
    * `cms_ge_exact` invariant. The gate's DuckDB twin replays the
    * ENTIRE sketch from a persisted key→buckets table (xxhash64 is
    * not DuckDB-expressible; the c3 shared-asset discipline):
    * counters = Σ key-counts per bucket, estimate = min over d — so
    * the estimates hash-match exactly, not just the booleans. */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, k: Int = 10,
      depth: Int = 4, width: Int = 2048): DataFrame = {
    val key = col(keyCol)
    // the sketch: one pass, d rows per input row, map-side partial —
    // the shuffle moves ≤ d·w·partitions counter rows, never data
    val counters = df
      .select(posexplode(cmsBuckets(key, depth, width)).as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(count(lit(1)).as("c"))
    // estimate every distinct key against the broadcast matrix; the
    // exact count rides the same aggregation (the candidate-set
    // verification pass)
    val keys = df.groupBy(key.as("key")).agg(count(lit(1)).as("exact_cnt"))
    keys
      .select(col("key"), col("exact_cnt"),
        posexplode(cmsBuckets(col("key"), depth, width)).as(Seq("j", "bucket")))
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy("key", "exact_cnt").agg(min(col("c")).as("cms_est"))
      .orderBy(col("cms_est").desc, col("key"))
      .limit(k)
      .select(col("key"), col("cms_est"), col("exact_cnt"),
        (col("cms_est") >= col("exact_cnt")).as("cms_ge_exact"))
  }

  /** The key→bucket-array frame the T19 gate persists so DuckDB can
    * replay the sketch (one row per distinct key; buckets as d
    * columns b0..b{d−1}). */
  private[graft] def cmsReplayTable(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 2048): DataFrame = {
    val b = cmsBuckets(col("key"), depth, width)
    df.select(col(keyCol).as("key")).distinct()
      .select(col("key") +:
        (0 until depth).map(j => element_at(b, j + 1).as(s"b$j")): _*)
  }

  /** T20 — deterministic weighted sample without replacement (A-ES):
    * each row draws u ∈ (0,1) from xxhash64 of its id and ranks by
    * ln(u)/w — monotone in the published u^(1/w) key, so the top-k
    * IS a weighted sample without replacement, but REPRODUCIBLE: the
    * same ids select the same sample on any cluster, any partition
    * layout, any day (what makes a 100 TB sample auditable and a
    * resumed job idempotent). One projection + one top-k — no
    * shuffle beyond TakeOrdered's k-sized partial heaps.
    *
    * `sample_key` is rounded to 6dp for the gate; ordering uses the
    * raw key with the id as tiebreaker. The gate's DuckDB twin
    * replays u and the key from a persisted id→hash table. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int = 50): DataFrame = {
    val m = 1L << 31
    val u = (pmod(xxhash64(col(idCol)), lit(m)) + 1).cast("double") /
      lit((m + 1).toDouble)
    val keyc = log(u) / col(weightCol).cast("double")
    df.where(col(weightCol) > 0)
      .select(col(idCol), col(weightCol),
        round(keyc, 6).as("sample_key"), keyc.as("__raw"))
      .orderBy(col("__raw").desc, col(idCol))
      .limit(k)
      .drop("__raw")
  }
}
