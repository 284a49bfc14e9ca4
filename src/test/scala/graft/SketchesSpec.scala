package graft

import org.apache.spark.sql.functions._

import graft.ops.{Sketches, TextOps}

/** The sketch-family invariants the hash gates can't express: the
  * published DDSketch α guarantee against exact RANK statistics,
  * merge-order independence (the mergeability claim, tested as
  * layout-invariance), the Count-Min never-underestimates bound and
  * its exactness regime, A-ES sample reproducibility, and a
  * hand-computed BM25. */
class SketchesSpec extends SparkSpec {

  test("ddQuantiles: α relative-error guarantee against exact rank " +
      "statistics on a long-tailed set") {
    import spark.implicits._
    // deterministic long-tailed positives spanning 5 decades
    val xs = (1 to 20000).map(i => math.exp((i % 9973) / 867.0))
    val df = xs.toDF("x")
    val alpha = 0.01
    val out = Sketches.ddQuantiles(df, "x", alpha,
      qs = Seq(0.5, 0.9, 0.99)).collect()
    assert(out.length == 3 && out.forall(_.getBoolean(2)),
      s"2α gate bound must hold: ${out.mkString(", ")}")
    // the tight published bound: estimate within α of the ⌈qn⌉-th
    // smallest value (the sketch's own rank convention)
    val sorted = xs.sorted
    val gamma = (1 + alpha) / (1 - alpha)
    val bins = Sketches.ddBins(df, "x", alpha).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    for (q <- Seq(0.5, 0.9, 0.99)) {
      val rank = math.ceil(q * xs.length).toLong
      var cum = 0L
      val bin = bins.find { case (_, c) => cum += c; cum >= rank }.get._1
      val est = 2 * math.pow(gamma, bin.toDouble) / (gamma + 1)
      val exact = sorted((rank - 1).toInt)
      assert(math.abs(est - exact) <= alpha * exact * 1.0000001,
        s"q=$q: est $est vs rank-exact $exact exceeds alpha")
    }
  }

  test("ddQuantiles exact twin ≡ percentile() bit-for-bit (round-15 " +
      "bin-bounded order statistics)") {
    import spark.implicits._
    // the round-15 rewrite must reproduce Spark's Percentile result
    // EXACTLY (the gate hashes round(exact, 6)): same ranks
    // floor/ceil(q·(n−1))+1, same (higher−pos)·lo + (pos−lower)·hi
    // interpolation. Shapes chosen to hit every branch: long-tailed
    // continuous, heavy duplicate masses (rank pairs inside one value
    // run), tiny n (1, 2, 3), integer positions (n−1 divisible), and
    // the fixture column itself.
    val qs = Seq(0.1, 0.25, 0.5, 0.9, 0.99)
    def exactOf(df: org.apache.spark.sql.DataFrame, c: String): Map[Double, Double] =
      Sketches.ddQuantiles(df, c, qs = qs).collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    def percentileOf(df: org.apache.spark.sql.DataFrame, c: String): Map[Double, Double] = {
      val v = col(c).cast("double")
      df.where(v > 0).select(v.as("x"))
        .agg(expr(s"percentile(x, array(${qs.mkString(", ")}))").as("ex"))
        .select(posexplode(col("ex"))).collect()
        .map(r => qs(r.getInt(0)) -> BigDecimal(r.getDouble(1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    }
    val shapes = Seq(
      (1 to 20000).map(i => math.exp((i % 9973) / 867.0)),      // long tail
      Seq.fill(5000)(7.25) ++ Seq.fill(5000)(7.26) ++ Seq(1e9), // dup masses
      Seq(42.0),                                                 // n = 1
      Seq(1.0, 2.0),                                             // n = 2
      Seq(3.0, 1.0, 2.0),                                        // n = 3
      (0 until 11).map(_.toDouble + 0.5)                         // integer pos
    )
    for ((xs, i) <- shapes.zipWithIndex) {
      val df = xs.toDF("x")
      assert(exactOf(df, "x") == percentileOf(df, "x"), s"shape $i")
    }
    val li = graft.core.Tables.lineitem(spark, sf)
    assert(exactOf(li, "l_extendedprice") == percentileOf(li, "l_extendedprice"),
      "fixture column")
  }

  test("groupedPercentiles ≡ percentile() per group bit-for-bit " +
      "(round-16 grouped bin-bounded order statistics — the q25 rewrite)") {
    import spark.implicits._
    def check(df: org.apache.spark.sql.DataFrame, label: String,
        qs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.9, 0.99)): Unit = {
      val rows = Sketches.groupedPercentiles(df, "g", "x", qs).collect()
      val got = rows.map(r => (r.getString(0), r.getDouble(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
      assert(got.size == rows.length, s"$label: one row per (group, q)")
      // percentile() per scalar q, nulls included: an all-null group
      // yields null
      val dq = qs.distinct
      val want = df.groupBy("g")
        .agg(expr(s"array(${dq.map(q => s"percentile(x, $q)").mkString(", ")})")
          .as("ex"))
        .select(col("g"), posexplode(col("ex"))).collect()
        .map(r => (r.getString(0), dq(r.getInt(1))) ->
          Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
      assert(got == want, s"$label: $got vs $want")
    }
    // shapes per group: long tail, duplicate masses, NEGATIVES and
    // ZEROS (the grouped helper covers the full real line, unlike
    // DDSketch's positive domain), tiny n (1/2/3), integer positions
    val planted =
      (1 to 7000).map(i => ("tail", math.exp((i % 997) / 86.0))) ++
      (1 to 3000).map(i => ("dups", if (i <= 1500) 7.25 else 7.26)) ++
      Seq(("dups", 1e9)) ++
      (1 to 2000).map(i => ("negs", (i % 101).toDouble - 50.5)) ++
      Seq(("none", 42.0), ("two", 1.0), ("two", 2.0),
        ("three", 3.0), ("three", 1.0), ("three", 2.0)) ++
      (0 until 11).map(i => ("intpos", i + 0.5))
    check(planted.toDF("g", "x"), "planted")
    // a repeated quantile and an all-null group
    val edge = (0 to 10).map(i => ("a", Option(100.0 + i / 100.0))) ++
      Seq.fill(4)(("b", Option.empty[Double]))
    check(edge.toDF("g", "x"), "duplicate q, all-null group",
      Seq(0.3, 0.5, 0.5))
    // the q25 fixture shape itself
    val base = graft.core.Tables.orders(spark, sf)
      .join(broadcast(graft.core.Tables.customer(spark, sf)
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("g"),
        col("o_totalprice").as("x"))
    check(base, "q25 base")
  }

  test("ddQuantiles: merge-order independence — any partition layout " +
      "yields identical bins and identical gate rows") {
    import spark.implicits._
    val xs = (1 to 5000).map(i => (i % 613) + 0.5)
    val a = xs.toDF("x").repartition(1)
    val b = xs.toDF("x").repartition(17)
    val binsA = Sketches.ddBins(a, "x", 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val binsB = Sketches.ddBins(b, "x", 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(binsA == binsB)
    val gA = Sketches.ddQuantiles(a, "x").collect().map(_.toSeq).toSeq
    val gB = Sketches.ddQuantiles(b, "x").collect().map(_.toSeq).toSeq
    assert(gA == gB)
  }

  test("cmsHeavyHitters: estimates never underestimate; exact in the " +
      "collision-free regime; layout-invariant") {
    import spark.implicits._
    // skewed multiset: key k repeated k times, 1..60
    val rows = (1 to 60).flatMap(k => Seq.fill(k)(k.toLong))
    val df = rows.toDF("k")
    val out = Sketches.cmsHeavyHitters(df, "k", k = 10).collect()
    assert(out.length == 10)
    assert(out.forall(_.getBoolean(3)), "CMS must never underestimate")
    // 60 keys into 4×2048 counters: collisions essentially impossible
    // per row, and the MIN over 4 rows removes any residue — the
    // estimates ARE the exact counts, so the top-10 is 60..51
    assert(out.map(_.getLong(1)).toSeq == (60 to 51 by -1).map(_.toLong),
      s"collision-free regime must be exact: ${out.mkString(", ")}")
    assert(out.forall(r => r.getLong(1) == r.getLong(2)))
    val out2 = Sketches.cmsHeavyHitters(df.repartition(13), "k", k = 10)
      .collect().map(_.toSeq).toSeq
    assert(out2 == out.map(_.toSeq).toSeq, "layout must not matter")
  }

  test("weightedSample: reproducible across layouts; honors the weight " +
      "ordering for equal hashes") {
    import spark.implicits._
    val docs = (1L to 400L).map(i => (i, (i % 97) + 1)).toDF("id", "w")
    val s1 = Sketches.weightedSample(docs, "id", "w", k = 20)
      .collect().map(_.toSeq).toSeq
    val s2 = Sketches.weightedSample(docs.repartition(11), "id", "w", k = 20)
      .collect().map(_.toSeq).toSeq
    assert(s1 == s2, "the same ids must select the same sample")
    assert(s1.length == 20)
    // zero/negative weights are excluded, not sampled
    val withZero = (docs.collect().map(r => (r.getLong(0), r.getLong(1)))
      :+ (9999L, 0L)).toSeq.toDF("id", "w")
    assert(!Sketches.weightedSample(withZero, "id", "w", k = 400)
      .collect().exists(_.getLong(0) == 9999L))
  }

  test("ddQuantiles: on data containing zeros and negatives the exact " +
      "twin describes the SAME strictly-positive population the sketch " +
      "bins") {
    import spark.implicits._
    val pos = (1 to 3000).map(i => ((i % 613) + 1).toDouble)
    val mixed = (pos ++ Seq.fill(500)(0.0) ++ (1 to 500).map(-_.toDouble))
      .toDF("x")
    val out = Sketches.ddQuantiles(mixed, "x", 0.01, qs = Seq(0.5, 0.9))
      .collect()
    // within_bound must hold — it would routinely fail if the exact
    // percentile ranked the zeros/negatives the sketch never binned
    assert(out.forall(_.getBoolean(2)), out.mkString(", "))
    // and the exact values are the positives-only percentiles
    val exactPos = pos.toDF("x")
      .agg(expr("percentile(x, array(0.5, 0.9))")).collect()(0)
      .getSeq[Double](0).map(v => math.rint(v * 1e6) / 1e6)
    assert(out.map(_.getDouble(1)).toSeq == exactPos,
      s"got ${out.map(_.getDouble(1)).toSeq}, want $exactPos")
  }

  test("t20/t21 float-gate dormancy: on the gated fixture the top-k " +
      "cutoffs and 6dp roundings sit far from any libm-sensitive " +
      "boundary") {
    // the t20/t21 oracles hash ln()-derived doubles rounded to 6dp;
    // ln is not bit-specified across engines, so a raw-key tie at the
    // top-k cutoff or a value landing on a .5 rounding boundary could
    // flip the hash per libm. This pins that the risk is DORMANT on
    // the fixture: cutoff gaps and boundary distances are orders of
    // magnitude above the ~1-ulp cross-libm disagreement.
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    // t20: raw A-ES keys, every doc — gap at the k=50 cutoff
    val m = 1L << 31
    val u = (pmod(xxhash64(col("doc_id")), lit(m)) + 1).cast("double") /
      lit((m + 1).toDouble)
    val keys = docs.where(col("n_chars") > 0)
      .select((log(u) / col("n_chars").cast("double")).as("k"))
      .orderBy(col("k").desc).limit(51).collect().map(_.getDouble(0))
    val cutGap = (keys(49) - keys(50)).abs / math.max(keys(49).abs, 1e-300)
    assert(cutGap > 1e-9, s"t20 rank-50/51 relative gap $cutGap too tight")
    def boundaryDist(vs: Seq[Double]): Double = vs.map { v =>
      val f = (v.abs * 1e6) % 1.0
      (f - 0.5).abs
    }.min
    val bd20 = boundaryDist(keys.take(50).toSeq)
    assert(bd20 > 1e-6, s"t20 6dp rounding boundary distance $bd20")
    // t21: RAW BM25 scores (pre-rounding) — gap at the k=10 cutoff
    val scores = graft.ops.TextOps.bm25Scores(docs,
        Seq("vector", "merge", "window"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(11).collect().map(_.getDouble(1))
    if (scores.length == 11) {
      val g = (scores(9) - scores(10)).abs / math.max(scores(9).abs, 1e-300)
      assert(g > 1e-9, s"t21 rank-10/11 relative gap $g too tight")
    }
    val bd21 = boundaryDist(scores.take(10).toSeq)
    assert(bd21 > 1e-6, s"t21 6dp rounding boundary distance $bd21")
  }

  test("tagPhrases: mixed-order dictionary, overlapping hits counted, " +
      "unhit docs and phrases absent") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextOps.tagPhrases(docs, Seq("a", "a b", "b c a", "q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, "a", 2L), (1L, "a b", 2L), (1L, "b c a", 1L)),
      s"got $out")
  }

  test("bm25TopK: hand-computed two-doc corpus") {
    import spark.implicits._
    // d1 = "a b a", d2 = "b c": query {a} — only d1 matches;
    // N=2, df(a)=1, idf = ln(1 + (2-1+0.5)/1.5) = ln(2)
    // tf=2, dl=3, avgdl=2.5 → norm = 2*2.2/(2+1.2*(0.25+0.75*3/2.5))
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("a"), k = 5).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
    val expected = math.log(2.0) *
      (2.0 * 2.2) / (2.0 + 1.2 * (0.25 + 0.75 * 3.0 / 2.5))
    assert(math.abs(out.head.getDouble(1) - expected) < 1e-6,
      s"got ${out.head.getDouble(1)}, want $expected")
    assert(out.head.getInt(3) == 1)
  }

  test("bm25TopK plan: AQE converts the candidates-into-dl join to " +
      "broadcast at probe scale — runtime size stat as the candidate " +
      "bound, no forced broadcast() that a stop-word query would OOM") {
    val docs = graft.core.Tables.documents(spark, sf)
    val df = TextOps.bm25TopK(docs, Seq("vector", "merge", "window"))
    // the scoring join carries NO broadcast hint (a stop-word-scale
    // candidate set must be allowed to degrade to a shuffled join
    // instead of OOMing the driver); for a probe-sized query AQE's
    // exact post-shuffle size stat picks broadcast at runtime —
    // execute first, then lint the FINAL adaptive plan
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"probe-sized BM25 candidates did not broadcast into dl:\n$plan")
  }
}
