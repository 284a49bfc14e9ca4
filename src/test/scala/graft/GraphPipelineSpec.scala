package graft

import org.apache.spark.sql.functions._
import graft.steps.{GraphOps, GraphPipeline}
import graft.core.Tables

/** The flagship pipeline: 4 steps materialize in dependency order
  * through the IO manager; graph semantics are internally consistent.
  * (Value-level parity is the g1/g2 DuckDB gate.) */
class GraphPipelineSpec extends SparkSpec {

  test("pipeline materializes all 4 assets in order with row counts") {
    val dir = java.nio.file.Files.createTempDirectory("graphpipe").toString
    val reports = GraphPipeline.run(spark, sf, dir)
    assert(reports.map(_.step) == Seq("nodes", "edges", "graph", "graph_aggr"))
    assert(reports.forall(_.ok), reports.filterNot(_.ok).mkString(";"))
    assert(reports.forall(_.result.metadata("rows").toLong > 0))
    // graph row count == edges row count (every edge resolves both ends)
    val byStep = reports.map(r => r.step -> r.result.metadata("rows").toLong).toMap
    assert(byStep("graph") == byStep("edges"))
    assert(byStep("nodes") ==
      Tables.customer(spark, sf).count() + Tables.supplier(spark, sf).count())
  }

  test("graph aggregates conserve edge weight and transaction counts") {
    val n = GraphOps.nodes(Tables.customer(spark, sf), Tables.supplier(spark, sf))
    val e = GraphOps.edges(Tables.lineitem(spark, sf), Tables.orders(spark, sf))
    val g = GraphOps.graph(n, e)
    val aggr = GraphOps.graphAggr(g)
    val lhs = aggr.agg(sum("n_transactions")).collect()(0).getLong(0)
    assert(lhs == Tables.lineitem(spark, sf).count())
    val edgeW = e.agg(round(sum("weight"), 0)).collect()(0).getDouble(0)
    val aggrW = aggr.agg(round(sum("total_weight"), 0)).collect()(0).getDouble(0)
    assert(math.abs(edgeW - aggrW) <= 1.0)
    // star-shaped plan: node joins broadcast
    val plan = g.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2)
  }

  test("bucketed pipeline: both endpoint joins run with ZERO shuffle exchange") {
    import graft.steps.BucketedGraphOps
    val dir = java.nio.file.Files.createTempDirectory("graphbkt").toString
    val reports = graft.steps.GraphPipeline.runBucketed(spark, sf, dir)
    assert(reports.forall(_.ok), reports.filterNot(_.ok).mkString(";"))
    // disable broadcast so only the bucket layout can kill the shuffle
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for (join <- Seq(BucketedGraphOps.resolveSrc(spark),
          BucketedGraphOps.resolveDst(spark))) {
        join.collect() // finalize AQE
        val plan = join.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange hashpartitioning") &&
          !plan.contains("Exchange rangepartitioning"), plan)
      }
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed pipeline result is identical to the broadcast-join g2") {
    import graft.steps.BucketedGraphOps
    BucketedGraphOps.persistInputs(spark, sf) // self-sufficient
    BucketedGraphOps.persistMid(spark)
    val baseline = GraphOps.graphAggr(GraphOps.graph(
      GraphOps.nodes(Tables.customer(spark, sf), Tables.supplier(spark, sf)),
      GraphOps.edges(Tables.lineitem(spark, sf), Tables.orders(spark, sf))))
    assert(BucketedGraphOps.graphAggr(spark).collect().toSeq ==
      baseline.collect().toSeq)
  }

  test("kCorePeel: tails strip, the core survives, cascade needs rounds") {
    import spark.implicits._
    // triangle a-b-c (2-core) with a path d-e hanging off c:
    // round 1 drops e (deg 1), round 2 drops d (deg 1 after e left)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e")).toDF("src", "dst")
    val r = graft.steps.GraphOps.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set("a", "b", "c"), s"core only, got ${r.keySet}")
    assert(r.values.toSet == Set(2L), "each core node keeps degree 2")
    // one round is NOT enough for the cascade - d still in
    val r1 = graft.steps.GraphOps.kCorePeel(edges, k = 2, rounds = 1)
      .collect().map(_.getString(0)).toSet
    assert(r1.contains("d") && !r1.contains("e"))
    // k above the max degree empties the graph
    assert(graft.steps.GraphOps.kCorePeel(edges, k = 10, rounds = 2).isEmpty)
  }

  test("pageRank: exact integer micro-units match the hand computation") {
    import spark.implicits._
    // star a-{b,c}: closure outdeg a=2, b=1, c=1; pr0 = 1e6 each
    // iter1: a ← b+c = 2e6 → 150000 + 850000*2e6 div 1e6 = 1850000
    //        b,c ← a/2 = 500000 → 150000 + 425000 = 575000
    // iter2: a ← 575000+575000 → 150000 + 977500 = 1127500
    //        b,c ← 1850000 div 2 = 925000 → 150000 + 786250 = 936250
    val edges = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val r1 = graft.steps.GraphOps.pageRank(edges, iters = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 == Map("a" -> 1850000L, "b" -> 575000L, "c" -> 575000L),
      s"got $r1")
    val r2 = graft.steps.GraphOps.pageRank(edges, iters = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 == Map("a" -> 1127500L, "b" -> 936250L, "c" -> 936250L),
      s"got $r2")
    // determinism: identical rerun, bit-for-bit
    val r2b = graft.steps.GraphOps.pageRank(edges, iters = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 == r2b)
  }

  test("pageRank round plans CO-PARTITIONED: zero Exchange on the edge " +
      "join, the rank transpose is the only shuffle") {
    import spark.implicits._
    val coalesceKey = "spark.sql.adaptive.enabled"
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(coalesceKey)
    val prevB = spark.conf.get(bcastKey)
    spark.conf.set(coalesceKey, "false")
    // broadcast off: at WEB scale the rank side does not broadcast —
    // the assertion targets the shuffle-join shape that must then be
    // co-partitioned (at fixture scale AQE would broadcast, which is
    // also fine, but proves nothing about the 100× plan)
    spark.conf.set(bcastKey, "-1")
    try {
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // pinned inputs exactly as the loop builds them: bare closure
      // (hash(src), sorted), node-sized outdeg off the pinned closure
      // (zero-exchange agg), node-sized rank vector
      val edges = (0 until 200).map(i => (s"n$i", s"n${(i * 7) % 200}"))
        .toDF("src", "dst")
      val e = edges.unionAll(edges.select(col("dst"), col("src")))
        .distinct().repartition(n, col("src"))
        .sortWithinPartitions("src").localCheckpoint(true)
      val outdeg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
      val pr = outdeg.select(col("node"), lit(1000000L).as("pr"))
        .localCheckpoint(true)
      val round = graft.steps.GraphOps.pageRankRound(e, outdeg, pr)
      val plan = round.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length -
        "ExchangeReuse".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"per-round plan must shuffle ONLY the rank transpose " +
          s"($exchanges exchanges):\n$plan")
      // and the joins themselves sit below no Exchange: the plan
      // segment from the first join downward has none (both the
      // node-sized share join and the edge join consume pinned layouts)
      val joinIdx = plan.indexOf("SortMergeJoin") max plan.indexOf("ShuffledHashJoin")
      if (joinIdx >= 0)
        assert(!plan.substring(joinIdx).contains("Exchange"),
          s"the edge join must consume the pinned partitioning:\n$plan")
      // the edge side of the edge join must not re-sort: its recorded
      // in-partition order satisfies the SMJ — count the Sorts (share
      // side + the two node-sized share-join sorts are allowed; an
      // edge-sized 4th means the pinned ordering was lost)
      val sorts = "(?m)^(?:[^\\n]*?)Sort ".r.findAllIn(plan).length
      assert(sorts <= 3,
        s"edge side must consume the checkpointed sort ($sorts Sorts):\n$plan")
    } finally {
      spark.conf.set(bcastKey, prevB)
      prev match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None    => spark.conf.unset(coalesceKey)
      }
    }
  }

  test("coProjection's posting-list pairs equal the self-join spelling's") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic bipartite incidence with shared neighbors and
    // repeated (left, right) rows (the dedup must collapse them)
    val rows = for (l <- 0 until 120; j <- 0 until 6)
      yield (l.toLong, ((l * (j + 3) + j * 17) % 40).toLong)
    val inc = (rows ++ rows.take(50)).toDF("left", "right")
    withoutCodegenFallback {
      // the projection vs the join spelling computed inline with the
      // same cap/threshold
      val co = graft.steps.GraphOps.coProjection(inc, 10000, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pr = inc.distinct()
      val co0 = pr.alias("x").join(pr.alias("y"), Seq("left"))
        .where(col("x.right") < col("y.right"))
        .groupBy(col("x.right").as("a"), col("y.right").as("b"))
        .agg(count(lit(1)).as("c"))
      val mx = co0.agg(max("c")).head.getLong(0)
      val want = co0.where(col("c") * 10 >= lit(8) * lit(mx))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(co == want, s"projection diverged: ${co.diff(want)} / ${want.diff(co)}")
      // the full census agrees across right types: string rights vs
      // long rights under an order-preserving relabeling
      val strInc = (rows ++ rows.take(50))
        .map { case (l, r) => (l, f"r$r%03d") }.toDF("left", "right")
      val a = graft.steps.GraphOps.triangleCensus(inc).head
      val b = graft.steps.GraphOps.triangleCensus(strInc).head
      assert((a.getLong(0), a.getLong(1), a.getLong(2)) ==
        ((b.getLong(0), b.getLong(1), b.getLong(2))), s"$a vs $b")
      // hand-counted shared neighbors, and the degree cap drops left 0
      val small = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 1L), (1L, 2L))
        .toDF("left", "right")
      def counts(cap: Int) = GraphOps.coPairCounts(small, cap)
        .as[(Long, Long, Long)].collect().toSet
      assert(counts(10) == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
      assert(counts(2) == Set((1L, 2L, 1L)))
    }
  }

  test("coProjection: rights outside [0, 2^31) give the string-relabeled census") {
    import spark.implicits._
    val rows = for (l <- 0 until 120; j <- 0 until 6)
      yield (l.toLong, ((l * (j + 3) + j * 17) % 40).toLong)
    val all = rows ++ rows.take(50)
    def census(inc: org.apache.spark.sql.DataFrame) = {
      val r = GraphOps.triangleCensus(inc, minShareTenths = 1).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    withoutCodegenFallback {
      val want = census(all.map { case (l, r) => (l, f"r$r%03d") }
        .toDF("left", "right"))
      assert(want._3 > 0, s"the census must hold triangles: $want")
      for (shift <- Seq(1L << 31, -20L)) {
        val got = census(all.map { case (l, r) => (l, r + shift) }
          .toDF("left", "right"))
        assert(got == want, s"rights shifted by $shift")
      }
    }
  }

  test("triangleCensus: sparse hand graph, hot-left df-cap") {
    import spark.implicits._
    // co-edges: AB (l1), BC (l2), AC (l3), CD (l4) → one triangle ABC
    val inc = Seq(("l1", "A"), ("l1", "B"), ("l2", "B"), ("l2", "C"),
      ("l3", "A"), ("l3", "C"), ("l4", "C"), ("l4", "D"))
      .toDF("left", "right")
    val r = graft.steps.GraphOps.triangleCensus(inc).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 1L)),
      s"got $r")
    // a celebrity left node touching everything would manufacture a
    // clique; the df-cap drops it and the census is unchanged
    val celeb = inc.unionAll(
      Seq("A", "B", "C", "D", "E").map(("l5", _)).toDF("left", "right"))
    val capped = graft.steps.GraphOps.triangleCensus(celeb,
      maxLeftDegree = 3).head
    assert((capped.getLong(0), capped.getLong(1), capped.getLong(2)) ==
      ((4L, 4L, 1L)), s"got $capped")
    // without the cap, the weighted projection still filters the
    // celebrity-only pairs (share 1 < 8/10 of max share 2); dropping
    // the share threshold too lets the planted clique through
    val weighted = graft.steps.GraphOps.triangleCensus(celeb).head
    assert(weighted.getLong(2) == 1L, s"share threshold holds: $weighted")
    val loose = graft.steps.GraphOps.triangleCensus(celeb,
      minShareTenths = 1).head
    assert(loose.getLong(2) > 1L,
      s"uncapped + unthresholded celebrity forms a clique: $loose")
  }
}
