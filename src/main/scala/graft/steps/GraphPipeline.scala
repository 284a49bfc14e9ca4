package graft.steps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import org.apache.spark.sql.graft.Pins

/** The reference's flagship production workload shape — the 4-asset
  * Common Crawl interfirm-network pipeline **NodesOnly → Edges →
  * Graph → GraphAggr** (ascii-hydra
  * `papers/multi_platform_orchestration/paper.md:150-156`; join/agg
  * tuning it drove: `resources/spark.py:37-44`) — instantiated over
  * the fixture star schema: customers and suppliers are the firms
  * (nodes), lineitems are the interfirm transactions (edges).
  *
  * Each step is a [[PipelineStep]] materializing parquet through the
  * IO manager, so the DAG runner, path policy, and write metrics all
  * get exercised by the workload they were built for. The pure
  * DataFrame transforms are exposed separately ([[GraphOps]]) and
  * gated as g1/g2 queries with DuckDB oracles.
  *
  * Scale notes: nodes are dimension-sized (broadcast); the edge
  * build shuffles lineitem once on orderkey (its natural key);
  * the rollup aggregates partially map-side. Edge weight sums are
  * rounded 2dp inside the op so canonical hashing is stable.
  */
object GraphOps {

  /** Nodes: every firm (customer ∪ supplier) with its nation —
    * the "NodesOnly" asset (seed cleanup semantics: distinct,
    * typed ids). */
  def nodes(customer: DataFrame, supplier: DataFrame): DataFrame =
    customer.select(
      concat(lit("c"), col("c_custkey")).as("node_id"),
      lit("customer").as("kind"),
      col("c_nationkey").cast("int").as("nationkey"))
      .unionAll(supplier.select(
        concat(lit("s"), col("s_suppkey")).as("node_id"),
        lit("supplier").as("kind"),
        col("s_nationkey").cast("int").as("nationkey")))
      .distinct()

  /** Edges: customer→supplier transaction rollup — the "Edges" asset
    * (the compute-heavy extraction step in the reference). One
    * shuffle of lineitem on orderkey, dimension side broadcast. */
  def edges(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(orders.select("o_orderkey", "o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("custkey"), col("l_suppkey").as("suppkey"))
      .agg(
        count(lit(1)).as("n_transactions"),
        // exact decimal (see Relational.decRevenue): double summation
        // order flips the 2dp boundary on .xx5 values
        graft.ops.Relational.decRevenue.as("weight"))

  /** Graph: edges resolved against both node endpoints — the "Graph"
    * asset (join-heavy step). Node side broadcast. */
  def graph(nodes: DataFrame, edges: DataFrame): DataFrame =
    edges
      .join(broadcast(nodes.where(col("kind") === "customer")
          .select(col("node_id").as("src"), col("nationkey").as("src_nation"))),
        concat(lit("c"), col("custkey")) === col("src"))
      .join(broadcast(nodes.where(col("kind") === "supplier")
          .select(col("node_id").as("dst"), col("nationkey").as("dst_nation"))),
        concat(lit("s"), col("suppkey")) === col("dst"))
      .select("src", "dst", "src_nation", "dst_nation", "n_transactions", "weight")

  /** GraphAggr: nation-pair rollup — the "GraphAggr" asset
    * (aggregation step): trade volume between nation pairs. */
  def graphAggr(graph: DataFrame): DataFrame =
    graph
      .groupBy(col("src_nation"), col("dst_nation"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("n_transactions")).as("n_transactions"),
        // weights are exact 2dp decimals-in-doubles; sum as decimal
        round(sum(col("weight").cast("decimal(18,2)")), 2).cast("double")
          .as("total_weight"))
      .orderBy("src_nation", "dst_nation")

  /** Largest removed-set the delta-peel will BROADCAST per round.
    * 8 M node ids ≈ low hundreds of MB on each executor — cheap next
    * to re-shuffling an edge-sized closure, and real peels remove
    * far fewer after round 1. Beyond the cap the round falls back to
    * an un-hinted join (planner-chosen shuffle) rather than risk an
    * executor-sized broadcast. */
  private val BroadcastRemovedCap = 8L * 1000 * 1000

  /** Node cap for broadcasting the PageRank share table (node, c):
    * ~60–100 B/row in a HashedRelation, so 1 M rows ≈ 100 MB — safe
    * on conventional executors; past it the per-round edge join runs
    * as the co-partitioned zero-exchange SMJ instead. */
  private val BroadcastShareCap = 1L * 1000 * 1000

  /** Fresh PRIVATE session for a conf-pinned iterative loop: shares
    * the SparkContext / cache / catalog with the caller's session but
    * owns its SQLConf, so pinning AQE (and friends) off for the loop
    * can neither leak into concurrently-planned queries nor be
    * clobbered by a concurrent loop — the save/restore pattern this
    * replaces had both hazards. Loop-relevant runtime conf is copied
    * from the parent (builder-set conf is inherited via the shared
    * SparkConf; shuffle.partitions may have been set at runtime). */
  private def loopSession(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      parent.conf.get("spark.sql.shuffle.partitions"))
    // pinned layouts must survive localCheckpoint: under AQE a
    // checkpoint records UnknownPartitioning (the adaptive plan's
    // partitioning is not final at checkpoint time), so every loop
    // round would re-shuffle its edge-sized state
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** G4 — bounded-round k-core peel over an undirected edge list: each
    * round drops every node of degree < k (with its edges); after
    * `rounds` rounds the survivors and their degrees come back. A
    * FIXED round count (not run-to-convergence) keeps the result
    * deterministic and SQL-replayable by an unrolled CTE chain — the
    * iterative-graph-algorithm shape that PageRank/label-propagation
    * share, in exact integer arithmetic so the oracle hashes
    * bit-for-bit.
    *
    * DELTA-PEEL: the loop state is the NODE-SIZED degree table, never
    * a re-materialized closure. The symmetric closure is checkpointed
    * ONCE, pinned hash-partitioned on src ([[graft.core.Parallelism]]
    * sizes the layout from its measured bytes, not the session
    * constant); each round then
    *   1. takes `removed = σ(deg < k)` off the degree table,
    *   2. counts, per surviving src, its edges INTO `removed`
    *      (broadcast semi join against the pinned closure + map-side
    *      partial agg — ZERO exchange, since the closure is already
    *      src-partitioned), and
    *   3. decrements: `deg' = deg − lost` over the survivors — a
    *      co-partitioned node-sized join, zero exchange.
    * Per-round data movement is ∝ the PEELED mass (the removed set
    * and its incident-edge counts), not the closure: the prior
    * formulation's per-round closure shuffle was the measured
    * 17.6×-per-decade super-linearity in the 100× probe. Rounds where
    * the removed set exceeds [[BroadcastRemovedCap]] fall back to a
    * planner-chosen join; a round that removes NOBODY is a fixed
    * point, so the loop exits early (the remaining rounds are
    * identities — same result the unrolled oracle computes).
    *
    * Equivalence to the peel-by-rematerialization semantics: a node's
    * degree after t rounds equals its original degree minus its edges
    * into ∪ R₁..R_t (the disjoint per-round removed sets) — exactly
    * its degree within the surviving subgraph; nodes whose degree
    * reaches 0 without having been peeled yet are absent from the
    * closure-derived output, hence the final `deg ≥ 1` filter.
    *
    * Runs on a private [[loopSession]] (AQE pinned off, conf isolated
    * from the caller). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    val spark = loopSession(edges.sparkSession)
    val in = org.apache.spark.sql.graft.StreamShims.rebind(spark, edges)
    val n0 = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE exchange builds the closure (round 15): hash(src) clusters
    // every (src, dst) duplicate into one partition — HashPartitioning
    // on a SUBSET of the dedup keys satisfies its ClusteredDistribution
    // — so repartitioning FIRST and deduplicating in place replaces the
    // old distinct-exchange-then-repartition-exchange (two full
    // closure shuffles) with one, and the dedup output keeps the
    // pinned hash(src) layout the loop consumes.
    var e0 = Pins.pin(in.select(col("src"), col("dst"))
      .unionAll(in.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(n0, col("src"))
      .dropDuplicates("src", "dst"))
    e0 = graft.core.Parallelism.resizeCheckpoint(e0, n0, col("src"))
    // initial degrees: co-partitioned map-side agg, zero exchange
    var deg = Pins.pin(e0.groupBy("src").agg(count(lit(1)).as("deg")))
    var stable = false
    for (_ <- 1 to rounds if !stable) {
      val removed = deg.where(col("deg") < k).select("src")
      // one node-sized action per round: drives BOTH the early exit
      // and the broadcast decision
      val nRemoved = removed.count()
      if (nRemoved == 0) stable = true
      else {
        val rSide = removed.withColumnRenamed("src", "dst")
        val r = if (nRemoved <= BroadcastRemovedCap) broadcast(rSide) else rSide
        // edges from (anyone) into this round's removed set, counted
        // per src — srcs that are themselves removed (now or earlier)
        // simply find no match in the filtered deg join below
        val lost = e0.join(r, Seq("dst"), "left_semi")
          .groupBy("src").agg(count(lit(1)).as("lost"))
        val next = Pins.pin(deg.where(col("deg") >= k)
          .join(lost, Seq("src"), "left")
          .select(col("src"),
            (col("deg") - coalesce(col("lost"), lit(0L))).as("deg")))
        Pins.release(deg)
        deg = next
      }
    }
    val out = deg.where(col("deg") >= 1)
      .select(col("src").as("node_id"), col("deg").as("degree"))
      .orderBy("node_id")
    // the result reads only the final degree table, which stays
    // pinned; the edge-sized closure is released before the next peel
    // (bench cold+warm×2) builds its own
    Pins.release(e0)
    out
  }

  /** G5 — bounded-iteration PageRank over the symmetric edge closure
    * in EXACT integer micro-units: ranks live in millionths
    * (pr₀ = 1 000 000 per node), each step is
    * pr' = 150 000 + (850 000 · Σ_in ⌊pr/outdeg⌋) div 1 000 000 —
    * every operation is 64-bit integer division/multiplication, so
    * the result is a pure function of the graph with NO float
    * summation-order sensitivity (the k-core discipline), and the
    * DuckDB oracle unrolls the identical arithmetic. Each iteration
    * is one join + one aggregation on the edge key — the classic
    * iterative-graph shuffle shape; `localCheckpoint` per round keeps
    * the plan flat (the [[graft.ops.Dedup.dupClusters]] discipline).
    * Symmetric closure ⇒ no dangling nodes and every node receives
    * mass. Overflow: a hub's incoming sum s can approach the TOTAL
    * mass n·10⁶, so the naive 850 000·s product would overflow near
    * ~10⁷ nodes with high-degree hubs; the damping step therefore
    * splits the multiply as (s div 10⁶)·850 000 +
    * ((s mod 10⁶)·850 000) div 10⁶ — value-identical (exact integer
    * identity for s ≥ 0), intermediates bounded by max(s, 8.5·10¹¹),
    * so headroom holds to s < 2⁶³, i.e. ~10¹²-node graphs. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be positive")
    // CO-PARTITIONED ITERATION (the g3 bucketed-join discipline
    // applied to the loop): the EDGE side is partitioned ONCE by the
    // join key (src) — layout sized from its measured bytes by
    // [[graft.core.Parallelism]], and SORTED within partitions so the
    // checkpoint records an ordering the per-round sort-merge join
    // consumes without re-sorting the edge side — and localCheckpoint
    // pins that layout into the round plans; each round's rank side
    // comes out of its aggregation hash-partitioned on the SAME key
    // space, so the per-round join inserts ZERO Exchange: the only
    // shuffle per round is the inherent rank transpose (groupBy dst),
    // which moves node-sized data, never the edge list. Runs on a
    // private [[loopSession]] (AQE pinned off — under AQE a
    // localCheckpoint records UnknownPartitioning, so every round
    // would re-shuffle the edge side, the round-10 audit's 3.6× at
    // 10×; conf isolated from the caller). When the edge layout
    // resizes, the session's shuffle-partition count follows it so
    // the per-round rank aggregations land co-partitioned with the
    // edges at the NEW count.
    val spark = loopSession(edges.sparkSession)
    val in = org.apache.spark.sql.graft.StreamShims.rebind(spark, edges)
    val n0 = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the loop's edge-sized state is the BARE closure — two columns,
    // never three: the round-12 100× profile showed the rounds
    // re-read-bound on this state (~25 GB × iters on one box), so
    // `outdeg` moves OFF the per-edge rows into a pinned NODE-sized
    // table and the per-round share pr⌊/⌋outdeg is computed by a
    // co-partitioned node join instead of being carried on every edge
    // (one long per edge ≈ a third of the re-read volume, for a
    // node-sized join that shuffles nothing)
    // one-exchange closure build: see kCorePeel — hash(src) satisfies
    // the dedup's clustering, so the distinct runs in place after the
    // single repartition and the sort records the SMJ-ready order
    var e = Pins.pin(in.select(col("src"), col("dst"))
      .unionAll(in.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(n0, col("src"))
      .dropDuplicates("src", "dst")
      .sortWithinPartitions("src"))
    e = graft.core.Parallelism.resizeCheckpoint(e, n0, col("src"), sorted = true)
    val n = e.rdd.getNumPartitions
    if (n != n0) spark.conf.set("spark.sql.shuffle.partitions", n)
    // node-sized, pinned hash(node) at the edge layout's count: the
    // agg output of the pinned closure is ALREADY hash(src)-partitioned
    // (map-side partial + zero-exchange final), and every round's share
    // join consumes it co-partitioned
    val outdeg = Pins.pin(e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg")))
    var pr = Pins.pin(outdeg.select(col("node"), lit(1000000L).as("pr")))
    // below the cap the node-sized share BROADCASTS (per-round edge
    // join = BroadcastHashJoin: no exchange, no sort — what the old
    // loop got implicitly at small scale from pr's known checkpoint
    // size, which the share's join-output estimate would forfeit);
    // above it the co-partitioned zero-exchange SMJ is the plan —
    // the 100× regime the spec pins. The decision reads the eager
    // checkpoint's STORAGE bytes (driver-side block accounting — free)
    // instead of running a count() job: ~24 B/row unsafe-row footprint
    // puts the 1 M-node cap at ~24 MB; count() only as the fallback
    // when storage info is unavailable (part of the round-13 trim of
    // sf0.1 loop constants — the same-JVM A/B (ABProbe g5-loop) showed
    // the loop SHAPE at parity, leaving per-call driver actions as the
    // r12 bench residual)
    val bcastShare = graft.core.Parallelism.persistedBytes(outdeg)
      .map(_ <= BroadcastShareCap * 24L)
      .getOrElse(outdeg.count() <= BroadcastShareCap)
    for (_ <- 1 to iters) {
      val next = Pins.pin(pageRankRound(e, outdeg, pr, bcastShare))
      Pins.release(pr)
      pr = next
    }
    // the result reads only the final rank vector, which stays pinned
    val out = pr.select(col("node").as("node_id"),
      col("pr").as("pr_micro")).orderBy("node_id")
    Pins.release(e, outdeg)
    out
  }

  /** One PageRank round over pinned inputs — the [[pageRank]] loop
    * body, exposed so the spec can assert the co-partitioned iteration
    * plan. Three inputs, all pinned: the bare closure (hash(src),
    * sorted — the only EDGE-sized state), the node-sized `outdeg`
    * table, and the node-sized rank vector; per round the share
    * pr⌊/⌋outdeg is a ZERO-exchange node join, the edge join consumes
    * the pinned layout with zero Exchange (and no edge-side sort), and
    * the rank transpose (groupBy dst) is the round's ONLY shuffle. */
  private[graft] def pageRankRound(e: DataFrame, outdeg: DataFrame,
      pr: DataFrame, bcastShare: Boolean = false): DataFrame = {
    val share0 = pr.join(if (bcastShare) broadcast(outdeg) else outdeg, "node")
      .select(col("node"), expr("pr div outdeg").as("c"))
    val share = if (bcastShare) broadcast(share0) else share0
    e.join(share, e("src") === share("node"))
      .select(col("dst"), col("c"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("c")).as("s"))
      .select(col("node"),
        (lit(150000L) + expr(
          "(s div 1000000) * 850000 + ((s % 1000000) * 850000) div 1000000"
        )).as("pr"))
  }

  /** G6 — bipartite co-occurrence projection + triangle census: from
    * (left, right) incidence edges, build the RIGHT-side co-occurrence
    * graph (two right nodes adjacent iff they share a left neighbor —
    * the co-purchase/co-citation projection every graph pipeline
    * derives from transactional data), then count its triangles with
    * the canonical ordered two-join (a < b < c — each triangle
    * counted exactly once, O(m^1.5)-shaped work). `maxLeftDegree`
    * df-caps hot left nodes before the pair blow-up (a celebrity
    * customer touching every supplier would alone emit |right|²
    * pairs — the c2 posting-cap discipline; dropped rows observable
    * via the returned metric discipline of [[graft.ops.Dedup]]).
    * Exact integer arithmetic throughout — the oracle is the
    * identical relational spelling. */
  def triangleCensus(incidence: DataFrame,
      maxLeftDegree: Int = 10000, minShareTenths: Int = 8): DataFrame = {
    // private conf-pinned session (see [[loopSession]]): AQE off so
    // the pinned projection partitioning survives its localCheckpoint,
    // and subset-key co-partitioning ON — the closing semi join
    // clusters on (a, b) but the projection is pinned on `a` alone;
    // accepting the subset is sound (equal a ⇒ same partition) and
    // keeps the projection side from re-shuffling. The one-row census
    // is materialized eagerly, so nothing plans outside the session.
    val spark = loopSession(incidence.sparkSession)
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val in = org.apache.spark.sql.graft.StreamShims.rebind(spark, incidence)
    val co = coProjection(in, maxLeftDegree, minShareTenths)
    // the census row stays pinned: the caller reads it lazily
    val census = Pins.pin(censusOf(co))
    Pins.release(co)
    census
  }

  /** The weighted co-occurrence projection the census closes over —
    * its own entry point so specs can pin the projection without
    * replicating the df-cap/threshold logic (a sf0.1-vs-10× count of
    * it and its wedge join measured both exactly linear: 1,153 →
    * 11,530 pairs, 1,433 → 14,330 wedges). Returns the pinned
    * (hash-partitioned on `a`, checkpointed) pair set. */
  private[graft] def coProjection(incidence: DataFrame,
      maxLeftDegree: Int, minShareTenths: Int): DataFrame = {
    // WEIGHTED projection (the co-occurrence-analysis norm): keep a
    // pair iff its shared-neighbor count reaches minShareTenths/10 of
    // the maximum share — an sf-independent sparsifier in exact
    // integer arithmetic (an UNweighted projection of transactional
    // data degenerates toward a complete graph, whose triangle join
    // is n³ no matter the algorithm). The max is one model-sized
    // driver scalar (the c10 discipline).
    val co0 = Pins.pin(coPairCounts(incidence, maxLeftDegree))
    val maxShare = Option(co0.agg(max(col("c"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // pin the projection hash-partitioned on `a`: the triangle wedge
    // join's build side (bc.a) and the closing semi join's right side
    // (ac.a, the leading key) both cluster on it, so the LARGEST
    // intermediate never re-shuffles — each downstream join moves only
    // the wedge side (the g3 bucketed-join discipline applied to the
    // census; one co-sized exchange here buys two away below)
    val nParts = incidence.sparkSession
      .conf.get("spark.sql.shuffle.partitions").toInt
    val co = Pins.pin(co0
      .where(col("c") * 10 >= lit(minShareTenths) * lit(maxShare))
      .select("a", "b")
      .repartition(nParts, col("a")))
    Pins.release(co0)
    co
  }

  /** The (a, b, c) shared-neighbor pair counts of the projection —
    * [[coProjection]]'s pair-emission subtree, exposed pre-checkpoint
    * so plan evidence and probes can see the shape the checkpoint
    * otherwise hides. The distinct incidence is hash-partitioned on
    * `left` once, which also clusters the posting aggregation of
    * [[graft.ops.Dedup.postingPairs]]: each left's sorted rights emit
    * their (a < b) pairs, a left above `maxLeftDegree` rights is
    * dropped with an observe()d count (a celebrity customer touching
    * every supplier would alone emit |right|² pairs), and the pairs
    * are counted on (a, b). Rights may be of any orderable type. */
  private[graft] def coPairCounts(incidence: DataFrame,
      maxLeftDegree: Int): DataFrame = {
    val nParts = incidence.sparkSession
      .conf.get("spark.sql.shuffle.partitions").toInt
    val distinctInc = incidence.select("left", "right")
      .repartition(nParts, col("left"))
      .dropDuplicates("left", "right")
    graft.ops.Dedup.postingPairs(distinctInc, Seq("left"), col("right"),
        Some(maxLeftDegree), "graft_g6_hot_lefts")
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
  }

  /** The one-row (nodes, edges, triangles) census of a pinned
    * projection. */
  private def censusOf(co: DataFrame): DataFrame = {
    val tri = co.alias("ab")
      .join(co.alias("bc"), col("ab.b") === col("bc.a"))
      .select(col("ab.a").as("ta"), col("ab.b").as("tb"),
        col("bc.b").as("tc"))
      .join(co.alias("ac"),
        col("ta") === col("ac.a") && col("tc") === col("ac.b"), "left_semi")
    // one row (nodes, edges, triangles) via a tagged union + ONE
    // aggregation — no constant-side nested-loop joins in the plan
    val nodes = co.select(col("a").as("n"))
      .unionAll(co.select(col("b").as("n"))).distinct()
    nodes.select(lit("n").as("k"))
      .unionAll(co.select(lit("e").as("k")))
      .unionAll(tri.select(lit("t").as("k")))
      .agg(
        sum(when(col("k") === "n", 1L).otherwise(0L)).as("n_nodes"),
        sum(when(col("k") === "e", 1L).otherwise(0L)).as("n_edges"),
        sum(when(col("k") === "t", 1L).otherwise(0L)).as("n_triangles"))
  }
}

/** Bucket-aligned graph pipeline — the shuffle-free-join story for
  * the 100 TB case where the node side does NOT broadcast (the
  * [[GraphOps.graph]] plan broadcasts nodes; at full Common Crawl
  * scale the firm table is itself large).
  *
  * One table can be bucketed on exactly one key, and the graph build
  * joins edges on BOTH endpoints — so the resolution is staged, each
  * stage bucket-aligned on its own join key:
  *   1. `graft_edges_b` (bucketed by src) ⋈ `graft_nodes_c`
  *      (bucketed by node_id) — shuffle-free SortMergeJoin; the
  *      result materializes as `graft_graph_mid` bucketed by dst
  *      (the ONLY data movement is the bucketed write itself);
  *   2. `graft_graph_mid` ⋈ `graft_nodes_s` (bucketed by node_id) —
  *      shuffle-free again; then the nation-pair rollup (whose
  *      aggregation exchange is inherent — 625 groups — and tiny).
  * Join keys are materialized as real columns (`src`/`dst`) at write
  * time: bucket pruning/alignment only applies to bucket COLUMNS, not
  * expressions like `concat('c', custkey)`.
  *
  * GraphPipelineSpec pins: zero ShuffleExchange in either join (with
  * broadcast disabled, so the bucketing — not a broadcast — is what
  * eliminates the shuffle) and result identity with [[GraphOps]]. */
object BucketedGraphOps {
  val Buckets = 8

  /** Write edges + split node sides as bucketed catalog tables, each
    * repartitioned into its bucket layout first so every bucket is a
    * single file (lets Spark use the sortBy order and skip sorts). */
  def persistInputs(spark: SparkSession, sfDir: String): Unit = {
    val n = GraphOps.nodes(Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir))
    val e = GraphOps.edges(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir))
      .withColumn("src", concat(lit("c"), col("custkey")))
      .withColumn("dst", concat(lit("s"), col("suppkey")))
      .drop("custkey", "suppkey")
    BucketedTables.write(e.repartition(Buckets, col("src")),
      "graft_edges_b", Buckets, "src", Seq("src"))
    BucketedTables.write(
      n.where(col("kind") === "customer")
        .select(col("node_id"), col("nationkey").as("src_nation"))
        .repartition(Buckets, col("node_id")),
      "graft_nodes_c", Buckets, "node_id", Seq("node_id"))
    BucketedTables.write(
      n.where(col("kind") === "supplier")
        .select(col("node_id"), col("nationkey").as("dst_nation"))
        .repartition(Buckets, col("node_id")),
      "graft_nodes_s", Buckets, "node_id", Seq("node_id"))
  }

  /** Stage 1: resolve the customer endpoint — bucket-aligned SMJ. */
  def resolveSrc(spark: SparkSession): DataFrame =
    spark.table("graft_edges_b")
      .join(spark.table("graft_nodes_c"), col("src") === col("node_id"))
      .select(col("src"), col("dst"), col("src_nation"),
        col("n_transactions"), col("weight"))

  /** Materialize the intermediate bucketed by the OTHER endpoint. */
  def persistMid(spark: SparkSession): Unit =
    BucketedTables.write(resolveSrc(spark).repartition(Buckets, col("dst")),
      "graft_graph_mid", Buckets, "dst", Seq("dst"))

  /** Stage 2: resolve the supplier endpoint — bucket-aligned SMJ. */
  def resolveDst(spark: SparkSession): DataFrame =
    spark.table("graft_graph_mid")
      .join(spark.table("graft_nodes_s"), col("dst") === col("node_id"))
      .select(col("src"), col("dst"), col("src_nation"), col("dst_nation"),
        col("n_transactions"), col("weight"))

  /** g2 over the bucketed layout — identical result contract to
    * [[GraphOps.graphAggr]] ∘ [[GraphOps.graph]]. */
  def graphAggr(spark: SparkSession): DataFrame =
    GraphOps.graphAggr(resolveDst(spark))

  /** Build the whole bucketed layout once per (session, sfDir) —
    * the layout is an ingest-time asset, so its write cost must not
    * ride every query against it (the `registerCatalog`/
    * `PartitionedEvents.layout` discipline): repeated gate/bench
    * invocations re-read the same catalog tables. */
  def persistAllCached(spark: SparkSession, sfDir: String): Unit =
    persisted.synchronized {
      val dirs = persisted.getOrElseUpdate(spark,
        scala.collection.mutable.Set.empty)
      if (!dirs.contains(sfDir)) {
        persistInputs(spark, sfDir)
        persistMid(spark)
        dirs += sfDir
      }
    }
  // weakly keyed by session (the Tables.registered pattern): entries
  // die with their session instead of outliving it in a strong map
  private val persisted = scala.collection.mutable.WeakHashMap
    .empty[SparkSession, scala.collection.mutable.Set[String]]
}

/** The pipeline: four dependency-ordered steps materializing through
  * the IO manager, mirroring the reference's asset graph. */
object GraphPipeline {
  private def t(ctx: RunContext, name: String): DataFrame =
    ctx.io.read(ctx.paths.assetPath(name))

  final class NodesStep(sfDir: String) extends PipelineStep {
    val name = "nodes"
    def execute(ctx: RunContext): StepResult = {
      val out = GraphOps.nodes(
        Tables.customer(ctx.spark, sfDir), Tables.supplier(ctx.spark, sfDir))
      val r = ctx.io.write(out, ctx.paths.assetPath("nodes"))
      StepResult(Map("rows" -> r.rowCount.toString))
    }
  }
  final class EdgesStep(sfDir: String) extends PipelineStep {
    val name = "edges"
    override val deps = Seq("nodes")
    def execute(ctx: RunContext): StepResult = {
      val out = GraphOps.edges(
        Tables.lineitem(ctx.spark, sfDir), Tables.orders(ctx.spark, sfDir))
      val r = ctx.io.write(out, ctx.paths.assetPath("edges"))
      StepResult(Map("rows" -> r.rowCount.toString))
    }
  }
  final class GraphStep extends PipelineStep {
    val name = "graph"
    override val deps = Seq("nodes", "edges")
    def execute(ctx: RunContext): StepResult = {
      val out = GraphOps.graph(t(ctx, "nodes"), t(ctx, "edges"))
      val r = ctx.io.write(out, ctx.paths.assetPath("graph"))
      StepResult(Map("rows" -> r.rowCount.toString))
    }
  }
  final class GraphAggrStep extends PipelineStep {
    val name = "graph_aggr"
    override val deps = Seq("graph")
    def execute(ctx: RunContext): StepResult = {
      val out = GraphOps.graphAggr(t(ctx, "graph"))
      val r = ctx.io.write(out, ctx.paths.assetPath("graph_aggr"))
      StepResult(Map("rows" -> r.rowCount.toString))
    }
  }

  def run(spark: SparkSession, sfDir: String, stateDir: String): Seq[StepReport] = {
    val paths = PathResolver(ExecutionMode.SmallDevSampleLocal,
      localStateDir = stateDir)
    val ctx = RunContext(spark, ExecutionMode.SmallDevSampleLocal, Engine.Local,
      None, paths, new ParquetIOManager(spark))
    new PipelineRunner(Seq(new NodesStep(sfDir), new EdgesStep(sfDir),
      new GraphStep, new GraphAggrStep)).run(ctx)
  }

  // ——— bucketed variant: same asset DAG, joins bucket-aligned ———

  final class BucketedInputsStep(sfDir: String) extends PipelineStep {
    val name = "bucketed_inputs"
    def execute(ctx: RunContext): StepResult = {
      BucketedGraphOps.persistInputs(ctx.spark, sfDir)
      StepResult(Map("tables" -> "graft_edges_b,graft_nodes_c,graft_nodes_s"))
    }
  }
  final class BucketedMidStep extends PipelineStep {
    val name = "graph_mid"
    override val deps = Seq("bucketed_inputs")
    def execute(ctx: RunContext): StepResult = {
      BucketedGraphOps.persistMid(ctx.spark)
      StepResult(Map("table" -> "graft_graph_mid"))
    }
  }
  final class BucketedAggrStep extends PipelineStep {
    val name = "graph_aggr_bucketed"
    override val deps = Seq("graph_mid")
    def execute(ctx: RunContext): StepResult = {
      val r = ctx.io.write(BucketedGraphOps.graphAggr(ctx.spark),
        ctx.paths.assetPath("graph_aggr_bucketed"))
      StepResult(Map("rows" -> r.rowCount.toString))
    }
  }

  def runBucketed(spark: SparkSession, sfDir: String,
      stateDir: String): Seq[StepReport] = {
    val paths = PathResolver(ExecutionMode.SmallDevSampleLocal,
      localStateDir = stateDir)
    val ctx = RunContext(spark, ExecutionMode.SmallDevSampleLocal, Engine.Local,
      None, paths, new ParquetIOManager(spark))
    new PipelineRunner(Seq(new BucketedInputsStep(sfDir),
      new BucketedMidStep, new BucketedAggrStep)).run(ctx)
  }
}
