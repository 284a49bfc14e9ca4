package graft

/** Plan lint across EVERY gated query: the scale guards the README
  * promises, enforced mechanically so a future edit can't silently
  * introduce an accidental cartesian/nested-loop join. Quadratic
  * scans that are the declared semantics are whitelisted explicitly
  * with the reason. */
class PlanLintSpec extends SparkSpec {

  /** Declared-quadratic (or broadcast-nested-loop-by-design) queries:
    * c5/c6 score a broadcast query set against the corpus — the
    * O(n·q) scan IS the semantics; their subquadratic siblings (c8,
    * c7/c10 IVF) are the scale paths. c7 itself no longer plans any
    * nested loop: assignment and probing run the CentroidIndex
    * kernels (one argmax per row), not a corpus × k join. */
  private val nestedLoopByDesign =
    Set("c5_cosine_neardup", "c6_ann_topk",
      // (c7/c10 left this list in round 6: their recall gates now read
      // the exact baseline from a persisted asset, so c6's declared
      // BNLJ no longer rides along — the gate plans are pure IVF
      // kernel-probed hash joins + the recall join)
      // t7's corpus-size factor rides a 1-ROW broadcast cross join
      // (the scalar-subquery shape; a nested loop over one row is a
      // constant) — not a data-dependent nested loop
      "t7_term_weights",
      // c13's ADC stage is an exhaustive broadcast scan BY DESIGN —
      // the same O(n·q) shape as c6, but each pair costs m table
      // adds over 16-byte codes instead of a 64-dim dot over 256-byte
      // vectors (the 32× working-set cut is the point); IVF
      // composition is the sublinear path, c7/c10
      "c13_pq_ann",
      // q31's tolerance gate zips two 1-ROW aggregates (sketch
      // estimate × exact distinct) — same scalar shape; Catalyst
      // folds any constant equi-key back to a cross join
      "q31_hll_union",
      // t18's quantile pick crosses the BIN-sized cumulative walk
      // (≤ ~2100 rows, log-bounded whatever the data) with a 1-row
      // total and a 3-row quantile list — sketch-sized constants,
      // never data
      "t18_quantile_sketch",
      // q25's grouped twin (round 16) crosses the per-GROUP total
      // table (5 rows) with the 2-row quantile list — the same
      // sketch-sized-constant shape as t18, never data (the data-side
      // joins are broadcast hash joins on (group, bin))
      "q25_percentiles",
      // t21's (N, avgdl) corpus scalar rides the same 1-ROW
      // broadcast cross join as t7's
      "t21_bm25_topk")

  /** Streaming gates execute the stream inside the query closure —
    * covered by StreamingSpec; skipped here to keep the lint fast. */
  private val streamingGates =
    Set("s1_stream_rollup", "s3_stream_dedup", "s4_stream_join",
      "s5_stream_static", "s6_stream_sessionize", "s7_foreach_batch_upsert",
      "s8_upsert_tx", "s9_tx_stream_read", "s10_tx_medallion",
      "s11_tx_cdc_snapshot", "s12_stream_left_join", "s13_tws_sessionize")

  test("no accidental cartesian or nested-loop joins in any gated plan") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!streamingGates(name)) {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a CartesianProduct")
        if (!nestedLoopByDesign(name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name plans a BroadcastNestedLoopJoin")
      }
    }
  }

  test("q25_percentiles executes without ObjectHashAggregate") {
    // the grouped bin-bounded order statistics replaced the exact
    // percentile aggregates, whose object buffers planned 8 of these
    val df = SparkEntry.queries("q25_percentiles")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"q25_percentiles plans an ObjectHashAggregate:\n$plan")
  }

  test("c4_ngram_jaccard executes without a checkpoint scan") {
    // the df-cap folded into the single posting aggregation, so c4
    // needs no localCheckpoint; one would plan as `Scan ExistingRDD`
    val df = SparkEntry.queries("c4_ngram_jaccard")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD"),
      s"c4_ngram_jaccard plans a checkpoint scan:\n$plan")
  }

  test("c4_ngram_jaccard sorts its posting lists in the aggregate alone") {
    // a sort outside the aggregation can be copied into the Filter the
    // optimizer infers for the pair generators, sorting a list again
    import org.apache.spark.sql.catalyst.expressions.SortArray
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = SparkEntry.queries("c4_ngram_jaccard")(spark, sf)
    df.collect()
    val sorting = operators(df.queryExecution.executedPlan)
      .filter(_.expressions.exists(_.exists(_.isInstanceOf[SortArray])))
    assert(sorting.size == 1 && sorting.head.isInstanceOf[BaseAggregateExec],
      s"sort_array runs in ${sorting.map(_.nodeName)}:\n" +
        df.queryExecution.executedPlan)
  }

  /** Every operator of an executed plan, through AQE's stages and
    * reused exchanges. */
  private def operators(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
      case q: QueryStageExec => operators(q.plan)
      case r: ReusedExchangeExec => operators(r.child)
      case other => other +: other.children.flatMap(operators)
    }
  }

  test("p1_clean_corpus runs the language kernel once per operator and " +
      "never joins documents to itself") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = SparkEntry.queries("p1_clean_corpus")(spark, sf)
    df.collect()
    val ops = operators(df.queryExecution.executedPlan)
    // a Filter on the CASE-chain argmax inlined one kernel call per score
    val kernels = ops.map(_.expressions
      .map(_.collect { case k: graft.functions.LangScores => k }.size).sum)
    assert(kernels.sum >= 1, "p1 plans no language kernel")
    assert(kernels.forall(_ <= 1),
      s"p1 evaluates graft_lang_scores ${kernels.max} times in one operator")
    def scansDocuments(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      operators(p).exists {
        case s: FileSourceScanExec =>
          s.metadata.get("Location").exists(_.contains("documents"))
        case _ => false
      }
    val selfJoins = ops.collect {
      case j: BaseJoinExec if scansDocuments(j.left) && scansDocuments(j.right) => j
    }
    assert(selfJoins.isEmpty, s"p1 joins documents to itself:\n${selfJoins.mkString("\n")}")
  }

  test("dupClusters checkpoints minHashLshPairs' pairs without a range-partitioned sort") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.ops.Dedup.dupClusters(graft.ops.Dedup.minHashLshPairs(
        graft.core.Tables.documents(spark, sf))).collect()
      // listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(!plans.isEmpty, "no localCheckpoint job was seen")
      plans.forEach(p => assert(!p.contains("rangepartitioning"),
        s"the checkpointed pair job sorts its pairs:\n$p"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("no interpreted python/UDF eval nodes in any gated plan") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!streamingGates(name)) {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("BatchEvalPython") && !plan.contains("ArrowEval"),
          s"$name plans a Python eval node")
      }
    }
  }
}
