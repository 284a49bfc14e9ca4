package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.ops.{Dedup, TextOps}
import graft.steps.GraphOps
import org.apache.spark.sql.graft.Pins

/** Same-JVM interleaved A/B of two named spellings of one computation:
  * ONE pinned input, the arms alternating which runs first each round,
  * each timed to a noop sink, so box drift and hypervisor steal hit
  * both arms alike (box-level A/Bs of identical binaries have measured
  * ±25 %). Prints per-round walls and the per-arm means; round 0 warms
  * both arms and stays out of the means. After each arm it also prints
  * the bytes of cached blocks (the probe's own pinned input included)
  * and the heap retained after a full collection. Not a gate.
  *
  * Usage: tools/run.sh graft.tools.ABProbe <experiment> [SF_DIR] [ROUNDS]
  * (SF_DIR defaults to `SPARK_GRAFT_SF_DIR`, as for graft.Bench).
  *
  *  - `ids`: g5 PageRank + g4 k-core over STRING ("c…"/"s…") vs packed
  *    LONG (2k / 2k+1) node ids.
  *  - `g6-pairs`: the degree-capped incidence self-join vs
  *    `GraphOps.coPairCounts` (posting-list pairs), over the same
  *    pinned distinct incidence.
  *  - `bucket-pairs`: the interpreted nested-`transform` HOF over
  *    pinned posting lists vs `Dedup.postingPairs` over the pinned
  *    rows they were collected from (its sort runs in its own
  *    aggregation, so that arm pays the aggregation too), over c4's
  *    prefix shingles; `bucket-pairs-planted`: the same two arms over
  *    4 planted buckets of 2,000 ids each (SF_DIR is not read).
  *  - `g5-loop`: the "fat" PageRank loop (outdeg carried on every edge,
  *    the formulation before the slim loop) vs `GraphOps.pageRank`.
  *  - `dup-clusters`: `Dedup.dupClusters`' distributed label-propagation
  *    loop vs its driver-side union-find, over c11's MinHash-LSH pair
  *    graph.
  *  - `dup-clusters-cap`: the same two paths over a synthetic graph of
  *    `Dedup.LocalPairCap` pairs; its SF_DIR argument is not read.
  *  - `lang-filter`: a Filter on the CASE-chain language argmax (each
  *    score reference inlines the scores kernel) vs one on
  *    `TextOps.langPred` (one reference), over `documents` ×40; prints
  *    the rows on which the two predictions differ.
  */
object ABProbe {
  /** A named spelling; running it writes its result to the noop sink. */
  private final case class Arm(name: String, run: () => Unit)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** lineitem ⋈ orders projected to (o_custkey, l_suppkey). */
  private def custSupp(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select("l_orderkey", "l_suppkey")
      .join(broadcast(Tables.orders(spark, d).select("o_orderkey", "o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_suppkey")

  /** Experiment name → its two arms, built over an input pinned once. */
  private val experiments
      : Map[String, (SparkSession, String) => (Arm, Arm)] = Map(
    "ids" -> { (spark, d) =>
      val inc = custSupp(spark, d).localCheckpoint(true)
      def graph(e: DataFrame): Unit = {
        noop(GraphOps.pageRank(e, 5)); noop(GraphOps.kCorePeel(e, 10, 6))
      }
      val str = inc.select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      val lng = inc.select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      (Arm("string-ids", () => graph(str)), Arm("long-ids", () => graph(lng)))
    },
    "g6-pairs" -> { (spark, d) =>
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val inc = custSupp(spark, d)
        .select(col("o_custkey").as("left"),
          col("l_suppkey").cast("long").as("right"))
        .repartition(n, col("left"))
        .dropDuplicates("left", "right")
        .sortWithinPartitions("left")
        .localCheckpoint(true)
      val keep = inc.groupBy("left").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") <= 10000).select("left")
      val pruned = inc.join(keep, Seq("left"), "left_semi")
      val join = pruned.alias("x")
        .join(pruned.alias("y"), Seq("left"))
        .where(col("x.right") < col("y.right"))
        .groupBy(col("x.right").as("a"), col("y.right").as("b"))
        .agg(count(lit(1)).as("c"))
      (Arm("join", () => noop(join)),
        Arm("helper", () => noop(GraphOps.coPairCounts(inc, 10000))))
    },
    "bucket-pairs" -> { (spark, d) =>
      val nGram = 3; val threshold = 0.8
      val withSh = Tables.documents(spark, d)
        .where(size(split(col("text"), " ")) >= nGram)
        .select(col("doc_id"),
          graft.ops.Dedup.hashedShingles(col("text"), nGram).as("sh"))
      val prefixLen =
        (size(col("sh")) - ceil(size(col("sh")) * lit(threshold)) + 1).cast("int")
      pairArms(withSh.select(col("doc_id"),
        explode(slice(col("sh"), lit(1), prefixLen)).as("s")))
    },
    "bucket-pairs-planted" -> { (spark, _) =>
      pairArms(spark.range(4 * 2000).select((col("id") % 4).as("s"),
        xxhash64(col("id")).as("doc_id")))
    },
    "g5-loop" -> { (spark, d) =>
      val edges = GraphOps.edges(Tables.lineitem(spark, d), Tables.orders(spark, d))
        .select(concat(lit("c"), col("custkey")).as("src"),
          concat(lit("s"), col("suppkey")).as("dst"))
        .localCheckpoint(true)
      (Arm("fat-loop", () => fatPageRank(spark, edges, 5)),
        Arm("pageRank", () => noop(GraphOps.pageRank(edges, 5))))
    },
    "dup-clusters" -> { (spark, d) =>
      dupClusterArms(Dedup.minHashLshPairs(Tables.documents(spark, d)))
    },
    "dup-clusters-cap" -> { (spark, _) =>
      // chains of 5 docs (4 pairs each) over hashed Long ids, as many
      // pairs as the driver path takes
      val k = col("id"); val c = (k / 4).cast("long") * 5 + k % 4
      dupClusterArms(spark.range(Dedup.LocalPairCap)
        .select(xxhash64(c).as("doc_a"), xxhash64(c + 1).as("doc_b")))
    },
    "lang-filter" -> { (spark, d) =>
      val docs = Tables.documents(spark, d)
        .select(col("doc_id"), col("text"), col("lang"),
          explode(sequence(lit(1), lit(40))).as("copy"))
        .localCheckpoint(true)
      val scores = TextOps.langScores(col("text"))
      val Seq(en, de, es, fr, zh) = (1 to 5).map(element_at(scores, _))
      val chain = when(en >= de && en >= es && en >= fr && en >= zh, "en")
        .when(de >= es && de >= fr && de >= zh, "de")
        .when(es >= fr && es >= zh, "es")
        .when(fr >= zh, "fr")
        .otherwise("zh")
      val argmax = TextOps.langPred(scores)
      val differ = docs.agg(count_if(!(chain <=> argmax))).head().getLong(0)
      println(s"[ab] lang-filter mismatches: $differ of ${docs.count()} rows")
      (Arm("case-chain", () => noop(docs.where(chain === col("lang")))),
        Arm("argmax", () => noop(docs.where(argmax === col("lang")))))
    })

  /** The distinct (doc_a, doc_b) pairs of the `doc_id` posting lists
    * per `s`: the nested-`transform` HOF over pinned lists vs
    * `Dedup.postingPairs` over the pinned rows. */
  private def pairArms(rows0: DataFrame): (Arm, Arm) = {
    val rows = rows0.localCheckpoint(true)
    val buckets = rows.groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .localCheckpoint(true)
    val hof = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
          y => struct(least(x, y).as("a"), greatest(x, y).as("b"))))))
        .as("p"))
      .select(col("p.a"), col("p.b"))
    val helper = Dedup.postingPairs(rows, Seq("s"), col("doc_id"), None, "")
    def pairs(p: DataFrame) =
      noop(p.select(col("a").as("doc_a"), col("b").as("doc_b")).distinct())
    (Arm("hof", () => pairs(hof)), Arm("helper", () => pairs(helper)))
  }

  /** `Dedup.dupClusters`' two paths over one pinned pair set, each arm
    * pinning it as `dupClusters` does. */
  private def dupClusterArms(pairs0: DataFrame): (Arm, Arm) = {
    val pairs = pairs0.localCheckpoint(true)
    def arm(name: String, path: DataFrame => DataFrame) = Arm(name, () => {
      val (p, _, _) = Dedup.pinPairs(pairs)
      try noop(path(p)) finally Pins.release(p)
    })
    (arm("distributed", Dedup.labelPropagation(_, 20)),
      arm("driver", Dedup.localClusters))
  }

  /** PageRank with outdeg joined onto every closure edge once and the
    * loop carrying that fat edge table — the spelling the slim loop of
    * [[GraphOps.pageRank]] replaced (bare closure + a pinned node-sized
    * outdeg). Same fixed-point damping, so both arms rank alike. */
  private def fatPageRank(parent: SparkSession, edges: DataFrame,
      iters: Int): Unit = {
    val spark = parent.newSession()
    spark.conf.set("spark.sql.shuffle.partitions",
      parent.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val in = org.apache.spark.sql.graft.StreamShims.rebind(spark, edges)
    val n0 = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = graft.core.Parallelism.resizeCheckpoint(
      Pins.pin(in.select(col("src"), col("dst"))
        .unionAll(in.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .repartition(n0, col("src"))
        .sortWithinPartitions("src")),
      n0, col("src"), sorted = true)
    val n = e.rdd.getNumPartitions
    spark.conf.set("spark.sql.shuffle.partitions", n)
    val withDeg = Pins.pin(e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(n, col("src"))
      .sortWithinPartitions("src"))
    var pr = Pins.pin(e.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(1000000L))
      .repartition(n, col("node")))
    for (_ <- 1 to iters) {
      val s = withDeg
        .join(pr, withDeg("src") === pr("node"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("s"))
      val next = Pins.pin(s.select(col("node"), (lit(150000L) + expr(
        "(s div 1000000) * 850000 + ((s % 1000000) * 850000) div 1000000"
      )).as("pr")))
      Pins.release(pr); pr = next
    }
    noop(pr)
    Pins.release(e, withDeg, pr)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: tools/run.sh graft.tools.ABProbe " +
      s"<${experiments.keys.toSeq.sorted.mkString("|")}> [SF_DIR] [ROUNDS]"
    val name = args.headOption.getOrElse(sys.error(usage))
    val setup = experiments.getOrElse(name, sys.error(usage))
    val d = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val rounds = args.lift(2).map(_.toInt).getOrElse(3)
    require(rounds >= 1, usage)
    val spark = Sessions.local()
    val (a, b) = setup(spark, d)
    val walls = (0 to rounds).map { r =>
      (if (r % 2 == 0) Seq(a, b) else Seq(b, a)).map { arm =>
        val t0 = System.nanoTime()
        arm.run()
        val s = (System.nanoTime() - t0) / 1e9
        val cached = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        // the pause lets the ContextCleaner free what the first GC found
        System.gc(); Thread.sleep(200); System.gc()
        val rt = Runtime.getRuntime
        println(f"[ab] $name ${arm.name} r$r: $s%.2f s; then ${cached >> 20} " +
          f"MB of blocks cached, ${(rt.totalMemory - rt.freeMemory) >> 20} " +
          "MB heap retained after a full collection")
        arm.name -> s
      }.toMap
    }.drop(1)
    def mean(arm: Arm): Double = walls.map(_(arm.name)).sum / walls.size
    println(f"[ab] $name MEAN over $rounds rounds: ${a.name}=${mean(a)}%.2f s " +
      f"${b.name}=${mean(b)}%.2f s (${a.name}/${b.name} ${mean(a) / mean(b)}%.2fx)")
    spark.stop()
  }
}
