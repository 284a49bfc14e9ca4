package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Similarity}

/** Property/metamorphic tests for the C-tier ops (SURVEY §5): the
  * probabilistic/hash-based operators that the DuckDB gate can't
  * hash-check get their semantics pinned here. */
class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("exact dedup: groups partition the corpus; idempotent") {
    val out = Dedup.exactDedup(docs).cache()
    val total = out.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == docs.count())
    // dedup of an already-unique corpus is identity-sized
    val unique = docs.dropDuplicates("text")
    assert(Dedup.exactDedup(unique).count() == unique.count())
    // doubling the corpus doubles multiplicities, not groups
    val doubled = Dedup.exactDedup(docs.unionAll(docs))
    assert(doubled.count() == out.count())
    assert(doubled.agg(sum("n_copies")).collect()(0).getLong(0) == 2 * total)
  }

  test("minhash-LSH pairs == exact ngram-Jaccard pairs on fixture") {
    val lsh = Dedup.minHashLshPairs(docs).select("doc_a", "doc_b")
    val exact = Dedup.ngramJaccardPairs(docs).select("doc_a", "doc_b")
    assert(lsh.exceptAll(exact).count() == 0) // exact verification → no FPs
    assert(exact.exceptAll(lsh).count() == 0) // recall 1 on planted dups
    assert(exact.count() > 0)                 // fixture has planted near-dups
  }

  test("ngram jaccard: identical docs pair at 1.0; df-cap drops hot shingles") {
    val twin = docs.limit(5)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val both = docs.select("doc_id", "text").unionAll(twin)
    val pairs = Dedup.ngramJaccardPairs(both, threshold = 0.999)
    val selfPairs = pairs.where(col("doc_b") === col("doc_a") + 1000000)
    assert(selfPairs.count() == 5)
    assert(selfPairs.agg(min("jaccard")).collect()(0).getDouble(0) == 1.0)
    // a df cap of 0 removes every shingle → no candidates at all
    assert(Dedup.ngramJaccardPairs(docs, maxDocFreq = Some(0)).count() == 0)
  }

  test("postingPairs matches the HOF on long, int, string and struct ids") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // the reference: each bucket's unsorted list, every position pair
    // through the interpreted HOF, ordered by least/greatest
    def hof(rows: DataFrame): Seq[String] = rows.groupBy("bucket")
      .agg(collect_list(col("id")).as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
          y => struct(least(x, y).as("a"), greatest(x, y).as("b"))))))
        .as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(_.toString).toSeq.sorted
    def helper(rows: DataFrame): Seq[String] =
      Dedup.postingPairs(rows, Seq("bucket"), col("id"), None, "spec")
        .collect().map(_.toString).toSeq.sorted
    // unsorted lists, duplicate values and a singleton list
    val longs = Seq((0, 5L), (0, 1L), (0, 3L), (0, 1L), (1, 2L), (1, 2L),
      (2, 9L)).toDF("bucket", "id")
    val ints = Seq((0, 5), (0, 1), (0, 3), (1, 7), (1, 2)).toDF("bucket", "id")
    val strings = Seq((0, "b"), (0, "a"), (0, "c"), (1, "x"), (1, "x"))
      .toDF("bucket", "id")
    val structs = Seq((0, 2L, 7L), (0, 1L, 9L), (0, 3L, 0L), (1, 4L, 4L))
      .toDF("bucket", "doc_id", "fp")
      .select(col("bucket"), struct(col("doc_id"), col("fp")).as("id"))
    withoutCodegenFallback {
      for (rows <- Seq(longs, ints, strings, structs)) {
        val (got, want) = (helper(rows), hof(rows))
        assert(got == want && got.nonEmpty, s"$got vs $want")
      }
      // ints stay ints: (a, b) are the list's own values
      assert(helper(ints) == Seq("[1,3]", "[1,5]", "[2,7]", "[3,5]"))
    }
  }

  test("df-cap bounds hot-key candidates without losing cold pairs") {
    import spark.implicits._
    // 30 docs sharing only ultra-hot "HOT HOT *" prefix shingles, plus
    // one planted twin pair that shares nothing hot
    val hot = (1 to 30).map(i => (i.toLong, s"HOT HOT HOT u$i v$i w$i"))
    val twins = Seq((100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon zeta"))
    val corpus = (hot ++ twins).toDF("doc_id", "text")
    // uncapped at a permissive threshold: hot-shingle pairs do appear
    val uncapped = Dedup.ngramJaccardPairs(corpus, threshold = 0.1,
      maxDocFreq = None)
    assert(uncapped.where(col("doc_a") <= 30).count() > 0)
    // capped: the hot posting list (df=30 > 5) is dropped — no pair
    // emission from it — while the cold twin pair is still found
    val capped = Dedup.ngramJaccardPairs(corpus, threshold = 0.1,
      maxDocFreq = Some(5))
    assert(capped.where(col("doc_a") <= 30).count() == 0)
    assert(capped.where(col("doc_a") === 100 && col("doc_b") === 101).count() == 1)
    // LSH bucket cap: 30 identical docs form >cap buckets in every
    // band and are dropped (exactDedup territory); distinct twins pass
    val flood = (1 to 30).map(i =>
      (i.toLong, "mass duplicated boilerplate text appears everywhere online"))
    val corpus2 = (flood ++ twins).toDF("doc_id", "text")
    val lshCapped = Dedup.minHashLshPairs(corpus2, maxBucket = Some(10))
    assert(lshCapped.where(col("doc_a") <= 30).count() == 0)
    assert(lshCapped.where(col("doc_a") === 100).count() == 1)
    assert(Dedup.minHashLshPairs(corpus2, maxBucket = None)
      .where(col("doc_a") <= 30).count() == 30 * 29 / 2)
    // SimHash bucket cap behaves the same way
    val shCapped = Dedup.simHashPairs(corpus2, maxBucket = Some(10))
    assert(shCapped.where(col("doc_a") <= 30).count() == 0)
    assert(shCapped.where(col("doc_a") === 100 && col("doc_b") === 101).count() == 1)
  }

  test("df-cap drops are observed, not silent (metric fires)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // flood (capped away) + surviving twins: the query must return
      // rows, else AQE empty-relation propagation prunes the whole
      // candidate subtree INCLUDING the CollectMetrics node (see
      // postingPairs scaladoc)
      val flood = (1 to 30).map(i =>
        (i.toLong, "mass duplicated boilerplate text appears everywhere online")) ++
        Seq((100L, "alpha beta gamma delta epsilon zeta"),
          (101L, "alpha beta gamma delta epsilon zeta"))
      Dedup.minHashLshPairs(flood.toDF("doc_id", "text"),
        maxBucket = Some(10)).count()
      // listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (!seen.containsKey("graft_c2_hot_buckets_gt10") &&
        System.nanoTime() < deadline) Thread.sleep(100)
      val m = seen.get("graft_c2_hot_buckets_gt10")
      assert(m != null, "df-cap observe metric never fired")
      assert(m.getAs[Long]("dropped_buckets") > 0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("simhash: hamming 0 for identical text; planted dups detected") {
    val fp = docs.select(Dedup.simHash(col("text")).as("fp"),
      col("doc_id")).cache()
    // determinism: same text → same fingerprint
    val twinPairs = Dedup.simHashPairs(
      docs.select("doc_id", "text").unionAll(
        docs.limit(3).select((col("doc_id") + 500000).as("doc_id"), col("text"))),
      maxHamming = 0)
    assert(twinPairs.where(col("doc_b") === col("doc_a") + 500000).count() == 3)
    // near-dups from the jaccard family mostly land within hamming 3
    val sim = Dedup.simHashPairs(docs, maxHamming = 3)
    assert(sim.count() > 0)
    assert(fp.count() == docs.count())
  }

  test("ann top-k: exact results, k rows per query, ordered by cosine") {
    val topk = Similarity.annTopK(emb, k = 5, queryStride = 100).cache()
    val nq = emb.where(col("vec_id") % 100 === 0).count()
    assert(topk.count() == nq * 5)
    // rank 1 has the max cosine per query
    val bad = topk.as("a").join(topk.as("b"),
      col("a.query_id") === col("b.query_id") &&
        (col("a.rnk") < col("b.rnk")) && (col("a.cosine") < col("b.cosine")))
    assert(bad.count() == 0)
    // no self matches
    assert(topk.where(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("ann IVF: subset of corpus, recall vs exact >= 0.5 on fixture") {
    val exact = Similarity.annTopK(emb, k = 10, queryStride = 100)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.annTopKIvf(emb, k = 10, queryStride = 100)
      .select("query_id", "neighbor_id")
    val hit = ivf.intersect(exact).count().toDouble
    val recall = hit / exact.count()
    assert(recall >= 0.5, f"IVF recall $recall%.2f too low")
  }

  test("kmeans centroids: k rows, right dims, IVF recall holds with them") {
    val cents = Similarity.kmeansCentroids(emb, k = 12, iters = 2).cache()
    // empty clusters may drop (documented Lloyd artifact); survivors
    // carry dense 0..m-1 ids
    val m = cents.count()
    assert(m >= 1 && m <= 12)
    assert(cents.select("centroid_id").collect().map(_.getLong(0)).sorted
      .toSeq == (0L until m))
    assert(cents.select(size(col("cv"))).distinct().collect()
      .map(_.getInt(0)).toSeq ==
      emb.select(size(col("embedding"))).distinct().collect()
        .map(_.getInt(0)).toSeq)
    val exact = Similarity.annTopK(emb, k = 10, queryStride = 100)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.annTopKIvf(emb, k = 10, queryStride = 100,
      centroidsOverride = Some(cents)).select("query_id", "neighbor_id")
    val recall = ivf.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.5, f"IVF-with-kmeans recall $recall%.2f too low")
  }

  test("cosine near-dup pairs are symmetric-free and thresholded") {
    val pairs = Similarity.cosineNearDupPairs(emb, threshold = 0.4).cache()
    assert(pairs.where(col("vec_a") >= col("vec_b")).count() == 0)
    assert(pairs.where(col("cosine") < 0.4).count() == 0)
    // cosine(v, v) == 1 sanity via a constructed twin
    val twin = emb.limit(1).select((col("vec_id") + 900000).as("vec_id"),
      col("embedding"))
    val withTwin = emb.select("vec_id", "embedding").unionAll(twin)
    val one = Similarity.cosineNearDupPairs(withTwin, threshold = 0.999999)
    assert(one.count() == 1)
  }

  test("cosine near-dup refuses oversized corpora, naming the scale paths") {
    // the O(n²) exact baseline must not silently melt at scale: above
    // maxRows it refuses and points at c8/c18/c19
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(emb, threshold = 0.4, maxRows = 10L)
        .count()
    }
    assert(e.getMessage.contains("srpNearDupPairs"), e.getMessage)
    // at or under the bound: runs (result unchanged vs the default)
    val n = emb.count()
    assert(Similarity.cosineNearDupPairs(emb, threshold = 0.4, maxRows = n)
      .count() ==
      Similarity.cosineNearDupPairs(emb, threshold = 0.4).count())
  }

  test("srp near-dup: perfect recall on constructed twins, exact precision") {
    // twins (cos = 1) must always be caught: all signature chunks equal
    val twins = emb.limit(5).select((col("vec_id") + 800000).as("vec_id"),
      col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(twins)
    val pairs = Similarity.srpNearDupPairs(corpus, threshold = 0.999999)
    assert(pairs.where(col("vec_b") === col("vec_a") + 800000).count() == 5)
    // precision exact: every returned pair really meets the threshold
    assert(pairs.where(col("cosine") < 0.999999).count() == 0)
    // subset property vs brute force at the same threshold
    val brute = Similarity.cosineNearDupPairs(corpus, threshold = 0.999999)
      .select("vec_a", "vec_b")
    assert(pairs.select("vec_a", "vec_b").exceptAll(brute).count() == 0)
  }

  test("dupClusters: transitive closure over a chain, singletons excluded") {
    import spark.implicits._
    // path graph 1-2-3-4 (diameter 3 → needs real iteration, not one
    // hop), plus the disjoint pair (10, 11); doc 99 appears nowhere
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val clusters = graft.ops.Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: one keeper per cluster composes with exactDedup semantics") {
    val pairs = graft.ops.Dedup.minHashLshPairs(docs)
    val clusters = graft.ops.Dedup.dupClusters(pairs)
    // cluster id is a member of its own cluster and the minimum
    val bad = clusters.groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.min("doc_id").as("mn"))
      .where(col("cluster_id") =!= col("mn"))
    assert(bad.isEmpty)
  }

  test("dupClusters on an empty pair set returns no clusters") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.ops.Dedup.dupClusters(empty).count() == 0)
  }

  test("centroid kernel matches the cosine max_by spelling on RAGGED vectors") {
    import spark.implicits._
    // mixed dims exercise the kernel's min-length truncation branch —
    // must equal VectorKernels.cosine semantics exactly
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f)),
      (1L, Array(0.2f, 0.9f)), // shorter than every centroid
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f)), // longer
      (3L, Array(-1.0f, 0.3f, 0.0f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Array(1.0f, 0.1f, 0.4f)),
      (1L, Array(0.0f, 1.0f, 0.0f))).toDF("centroid_id", "cv")
    val idx = Similarity.centroidIndex(centroids)
    val kernel = Similarity.assignCentroids(vecs, idx)
      .select("vec_id", "centroid_id").orderBy("vec_id").collect().toSeq
    val reference = vecs.as("c")
      .join(org.apache.spark.sql.functions.broadcast(centroids),
        org.apache.spark.sql.functions.lit(true))
      .select(col("vec_id"), col("centroid_id"),
        Similarity.cosine(col("cv"), col("c.embedding")).as("cdist"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.functions.max_by(col("centroid_id"),
        org.apache.spark.sql.functions.struct(col("cdist"),
          -col("centroid_id"))).as("centroid_id"))
      .orderBy("vec_id").collect().toSeq
    assert(kernel == reference)
  }

  test("dupClusters == union-find reference on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val nV = 2 + rnd.nextInt(14)
      val edges = Seq.fill(1 + rnd.nextInt(20)) {
        val a = rnd.nextInt(nV).toLong; val b = rnd.nextInt(nV).toLong
        if (a < b) (a, b) else if (b < a) (b, a) else (a, a + 1)
      }.distinct
      val expected = components(edges)
      val got = graft.ops.Dedup.dupClusters(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  /** dupClusters' distributed path, called directly: the pair set
    * pinned as dupClusters pins it, then min-label propagation. */
  private def distributed(pairs: org.apache.spark.sql.DataFrame) = {
    val (p, _, _) = graft.ops.Dedup.pinPairs(pairs)
    try graft.ops.Dedup.labelPropagation(p, 20)
    finally org.apache.spark.sql.graft.Pins.release(p)
  }

  /** Union-find reference: every vertex of `edges` → the minimum of its
    * component under `ord`. */
  private def components[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  test("dupClusters: a 31-doc chain is one cluster on the driver path; " +
      "the distributed loop refuses past its round bound") {
    import spark.implicits._
    val chain = (0 until 30).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == (0L to 30L).map(_ -> 0L))
    val e = intercept[IllegalStateException](distributed(chain))
    assert(e.getMessage.contains("dupClusters: labels still changing after 20 rounds"))
  }

  test("dupClusters: a null doc id refuses by name on both paths") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (None, Some(3L)), (Some(3L), Some(4L)), (Some(5L), None), (Some(5L), Some(6L)))
      .toDF("doc_a", "doc_b")
    for (run <- Seq(graft.ops.Dedup.dupClusters(_: org.apache.spark.sql.DataFrame), distributed _)) {
      val e = intercept[IllegalArgumentException](run(pairs))
      assert(e.getMessage.contains("dupClusters: 2 pairs hold a null doc id"))
    }
  }

  test("dupClusters: the pinned pair set counts its rows and id bytes, " +
      "UTF-8 for strings and the type's width otherwise") {
    import spark.implicits._
    for ((pairs, rows, bytes) <- Seq(
        (Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"), 2L, 32L),
        (Seq((1, 2)).toDF("doc_a", "doc_b"), 1L, 8L),
        (Seq(("ab", "cdé"), ("f", "g")).toDF("doc_a", "doc_b"), 2L, 8L))) {
      val (p, r, b) = graft.ops.Dedup.pinPairs(pairs)
      org.apache.spark.sql.graft.Pins.release(p)
      assert((r, b) == (rows, bytes))
    }
  }

  test("dupClusters == union-find reference on chains, stars, cliques and " +
      "random graphs; both paths agree in schema and order") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // graphs over vertices 0..n-1, each vertex renamed through a random
    // permutation so the component minimum sits anywhere in the chain
    def renamed(n: Int, edges: Seq[(Int, Int)]): Seq[(Int, Int)] = {
      val perm = rnd.shuffle((0 until n).toVector)
      edges.map { case (a, b) => if (rnd.nextBoolean()) (perm(a), perm(b)) else (perm(b), perm(a)) }
    }
    def chain(n: Int) = renamed(n, (0 until n - 1).map(i => (i, i + 1)))
    def star(n: Int) = renamed(n, (1 until n).map(i => (0, i)))
    def clique(n: Int) = renamed(n, for (a <- 0 until n; b <- a + 1 until n) yield (a, b))
    def random(n: Int, m: Int) = renamed(n, Seq.fill(m) {
      val a = rnd.nextInt(n); val b = rnd.nextInt(n); (a, if (a == b) (b + 1) % n else b)
    }.distinct)
    // id types: Long ids ≥ 2^31, negative Int ids, String ids
    def asLong(e: Seq[(Int, Int)]) = e.map { case (a, b) => ((1L << 31) + 3L * a, (1L << 31) + 3L * b) }
    def asNegInt(e: Seq[(Int, Int)]) = e.map { case (a, b) => (-7 * a - 1, -7 * b - 1) }
    def asString(e: Seq[(Int, Int)]) = e.map { case (a, b) => (s"d$a", s"d$b") }
    def check[T: Ordering](edges: Seq[(T, T)], pairs: org.apache.spark.sql.DataFrame,
        bothPaths: Boolean): Unit = {
      val expected = components(edges)
      val local = graft.ops.Dedup.dupClusters(pairs)
      val localRows = local.collect().toSeq
      assert(localRows.map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap == expected,
        s"edges=$edges")
      assert(localRows.map(_.getAs[T](0)) == expected.keys.toSeq.sorted,
        "driver path must come back sorted by doc_id")
      if (bothPaths) {
        val dist = distributed(pairs)
        assert(dist.schema == local.schema)
        assert(dist.collect().toSeq == localRows, s"edges=$edges")
      }
    }
    // driver path: diameters up to ~200
    for (g <- Seq(chain(201), star(200), clique(20), random(300, 280), random(60, 200))) {
      check(asLong(g), asLong(g).toDF("doc_a", "doc_b"), bothPaths = false)
      check(asNegInt(g), asNegInt(g).toDF("doc_a", "doc_b"), bothPaths = false)
      check(asString(g), asString(g).toDF("doc_a", "doc_b"), bothPaths = false)
    }
    // both paths: diameters below the distributed loop's 20 rounds; a
    // few cases only, since each distributed call runs ~a second
    val small = chain(12)
    check(asLong(small), asLong(small).toDF("doc_a", "doc_b"), bothPaths = true)
    val st = star(15)
    check(asNegInt(st), asNegInt(st).toDF("doc_a", "doc_b"), bothPaths = true)
    val cl = clique(6) ++ random(12, 10).map { case (a, b) => (a + 6, b + 6) }
    check(asString(cl), asString(cl).toDF("doc_a", "doc_b"), bothPaths = true)
  }

  test("srp signature: deterministic and in [0, 2^bits)") {
    val sigs = emb.select(Similarity.srpSignature(col("embedding"), 16).as("s"))
    val mm = sigs.agg(min("s"), max("s")).collect()(0)
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < (1L << 16))
    val a = sigs.collect().map(_.getLong(0)).toSeq
    val b = emb.select(Similarity.srpSignature(col("embedding"), 16).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("canonicalDocs: longest text wins, ties break to lowest doc_id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq(
      (1L, "short"), (2L, "the longest text here"), (3L, "mid text"),
      (10L, "same len"), (11L, "same len"))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.canonicalDocs(clusters, docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getInt(2), x.getLong(3)))).toMap
    assert(r(1L) == ((2L, 21, 3L)), "longest member is canonical")
    assert(r(10L) == ((10L, 8, 2L)), "equal lengths tie to lowest doc_id")
  }

  test("contaminatedDocs: planted eval spans flag, clean docs pass") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // verbatim 9-token span from the benchmark -> 5 shared 5-grams
      (1L, "intro words then the quick brown fox jumps over the lazy dog and more"),
      // shares tokens but never 5 consecutive -> clean
      (2L, "quick dog brown lazy fox the jumps tonight over words"),
      // too short for 5-grams -> clean by construction
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.contaminatedDocs(docs, bench).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(1L), s"only the verbatim-span doc flags, got $r")
    assert(r(1L) >= 3, "shares at least minShared 5-grams")
    // threshold respected: raising minShared above the overlap clears it
    assert(graft.ops.Dedup.contaminatedDocs(docs, bench, minShared = 50).isEmpty)
  }

  test("contaminatedDocsBloom: identical to the exact path (no false " +
      "negatives, candidates verified), codegen'd might_contain probe, " +
      "oversized filters refuse by name") {
    val docs = graft.core.Tables.documents(spark, sf)
    val corpus = docs.where(col("doc_id") % 17 =!= 0)
    val bench = docs.where(col("doc_id") % 17 === 0)
    val exact = graft.ops.Dedup.contaminatedDocs(corpus, bench)
    val bloom = graft.ops.Dedup.contaminatedDocsBloom(corpus, bench)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
    assert(exact.count() > 0, "fixture must flag something")
    // even at an absurd fpp the verify join keeps the result exact —
    // fpp only moves candidate COST, never correctness
    val sloppy = graft.ops.Dedup.contaminatedDocsBloom(
      corpus, bench, fpp = 0.5)
    assert(sloppy.exceptAll(exact).isEmpty && exact.exceptAll(sloppy).isEmpty)
    // the probe is the codegen'd Bloom kernel, not a row-wise
    // benchmark broadcast: the plan carries might_contain
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    // a filter that cannot fit the budget refuses toward the
    // alternatives instead of shipping a multi-GB literal
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.contaminatedDocsBloom(corpus, bench,
        maxFilterBytes = 8L)
    }
    assert(e.getMessage.contains("maxFilterBytes"), e.getMessage)
    // the benchmark shingle set is cached: the verify join reads the
    // one materialization (an in-memory relation in the plan), not a
    // third re-shingling of the benchmark
    assert(bloom.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"),
      "verify join must reuse the cached benchmark shingles")
  }

  test("contaminatedDocsBloom: the sketch build has no 4M-item analysis " +
      "cap — a filter sized for 8M shingles builds and probes with zero " +
      "false negatives") {
    import spark.implicits._
    // BloomFilterAggregate would refuse estimatedNumItems=8e6 >
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems (4e6 default)
    // at ANALYSIS — the exact regime the compressed path exists for.
    // The sketch build takes it without touching session confs.
    val nB = 8L * 1000 * 1000
    val numBits = math.ceil(
      -nB * math.log(0.01) / (math.log(2) * math.log(2))).toLong
    assert(numBits > 64L * 1024 * 1024, // past maxNumBits' 8 MiB too
      s"fixture must exceed the aggregate kernel's bit cap, got $numBits")
    val members = (0L until 4096L).map(_ * 7919L)
    val bf = graft.ops.Dedup.buildShingleBloom(
      members.toDF("sh"), nB, numBits)
    assert(bf.length.toLong >= numBits / 8, s"filter is ${bf.length} B")
    // probe through the same codegen'd kernel the operator uses
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    val probe = Bridge.column(BloomFilterMightContain(
      Literal(bf, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(col("sh"))))
    val hits = members.toDF("sh").where(probe).count()
    assert(hits == members.length.toLong,
      s"Bloom filters have no false negatives: $hits/${members.length}")
  }

  test("semDedup: twins collapse within clusters, min-id kept, cluster-bounded") {
    import spark.implicits._
    val dim = 8
    def vec(i: Int, eps: Float = 0f): Seq[Float] =
      (0 until dim).map(j => (if (j == i % dim) 1.0f else 0.0f) + eps * j)
    // two centroids (orthogonal); members near each; twins of 1 and 11
    val centroids = Seq((0L, vec(0)), (100L, vec(4))).toDF("centroid_id", "cv")
    val emb = Seq(
      (1L, vec(0)), (2L, vec(0, 0.01f)),   // cluster 0: 2 is a near-dup of 1
      (11L, vec(4)), (12L, vec(4, 0.01f)), // cluster 100: same shape
      (21L, vec(1)))                       // lone member, no dup
      .toDF("vec_id", "embedding")
    val r = graft.ops.Similarity.semDedup(emb, centroids, threshold = 0.95)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getBoolean(3)))
    // only the two dup groups appear; roots are the min ids; the lone
    // member is implicitly kept (absent)
    assert(r.toSet == Set((1L, 0L, 1L, true), (2L, 0L, 1L, false),
      (11L, 100L, 11L, true), (12L, 100L, 11L, false)), s"got ${r.toSeq}")
  }

  test("lmPerplexity: word-soup junk scores above reference-like text") {
    import spark.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "the cat ran to the dog")).toDF("doc_id", "text")
    val docs = ref.unionByName(Seq(
      (10L, "the cat sat on the rug"),     // in-distribution
      (11L, "zq xv qj wk zz yy")).toDF("doc_id", "text")) // junk
    val r = graft.ops.TextOps.lmPerplexity(docs, ref)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(10L) < r(11L),
      s"junk must score higher: in-dist ${r(10L)} vs junk ${r(11L)}")
    assert(r(1L) < r(11L))
    // scores are deterministic across invocations
    val r2 = graft.ops.TextOps.lmPerplexity(docs, ref)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r == r2)
  }

  test("srp wide: twin recall 1, orthogonal mass never buckets") {
    import spark.implicits._
    // 40 orthogonal unit vectors (distinct basis dims) + exact twins
    // of every 4th — the only cos >= 0.9 pairs are the twins
    val dim = 64
    def basis(i: Int): Seq[Float] =
      (0 until dim).map(j => if (j == i % dim) 1.0f else 0.0f)
    val base = (0 until 40).map(i => (i.toLong, basis(i)))
    val twins = (0 until 40 by 4).map(i => (1000L + i, basis(i)))
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val pairs = graft.ops.Similarity.srpNearDupPairsWide(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the adaptive sizing floors at the legacy 32×16 below ~16 K rows
    // (gate fixtures bit-identical), widens bands with log₂(n) past it
    // (random-collision mass stays sub-quadratic — the ProbeNearDup
    // 100× finding), and holds the recall contract via more bands
    assert(graft.ops.Similarity.srpAutoSize(1000, 0.9) == ((32, 16)))
    assert(graft.ops.Similarity.srpAutoSize(16000, 0.9) == ((32, 16)))
    assert(graft.ops.Similarity.srpAutoSize(60000, 0.9)._2 == 18)
    val (k200k, r200k) = graft.ops.Similarity.srpAutoSize(200000, 0.9)
    assert(r200k == 20 && k200k > 32, s"got ($k200k, $r200k)")
    val (k4m, r4m) = graft.ops.Similarity.srpAutoSize(4000000, 0.9)
    assert(r4m == 24 && k4m <= 128, s"got ($k4m, $r4m)")
    // exactly the 10 twin pairs, each at cosine 1.0
    assert(pairs.length == 10, s"got ${pairs.toSeq}")
    assert(pairs.forall { case (a, b, c) => c == 1.0 && b == 1000L + a })
    // collision-bound: orthogonal pairs generate no verified output
    // AND (the scale property) no candidate buckets — every bucket
    // with >1 member holds only twins
    val banded = emb.select(col("vec_id"),
      posexplode(graft.functions.GraftFunctions.srpBandChunks(
        col("embedding"), 32, 16)).as(Seq("band", "chunk")))
    val fat = banded.groupBy("band", "chunk")
      .agg(collect_list("vec_id").as("ids"))
      .where(size(col("ids")) > 2) // > twin-pair size
      .count()
    assert(fat == 0, "orthogonal vectors must not share wide buckets")
  }

  test("srpNearDupPairsWide: half-specified signature refuses, " +
      "rowCountHint skips the count without changing results") {
    import spark.implicits._
    val dim = 64
    def basis(i: Int): Seq[Float] =
      (0 until dim).map(j => if (j == i % dim) 1.0f else 0.0f)
    val emb = ((0 until 20).map(i => (i.toLong, basis(i))) ++
      Seq((100L, basis(0)))).toDF("vec_id", "embedding")
    // bands without bitsPerBand (and vice versa) would silently fall
    // into auto-sizing — refuse by name instead
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Similarity.srpNearDupPairsWide(emb, bands = 64)
    }
    assert(e1.getMessage.contains("bands"))
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.srpNearDupPairsWide(emb, bitsPerBand = 16)
    }
    // a row-count hint avoids the auto-mode count() pass; same pairs
    val hinted = graft.ops.Similarity
      .srpNearDupPairsWide(emb, rowCountHint = 21L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hinted == Set((0L, 100L)))
    // the k=128 cap is a real recall cliff at low thresholds / large n
    // (the identity wants k≈297 at threshold 0.85, n=4M): srpAutoSize
    // must warn (logged) and the achieved recall formula must expose
    // the shortfall the caller is warned about
    val (kCap, rCap) = graft.ops.Similarity.srpAutoSize(4000000L, 0.85)
    assert(kCap == 128 && rCap == 24)
    val achieved = graft.ops.Similarity.srpRecallAt(kCap, rCap, 0.85)
    assert(achieved < 0.85, f"recall at the cap should be visibly " +
      f"below contract, got $achieved%.3f")
    // at the default 0.9 threshold the cap still honors ~0.94
    val (k9, r9) = graft.ops.Similarity.srpAutoSize(4000000L, 0.9)
    assert(graft.ops.Similarity.srpRecallAt(k9, r9, 0.9) >= 0.90)
  }

  test("dedupSpans: planted cross-doc span removed once, first occurrence kept") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val span = words("dup", 6) // a 6-token span duplicated across docs
    val docs = Seq(
      (1L, s"${words("a", 4)} $span ${words("b", 3)}"),   // canonical holder
      (2L, s"${words("c", 5)} $span ${words("e", 4)}"),   // loses the span
      (3L, words("z", 12)),                               // untouched
      (4L, span))                                         // exact span only: empties
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.dedupSpans(docs, k = 6).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2), x.getString(3))).toMap
    // doc 1 is the lexicographic first occurrence — byte-identical
    assert(r(1L)._3 == s"${words("a", 4)} $span ${words("b", 3)}")
    assert(r(1L)._1 == r(1L)._2)
    // doc 2 loses exactly the 6 copied tokens, neighbors survive
    assert(r(2L)._3 == s"${words("c", 5)} ${words("e", 4)}")
    assert(r(2L)._2 == r(2L)._1 - 6)
    // doc 3 untouched, doc 4 fully emptied
    assert(r(3L)._3 == words("z", 12))
    assert(r(4L)._2 == 0 && r(4L)._3 == "")
    // idempotent: re-running on the CLEANED corpus removes nothing
    val cleaned = graft.ops.Dedup.dedupSpans(docs, k = 6)
      .where(col("tokens_after") > 0).select("doc_id", "text")
    val again = graft.ops.Dedup.dedupSpans(cleaned, k = 6).collect()
    assert(again.forall(x => x.getInt(1) == x.getInt(2)),
      "second pass must be a fixpoint")
  }

  test("dedupSpans kernel ≡ the round-7 HOF spelling on the fixture corpus") {
    // round-15 optimization: spanFingerprints/spanFilter kernels
    // replaced the interpreted transform/xxhash64(array_join)/exists
    // lambdas. The hash VALUES changed (chained per-token XXH64 lanes
    // instead of string-join xxhash64) but they are a grouping key
    // only, so the OUTPUT must be row-identical to the old spelling —
    // asserted here against the original expression program, on real
    // fixture text plus the c17 planted copies.
    def oldDedupSpans(docs: org.apache.spark.sql.DataFrame, k: Int) = {
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
      val occ = toks
        .where(size(col("__toks")) >= k)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(__toks) - $k), i -> named_struct(" +
            s"'pos', i, 'h', xxhash64(array_join(slice(__toks, i + 1, $k), ' ')), " +
            s"'h2', xxhash64(array_join(slice(__toks, i + 1, $k), ' '), 'g2')))"))
          .as("o"))
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
      toks.join(spans, Seq("doc_id"), "left")
        .withColumn("__kept", expr(
          s"filter(transform(__toks, (t, i) -> named_struct('t', t, 'i', i)), " +
            s"x -> __spans IS NULL OR " +
            s"NOT exists(__spans, p -> x.i >= p AND x.i < p + $k))"))
        .select(col("doc_id"),
          size(col("__toks")).as("tokens_before"),
          size(col("__kept")).as("tokens_after"),
          array_join(expr("transform(__kept, x -> x.t)"), " ").as("text"))
    }
    import org.apache.spark.sql.functions.{concat, lit => l}
    val base = docs.select(col("doc_id"), col("text"))
    val planted = base
      .where(col("doc_id") % 10 === 0 && size(split(col("text"), " ")) >= 25)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(l("plantA "),
          array_join(slice(split(col("text"), " "), 1, 25), " "),
          l(" plantB")).as("text"))
    val corpus = base.unionByName(planted)
    val newOut = graft.ops.Dedup.dedupSpans(corpus, k = 20)
      .orderBy("doc_id").collect().toSeq
    val oldOut = oldDedupSpans(corpus, k = 20)
      .orderBy("doc_id").collect().toSeq
    assert(newOut == oldOut,
      "kernel dedupSpans must be row-identical to the HOF spelling")
    // edge shapes: overlapping + adjacent + doc-edge spans through the
    // sweep kernel — same predicate as the old exists() lambda
    import spark.implicits._
    val tricky = Seq(
      (1L, "x0 x1 x2 x3 x4 x5 x6 x7"),
      (2L, "x0 x1 x2 x3 x4 x5 x6 x7"),   // exact dup: every window dups
      (3L, "y0 x0 x1 x2 x3 x4 x5 x6"),   // overlap shifted by one
      (4L, "x4 x5 x6 x7 z0 x0 x1 x2")    // spans at both doc edges
    ).toDF("doc_id", "text")
    val a = graft.ops.Dedup.dedupSpans(tricky, k = 4).orderBy("doc_id").collect().toSeq
    val b = oldDedupSpans(tricky, k = 4).orderBy("doc_id").collect().toSeq
    assert(a == b, "edge-shape spans must match the old spelling")
  }
}
