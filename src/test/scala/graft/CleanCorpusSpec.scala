package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, TextOps}
import graft.steps.CleanCorpus

/** P1 — `CleanCorpus.run`, one filtered projection of the scan, against
  * the spelling it replaced: `docs` joined to the t2 quality frame and
  * semi-joined to the t1 language frame on `doc_id`, with t1's CASE-chain
  * argmax. That spelling is kept here as the reference. */
class CleanCorpusSpec extends SparkSpec {
  import spark.implicits._

  /** The CASE-chain argmax over the `s_<lang>` score columns. */
  private val caseChain: Column = {
    val Seq(en, de, es, fr, zh) = Seq("en", "de", "es", "fr", "zh").map(l => col(s"s_$l"))
    when(en >= de && en >= es && en >= fr && en >= zh, "en")
      .when(de >= es && de >= fr && de >= zh, "de")
      .when(es >= fr && es >= zh, "es")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  private def reference(docs: DataFrame, qualityMin: Double = 0.5): DataFrame = {
    val quality = TextOps.qualityScore(docs)
      .where(col("quality") >= qualityMin)
      .select("doc_id", "n_tokens")
    val langOk = TextOps.langId(docs)
      .withColumn("lang_pred", caseChain)
      .where(col("lang_pred") === col("lang"))
      .select(col("doc_id").as("l_doc"))
    val survivors = docs.select("doc_id", "text")
      .join(quality, "doc_id")
      .join(langOk, col("doc_id") === col("l_doc"), "left_semi")
    val keepers = survivors.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("k_doc")).select("k_doc")
    val exact = survivors
      .join(keepers, col("doc_id") === col("k_doc"), "left_semi")
    val nonReps = Dedup.dupClusters(Dedup.minHashLshPairs(exact))
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("d_doc"))
    exact.join(nonReps, col("doc_id") === col("d_doc"), "left_anti")
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private val vocab = Seq("the", "and", "of", "spark", "table", "merge", "join",
    "sort", "window", "stream", "batch", "query", "filter", "ending", "string",
    "thing", "data", "column", "hash", "group")

  private def words(rng: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(vocab(rng.nextInt(vocab.size)))

  /** `base` with the words at `at` replaced by tokens no other text holds. */
  private def edit(base: Vector[String], at: Seq[Int], tag: String): Vector[String] =
    at.foldLeft(base)((w, i) => w.updated(i, s"zq$tag$i"))

  private def corpus(docs: Seq[(Long, Vector[String])]): DataFrame =
    docs.map { case (id, w) => (id, w.mkString(" "), "en") }.toDF("doc_id", "text", "lang")

  /** Each generated case: its corpus and the doc ids the pipeline keeps. */
  private def generated(seed: Int): Seq[(String, DataFrame, Seq[Long])] = {
    val rng = new scala.util.Random(seed)
    val bases = Vector.fill(6)(words(rng, 80))
    val copies = corpus(bases.indices.map(i => (i + 1L, bases(i))) ++
      Seq(7L -> bases(0), 8L -> bases(2), 9L -> bases(2)))
    // A≈B and B≈C (2 words apart, J ≈ 0.86) while A and C are 4 apart
    // (J ≈ 0.73): only the transitive closure puts C with A
    val b = edit(bases(0), Seq(10, 40), "b")
    val chain = corpus(Seq(10L -> bases(0), 11L -> b,
      12L -> edit(b, Seq(25, 60), "c"), 13L -> bases(1)))
    val short = corpus((1L to 5L).map(i => i -> words(rng, 3)))
    // every pair of variants differs in two words (J ≈ 0.86)
    val one = corpus((0 until 6).map(i =>
      (20L + i) -> edit(bases(3), Seq(5 + 12 * i), "v")) :+ (30L -> bases(3)))
    Seq(("exact copies", copies, Seq(1L, 2L, 3L, 4L, 5L, 6L)),
      ("near-dup chain", chain, Seq(10L, 13L)),
      ("all filtered out", short, Nil),
      ("one cluster", one, Seq(20L)))
  }

  test("p1 matches the join spelling on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val got = rows(CleanCorpus.run(docs))
    assert(got.nonEmpty)
    assert(got == rows(reference(docs)))
  }

  test("p1 matches the join spelling on generated corpora") {
    for (seed <- Seq(1, 2, 3); (name, docs, kept) <- generated(seed)) {
      val out = CleanCorpus.run(docs)
      assert(out.columns.toSeq == Seq("doc_id", "n_tokens"))
      val got = rows(out)
      assert(got.map(_.getLong(0)) == kept, s"$name, seed $seed")
      assert(got == rows(reference(docs)), s"$name, seed $seed")
    }
  }

  test("p1 drops null doc_ids, as the inner join did") {
    val w = words(new scala.util.Random(7), 80).mkString(" ")
    val docs = Seq((Option.empty[Long], w, "en"), (Some(4L), w, "en"),
      (Option.empty[Long], w + " batch", "en")).toDF("doc_id", "text", "lang")
    assert(rows(CleanCorpus.run(docs)) == Seq(Row(4L, 80)))
    assert(rows(reference(docs)) == Seq(Row(4L, 80)))
  }

  test("lang_pred: null text gives zh, empty text en, as the CASE chain did") {
    val docs = Seq((1L, null, "en"), (2L, "", "en"), (3L, "the thing and", "en"))
      .toDF("doc_id", "text", "lang")
    val t1 = TextOps.langId(docs)
    assert(rows(t1.select("doc_id", "lang_pred")) ==
      Seq(Row(1L, "zh"), Row(2L, "en"), Row(3L, "en")))
    assert(rows(t1.select(col("lang_pred") === caseChain)).forall(_.getBoolean(0)))
    // a null text has a null quality and never passes; an empty one
    // passes a zero threshold as "en"
    assert(rows(CleanCorpus.run(docs, qualityMin = 0.0)).map(_.getLong(0)) == Seq(2L, 3L))
    assert(rows(reference(docs, qualityMin = 0.0)).map(_.getLong(0)) == Seq(2L, 3L))
  }

  test("lang_pred equals the CASE chain on tied and untied score arrays") {
    val rng = new scala.util.Random(11)
    val scores = Seq.fill(2000)(Seq.fill(5)(rng.nextInt(3))).toDF("scores")
    val both = scores
      .select(TextOps.langPred(col("scores")).as("argmax") +:
        Seq("en", "de", "es", "fr", "zh").zipWithIndex.map { case (l, i) =>
          element_at(col("scores"), i + 1).as(s"s_$l")
        }: _*)
      .select(col("argmax"), caseChain.as("chain"))
    assert(both.where(col("argmax") =!= col("chain")).count() == 0)
  }

  test("a duplicated doc_id is judged per row: no copy passes on its twin's quality") {
    val good = words(new scala.util.Random(5), 80).mkString(" ")
    val docs = Seq((7L, good, "en"), (7L, "the join", "en")).toDF("doc_id", "text", "lang")
    assert(rows(CleanCorpus.run(docs)) == Seq(Row(7L, 80)))
    // the join spelling let the short copy through on the long one's
    // quality, and with the long one's n_tokens
    assert(rows(reference(docs)) == Seq(Row(7L, 80), Row(7L, 80)))
  }
}
