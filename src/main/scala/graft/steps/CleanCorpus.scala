package graft.steps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextOps}

/** P1 — the composed training-data cleaning pipeline: the workflow
  * the individual operators exist FOR, run end-to-end as one
  * dataflow and gated end-to-end against a DuckDB oracle composed of
  * the same verified stage semantics (t2 quality, t1 langid, c1
  * exact dedup, c2/c11 near-dup clusters):
  *
  *   1. quality filter — keep `quality >= qualityMin`
  *      ([[TextOps.quality]]);
  *   2. language-consistency filter — keep docs whose predicted
  *      language matches the declared one ([[TextOps.langPred]]);
  *   3. exact dedup — keep the min doc_id per identical text;
  *   4. near-dup cluster dedup — MinHash-LSH pairs
  *      ([[Dedup.minHashLshPairs]]) → connected components
  *      ([[Dedup.dupClusters]]) → keep only cluster representatives
  *      (the component-min doc), which removes TRANSITIVE near-dups
  *      pairwise emission alone would leave behind.
  *
  * Each row is judged on its own text: a document whose `doc_id`
  * repeats passes or fails each filter per row, and a null `doc_id`
  * is no document and is dropped.
  *
  * Scale shape: stages 1–2 are one map-side Filter over the scan, with
  * the language kernel run only for rows that pass the quality test;
  * nothing joins the corpus to itself to recover a score. Stage 3 is
  * one aggregation on the 32-byte text hash that keeps each group's min
  * `doc_id` with its `n_tokens`. Its result is both the output base
  * and, semi-joined back to the filtered scan for its text, the input
  * of stage 4, which shuffles on content-derived band keys and finds
  * components over the (tiny) paired subset only. The only collect to
  * the driver is that pair set, when it fits [[Dedup.dupClusters]]'
  * driver-path caps. The returned frame is lazy apart from that. */
object CleanCorpus {

  def run(docs: DataFrame, qualityMin: Double = 0.5): DataFrame = {
    val text = col("text")
    val survivors = docs
      .where(col("doc_id").isNotNull && TextOps.quality(text) >= qualityMin &&
        TextOps.langPred(TextOps.langScores(text)) === col("lang"))
    // exact dedup: one keeper per identical text, grouped on the
    // 256-bit content hash like [[graft.ops.Dedup.exactDedup]] so the
    // shuffle key is 32 bytes, not the document body
    val keepers = survivors
      .groupBy(sha2(text, 256))
      .agg(min_by(struct(col("doc_id"), TextOps.nTokens(text).as("n_tokens")),
        col("doc_id")).as("k"))
      .select("k.doc_id", "k.n_tokens")
    // near-dup cluster dedup: only non-representative members drop
    val nonReps = Dedup.dupClusters(Dedup.minHashLshPairs(
        survivors.select("doc_id", "text").join(keepers, Seq("doc_id"), "left_semi")))
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("d_doc"))
    keepers.join(nonReps, col("doc_id") === col("d_doc"), "left_anti")
      .orderBy("doc_id")
  }
}
