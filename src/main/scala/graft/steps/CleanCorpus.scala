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
  *      ([[TextOps.qualityScore]]);
  *   2. language-consistency filter — keep docs whose predicted
  *      language matches the declared one ([[TextOps.langId]]);
  *   3. exact dedup — keep the min doc_id per identical text;
  *   4. near-dup cluster dedup — MinHash-LSH pairs
  *      ([[Dedup.minHashLshPairs]]) → connected components
  *      ([[Dedup.dupClusters]]) → keep only cluster representatives
  *      (the component-min doc), which removes TRANSITIVE near-dups
  *      pairwise emission alone would leave behind.
  *
  * Scale shape: stages 1–2 are map-side projections fused into the
  * scan; stage 3 shuffles once on the text hash; stage 4 shuffles on
  * content-derived band keys and finds components over the (tiny)
  * paired subset only. The only collect to the driver is that pair
  * set, when it fits [[Dedup.dupClusters]]' driver-path caps. */
object CleanCorpus {

  def run(docs: DataFrame, qualityMin: Double = 0.5): DataFrame = {
    val quality = TextOps.qualityScore(docs)
      .where(col("quality") >= qualityMin)
      .select("doc_id", "n_tokens")
    val langOk = TextOps.langId(docs)
      .where(col("lang_pred") === col("lang"))
      .select(col("doc_id").as("l_doc"))
    val survivors = docs.select("doc_id", "text")
      .join(quality, "doc_id")
      .join(langOk, col("doc_id") === col("l_doc"), "left_semi")
    // exact dedup: one keeper per identical text — group on the
    // 256-bit content hash like [[graft.ops.Dedup.exactDedup]], so
    // the shuffle key is 32 bytes, not the document body
    val keepers = survivors.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("k_doc")).select("k_doc")
    val exact = survivors
      .join(keepers, col("doc_id") === col("k_doc"), "left_semi")
    // near-dup cluster dedup: only non-representative members drop
    val nonReps = Dedup.dupClusters(Dedup.minHashLshPairs(exact))
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("d_doc"))
    exact.join(nonReps, col("doc_id") === col("d_doc"), "left_anti")
      .select("doc_id", "n_tokens")
      .orderBy("doc_id")
  }
}
