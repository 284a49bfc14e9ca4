package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.{ListenerBus, Pins}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.core.TxTable
import graft.ops.{Dedup, Similarity}
import graft.steps.GraphOps
import graft.streaming.EventsStream

/** Every operator that pins frames releases them before it returns,
  * except the one pin its lazily returned result still reads. */
class PinsSpec extends SparkSpec {

  /** Ids of the RDDs with cached blocks. `getRDDStorageInfo` follows
    * the block updates the listener bus delivers, so drain it first. */
  private def cached(): Set[Int] = {
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  }

  private def pinsOf(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Runs `call` and checks that the cached set is back to where it
    * was, plus at most one pin that the returned frame reads; the
    * returned frame must still evaluate. */
  private def releases(what: String)(call: => Any): Unit = {
    val before = cached()
    val result = call
    val own = result match {
      case df: Dataset[_] => pinsOf(df.toDF()) -- before
      case _ => Set.empty[Int]
    }
    val left = cached() -- before
    assert(own.size <= 1, s"$what: the result reads ${own.size} new pins")
    assert(left.subsetOf(own), s"$what left pins cached: ${left -- own}")
    result match {
      case df: Dataset[_] => df.collect()
      case _ =>
    }
  }

  private def pairs(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("doc_a", "doc_b")
  }

  /** `dupClusters`' distributed path as it runs there. */
  private def distributed(p0: DataFrame): DataFrame = {
    val (p, _, _) = Dedup.pinPairs(p0)
    try Dedup.labelPropagation(p, 20) finally Pins.release(p)
  }

  test("dupClusters and labelPropagation release their pins") {
    val forest = pairs(Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 8L)))
    val chain = pairs((0 until 30).map(i => (i.toLong, i + 1L)))
    releases("dupClusters, driver path")(Dedup.dupClusters(forest))
    releases("dupClusters, distributed path (converges)")(distributed(forest))
    releases("labelPropagation refusing") {
      intercept[IllegalStateException](distributed(chain))
    }
    releases("dupClusters refusing a null id") {
      import spark.implicits._
      intercept[IllegalArgumentException](Dedup.dupClusters(
        Seq((Option(1L), Option.empty[Long])).toDF("doc_a", "doc_b")))
    }
  }

  test("kCorePeel, pageRank and triangleCensus release their pins") {
    import spark.implicits._
    val edges = (0 until 40).flatMap(i => Seq((s"n$i", s"n${(i + 1) % 40}"),
      (s"n$i", s"n${(i * 7) % 40}"))).toDF("src", "dst")
    releases("kCorePeel")(GraphOps.kCorePeel(edges, 3, 4))
    releases("pageRank")(GraphOps.pageRank(edges, 3))
    val inc = Seq(("l1", "A"), ("l1", "B"), ("l2", "B"), ("l2", "C"),
      ("l3", "A"), ("l3", "C"), ("l4", "C"), ("l4", "D"))
      .toDF("left", "right")
    releases("triangleCensus")(GraphOps.triangleCensus(inc))
  }

  test("kmeansCentroids pins nothing and returns the model as a local " +
      "relation typed like its last round") {
    import spark.implicits._
    val emb = (0 until 60).map(i => (i.toLong,
      Array.tabulate(4)(j => ((i % 3) * 10 + (i * (j + 1)) % 3).toFloat)))
      .toDF("vec_id", "embedding")
    releases("kmeansCentroids") {
      val cents = Similarity.kmeansCentroids(emb, k = 3, iters = 2)
      assert(cents.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(cents.schema == StructType(Seq(
        StructField("centroid_id", LongType, nullable = false),
        StructField("cv", ArrayType(FloatType, containsNull = true),
          nullable = false))))
      cents
    }
  }

  test("copy-on-write merge with CDC and merge-on-read upsert release " +
      "their pins") {
    import spark.implicits._
    val base = (0 until 100).map(i => (i.toLong, i * 10)).toDF("k", "v")
    val batch = Seq((7L, -1), (3000L, 1)).toDF("k", "v")
    val cow = TxTable(spark, EventsStream.scratchDir("pins_cow") + "/t",
      changeDataFeed = true)
    cow.overwriteBucketed(base, Seq("k"), 4)
    releases("copy-on-write upsert with CDC")(cow.upsert(batch))
    assert(cow.changeFeed(0).count() == 3)
    val mor = TxTable(spark, EventsStream.scratchDir("pins_mor") + "/t",
      deletionVectors = true, changeDataFeed = true)
    mor.overwriteBucketed(base, Seq("k"), 4)
    releases("merge-on-read bucketed upsert")(mor.upsert(batch))
    assert(mor.read().where($"k" === 7L).as[(Long, Int)].collect().toSeq ==
      Seq((7L, -1)))
  }

  test("an action on a released pin fails loudly; release refuses a " +
      "frame that is not a pin") {
    val p = Pins.pin(spark.range(100).toDF())
    Pins.release(p)
    val e = intercept[org.apache.spark.SparkException](p.collect())
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e.getMessage)
    val q = Pins.pin(spark.range(3).toDF())
    for (notPin <- Seq(spark.range(3).toDF(), q.where("id > 0"))) {
      val r = intercept[IllegalArgumentException](Pins.release(notPin))
      assert(r.getMessage.contains("Pins.release: the frame is not a pin"))
    }
    Pins.release(q)
  }
}
