package graft.tools

/** MULTI-PROCESS commit-race probe: a separate JVM appending to one
  * txtable — forked (2+ concurrent processes) by `CommitRaceSpec`
  * and runnable by hand:
  *
  *   tools/run.sh graft.tools.CommitRace /tmp/race_t writerA 20
  *
  * Each append is one distinct row (writer, seq). The parent asserts
  * that N writers × M appends land exactly N·M serialized versions
  * with every row present — the cross-PROCESS lost-update test the
  * JVM-wide publish lock can't cover, and the reason `file:` roots
  * publish via hard links ([[graft.core.LogStore.HardLink]]:
  * `link(2)` is atomic across processes where posix rename silently
  * replaces). Exit 0 = all appends committed; nonzero = any failure.
  */
object CommitRace {
  def main(args: Array[String]): Unit = {
    val Array(root, writer, nStr) = args.take(3)
    val n = nStr.toInt
    val spark = graft.core.Sessions.builder("local[2]", 2)
      .appName(s"graft-commit-race-$writer")
      .getOrCreate()
    try {
      import spark.implicits._
      val t = graft.core.TxTable(spark, root)
      var i = 0
      while (i < n) {
        t.append(Seq((writer, i)).toDF("writer", "seq"))
        i += 1
      }
    } finally spark.stop()
  }
}
