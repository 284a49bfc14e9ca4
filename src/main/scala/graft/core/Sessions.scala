package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory — the Scala analog of the reference's local dev
  * Spark conf (ascii-hydra `src/.../resources/spark.py:17-75`) +
  * `configure_spark` (`src/.../pipes/utils.py:74-103`).
  *
  * The same policy set the reference tunes for its Common Crawl
  * workload, minus PySpark-only knobs (Arrow transfer) and with the
  * shuffle-partition count sized for the actual runtime instead of a
  * fixed 200/50: locally = cores, on a cluster = set via
  * [[ConfigPolicy.parallelism]].
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE family — the reference enables these for its production
      // workload (resources/spark.py:37-41): runtime re-plan, skew-join
      // splitting, CBO join reorder.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // Older fixture generations stored events.ts as parquet
      // TIMESTAMP(NANOS); read those as long and convert (see
      // Tables.withEventTs). Current fixtures are plain micros, which
      // this flag leaves untouched.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixture timestamps are tz-NAIVE parquet micros (isAdjustedToUTC
      // = false). Spark 4 infers those as TIMESTAMP_NTZ by default,
      // which breaks epoch arithmetic (`cast(ts as double)` is illegal
      // on NTZ) and silently forks semantics between readers that
      // declare a schema and readers that infer one. Read them as
      // ordinary TimestampType instead — with the session timezone
      // pinned to UTC above, a naive fixture timestamp IS the UTC
      // instant, which is also exactly how the DuckDB oracle reads
      // the same file.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Custom codegen kernels as SQL functions (graft_cosine, ...).
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // The DataSource-V2 catalog over txtables: SHOW TABLES /
      // DESCRIBE enumeration plus storage-partitioned joins — the
      // scan reports the bucketed layout as KeyGroupedPartitioning,
      // and the two v2.bucketing flags let the planner join two
      // co-bucketed txtables with ZERO shuffle (pushPartValues aligns
      // bucket sets when one side is missing buckets).
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // Local files through java.nio, for both Hadoop APIs: without
      // libhadoop the stock local filesystem starts a chmod, ls -ld or
      // readlink process per created file, listed status and checkpoint
      // rename, about 410 per warm etl_ingest iteration (NioLocalFs).
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      // The generated-class cache (default 100 entries) must hold the
      // warm working set. perfbench compiles 130 distinct generated
      // classes through a cold etl_ingest iteration and 116 through
      // corpus_dedup; at 100 entries each warm etl_ingest iteration
      // reloaded 196-200 generated classes. 256 keeps twice the larger
      // set. A streaming query's tasks still compile afresh: they run
      // under a classloader of their own per query (artifact
      // isolation), and those dead entries age out of the cache.
      .config("spark.sql.codegen.cache.maxEntries", "256")

  /** Local session sized from env (driver runs local[32]). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
