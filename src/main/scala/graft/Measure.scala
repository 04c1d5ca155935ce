package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness pieces the measurement mains (Bench, ProfiledQuery,
  * StreamStateBench, SplitIncrementalBench) share. */
object Measure {
  type Query = (SparkSession, String) => DataFrame

  /** noop sink: materializes EVERY row and column. A count() here lets
    * Catalyst delete provably-cardinality-preserving joins and whole
    * subtrees — several operators would be "benchmarked" without
    * executing at all. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Free per-invocation state: operators that persist/localCheckpoint
    * intermediates (sessionizeBucketed, cappedBucketPairs, kmeans)
    * create NEW cache entries on every call — across a catalog × 3
    * reps those accumulate until storage memory is full and later
    * samples measure spill, not the query (q91 once measured a 274 s
    * median with an 8.6 s min — rep 1 fast, reps 2-3 degraded). A real
    * deployment runs one job per session; the harness must too.
    * Call OUTSIDE the timed window. */
  def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Warm-up pass over a small sf dir: JIT + whole-stage-codegen
    * compile per query shape, so timed numbers measure the engine, not
    * javac. Skipped when `warmDir` is missing or is the timed dir. */
  def warmUp(spark: SparkSession, warmDir: String, sfDir: String, fns: Seq[Query]): Unit = {
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      fns.foreach { fn =>
        try { noop(fn(spark, warmDir)); teardown(spark) } catch { case _: Throwable => () }
      }
  }

  /** HOST-REGIME SENTINEL: a pinned calibration probe — fixed-size
    * in-memory generate + hash-agg + sort, zero I/O, zero data
    * dependence. Stamps the host regime (shared hosts swing ~1.3x
    * between fast and slow) INTO an artifact so per-query ratios can
    * be normalized by the sentinel ratio. min-of-3 after a warm rep:
    * load spikes only ever add time, so the min estimates the
    * window's quiet cost. */
  def sentinel(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions.{avg, max, sum}
    def once(): Double = {
      val t0 = System.nanoTime()
      noop(spark.range(0, 16L * 1000 * 1000, 1, cpus)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v").as("s"), avg("v").as("a"), max("v").as("m"))
        .orderBy("k"))
      (System.nanoTime() - t0) / 1e9
    }
    once(); (1 to 3).map(_ => once()).min
  }

  /** Cumulative JVM garbage-collection time, ms. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
}
