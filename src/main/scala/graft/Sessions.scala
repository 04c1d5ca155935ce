package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main starts Spark: every main shares one conf
  * set, so the plan Explain audits and Verify checks is the plan Bench
  * times and PipelineMain runs.
  *
  * A `spark.*` system property (what spark-submit's --master and --conf
  * set) wins over the preset value of the same key. With no
  * `spark.master` property the master is local[cpus]; the local-only
  * presets (shuffle partitions, split size, periodic GC) apply only on
  * a local master and leave a cluster's conf to spark-submit.
  *
  * Env: SPARK_GRAFT_CPUS (local cores and shuffle partitions; default
  * the JVM's available processors), SPARK_GRAFT_MAX_PART_BYTES (scan
  * split size; default 4 MiB) and SPARK_GRAFT_CONF="k=v;k=v" (an
  * overlay applied last, so a tuning experiment can override any key,
  * the master included). */
object Sessions {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The effective confs: the preset (each key overridden by a system
    * property of the same name in `props`), then `overrides`, then the
    * `overlay` ("k=v;k=v" pairs; blank or malformed entries skipped). */
  def confs(overlay: String, overrides: Seq[(String, String)] = Nil,
      props: collection.Map[String, String] = sys.props): Map[String, String] = {
    val n = cpus
    val master = props.getOrElse("spark.master", s"local[$n]")
    val shared = Seq(
      "spark.master" -> master,
      "spark.sql.session.timeZone" -> "UTC",
      // reference parity: cast('bad' AS INT) → null, not error (SURVEY §7.4)
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      // let AQE re-plan (coalesce/skew-split) the plans that build
      // CACHED frames too (default false pins cached output at the raw
      // shuffle partition count, so every cache consumer inherits it):
      // persist-heavy catalog entries measured 0.5-0.9x with this on
      // at sf0.1, and at scale it simply byte-sizes cached partitions
      // like any other AQE stage
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // events.ts ships as parquet TIMESTAMP(NANOS) in some generator
      // versions; Spark reads it only as a raw long (Tables.load)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val local = if (!master.startsWith("local")) Nil else Seq(
      "spark.sql.shuffle.partitions" -> n.toString,
      // shuffle files are only reclaimed when the ContextCleaner GCs
      // their RDDs — hourly by default, i.e. never within a bench run.
      // 10min keeps disk state bounded without the stop-the-world
      // System.gc() stalls a 1min cadence injected into samples.
      "spark.cleaner.periodicGC.interval" -> "10min",
      // test tables are single small parquet files; the default 128 MiB
      // split size would scan each on ONE core. 4 MiB spreads the scan
      // across the local executor threads (sf1 dirs: 512k keeps
      // text-heavy scans wide). At production scale the default is right.
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", s"${4 * 1024 * 1024}"))
    val preset = (shared ++ local).map { case (k, v) => k -> props.getOrElse(k, v) }
    val extra = overlay.split(";").toSeq.map(_.split("=", 2)).collect {
      case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
    }
    (preset ++ overrides ++ extra).toMap
  }

  def build(app: String, overrides: (String, String)*): SparkSession =
    confs(sys.env.getOrElse("SPARK_GRAFT_CONF", ""), overrides)
      .foldLeft(SparkSession.builder().appName(app)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
