package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every table is a single parquet file under `sfDir`. Reads go through
  * `spark.read.parquet` so Catalyst gets a columnar vectorized scan with
  * filter pushdown + column pruning for free — the engine never caches or
  * collects these; at 100 TB the same code path streams from object
  * storage partitions.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) (read as a raw
    // long: graft.Sessions sets spark.sql.legacy.parquet.nanosAsLong)
    // and as TIMESTAMP(MICROS) NTZ, depending on the generator version;
    // surface both as a proper TimestampType. The NTZ→TIMESTAMP cast is
    // exact because every session pins UTC.
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // exact integer µs
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType) {
      // Exactness of NTZ→TIMESTAMP depends on the session timezone: the
      // cast reinterprets the wall-clock fields in the session zone. All
      // in-repo entry points pin UTC, but a foreign caller with another
      // zone would silently shift every instant — fail loudly instead.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"Tables.load requires spark.sql.session.timeZone=UTC for the NTZ " +
          s"events encoding (got '$tz'); a non-UTC session would shift instants")
      df.withColumn("ts", col("ts").cast(TimestampType))
    }
    else df
  }

  /** Register all tables as temp views (SURVEY §2.1 S6). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

/** One engine capability = one named query + optionally one DuckDB oracle.
  *
  * The oracle SQL must produce the *identical* result set (same column
  * names, hash-stable values) when run by DuckDB over the same parquet
  * tables. Determinism rules used throughout the catalog:
  *   - money/double sums go through integer cents
  *     (`CAST(FLOOR(x*100 + 0.5) AS BIGINT)`) so accumulation order can't
  *     change the result and the rounding is pure IEEE arithmetic —
  *     identical on any engine (Spark's ROUND rounds the shortest-decimal
  *     BigDecimal, DuckDB rounds the binary double; FLOOR can't diverge).
  *   - year()/month()/size() results are cast to BIGINT on both sides
  *     (DuckDB extracts are int64, Spark's are int32).
  *   - result sets are unique rows (ties kept by rank(), or broken by an
  *     explicit key) so row order never matters.
  */
final case class QuerySpec(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)
