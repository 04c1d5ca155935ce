package graft.sources

import graft.pipeline.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** S1 — batch JSON scan of the Kafka-landed topic layout
  * `topics/<topic>/partition=N/...json`
  * (reference `make_dataframe`, BatchProcessingFinal.ipynb:686-706).
  *
  * Deviations from the reference, by design (SURVEY §2.1 S1, §4.3):
  *   - explicit schema instead of inferSchema (no extra pass over 100 TB
  *     of JSON; inference stays available as a dev-only helper);
  *   - partition wildcard instead of the single hardcoded partition=0.
  */
object JsonSource {

  def readTopic(spark: SparkSession, baseDir: String, topic: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(s"$baseDir/topics/$topic/partition=*")

  def readPin(spark: SparkSession, baseDir: String, topicPrefix: String = ""): DataFrame =
    readTopic(spark, baseDir, topicPrefix + "pin", Schemas.rawPin)

  def readGeo(spark: SparkSession, baseDir: String, topicPrefix: String = ""): DataFrame =
    readTopic(spark, baseDir, topicPrefix + "geo", Schemas.rawGeo)

  def readUser(spark: SparkSession, baseDir: String, topicPrefix: String = ""): DataFrame =
    readTopic(spark, baseDir, topicPrefix + "user", Schemas.rawUser)

  /** Robustness variant: PERMISSIVE read that quarantines malformed
    * lines into `_corrupt_record` instead of nulling them silently —
    * at corpus scale a bad producer must not crash the job (FAILFAST)
    * or vanish rows (DROPMALFORMED) without an audit trail. Rows with
    * a non-null `_corrupt_record` are the quarantine set. NB Spark
    * requires caching/materializing before queries that reference ONLY
    * the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN). */
  def readTopicQuarantined(spark: SparkSession, baseDir: String, topic: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$baseDir/topics/$topic/partition=*")
}
