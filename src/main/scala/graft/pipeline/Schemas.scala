package graft.pipeline

import org.apache.spark.sql.types._

/** Declared schemas for the three pipeline tables, raw (wire) and clean
  * (canonical) shapes — SURVEY.md §1.2/§1.4.
  *
  * The reference infers batch schemas from JSON and declares different
  * ones for streaming (`age` string-vs-long, Float-vs-Double drift —
  * `Kinesis_Processing.ipynb:676-699` vs inferred batch); we declare ONE
  * schema per table for both paths, eliminating the drift (a design fix
  * documented in SURVEY §1.4).
  */
object Schemas {

  /** Raw pin post as landed from Kafka/Kinesis (README.md:13-28).
    * `follower_count` is a STRING on the wire ("25k", "1M", garbage). */
  val rawPin: StructType = StructType(Seq(
    StructField("index", LongType),
    StructField("unique_id", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("poster_name", StringType),
    StructField("follower_count", StringType),
    StructField("tag_list", StringType),
    StructField("is_image_or_video", StringType),
    StructField("image_src", StringType),
    StructField("downloaded", LongType),
    StructField("save_location", StringType),
    StructField("category", StringType)))

  /** Raw geo event (README.md:32-40); timestamp is a wire string. */
  val rawGeo: StructType = StructType(Seq(
    StructField("ind", LongType),
    StructField("timestamp", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("country", StringType)))

  /** Raw user row (README.md:44-52); date_joined is a wire string. */
  val rawUser: StructType = StructType(Seq(
    StructField("ind", LongType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("age", LongType),
    StructField("date_joined", StringType)))

  /** Canonical cleaned shapes (BatchProcessingFinal.ipynb:1285-1286,
    * :1400-1401, :1486-1489). */
  val cleanPinColumns: Seq[String] = Seq(
    "ind", "unique_id", "title", "description", "follower_count",
    "poster_name", "tag_list", "is_image_or_video", "image_src",
    "save_location", "category")
  val cleanGeoColumns: Seq[String] = Seq("ind", "country", "coordinates", "timestamp")
  val cleanUserColumns: Seq[String] = Seq("ind", "user_name", "age", "date_joined")
}
