package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's cleaning transforms as pure `DataFrame => DataFrame`
  * functions (SURVEY.md §2.2–§2.3) — identical code path under `read`
  * and `readStream`, exactly how the reference reuses its cleaning cells
  * in the streaming notebook (`Kinesis_Processing.ipynb:1028-1164` vs
  * `BatchProcessingFinal.ipynb:1006-1226`).
  *
  * Every transform is a narrow, stateless projection: no shuffles, fully
  * whole-stage-codegen'd, safe at any scale.
  */
object Clean {

  /** P5 — conditional null-out of garbage values by SQL-LIKE pattern
    * (`clean_column`, BatchProcessingFinal.ipynb:1006-1017). */
  def nullOutLike(column: String, pattern: String)(df: DataFrame): DataFrame =
    df.withColumn(column,
      when(col(column).like(pattern), lit(null)).otherwise(col(column)))

  /** The garbage vocabulary applied to pin columns, in the reference's
    * application order (BatchProcessingFinal.ipynb:1073-1080; vocabulary
    * README.md:17-27). Note the reference also nulls save_location
    * values ending ".jpg" and does NOT clean is_image_or_video. */
  val pinGarbagePatterns: Seq[(String, String)] = Seq(
    "description" -> "No description available%",
    "follower_count" -> "User Info Error%",
    "poster_name" -> "User Info Error%",
    "image_src" -> "Image src error%",
    "save_location" -> "%.jpg",
    "tag_list" -> "N,o, ,T,a,g,s,%",
    "title" -> "No Title Data%")

  /** F1 — strip the "Local save in " prefix from save_location
    * (BatchProcessingFinal.ipynb:1218; the reference regex is
    * unanchored, preserved as-is). */
  def stripSaveLocationPrefix(df: DataFrame): DataFrame =
    df.withColumn("save_location",
      regexp_replace(col("save_location"), "Local save in ", ""))

  /** F1+F8 — follower_count "25k"/"1M" expansion by string surgery then
    * int cast (BatchProcessingFinal.ipynb:1219-1222). Parity semantics:
    * `[kK]`→"000", `[mM]`→"000000"; anything still non-integer (e.g.
    * "25.5k" → "25.5000") casts to NULL (SURVEY §7.4). */
  def expandFollowerCount(df: DataFrame): DataFrame =
    df.withColumn("follower_count",
      expr("""TRY_CAST(REGEXP_REPLACE(REGEXP_REPLACE(follower_count,
              '[kK]', '000'), '[mM]', '000000') AS INT)"""))

  /** F6 — coordinates = array(latitude, longitude), drop the parts
    * (BatchProcessingFinal.ipynb:1400). */
  def buildCoordinates(df: DataFrame): DataFrame =
    df.withColumn("coordinates", array(col("latitude"), col("longitude")))
      .drop("latitude", "longitude")

  /** F5/P2 — user_name = first_name ∥ " " ∥ last_name, drop the parts
    * (BatchProcessingFinal.ipynb:1486-1487). */
  def buildUserName(df: DataFrame): DataFrame =
    df.withColumn("user_name", concat(col("first_name"), lit(" "), col("last_name")))
      .drop("first_name", "last_name")

  /** F7 — string → timestamp (BatchProcessingFinal.ipynb:1401, 1488). */
  def parseTimestamp(column: String)(df: DataFrame): DataFrame =
    df.withColumn(column, to_timestamp(col(column)))

  /** P9 — drop rows whose payload columns are ALL null (cross-stream
    * pollution guard, Kinesis_Processing.ipynb:848-849). */
  def dropAllNull(subset: Seq[String])(df: DataFrame): DataFrame =
    df.na.drop("all", subset)

  /** P8 — empty-string → null sweep over all string columns; implements
    * the *intent* of the reference's buggy loop (it forgot `.otherwise`
    * and the reassignment — `Cleaning data and Queries.ipynb:3218-3219`). */
  def emptyToNull(df: DataFrame): DataFrame = {
    val stringCols = df.schema.filter(_.dataType ==
      org.apache.spark.sql.types.StringType).map(_.name).toSet
    df.select(df.columns.toSeq.map { c =>
      if (stringCols(c))
        when(trim(col(c)) === "", lit(null)).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  // ---- per-table compositions (§7.1 CleanPin/CleanGeo/CleanUser) ------

  /** Full pin cleaning chain: garbage null-out → prefix strip → k/M
    * expansion → rename index→ind (P3) → canonical column order (P1). */
  def pin(df: DataFrame): DataFrame = {
    val garbaged = pinGarbagePatterns.foldLeft(df) {
      case (acc, (c, p)) => nullOutLike(c, p)(acc)
    }
    garbaged
      .transform(stripSaveLocationPrefix)
      .transform(expandFollowerCount)
      .withColumnRenamed("index", "ind")
      .select(Schemas.cleanPinColumns.map(col): _*)
  }

  def geo(df: DataFrame): DataFrame =
    df.transform(buildCoordinates)
      .transform(parseTimestamp("timestamp"))
      .select(Schemas.cleanGeoColumns.map(col): _*)

  def user(df: DataFrame): DataFrame =
    df.transform(buildUserName)
      .transform(parseTimestamp("date_joined"))
      .select(Schemas.cleanUserColumns.map(col): _*)
}
