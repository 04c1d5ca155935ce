package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit tests per cleaning transform (SURVEY.md §5.2 item 1) with the
  * adversarial literals from the reference's observed garbage
  * vocabulary (README.md:17-27, FIXTURES.md §1). */
class CleanSpec extends SparkSpec {
  import spark.implicits._

  private def rawPin(rows: Seq[String]): DataFrame =
    spark.read.schema(Schemas.rawPin).json(rows.toDS)

  private def pinRow(
      index: Long = 1, title: String = "A title",
      description: String = "A description", poster: String = "A poster",
      follower: String = "100", tags: String = "a,b",
      imageSrc: String = "https://x/y.png",
      saveLoc: String = "Local save in /data/art", category: String = "art"): String =
    s"""{"index": $index, "unique_id": "u-$index", "title": "$title",
        "description": "$description", "poster_name": "$poster",
        "follower_count": "$follower", "tag_list": "$tags",
        "is_image_or_video": "image", "image_src": "$imageSrc",
        "downloaded": 1, "save_location": "$saveLoc", "category": "$category"}"""
      .replaceAll("\n\\s*", " ")

  test("follower_count expansion: k/M surgery, garbage and edge cases") {
    val df = Clean.pin(rawPin(Seq(
      pinRow(1, follower = "25k"),
      pinRow(2, follower = "1M"),
      pinRow(3, follower = "854"),
      pinRow(4, follower = "User Info Error"),
      pinRow(5, follower = "25.5k")))) // "25.5000" → int cast → null (parity)
    val got = df.select("ind", "follower_count").as[(Long, Option[Int])]
      .collect().toMap
    assert(got(1L).contains(25000))
    assert(got(2L).contains(1000000))
    assert(got(3L).contains(854))
    assert(got(4L).isEmpty)
    assert(got(5L).isEmpty, "the 25.5k edge must null out (parity)")
  }

  test("LIKE null-outs hit garbage and spare look-alikes") {
    val df = Clean.pin(rawPin(Seq(
      pinRow(1, description = "No description available Story format"),
      pinRow(2, description = "No description available"),
      pinRow(3, description = "No shortage of ideas here"), // must survive
      pinRow(4, title = "No Title Data Available"),
      pinRow(5, poster = "User Info Error"),
      pinRow(6, tags = "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e"),
      pinRow(7, imageSrc = "Image src error."))))
    val m = df.select("ind", "title", "description", "poster_name", "tag_list", "image_src")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).isNullAt(2) && m(2L).isNullAt(2))
    assert(m(3L).getString(2) == "No shortage of ideas here")
    assert(m(4L).isNullAt(1))
    assert(m(5L).isNullAt(3))
    assert(m(6L).isNullAt(4))
    assert(m(7L).isNullAt(5))
  }

  test("save_location: %.jpg garbage nulled, then prefix stripped") {
    val df = Clean.pin(rawPin(Seq(
      pinRow(1, saveLoc = "Local save in /data/mens-fashion"),
      pinRow(2, saveLoc = "Local save in /data/art/pic.jpg"))))
    val m = df.select("ind", "save_location").as[(Long, Option[String])].collect().toMap
    assert(m(1L).contains("/data/mens-fashion"))
    assert(m(2L).isEmpty, "reference nulls save_location LIKE '%.jpg'")
  }

  test("pin canonical schema: rename index→ind + column order") {
    val df = Clean.pin(rawPin(Seq(pinRow(9))))
    assert(df.columns.toSeq == Schemas.cleanPinColumns)
    assert(df.select("ind").as[Long].head() == 9L)
  }

  test("geo: coordinates array + timestamp parse") {
    val raw = spark.read.schema(Schemas.rawGeo).json(Seq(
      """{"ind": 7, "timestamp": "2020-08-28 03:52:47", "latitude": -5.5, "longitude": 7.25, "country": "Albania"}""").toDS)
    val df = Clean.geo(raw)
    assert(df.columns.toSeq == Schemas.cleanGeoColumns)
    val r = df.head()
    assert(r.getSeq[Double](r.fieldIndex("coordinates")) == Seq(-5.5, 7.25))
    assert(r.getTimestamp(r.fieldIndex("timestamp")).toInstant.toString
      == "2020-08-28T03:52:47Z")
  }

  test("user: name concat + date parse + column order") {
    val raw = spark.read.schema(Schemas.rawUser).json(Seq(
      """{"ind": 3, "first_name": "Abigail", "last_name": "Ali", "age": 20, "date_joined": "2015-10-24 11:23:51"}""").toDS)
    val df = Clean.user(raw)
    assert(df.columns.toSeq == Schemas.cleanUserColumns)
    val r = df.head()
    assert(r.getString(r.fieldIndex("user_name")) == "Abigail Ali")
    assert(r.getTimestamp(r.fieldIndex("date_joined")).toInstant.toString
      == "2015-10-24T11:23:51Z")
  }

  test("dropAllNull drops only rows with all payload columns null") {
    val raw = spark.read.schema(Schemas.rawGeo).json(Seq(
      """{"ind": 1, "timestamp": null, "latitude": null, "longitude": null, "country": null}""",
      """{"ind": 2, "timestamp": "2020-01-01 00:00:00", "latitude": null, "longitude": null, "country": null}""").toDS)
    val kept = Clean.dropAllNull(Seq("timestamp", "latitude", "longitude", "country"))(raw)
    assert(kept.select("ind").as[Long].collect().toSeq == Seq(2L))
  }

  test("emptyToNull nulls empties, keeps non-empties (the intended fix)") {
    val df = Seq(("", "keep"), ("  ", "also keep"), ("x", "")).toDF("a", "b")
    val out = Clean.emptyToNull(df).as[(Option[String], Option[String])].collect().toSet
    assert(out == Set((None, Some("keep")), (None, Some("also keep")), (Some("x"), None)))
  }

  test("cleaning is idempotent where re-applicable") {
    val once = Clean.nullOutLike("description", "No description available%")(
      rawPin(Seq(pinRow(1, description = "No description available"), pinRow(2))))
    val twice = Clean.nullOutLike("description", "No description available%")(once)
    assertSameRows(once, twice, "nullOutLike idempotence")
  }
}
