package graft.pipeline

import graft.SparkSpec
import graft.sources.{EmulatorGenerator, FileJsonTableSource}
import graft.sources.PipelineTable.{Geo, Pin, User}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end: generated fixture JSON (garbage vocabulary, duplicate
  * inds) → topic-layout scan → cleaning → Tasks 4–11; asserts the SQL
  * and DataFrame forms agree (plan-independent equality, SURVEY §5.2
  * item 3) plus structural invariants of each result. */
class PinTasksSpec extends SparkSpec {

  private lazy val base: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixtures")
    EmulatorGenerator.writeTopicLayout(dir, n = 400, seed = 42L)
    dir
  }
  private lazy val source = FileJsonTableSource(base.toString)
  private lazy val pin: DataFrame = Clean.pin(source.readBatch(spark, Pin)).cache()
  private lazy val geo: DataFrame = Clean.geo(source.readBatch(spark, Geo)).cache()
  private lazy val user: DataFrame = Clean.user(source.readBatch(spark, User)).cache()

  test("fixtures land with duplicate inds (many-to-many joins exercised)") {
    val dupInds = pin.groupBy("ind").count().filter(col("count") > 1).count()
    assert(dupInds > 0, "fixture must contain duplicate inds (FIXTURES.md rule 1)")
    assert(pin.count() == 400)
  }

  test("SQL and DataFrame forms agree on every task") {
    val sqlForms = PinQueries.allSql(spark, pin, geo, user)
    val dfForms = PinQueries.allDf(pin, geo, user)
    assert(sqlForms.keySet == dfForms.keySet)
    for (name <- sqlForms.keys.toSeq.sorted)
      assertSameRows(sqlForms(name), dfForms(name), s"$name SQL vs DF")
  }

  test("task4: exactly the rank-1 categories per country, ties kept") {
    val t4 = PinQueries.task4Df(pin, geo)
    val counts = pin.join(geo, Seq("ind"))
      .groupBy("country", "category").agg(count(lit(1)).as("count"))
    val maxPerCountry = counts.groupBy("country").agg(max("count").as("count"))
    // every returned row carries its country's max count
    assertSameRows(
      t4.select("country", "count").distinct(),
      maxPerCountry,
      "task4 rank-1 rows == per-country max")
  }

  test("task5 only contains years 2018-2022") {
    val years = PinQueries.task5Df(pin, geo)
      .select("year").distinct().collect().map(_.getInt(0)).toSet
    assert(years.nonEmpty && years.forall(y => y >= 2018 && y <= 2022))
  }

  test("task6.2 picks the global max follower count") {
    val t61 = PinQueries.task6Part1Df(pin, geo, user)
    val t62 = PinQueries.task6Part2Df(t61)
    assert(t62.count() == 1)
    val globalMax = t61.agg(max("follower_count")).head().getInt(0)
    assert(t62.head().getInt(1) == globalMax)
  }

  test("task7 age groups are the banding vocabulary") {
    val groups = PinQueries.task7Df(pin, user)
      .select("age_group").distinct().collect().map(_.getString(0)).toSet
    assert(groups.subsetOf(Set("18-24", "25-35", "36-50", "50+", null)))
  }

  test("task8: windowed+DISTINCT parity form equals groupBy form") {
    assertSameRows(
      PinQueries.task8Df(pin, user),
      PinQueries.task8GroupByDf(pin, user),
      "task8 window vs groupBy")
  }

  test("task9 counts sum to the user row count") {
    val total = PinQueries.task9Df(user)
      .agg(sum("number_users_joined")).head().getLong(0)
    assert(total == user.count())
  }

  test("medians are real data values or interpolations within range") {
    val t10 = PinQueries.task10Df(pin, user)
    val lo = pin.agg(min("follower_count")).head().getInt(0)
    val hi = pin.agg(max("follower_count")).head().getInt(0)
    val meds = t10.collect().map(_.getInt(1))
    assert(meds.forall(m => m >= lo && m <= hi))
  }
}
