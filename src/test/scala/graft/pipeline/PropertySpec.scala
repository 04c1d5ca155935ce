package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks (SURVEY.md §5.2 item 5) — generators from
  * ScalaCheck, driven deterministically (fixed seed) and evaluated
  * through the real Spark expressions in one batch per property. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): List[A] =
    Iterator.iterate((Seed(seed), List.empty[A])) { case (s, acc) =>
      val r = gen.doPureApply(Gen.Parameters.default, s)
      (r.seed.next, r.retrieve.fold(acc)(_ :: acc))
    }.drop(n).next()._2

  test("follower_count expansion is a total function: any string → int or null") {
    val gen = Gen.oneOf(
      Gen.numStr, Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.oneOf("25k", "1M", "25.5k", "", "k", "M", "kk", "9" * 20, "-3k", "1e5"))
    val strings = samples(gen, 500, seed = 1L)
    val out = Clean.expandFollowerCount(strings.toDF("follower_count"))
      .as[Option[Int]].collect() // must never throw; int-or-null by schema
    assert(out.length == strings.size)
  }

  test("expansion semantics on all well-formed inputs 0-999 × suffixes") {
    val cases = for {
      n <- 0 to 999 by 7
      suffix <- Seq("", "k", "K", "m", "M")
    } yield (s"$n$suffix", suffix.toLowerCase match {
      case "" => n.toLong
      case "k" => n.toLong * 1000L
      case "m" => n.toLong * 1000000L
    })
    val got = Clean.expandFollowerCount(cases.map(_._1).toDF("follower_count"))
      .as[Option[Long]].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g.contains(e)) }
  }

  test("age banding is total and exclusive over the full int range sample") {
    val ages = ((-5 to 120) ++ Seq(Int.MinValue, Int.MaxValue)).toList
    val out = ages.toDF("age")
      .select(col("age"), PinQueries.ageGroup(col("age")).as("band"))
      .as[(Int, Option[String])].collect().toMap
    for (a <- ages) {
      val expected =
        if (a >= 18 && a <= 24) Some("18-24")
        else if (a >= 25 && a <= 35) Some("25-35")
        else if (a >= 36 && a <= 50) Some("36-50")
        else if (a > 50) Some("50+")
        else None
      assert(out(a) == expected, s"age $a")
    }
  }

  test("emptyToNull is idempotent on arbitrary whitespace-y strings") {
    val gen = Gen.oneOf(Gen.asciiPrintableStr,
      Gen.oneOf("", " ", "  x ", "x", "\t", "ok", "\n"))
    val vals = samples(gen, 300, seed = 2L)
    val df = vals.toDF("c")
    val once = Clean.emptyToNull(df).as[Option[String]].collect().toSeq
    val twice = Clean.emptyToNull(Clean.emptyToNull(df)).as[Option[String]].collect().toSeq
    assert(once == twice)
  }

  test("normalized text is a fixpoint of normalization") {
    val vals = samples(Gen.asciiPrintableStr, 300, seed = 3L)
    val df = vals.toDF("t")
    val once = df.select(graft.functions.TextFunctions.normalizeText(col("t")))
      .as[String].collect().toSeq
    val twice = df.select(graft.functions.TextFunctions.normalizeText(
      graft.functions.TextFunctions.normalizeText(col("t")))).as[String].collect().toSeq
    assert(once == twice)
  }
}
