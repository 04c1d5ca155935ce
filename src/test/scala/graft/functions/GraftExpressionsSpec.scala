package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraftExpressionsSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) = {
    GraftFunctions.register(spark)
    super.withFixture(test)
  }

  /** Reference implementation of the rolling hash, for cross-checking
    * the Catalyst expression's eval. */
  private def fpRef(s: String): Long = {
    var h = 1125899906842597L
    for (b <- s.getBytes("UTF-8")) h = 31 * h + (b & 0xffL)
    h
  }

  test("fingerprint64 matches the reference rolling hash") {
    val inputs = Seq("", "a", "hello world", "héllo ünïcode ✓", "x" * 1000)
    val got = inputs.toDF("t")
      .select(col("t"), GraftFunctions.fingerprint64(col("t")).as("fp"))
      .as[(String, Long)].collect().toMap
    for (s <- inputs) assert(got(s) == fpRef(s), s"fingerprint mismatch for '$s'")
  }

  test("fingerprint64: null in, null out; usable from SQL") {
    val r = Seq(Option.empty[String], Some("x")).toDF("t")
      .selectExpr("graft_fingerprint64(t) AS fp")
      .as[Option[Long]].collect()
    assert(r(0).isEmpty && r(1).nonEmpty)
  }

  test("simhash64: all-ones votes, empty array, sign behavior") {
    val r = Seq(
      (1L, Seq(-1L)),              // every bit set → all 64 bits set
      (2L, Seq(0L)),               // all bits zero → votes -1 → no bits... except none
      (3L, Seq.empty[Long])        // no tokens → votes all 0 → >= 0 → all bits set
    ).toDF("id", "hashes")
      .select(col("id"), GraftFunctions.simhash64(col("hashes")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(r(1L) == -1L, "all-ones token → simhash all ones")
    assert(r(2L) == 0L, "all-zeros token → simhash zero")
    assert(r(3L) == -1L, "empty array → ties resolve to 1 bits (documented)")
  }

  test("simhash64 is order-insensitive over the token bag") {
    val a = Seq(Seq(3L, 99L, 1234L, -77L)).toDF("h")
      .select(GraftFunctions.simhash64(col("h"))).as[Long].head()
    val b = Seq(Seq(-77L, 1234L, 3L, 99L)).toDF("h")
      .select(GraftFunctions.simhash64(col("h"))).as[Long].head()
    assert(a == b)
  }

  test("nfc: composes decomposed forms, preserves ASCII zero-copy, null-safe") {
    val composed = "caf\u00e9"          // e-acute, single code point
    val decomposed = "cafe\u0301"       // e + combining acute
    val r = Seq(Some(decomposed), Some(composed), Some("plain ascii"), None)
      .toDF("t")
      .select(GraftFunctions.nfc(col("t")).as("n"))
      .as[Option[String]].collect()
    assert(r(0).contains(composed), "decomposed input must compose")
    assert(r(1).contains(composed), "already-NFC input unchanged")
    assert(r(2).contains("plain ascii"))
    assert(r(3).isEmpty, "null in, null out")
    // dedup utility: normalized forms hash equal
    val hashes = Seq(decomposed, composed).toDF("t")
      .select(md5(GraftFunctions.nfc(col("t")))).as[String].collect()
    assert(hashes(0) == hashes(1))
    // SQL registration path
    val viaSql = Seq(decomposed).toDF("t")
      .selectExpr("graft_nfc(t) AS n").as[String].head()
    assert(viaSql == composed)
  }

  test("codebook argmax-dot: a key of exactly Long.MaxValue still picks candidate 0") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.graft.shim
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val cb = Array(Array(1L))
    val x = Long.MinValue + 1 // key = −(x·1) = Long.MaxValue
    val interpreted = CodebookArgmin(
      Literal.create(Seq(x), ArrayType(LongType, containsNull = false)), cb, l2 = false)
    assert(interpreted.eval() == 0)
    // id + x keeps the input non-foldable, so the kernel runs in codegen
    val df = spark.range(1).select(shim.column(CodebookArgmin(
      shim.expression(array(col("id") + lit(x))), cb, l2 = false)))
    assert(df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.expressions.exists(_.exists(_.isInstanceOf[CodebookArgmin]))),
      "the kernel must run inside whole-stage codegen")
    assert(df.as[Int].head() == 0)
  }
}
