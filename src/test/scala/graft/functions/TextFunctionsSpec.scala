package graft.functions

import graft.SparkSpec
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, s: String): org.apache.spark.sql.Row =
    Seq(s).toDF("t").select(c).head()

  test("normalize + tokens") {
    assert(one(T.normalizeText(col("t")), "  Hello\t WORLD  x ").getString(0)
      == "hello world x")
    assert(one(T.tokens(col("t")), " a  b   c ").getSeq[String](0) == Seq("a", "b", "c"))
    assert(one(T.tokens(col("t")), "   ").getSeq[String](0) == Seq.empty)
    assert(one(T.tokenCount(col("t")), "one two three").getLong(0) == 3L)
  }

  test("shingles: n-grams and the short-text degenerate case") {
    assert(one(T.shingles(col("t"), 2), "a b c").getSeq[String](0)
      == Seq("a b", "b c"))
    assert(one(T.shingles(col("t"), 5), "a b").getSeq[String](0) == Seq("a b"))
  }

  test("jaccard on string arrays") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    assert(math.abs(df.select(T.jaccard(col("x"), col("y"))).as[Double].head() - 0.5) < 1e-12)
  }

  test("redact scrubs emails, urls, long digit runs; keeps short numbers") {
    val got = one(T.redact(col("t")),
      "mail bob.smith+x@corp.example.org or see https://ex.org/p?q=1 ref 123456789012 room 42")
      .getString(0)
    assert(got == "mail <EMAIL> or see <URL> ref <NUM> room 42")
  }

  test("langId classifies marker-bearing sentences") {
    val cases = Seq(
      "the cat is on the mat and the dog is sleeping" -> "en",
      "der Hund ist nicht hier und die Katze ist da" -> "de",
      "le chat est sur la table et les livres sont ici" -> "fr",
      "el gato es bonito y los perros son grandes" -> "es",
      "我不知道这是什么但是我很高兴" -> "zh",
      "zzz qqq xxx" -> "und")
    val df = cases.map(_._1).toDF("t")
      .select(col("t"), T.langId(col("t")).as("lang"))
    val got = df.as[(String, String)].collect().toMap
    for ((text, expected) <- cases)
      assert(got(text) == expected, s"'$text' → ${got(text)}, expected $expected")
  }

  test("quality metrics: clean prose scores above junk") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and runs to the hills.",
      "!!! ??? ... ,,, ;;; :::",
      "a").toDF("t").select(T.qualityMetrics(col("t")).as("m")).select("m.*")
    val rows = df.collect()
    val prose = rows(0).getAs[Double]("quality_score")
    val junk = rows(1).getAs[Double]("quality_score")
    val tiny = rows(2).getAs[Double]("quality_score")
    assert(prose > junk, s"prose $prose should beat junk $junk")
    assert(prose > tiny, s"prose $prose should beat tiny $tiny")
    assert(rows(0).getAs[Long]("n_tokens") == 14L)
  }

  test("one-pass shingle hashes match the HOF form's set semantics") {
    val texts = Seq(
      "a b c d e f g", "a b c d e f g", "  A  b   C d e f g  ",
      "x", "", "one two", "a b a b a b")
    val df = texts.toDF("t").select(
      size(T.shingleHashes(col("t"), 3)).as("fast"),
      size(T.shingleHashesHof(col("t"), 3)).as("hof"),
      T.jaccard(T.shingleHashes(col("t"), 3),
        T.shingleHashes(lit("a b c d e f g"), 3)).as("jf"),
      T.jaccard(T.shingleHashesHof(col("t"), 3),
        T.shingleHashesHof(lit("a b c d e f g"), 3)).as("jh"))
    df.collect().zip(texts).foreach { case (r, t) =>
      assert(r.getInt(0) == r.getInt(1), s"cardinality differs for '$t'")
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-12,
        s"jaccard differs for '$t': ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("one-pass md5 shingle hashes are VALUE-identical to the HOF witness") {
    // unlike the FNV family (different hash, same set semantics), the
    // md5 family must reproduce the HOF values EXACTLY — the DuckDB
    // oracles replay each md5 prefix bit for bit
    val texts = Seq(
      "a b c d e f g", "  A  b   C d e f g  ", "x", "", "one two",
      "a b a b a b", "Füße müde Faß", "tab\tand  spaces", "0 1 2 3 4")
    val rows = texts.toDF("t").select(
      array_sort(T.md5ShingleHashes(col("t"), 3)).as("fast"),
      array_sort(T.md5ShingleHashesHof(col("t"), 3)).as("hof"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"md5 kernel values differ for '$t': ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
    }
  }

  test("minhash signature: containment tracks similarity") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"))
      .toDF("id", "t")
      .select(col("id"),
        T.minhashSignature(T.shingleHashes(col("t"), 2), 64).as("sig"))
    val sigs = df.as[(Long, Seq[Long])].collect().toMap
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(1L), sigs(2L)) > agree(sigs(1L), sigs(3L)),
      "similar texts must agree on more minhash coordinates")
    assert(sigs(1L).length == 64)
  }

  test("OPH signature: bins, minima and rotation densification match a scalar replay") {
    val k = 8
    // hand-checkable shingle-hash sets, incl. negatives (unsigned bin),
    // a set leaving several bins empty (rotation paths, wraparound
    // borrow past bin k-1), and the empty set (all-MaxValue contract)
    val sets = Seq(
      1L -> Seq(5L, 13L, -3L, 7L, 21L),
      2L -> Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L),
      3L -> Seq(16L), // one bin filled: every other bin borrows from it
      4L -> Seq.empty[Long])
    val got = sets.toDF("id", "hs")
      .select(col("id"), T.ophSignature(col("hs"), k).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    def replay(hs: Seq[Long]): Seq[Long] = {
      val mins = collection.mutable.Map.empty[Int, Long]
      for (x <- hs) {
        val b = java.lang.Long.remainderUnsigned(x, k.toLong).toInt
        mins(b) = math.min(mins.getOrElse(b, Long.MaxValue), x)
      }
      (0 until k).map { j =>
        if (mins.contains(j)) mins(j)
        else if (mins.isEmpty) Long.MaxValue
        else {
          var hops = 1
          while (!mins.contains((j + hops) % k)) hops += 1
          mins((j + hops) % k) + graft.functions.OphSignature.C * hops
        }
      }
    }
    for ((id, hs) <- sets)
      assert(got(id) == replay(hs), s"doc $id: ${got(id)} vs ${replay(hs)}")
    // similarity tracking survives densification (the LSH property)
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"))
      .toDF("id", "t")
      .select(col("id"),
        T.ophSignature(T.shingleHashes(col("t"), 2), 64).as("sig"))
    val sigs = df.as[(Long, Seq[Long])].collect().toMap
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(1L), sigs(2L)) > agree(sigs(1L), sigs(3L)),
      "similar texts must agree on more OPH coordinates")
  }

  test("md5Hash64 fast kernel == decimal-kernel witness, incl. sign-wrap cases") {
    // real corpus text plus adversarial strings; the set must exercise
    // both hi >= 2^31 (negative result) and hi < 2^31 (positive)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(200)
      .unionByName(Seq("", "a", "über", "0", " ", "x" * 5000).toDF("text"))
    val cmp = docs.select(
      T.md5Hash64(col("text")).as("fast"),
      T.md5Hash64ViaDecimal(col("text")).as("dec"))
    assert(cmp.filter(col("fast") =!= col("dec")).count() == 0,
      "fast kernel must be bit-identical to the decimal form")
    val signs = cmp.select(countDistinct(col("fast") < 0)).head().getLong(0)
    assert(signs == 2, "test corpus must cover both sign-wrap branches")
  }
}
