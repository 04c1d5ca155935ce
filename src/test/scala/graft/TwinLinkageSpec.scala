package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-visible cross-checks tying each rows-only catalog entry to its
  * hash-oracled twin (r15 verdict item 5): the float/xxhash original and
  * the md5/quantized twin run — as the LITERAL catalog queries — over
  * PLANTED tables written to a temp dir, and must agree on the planted
  * ground truth. The twin linkage per query (also named in COVERAGE.md):
  *
  *   q38 (xxhash minhash)      ↔ q91  (md5 minhash, full-chain oracle)
  *   q45 (xxhash transitive)   ↔ q91 kernel + q79 (CC machinery oracle)
  *   q40 (float embedding dup) ↔ q92  (quantized, full-chain oracle)
  *   q41 (float brute top-k)   ↔ q86  (quantized exact top-k oracle)
  *   q42 (float LSH top-k)     ↔ q93  (quantized LSH oracle)
  *   q44 (float IVF top-k)     ↔ q90  (quantized IVF oracle)
  *   q49 (trained-kmeans IVF)  ↔ q210 (trained-kmeans IVF, quantized
  *                                     full-build oracle; r16 — q173
  *                                     remains the PQ-family witness)
  *
  * Why planted data and not equality on the bench tables: the twins
  * differ by hash family / quantization, so borderline LSH bucket
  * collisions legitimately differ row-for-row; what must NOT differ is
  * the recovery of unambiguous structure — near-identical pairs, clear
  * transitive chains, well-separated nearest neighbors. */
class TwinLinkageSpec extends SparkSpec {
  import spark.implicits._

  // ---- planted corpora, written once as parquet tables ----

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-twins").toString
    // documents: 10 near-dup families (base 3f, variant 3f+1 — first
    // token swapped in a 40-token text, jaccard ≈ 0.86 — filler 3f+2)
    // plus one 3-link chain 90~91~92 (91/92 swap DIFFERENT far-apart
    // tokens, so 90~92 alone is below the 0.5 bar: transitivity only).
    def toks(f: Int) = (0 until 40).map(i => s"f${f}w$i")
    def text(ts: Seq[String]) = ts.mkString(" ")
    val fams = (0 until 10).flatMap { f =>
      val base = toks(f)
      Seq(
        (f * 3L, text(base)),
        (f * 3L + 1, text(s"f${f}x0" +: base.tail)),
        (f * 3L + 2, text((0 until 40).map(i => s"u${f}q$i"))))
    }
    val c = toks(95)
    val chain = Seq(
      (90L, text(c)),
      (91L, text(c.updated(5, "chainswapfive"))),
      (92L, text(c.updated(5, "chainswapfive").updated(30, "chainswapthirty"))))
    (fams ++ chain).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // embeddings (64-dim): query f (id f, axis e_f) for f < 16; its
    // planted nearest neighbor id 20+f at cos .999; five family
    // members ids 40+5f+r at cos .98/.9/.8/.7/.6, each in the
    // (e_f, e_{20+f'}) plane — families pairwise orthogonal, so the
    // per-query neighbor order is unambiguous and quantization-stable.
    def vec(axis: Int, cos: Double, alt: Int): Array[Float] = {
      val v = new Array[Float](64)
      v(axis) = cos.toFloat
      v(alt) = math.sqrt(1.0 - cos * cos).toFloat
      v
    }
    val qs = (0 until 16).map(f => (f.toLong, vec(f, 1.0, 32 + f)))
    val partners = (0 until 16).map(f => (20L + f, vec(f, 0.999, 32 + f)))
    val members = for {
      f <- 0 until 16
      (c2, r) <- Seq(0.98, 0.9, 0.8, 0.7, 0.6).zipWithIndex
    } yield (40L + 5 * f + r, vec(f, c2, 32 + f))
    (qs ++ partners ++ members).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("every catalog name has a unique qNN prefix (Bench's per_query_ms keys)") {
    val prefixes = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size == prefixes.size,
      s"shared prefixes: ${prefixes.diff(prefixes.distinct).mkString(",")}")
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  /** (id → (keep_id, is_duplicate)) map of a keeper-shaped result. */
  private def keepers(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  /** Per-query ordered non-self neighbor ids of a ranked result. */
  private def neighbors(df: DataFrame, n: Int): Map[Long, Seq[Long]] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rank").cast("long"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getLong(2)).map(_.getLong(1))
          .filter(_ != qid).take(n).toSeq
      }

  test("q38 ↔ q91: both minhash families recover the planted dup structure") {
    val a = keepers(q("q38_dedup_minhash_lsh"))
    val b = keepers(q("q91_dedup_minhash_md5"))
    assert(a == b, s"families diverged:\n xxhash=$a\n md5=$b")
    for (f <- 0 until 10) {
      assert(a(f * 3L) == ((f * 3L, false)), s"base of family $f")
      assert(a(f * 3L + 1) == ((f * 3L, true)), s"variant of family $f")
      assert(a(f * 3L + 2) == ((f * 3L + 2, false)), s"filler of family $f")
    }
    // single-hop keeper on the chain: 91 hops to 90; 92's hop lands on
    // 90 or 91 depending on which chain pairs the banding surfaces
    // (90~92 is itself ≥ 0.5 here — the sub-0.5 transitive gap is
    // exercised in DedupSpec; what this test pins is FAMILY AGREEMENT,
    // asserted above)
    assert(a(91L) == ((90L, true)), s"chain: $a")
    assert(a(92L)._2 && Set(90L, 91L).contains(a(92L)._1), s"chain: $a")
  }

  test("q45 ↔ md5 kernel + q79 machinery: transitive clusters agree across families") {
    val xx = q("q45_dedup_minhash_transitive")
    val docs = Tables.load(spark, dir, "documents")
    val md5cc = graft.operators.Dedup.connectedComponents(docs, "doc_id",
      graft.operators.Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
        shingleHasher = graft.functions.TextFunctions.md5ShingleHashes))
    assertSameRows(xx, md5cc, "xxhash CC vs md5 CC")
    val m = keepers(xx)
    // full transitive closure: the whole chain collapses to 90
    assert(m(90L) == ((90L, false)) && m(91L) == ((90L, true)) &&
      m(92L) == ((90L, true)), s"chain closure: $m")
  }

  test("q40 ↔ q92: float and quantized embedding dedup agree on the planted pairs") {
    // assert on the unambiguous slice (queries + their .999 partners):
    // weak 0.6–0.9 pairs are banding-recall-dependent and may
    // legitimately differ between the float and quantized sign bits
    val a = keepers(q("q40_dedup_embedding")).view.filterKeys(_ < 40).toMap
    val b = keepers(q("q92_dedup_embedding_quantized")).view.filterKeys(_ < 40).toMap
    assert(a == b, s"float vs quantized diverged:\n float=$a\n quant=$b")
    for (f <- 0 until 16) {
      assert(a(f.toLong)._2 == false, s"query $f must keep itself: $a")
      assert(a(20L + f) == ((f.toLong, true)), s"partner of $f: $a")
    }
  }

  test("q41 ↔ q86: brute-force float and quantized rankings agree") {
    val a = neighbors(q("q41_ann_bruteforce_topk"), 4)
    val b = neighbors(q("q86_ann_quantized_exact_topk"), 4)
    for (f <- 0L until 16L) {
      val want = Seq(20 + f, 40 + 5 * f, 41 + 5 * f, 42 + 5 * f)
      assert(a(f) == want, s"float q$f: ${a(f)} != $want")
      assert(b(f) == want, s"quant q$f: ${b(f)} != $want")
    }
  }

  test("q42 ↔ q93: LSH float and quantized keep the planted head of the ranking") {
    val a = neighbors(q("q42_ann_lsh_topk"), 3)
    val b = neighbors(q("q93_ann_lsh_quantized_topk"), 3)
    for (f <- 0L until 16L) {
      val want = Seq(20 + f, 40 + 5 * f, 41 + 5 * f)
      assert(a(f) == want, s"float q$f: ${a(f)} != $want")
      assert(b(f) == want, s"quant q$f: ${b(f)} != $want")
    }
  }

  test("q44 ↔ q90: IVF float and quantized agree through the probe topology") {
    val a = neighbors(q("q44_ann_ivf_topk"), 4)
    val b = neighbors(q("q90_ann_ivf_quantized_topk"), 4)
    for (f <- 0L until 16L) {
      val want = Seq(20 + f, 40 + 5 * f, 41 + 5 * f, 42 + 5 * f)
      assert(a(f) == want, s"float q$f: ${a(f)} != $want")
      assert(b(f) == want, s"quant q$f: ${b(f)} != $want")
    }
  }

  test("q49 ↔ q210: trained-kmeans IVF float and quantized retrieve the planted neighbor") {
    val a = neighbors(q("q49_ann_ivf_kmeans_topk"), 1)
    for (f <- 0L until 16L)
      assert(a(f) == Seq(20 + f), s"trained IVF q$f top-1: ${a(f)}")
    // the SAME-FAMILY oracle twin (hashOrder sample → integer Lloyd →
    // assign/probe/rank, all replayed by DuckDB in q210's SQL): the
    // planted .999 partner must be every query's top-1 here too
    val c = neighbors(q("q210_ann_ivf_kmeans_quantized_topk"), 1)
    for (f <- 0L until 16L)
      assert(c(f) == Seq(20 + f), s"quantized trained IVF q$f top-1: ${c(f)}")
    // the trained-PQ twin measures recall vs the quantized-exact truth.
    // The planted corpus is ADVERSARIAL for PQ — 16 mutually orthogonal
    // family directions cannot be represented by 8 codebook entries per
    // subspace — so perfect recall is not achievable; what the linkage
    // pins is that the trained pipeline runs over the same corpus and
    // stays far above chance (random top-5 of 111 ≈ 3000/65536).
    val recalls = q("q173_ann_pq_trained_recall")
      .select(col("recall_fp").cast("long")).as[Long].collect()
    assert(recalls.length == 16, s"one recall row per query: ${recalls.length}")
    val mean = recalls.sum / recalls.length
    assert(mean >= 16384L, s"trained-PQ mean recall ${mean}/65536 too low")
  }
}
