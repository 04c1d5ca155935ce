package graft.operators

import graft.SparkSpec
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus: 40 unit-ish vectors in 8 dims; id 1 is a tiny
  // perturbation of id 0, id 2 is the negation of id 0
  private lazy val vecs: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(5L)
    val v0 = Seq.fill(8)(rng.nextGaussian().toFloat)
    val v1 = v0.map(x => x + 0.01f * rng.nextGaussian().toFloat)
    val v2 = v0.map(x => -x)
    val rest = (3 until 40).map(_ => Seq.fill(8)(rng.nextGaussian().toFloat))
    Seq(0L -> v0, 1L -> v1, 2L -> v2) ++ rest.zipWithIndex.map {
      case (v, i) => (i + 3).toLong -> v
    }
  }
  private lazy val corpus = vecs.toDF("vec_id", "embedding")

  test("cosine column math: hand values") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f)),   // 1.0
      (Seq(1f, 0f), Seq(0f, 1f)),   // 0.0
      (Seq(1f, 0f), Seq(-1f, 0f)),  // -1.0
      (Seq(0f, 0f), Seq(1f, 0f))    // degenerate → 0.0
    ).toDF("a", "b")
    val got = df.select(V.cosine(col("a"), col("b"))).as[Double].collect()
    assert(got.zip(Seq(1.0, 0.0, -1.0, 0.0)).forall { case (g, e) => math.abs(g - e) < 1e-6 })
  }

  test("cosine kernel agrees with the higher-order-function reference form") {
    val pairs = corpus.select(col("embedding").as("a"))
      .crossJoin(corpus.select(col("embedding").as("b")))
    val diff = pairs.select(
      abs(V.cosine(col("a"), col("b")) - V.cosineHof(col("a"), col("b"))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(diff < 1e-9, s"kernel vs HOF max divergence $diff")
  }

  test("dot kernel agrees with the HOF reference form") {
    val pairs = corpus.select(col("embedding").as("a"))
      .crossJoin(corpus.select(col("embedding").as("b"))).limit(200)
    val diff = pairs.select(
      abs(V.dot(col("a"), col("b")) - V.dotHof(col("a"), col("b"))).as("d"))
      .agg(max("d")).as[Double].head()
    assert(diff < 1e-9)
  }

  test("longDot kernel is value-identical to the interpreted HOF form incl. mismatch") {
    val rng = new scala.util.Random(23L)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rng.nextInt(4001).toLong - 2000L),
      Seq.fill(64)(rng.nextInt(4001).toLong - 2000L)))
    val df = rows.toDF("a", "b")
    val bad = df.select(
      (V.longDot(col("a"), col("b")) =!=
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")).as("ne"))
      .filter(col("ne")).count()
    assert(bad == 0, "longDot must equal the HOF form on every row")
    // length mismatch → null, same as the null-padded HOF
    val mm = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(V.longDot(col("a"), col("b")).as("d"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("h"))
      .head()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
  }

  test("longL2 kernel is value-identical to the interpreted HOF form incl. mismatch") {
    val rng = new scala.util.Random(29L)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rng.nextInt(4001).toLong - 2000L),
      Seq.fill(64)(rng.nextInt(4001).toLong - 2000L)))
    val df = rows.toDF("a", "b")
    val bad = df.select(
      (V.longL2(col("a"), col("b")) =!=
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)")).as("ne"))
      .filter(col("ne")).count()
    assert(bad == 0, "longL2 must equal the HOF form on every row")
    val mm = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(V.longL2(col("a"), col("b")).as("d"))
      .head()
    assert(mm.isNullAt(0))
  }

  test("brute-force top-k: nearest neighbor of 0 is its perturbation 1") {
    val queries = corpus.filter(col("vec_id") === 0)
      .withColumnRenamed("vec_id", "query_id")
    val top = Similarity.bruteForceTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 == 1L, s"expected neighbor 1 first, got ${top.toSeq}")
    assert(top.head._3 > 0.999)
    assert(top.map(_._4).toSeq == Seq(1, 2, 3))
    assert(!top.exists(_._2 == 0L), "query must not match itself")
  }

  test("bounded-heap top-k aggregator == window-based top-k") {
    val queries = corpus.filter(col("vec_id") < 8)
      .withColumnRenamed("vec_id", "query_id")
    val scored = Similarity.scoreAll(corpus.repartition(5), "vec_id",
      queries, "query_id", "embedding")
    val viaAgg = Similarity.bruteForceTopK(corpus.repartition(5), "vec_id",
      queries, "query_id", "embedding", k = 6)
    val viaWindow = Similarity.topKPerQueryWindow(
      scored.withColumn("vec_id", col("vec_id").cast("long")),
      "query_id", "vec_id", k = 6)
    assertSameRows(viaAgg, viaWindow, "aggregator vs window top-k")
  }

  test("brute-force top-k is deterministic across repartitionings") {
    val queries = corpus.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "query_id")
    val a = Similarity.bruteForceTopK(corpus.repartition(7), "vec_id",
      queries, "query_id", "embedding", k = 4)
    val b = Similarity.bruteForceTopK(corpus.repartition(2), "vec_id",
      queries, "query_id", "embedding", k = 4)
    assertSameRows(a, b, "topk across partitionings")
  }

  test("LSH top-k keeps the true top-1 for the near-identical pair") {
    val queries = corpus.filter(col("vec_id") === 0)
      .withColumnRenamed("vec_id", "query_id")
    val top = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3, planes = 12, maxHamming = 4)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(top.nonEmpty)
    assert(top.head._2 == 1L,
      "near-identical vector shares all hyperplane signs → must survive LSH")
  }

  test("LSH top-k candidates come from a hash join, not a nested loop") {
    val queries = corpus.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "query_id")
    val p = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3, planes = 12, maxHamming = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"corpus x queries must not be a BNLJ (VERDICT r1 wrong#4):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected chunk-key hash join:\n$p")
  }

  test("LSH top-k equals exhaustive-signature scoring (pigeonhole is lossless)") {
    // the banding equi-join must keep exactly the pairs the old full
    // crossJoin+hamming-filter kept: compare against scoreAll restricted
    // by the same signature distance
    import graft.functions.{VectorFunctions => V}
    val queries = corpus.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "query_id")
    val viaBanding = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 4, planes = 12, maxHamming = 4)
    val csig = corpus.select(col("vec_id"), col("embedding").as("_cvec"),
      V.hyperplaneSignature(col("embedding"), 12).as("_csig"))
    val qsig = queries.select(col("query_id"), col("embedding").as("_qvec"),
      V.hyperplaneSignature(col("embedding"), 12).as("_qsig"))
    val exhaustive = csig.crossJoin(broadcast(qsig))
      .filter(col("vec_id") =!= col("query_id"))
      .filter(V.hammingDistance(col("_csig"), col("_qsig")) <= 4)
      .select(col("query_id"), col("vec_id"),
        V.cosine(col("_cvec"), col("_qvec")).as("cosine"))
    val viaExhaustive = Similarity.topKPerQueryWindow(exhaustive, "query_id", "vec_id", 4)
    assertSameRows(viaBanding, viaExhaustive, "banded vs exhaustive LSH")
  }

  test("multi-probe LSH (probeBits=1) == plain banding == exhaustive scan") {
    val queries = corpus.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "query_id")
    val plain = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 4, planes = 12, maxHamming = 4)
    val multi = Similarity.lshTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 4, planes = 12, maxHamming = 4, probeBits = 1)
    assertSameRows(multi, plain, "multi-probe vs plain banding")
    // and the multi-probe plan is still a hash join, never a BNLJ
    val p = multi.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastHashJoin"),
      s"multi-probe candidates must stay an equi-join:\n$p")
  }

  test("multi-probe LSH catches pairs at the full Hamming budget (pigeonhole holds)") {
    // maxHamming=5, probeBits=1 → 3 chunks of 4 bits over 12 planes; a
    // pair differing by exactly 5 bits spread 2+2+1 across the chunks
    // agrees with NO chunk exactly, but every chunk is within 1 bit of
    // some probe → only multi-probe's widened chunk match finds it.
    // Build the scenario directly over signatures via the banding math:
    // equality with the exhaustive filter at the same budget is the
    // property that matters, on a corpus big enough to hit all spreads.
    val rng = new scala.util.Random(11L)
    val big = (0 until 300).map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = big.filter(col("vec_id") < 8)
      .withColumnRenamed("vec_id", "query_id")
    val multi = Similarity.lshTopK(big, "vec_id", queries, "query_id",
      "embedding", k = 50, planes = 12, maxHamming = 5, probeBits = 1)
    val csig = big.select(col("vec_id"), col("embedding").as("_cvec"),
      V.hyperplaneSignature(col("embedding"), 12).as("_csig"))
    val qsig = queries.select(col("query_id"), col("embedding").as("_qvec"),
      V.hyperplaneSignature(col("embedding"), 12).as("_qsig"))
    val exhaustive = csig.crossJoin(broadcast(qsig))
      .filter(col("vec_id") =!= col("query_id"))
      .filter(V.hammingDistance(col("_csig"), col("_qsig")) <= 5)
      .select(col("query_id"), col("vec_id"),
        V.cosine(col("_cvec"), col("_qvec")).as("cosine"))
    assertSameRows(multi,
      Similarity.topKPerQueryWindow(exhaustive, "query_id", "vec_id", 50),
      "multi-probe vs exhaustive at the full budget")
  }

  test("IVF top-k finds the planted nearest neighbor") {
    val queries = corpus.filter(col("vec_id") === 0)
      .withColumnRenamed("vec_id", "query_id")
    val top = Similarity.ivfTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3, nLists = 8, nProbe = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(top.nonEmpty)
    assert(top.head._2 == 1L,
      s"vec 1 is near-identical to query 0 → must share its list; got ${top.toSeq}")
    assert(top.head._3 > 0.999)
  }

  test("k-means centroids: k rows, right dimension, and IVF over them finds the neighbor") {
    val centroids = Similarity.kmeansCentroids(corpus, "vec_id", "embedding", k = 8, iters = 2)
    val rows = centroids.collect()
    assert(rows.length == 8)
    val dims = rows.map(_.getAs[Seq[Float]]("_centroid").length).toSet
    assert(dims == Set(corpus.head().getAs[Seq[Float]]("embedding").length),
      s"every centroid must keep the embedding dimension, got $dims")
    val queries = corpus.filter(col("vec_id") === 0)
      .withColumnRenamed("vec_id", "query_id")
    val top = Similarity.ivfTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3, nLists = 8, nProbe = 3, trainedCentroids = Some(centroids))
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(top.nonEmpty && top.head._2 == 1L,
      s"near-identical vector must share the query's trained list; got ${top.toSeq}")
  }

  test("IVF recall vs brute force is high at generous probe width") {
    val queries = corpus.filter(col("vec_id") < 6)
      .withColumnRenamed("vec_id", "query_id")
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3).select("query_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, "vec_id", queries, "query_id",
      "embedding", k = 3, nLists = 8, nProbe = 8) // probe ALL lists → exact
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivf == brute, s"probing every list must equal brute force; " +
      s"missing=${brute -- ivf} extra=${ivf -- brute}")
  }

  test("embedding near-dup pairs finds exactly the planted pair at 0.99") {
    val pairs = Similarity.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.99, planesPerBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
  }

  test("robustness: zero vectors, empty arrays, unicode text") {
    // zero vector: cosine 0 against anything, never NaN
    val z = Seq((Seq(0f, 0f), Seq(1f, 2f)), (Seq.empty[Float], Seq.empty[Float]))
      .toDF("a", "b")
      .select(V.cosine(col("a"), col("b"))).as[Double].collect()
    assert(z.forall(v => !v.isNaN && v == 0.0))
    // mismatched lengths: defined (0.0), not an exception
    val m = Seq((Seq(1f), Seq(1f, 2f))).toDF("a", "b")
      .select(V.cosine(col("a"), col("b"))).as[Double].head()
    assert(m == 0.0)
    // unicode dedup round-trip
    val docs = Seq((1L, "héllo wörld ✓"), (2L, "HÉLLO   WÖRLD ✓")).toDF("doc_id", "text")
    val keep = graft.operators.Dedup.exactNormalized(docs, "doc_id", "text")
      .select("doc_id", "is_duplicate").as[(Long, Boolean)].collect().toMap
    assert(!keep(1L) && keep(2L), "unicode case/space variants fold")
  }

  test("semanticDedup capped path: a degenerate hot cluster emits a closed-form star") {
    // all-identical embeddings — the dead-centroid nightmare: every row
    // lands in ONE cluster. Uncapped that is n(n-1)/2 pairs; the capped
    // cluster-pair path (q160) must emit exactly the n-1 star pairs to
    // the min id.
    val n = 40
    val vec: Seq[Float] = Seq.fill(8)(1.0f)
    val df = (0 until n).map(i => (100L + i, vec)).toDF("vec_id", "embedding")
    // pair-level pin: star, not clique
    val assigned = df.select(col("vec_id").cast("long").as("vec_id"), lit(0L).as("c"))
    val pairs = graft.operators.Dedup.clusterPairs(assigned, "c", "vec_id", cap = 10)
      .as[(Long, Long)].collect().toSet
    assert(pairs == (101 until 100 + n).map(i => (100L, i.toLong)).toSet,
      s"hot cluster must emit the ${n - 1}-edge star to the min id, got ${pairs.size} pairs")
  }

  test("hyperplane signature: identical vectors identical, negated all-differ") {
    val sigs = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id"), V.hyperplaneSignature(col("embedding"), 16).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) <= 2,
      "perturbed vector flips at most a couple of planes")
    assert(java.lang.Long.bitCount((sigs(0L) ^ sigs(2L)) & 0xffffL) == 16,
      "negated vector flips every plane")
  }
}
