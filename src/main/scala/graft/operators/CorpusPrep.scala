package graft.operators

import graft.functions.{GraftFunctions, TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation as ONE composed plan — the
  * chain a 100 TB pretraining build runs nightly:
  *
  *   NFC + whitespace normalization
  *     → exact dedup (keep min-id per content hash)
  *     → integer-exact quality filter (token count bounds, alpha ratio)
  *     → decontamination (broadcast anti-join vs eval blocklist)
  *     → per-language stratified quota (deterministic hash order)
  *
  * Every step is a narrow projection, a single window on the content
  * hash, or a broadcast join — the corpus shuffles exactly twice (hash
  * window, language quota window), never nested-loops, and nothing
  * collects. The whole chain stays in one Catalyst plan, so pushdown
  * and column pruning cross step boundaries. All comparisons are
  * integer-exact, making the full pipeline DuckDB-oracle-checkable end
  * to end (q78). */
object CorpusPrep {

  def prepare(
      docs: DataFrame, blocklist: DataFrame,
      idCol: String, textCol: String, langCol: String,
      minTokens: Int = 5, maxTokens: Int = 5000,
      quotaPerLang: Int = 50): DataFrame = {
    val norm = T.normalizeText(GraftFunctions.nfc(col(textCol)))
    val normalized = Fanout.forKernel(docs).select(
      col(idCol), col(langCol), norm.as("_norm"),
      md5(norm).as("_h"))
    // exact dedup: keeper = min-id row per content hash, as ONE min_by
    // aggregate rather than a window over the hash (the Dedup.exact r14
    // rationale — a hot clique would buffer its whole instance set
    // INCLUDING the normalized text in one window partition; min_by's
    // partial state is one row per group, so a clique pre-combines
    // map-side to a single full row per map task, and the kernel — nfc
    // + normalize + md5 — still runs exactly once over the corpus)
    val deduped = normalized.groupBy(col("_h"))
      .agg(min_by(struct(normalized.columns.map(col): _*), col(idCol)).as("_r"))
      .select(col("_r.*"))
    // quality: integer-only so the oracle hashes identically — token
    // bounds plus "at least half the characters are a-z"
    val nTokens = when(length(col("_norm")) === 0, lit(0L))
      .otherwise(size(split(col("_norm"), " ")).cast("long"))
    val alpha = length(regexp_replace(col("_norm"), "[^a-z]", "")).cast("long")
    val quality = deduped
      .withColumn("_ntok", nTokens)
      .filter(col("_ntok").between(minTokens, maxTokens) &&
        alpha * 2 >= length(col("_norm")).cast("long"))
    // decontaminate: blocklist hashes broadcast, corpus streams through
    val bl = blocklist
      .select(md5(T.normalizeText(GraftFunctions.nfc(col(textCol)))).as("_h"))
      .distinct()
    val clean = quality.join(broadcast(bl), Seq("_h"), "left_anti")
    // stratified quota per language, deterministic overflow-proof hash
    // order (ids at 100 TB exceed the naive Knuth-multiply int64 range).
    // Selection is the bounded-state TopK aggregate (the domainCap
    // machinery), NOT a per-language ROW_NUMBER window — the window
    // sorts a whole language's surviving corpus through one reducer,
    // while partial_topk reduces every map partition to ≤ quota entries
    // per language before the exchange. n_tokens rides as the
    // aggregator's INERT payload field (r15: the earlier id·2²⁰+ntok
    // packing silently corrupted negative ids and overflowed past
    // 2⁴³ — hash-derived ids, which this codebase uses elsewhere, hit
    // both), so the full int64 id domain is safe, the quality kernel
    // still runs exactly once, and no join-back re-derives the corpus.
    // Ordering matches the window form: score = -hashOrder, ties on id
    // asc; the payload never participates.
    clean
      .groupBy(col(langCol))
      .agg(TopKAggregator.topKPair(quotaPerLang)(
        -graft.Exact.hashOrder(col(idCol), 97).cast("double"),
        col(idCol).cast("long"), col("_ntok")).as("_keep"))
      .select(col(langCol), explode(col("_keep")).as("_k"))
      .select(
        col("_k.id").as(idCol),
        col(langCol),
        col("_k.payload").as("n_tokens"))
  }

  /** Per-registrable-domain document cap — the crawl-pipeline staple
    * that runs BEFORE any sampling: no single site may contribute more
    * than `cap` documents, chosen in deterministic hash order so the
    * kept set is reproducible and unbiased by ingest order.
    *
    * Domains are Zipfian — the head domain can hold double-digit
    * percent of a crawl — so the obvious `row_number() OVER
    * (PARTITION BY domain)` puts the whole head domain through ONE
    * reducer (the same hot-window pathology q124 dodges for tokens).
    * Instead the kept ids come from [[TopKAggregator]]: map-side
    * partials hold ≤ cap entries per domain, so the exchange carries
    * at most cap × partitions × |domains| rows no matter how hot the
    * head domain is, and no reducer ever sees a domain's full row
    * set. The aggregator keeps the LARGEST scores with ties broken on
    * ascending id, so ascending (hashOrder, id) order maps exactly to
    * score = −hashOrder (negation flips the order; equal buckets fall
    * through to the aggregator's own ascending-id tiebreak).
    *
    * Returns one row per kept document: (registrable domain, id). */
  def domainCap(
      docs: DataFrame, urlCol: String, idCol: String, cap: Int): DataFrame =
    capByDomain(
      docs.select(
        T.registrableDomain(col(urlCol)).as("domain"),
        col(idCol).cast("long").as(idCol)),
      idCol, cap)

  /** The cap half of [[domainCap]] on an already-extracted
    * (domain, id) frame: a deterministic hash-order top-k per domain. */
  def capByDomain(df: DataFrame, idCol: String, cap: Int): DataFrame = {
    require(cap > 0)
    df.select(col("domain"), col(idCol).cast("long").as("_id"))
      .groupBy(col("domain"))
      .agg(TopKAggregator.topK(cap)(
        -graft.Exact.hashOrder(col("_id"), 97).cast("double"),
        col("_id")).as("_keep"))
      .select(col("domain"), explode(col("_keep.id")).as(idCol))
  }

  /** Target-mixture rebalancing — the corpus-mixing move before
    * training: thin each language (or any stratum) so the surviving
    * corpus matches a target share vector at the LARGEST achievable
    * size. The binding stratum is the one scarcest relative to its
    * target (kept almost whole); everything else thins toward it.
    *
    * `sharesMillis` maps stratum → target share in thousandths
    * (must sum to ≤1000); strata absent from the map are dropped.
    * Achievable total T = min over strata of ⌊n·1000/share⌋; each
    * stratum keeps ids whose hash falls under rate = T·share/1000/n —
    * deterministic, reproducible, unbiased by ingest order. Kept
    * counts land within O(hash-grain) of T·share/1000 (rate thinning,
    * not exact quotas — a per-stratum rank would put a whole hot
    * language through one reducer at scale; the q54 quota form covers
    * the exact-rank variant where strata are small).
    *
    * Scale shape: one stratum-grain aggregate (map-side combine, ≤
    * |strata|×partitions partial rows), its 1-row min, both broadcast
    * back; the corpus itself is scanned, filtered map-side, and NEVER
    * shuffles. All arithmetic is int64 (h·n < T·share·100 with
    * h < 10⁵ keeps every product well under 2⁶³ for corpus sizes past
    * 10¹⁰ docs). */
  def rebalanceMixture(docs: DataFrame, strataCol: String, idCol: String,
      sharesMillis: Map[String, Int]): DataFrame = {
    require(sharesMillis.nonEmpty && sharesMillis.values.forall(_ > 0))
    require(sharesMillis.values.sum <= 1000, "target shares exceed 100%")
    val spark = docs.sparkSession
    import spark.implicits._
    val shares = sharesMillis.toSeq.toDF(strataCol, "_share")
    val counts = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("_n"))
      .join(broadcast(shares), strataCol)
    val t = counts.agg(min(expr("_n * 1000 div _share")).as("_t"))
    val h = graft.Exact.hashOrder(col(idCol), 100000)
    docs
      .join(broadcast(counts), strataCol)
      .crossJoin(broadcast(t))
      .filter(h * col("_n") < col("_t") * col("_share") * 100)
      .select(col(idCol), col(strataCol))
  }

  /** Boilerplate shingle detection — the CCNet/RefinedWeb move of
    * finding content repeated across many documents of the same origin
    * (navigation chrome, license footers, templated headers) so a later
    * pass can strip or down-weight it. A word n-gram counts as
    * boilerplate for a source when it appears in ≥ `minDocs` DISTINCT
    * documents of that source; an absolute document count (not a
    * fraction) is the production rule — template strings repeat a fixed
    * number of times per site regardless of crawl size.
    *
    * Scale shape: `array_distinct` collapses within-document repeats
    * BEFORE the explode, so the exploded row count is bounded by
    * distinct-shingles-per-doc; the one shuffle is the
    * (source, shingle)-grain count with map-side partial aggregation,
    * and the threshold filter runs on the aggregated side. The corpus
    * text itself never moves — only shingle strings do. Returns
    * `(srcCol, shingle, n_docs)`. */
  def boilerplateShingles(docs: DataFrame, srcCol: String, textCol: String,
      n: Int = 2, minDocs: Int = 5): DataFrame = {
    require(n >= 1 && minDocs >= 2)
    docs
      .select(col(srcCol),
        explode(array_distinct(T.shingles(col(textCol), n))).as("shingle"))
      .groupBy(col(srcCol), col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Linear quality-classifier scoring — the model-based filter step of
    * a modern corpus build (CCNet's / FineWeb's fastText-style quality
    * classifier), expressed as pure dataflow: per-term integer weights
    * are DERIVED from a labeled seed partition of the corpus itself
    * (weight = 1000·df⁺ div (df⁺+df⁻+1) − 500, a centered document-
    * frequency odds score), then every document is scored as
    * Σ tf(term)·weight(term) and kept when the score is positive.
    * All arithmetic is int64, so the gate is a hash match — a real
    * trained-weight table drops in by replacing the `weights` frame.
    *
    * Scale shape: the (doc, term) tf frame shuffles once at its own
    * grain; weights live at the VOCABULARY grain (bounded ≪ corpus —
    * broadcast when it fits, term-grain hash join otherwise, both far
    * smaller than the corpus); the per-document score is a partial-agg
    * sum. The raw text never moves — only (doc, term, tf) triples do.
    * Returns `(idCol, score, kept)` for every document with ≥1 token. */
  def classifierScore(docs: DataFrame, idCol: String, textCol: String,
      seedCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), col(seedCol).as("_pos"),
        explode(T.tokens(col(textCol))).as("_term"))
      .groupBy(col(idCol), col("_pos"), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val weights = tf
      .groupBy("_term")
      .agg(
        sum(when(col("_pos"), 1L).otherwise(0L)).as("_dfp"),
        sum(when(col("_pos"), 0L).otherwise(1L)).as("_dfn"))
      .select(col("_term"),
        expr("1000 * _dfp div (_dfp + _dfn + 1) - 500").as("_w"))
    tf.join(weights, "_term")
      .groupBy(col(idCol))
      .agg(sum(col("_tf") * col("_w")).as("score"))
      .select(col(idCol), col("score"),
        when(col("score") > 0, 1L).otherwise(0L).as("kept"))
  }

  /** Domain-co-assigned train/valid/test split — the leakage rule at
    * the SITE grain: every page of one registrable domain lands in the
    * same split (near-copies and shared boilerplate live within a
    * site, so a domain straddling train/test leaks eval content). The
    * bucket is the first md5 byte of the eTLD+1 — a pure per-row
    * projection, ZERO exchanges at any scale, deterministic across
    * runs and ingest order. Percent cuts quantize to the 256-bucket
    * grain (80/10/10 → 204/26/26ths of the byte range). Adds `domain`
    * and `split` columns. */
  def domainSplit(docs: DataFrame, urlCol: String,
      trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100)
    val cut1 = 256 * trainPct / 100
    val cut2 = 256 * (trainPct + validPct) / 100
    val hexByte = conv(substring(md5(col("domain")), 1, 2), 16, 10).cast("int")
    docs
      .withColumn("domain", T.registrableDomain(col(urlCol)))
      .withColumn("split",
        when(hexByte < cut1, "train")
          .when(hexByte < cut2, "valid")
          .otherwise("test"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc
    * by how target-like its hashed n-gram feature distribution is,
    * weight(doc) = Σ_features log p̂_target(f) − log p̂_raw(f), with
    * add-1-smoothed bucket probabilities over `buckets` hashed feature
    * buckets. The engine form keeps DSIR's defining property — the
    * feature space is FIXED-size (hashed buckets), so the model is a
    * `buckets`-row table no matter the corpus size:
    *   - one corpus pass to (doc, bucket) feature instances;
    *   - bucket stats for target and raw computed in ONE vocabulary
    *     (bucket)-grain aggregate — the target flag rides the rows, so
    *     there is no second corpus scan;
    *   - λ(b) = log-ratio per bucket, a `buckets`-row broadcast joined
    *     back into the feature stream; weights reduce per doc with
    *     map-side partial aggregation.
    * All arithmetic in the 16-fractional-bit fixed-point log2 of
    * [[Search.log2FpExpr]] (exact bit-length construction), so weights
    * are integers — bit-identical across engines, partitionings and
    * platforms, which puts importance selection under the hash oracle
    * (q177). log2 instead of ln only scales every weight by 1/ln 2 —
    * rank-invariant.
    *
    * @param isTarget row predicate marking the target-domain docs
    *                 (e.g. a trusted high-quality subset).
    * @param buckets hashed feature buckets (≤ 65536: the bucket id is
    *                the first 4 md5 hex chars mod `buckets`, replayable
    *                by any engine with md5).
    * @return (doc_id, n_feats, weight_fp) for every doc with ≥1
    *         feature. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256, ngram: Int = 2): DataFrame = {
    // two consumers (bucket stats, per-doc weights): materialize the
    // feature stream once — the q164 postings-persist rationale; in a
    // production nightly this lands as a parquet artifact instead
    val feats = dsirFeatures(docs, idCol, textCol, isTarget, buckets, ngram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dsirScore(feats, dsirLambda(dsirBucketStats(feats), buckets))
  }

  /** (doc_id, _tgt, b) hashed-feature instances — the corpus pass the
    * rest of the DSIR stack reduces. */
  def dsirFeatures(docs: DataFrame, idCol: String, textCol: String,
      isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256, ngram: Int = 2): DataFrame = {
    require(buckets >= 2 && buckets <= 65536)
    docs.select(col(idCol).cast("long").as("doc_id"),
        isTarget.as("_tgt"),
        explode(T.shingles(col(textCol), ngram)).as("f"))
      .select(col("doc_id"), col("_tgt"),
        (conv(substring(md5(col("f")), 1, 4), 16, 10).cast("long") % buckets)
          .as("b"))
  }

  /** Bucket-grain model counts (b, cr, ct): target and raw tallied in
    * ONE pass — the target flag is a conditional sum riding the same
    * rows, not a second corpus aggregation. ADDITIVE across disjoint
    * doc sets, which is what makes the model incrementally
    * maintainable (q181) and streamable: tonight's delta batch tallies
    * alone, merges at bucket grain, and the corpus that built the base
    * stats is never re-read. */
  def dsirBucketStats(feats: DataFrame): DataFrame =
    feats.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("_tgt"), lit(1L)).otherwise(lit(0L))).as("ct"))

  /** Additive merge of [[dsirBucketStats]] tables built over DISJOINT
    * doc sets (the q169/q147 maintenance discipline at bucket grain —
    * both tables are ≤`buckets` rows, so the merge is free). */
  def mergeDsirStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("b")
      .agg(sum("cr").as("cr"), sum("ct").as("ct"))

  /** λ(b) log-ratio table from the bucket stats — ALWAYS exactly
    * `buckets` rows: the bucket domain is generated in full and buckets
    * the stats never saw get the add-1-smoothed ZERO-count λ
    * (= log2fp(cr_tot+B) − log2fp(ct_tot+B)), exactly what the smoothing
    * formula assigns to cr = ct = 0. This matters when the model scores
    * a DIFFERENT doc set than the one that built it (the incremental /
    * streaming-λ path): features hashing to unseen buckets must score
    * with the smoothed zero-count λ, not silently vanish from both
    * n_feats and weight_fp — which is what an inner join on a
    * seen-buckets-only table would do. Over the model's own corpus the
    * extra rows are unreachable, so results are unchanged. */
  def dsirLambda(stats: DataFrame, buckets: Int): DataFrame = {
    // λ references the stats TWICE (domain join + cr_tot/ct_tot totals),
    // and the stats input is typically an aggregation of the caller's
    // corpus-grain feature stream: without truncation each reference
    // re-aggregates that stream (q181 measured FIVE cache passes over
    // the 3M-row feats cache at sf0.1 — score + 2×base + 2×delta; r21
    // profile). The stats table is bucket-grain (≤ `buckets` rows) by
    // contract, so an eager localCheckpoint costs one bounded job,
    // evaluates the corpus aggregation exactly once, and — running
    // BEFORE the final action — populates the caller's feats cache
    // serially instead of letting AQE's concurrently-submitted consumer
    // stages race its population (guide §5 reuse, §2.4).
    val statsM = stats.localCheckpoint()
    val tot = statsM.agg(sum("cr").as("cr_tot"), sum("ct").as("ct_tot"))
    val domain = stats.sparkSession.range(buckets.toLong)
      .select(col("id").as("b"))
    // FULL join, not left: a stats row whose bucket falls outside
    // [0, buckets) — the caller's `buckets` not matching the hash
    // domain the stats were built with — would under a left join be
    // silently dropped from the λ table while still counting in
    // cr_tot/ct_tot (its features would vanish from dsirScore). A
    // domain mismatch fails LOUDLY instead, and the guard rides the
    // same single pass over the bucket-grain frame (no probe job —
    // stats aggregation is corpus-grain work a driver-side check
    // would re-run).
    def guarded(c: String) = when(
      col("b") < 0 || col("b") >= buckets,
      raise_error(concat(lit("dsirLambda: stats bucket "), col("b"),
        lit(s" outside [0, $buckets) — buckets must equal the stats' hash domain")))
        .cast("long"))
      .otherwise(coalesce(col(c), lit(0L)))
    domain.join(statsM, Seq("b"), "full")
      .select(col("b"), guarded("cr").as("cr"), guarded("ct").as("ct"))
      .crossJoin(broadcast(tot)).selectExpr("b",
        s"""((${Search.log2FpExpr("ct + 1")}
              - ${Search.log2FpExpr(s"ct_tot + $buckets")})
           - (${Search.log2FpExpr("cr + 1")}
              - ${Search.log2FpExpr(s"cr_tot + $buckets")})) AS lam_fp""")
  }

  /** Per-doc importance weights: the λ model broadcast into the feature
    * stream, reduced per doc with map-side partial aggregation. The join
    * is inner but TOTAL by construction — [[dsirLambda]] emits every
    * bucket of the hashed domain, so no feature can fall out even when
    * `feats` comes from a corpus the model never saw. */
  def dsirScore(feats: DataFrame, lambda: DataFrame): DataFrame =
    feats.join(broadcast(lambda), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lam_fp").as("weight_fp"))

  /** Exact integer square root as a SQL string shared verbatim with the
    * DuckDB oracle: IEEE double sqrt is correctly rounded so
    * FLOOR(SQRT(x)) is already deterministic cross-engine, and the ±1
    * correction pins exactness against the integer definition even if
    * an engine's sqrt were off by an ulp. Valid for 0 ≤ x < 2^52. */
  private[graft] def isqrtSql(x: String): String = {
    val t = s"CAST(FLOOR(SQRT(CAST(($x) AS DOUBLE))) AS BIGINT)"
    s"(CASE WHEN ($t + 1) * ($t + 1) <= ($x) THEN $t + 1" +
      s" WHEN $t * $t > ($x) THEN $t - 1 ELSE $t END)"
  }

  /** Temperature-based mixture sampling (the multilingual-pretraining
    * rebalance of Conneau & Lample: sample groups ∝ p^τ with τ = 1/2):
    * per-group budgets proportional to √(group mass) — boosting tail
    * groups, damping the head — then a deterministic hash-ordered
    * prefix of each group up to its budget.
    *
    *   n_g  = Σ items' `nCol` per group       (group-grain aggregate)
    *   s_g  = isqrt(n_g)                      (exact integer sqrt)
    *   T    = (Σ n_g) · budgetNum / budgetDen (overall kept mass)
    *   B_g  = T · s_g / Σ s_g                 (per-group budget)
    *
    * Selection keeps items whose group-local running mass (ordered by
    * the overflow-proof id hash, ties by id) stays ≤ B_g — the same
    * running-sum-window shape as q122's token-budget sample, but
    * per-group with √-rebalanced budgets. Group stats are
    * group-grain (tiny) and broadcast back; the items table shuffles
    * once for the per-group window. Integer end to end.
    *
    * @return kept items as (group, id, n, cum) — `cum` the inclusive
    *         running mass within the group's hash order. */
  def temperatureSample(items: DataFrame, groupCol: String, idCol: String,
      nCol: String, budgetNum: Long = 1L, budgetDen: Long = 2L): DataFrame = {
    // budgetNum bound keeps n_tot·budgetNum inside int64 for any
    // n_tot ≤ 2^43 tokens (≫ the ~2.5e13-token 100 TB regime); the
    // T·s_g product — the overflow that actually bites at target
    // scale — is handled structurally below, not by a bound
    require(budgetNum >= 1 && budgetDen >= budgetNum && budgetNum <= (1L << 20),
      s"budgetNum must be in [1, 2^20], got $budgetNum")
    // (grp, id, n) is consumed three times (group stats, totals via
    // stats, the selection join); without materialization each consumer
    // re-runs the upstream projection — for the q178 shape that means
    // re-TOKENIZING the text column per consumer (measured: 3 corpus
    // scans in the plan). The cached table is 3 fixed-width columns —
    // corpus-rows but not corpus-bytes.
    val grouped = items.select(col(groupCol).as("grp"),
      col(idCol).cast("long").as("id"), col(nCol).cast("long").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // group-grain (tiny) but with TWO consumers (totals, budgets) that
    // would otherwise each re-aggregate the corpus-rows cache
    val gstats = grouped.groupBy("grp").agg(sum("n").as("n_g"))
      .selectExpr("grp", "n_g", s"${isqrtSql("n_g")} AS s_g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tots = gstats.agg(sum("n_g").as("n_tot"), sum("s_g").as("s_tot"))
    // OVERFLOW-SAFE budget arithmetic for the 100 TB token regime: the
    // naive ((T * s_g) div s_tot) with T = n_tot·budgetNum div budgetDen
    // wraps int64 once T·s_g exceeds 2^63 — at default parameters that
    // is n_tot ≳ 7e12 tokens, i.e. exactly the target scale — and a
    // wrapped-negative budget silently filters out EVERY row. Divide
    // FIRST, with exact remainder correction:
    //   T·s_g div s_tot = (T div s_tot)·s_g + ((T mod s_tot)·s_g div s_tot)
    // (an identity for nonnegative operands, so results are bit-equal
    // to the naive form wherever that form doesn't overflow — the
    // DuckDB oracle carries the same decomposition). Bounds: the first
    // term ≤ T ≤ n_tot because s_g ≤ s_tot; the remainder term needs
    // s_tot·s_g < 2^63, and by Cauchy–Schwarz s_tot ≤ √(G·n_tot), so
    // overflow needs √G·n_tot ≥ 2^63 — at 2.5e13 tokens that is ~1e11
    // distinct groups, astronomically past any real mixture.
    // (Boundary-pinned in CorpusPrepSpec: groups at n_g ≈ 2^60.)
    val budgets = gstats.crossJoin(broadcast(tots))
      .selectExpr("grp",
        s"""((((n_tot * $budgetNum div $budgetDen) div s_tot) * s_g)
           + (((n_tot * $budgetNum div $budgetDen) % s_tot) * s_g div s_tot))
           AS b_g""")
    val w = Window.partitionBy("grp")
      .orderBy(graft.Exact.hashOrder(col("id"), 1000000), col("id"))
    grouped.join(broadcast(budgets), "grp")
      .withColumn("cum", sum(col("n")).over(w))
      .filter(col("cum") <= col("b_g"))
      .select(col("grp"), col("id"), col("n"), col("cum"))
  }

  /** Leakage-safe train/test split — the split analogue of
    * decontamination (round 16): a plain per-document hash split leaks
    * whenever a test document's near-duplicate lands in train (the
    * model "memorizes the answer" through the twin — the
    * train-test-contamination failure Lee et al. 2022 "Deduplicating
    * Training Data" §5 measures). Here the split unit is the
    * near-duplicate CLUSTER: transitive components over the verified
    * pair set ([[Dedup.connectedComponents]] — min-id label, dual
    * driver/distributed regime), with the side decided by the
    * deterministic [[graft.Exact.hashOrder]] of the cluster ROOT, so
    * every member of a component lands on the same side at any scale,
    * partitioning, or arrival order.
    *
    * Scale shape: inherits connectedComponents' regimes (edges = the
    * verified duplicate pairs, tiny relative to the corpus by
    * construction); the side assignment is one codegen'd projection.
    * Integer/string end to end → DuckDB-replayable (q211, recursive
    * closure CTE).
    *
    * @param pairs verified near-dup pairs (id_a, id_b)
    * @return (idCol, cluster_root, side ∈ {train,test}) one row per doc */
  def leakageSafeSplit(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      testPct: Int = 10): DataFrame = {
    require(testPct >= 0 && testPct <= 100)
    Dedup.connectedComponents(docs, idCol, pairs)
      .select(col(idCol), col("keep_id").as("cluster_root"))
      .withColumn("side",
        when(graft.Exact.hashOrder(col("cluster_root"), 100) < testPct,
          lit("test")).otherwise(lit("train")))
  }

  /** Incremental STICKY extension of [[leakageSafeSplit]] (round 16):
    * when a new snapshot adds documents (and so new near-dup edges),
    * the assignments already published must not move — a document that
    * was "test" flipping to "train" retroactively contaminates every
    * eval that used the old split. The append-only contract:
    *
    *  - existing docs KEEP their assigned side verbatim;
    *  - a new doc whose component touches exactly ONE old side adopts
    *    it (joins its twins' side — the leakage-safety invariant);
    *  - a new doc in an all-new component gets the fresh
    *    [[leakageSafeSplit]] hash-of-root side;
    *  - a new doc whose component BRIDGES both old sides is
    *    `quarantined`: any side choice would put it in near-dup reach
    *    of the other side, and re-siding old members is forbidden by
    *    stickiness — dropping the bridge keeps every KEPT train/test
    *    pair separated in the observed similarity graph exactly as the
    *    old split promised.
    *
    * Scale shape: components via [[Dedup.connectedComponents]] over
    * the union corpus; old assignments join back at doc grain; the
    * per-component side census is a component-grain aggregate (two
    * conditional max flags, map-combined — never a collected set).
    * Deterministic and integer/string end to end → DuckDB-replayable
    * (q212 replays BOTH closures — the old snapshot's and the
    * union's).
    *
    * @param assigned prior assignment (idCol, side) — q211 output shape,
    *                  or THIS operator's own output (side may include
    *                  'quarantined'; it stays sticky and poisons its
    *                  component's census, see below)
    * @param docs     the UNION corpus (old + new docs)
    * @param pairs    verified near-dup pairs over the union corpus
    * @return (idCol, cluster_root, side, is_new) one row per union doc;
    *         side ∈ {train, test, quarantined} */
  def leakageSafeSplitIncremental(
      assigned: DataFrame, docs: DataFrame, idCol: String, pairs: DataFrame,
      testPct: Int = 10): DataFrame = {
    require(testPct >= 0 && testPct <= 100)
    val old = assigned.select(col(idCol), col("side").as("_old_side"))
    val cc = Dedup.connectedComponents(docs, idCol, pairs)
      .select(col(idCol), col("keep_id").as("cluster_root"))
      .join(old, Seq(idCol), "left")
    // 'quarantined' poisons BOTH flags: a quarantined doc is
    // transitively in near-dup reach of both sides, so any later
    // near-dup of it is too — it must quarantine, not adopt a fresh
    // side. Without this, CHAINED use (this operator's own output fed
    // back as `assigned` for the next snapshot — the natural
    // incremental loop, and exactly what the streaming twin
    // [[graft.streaming.StreamPipeline.splitIndexBatch]] does) would
    // leak through quarantined bridges (r16 advice).
    val census = cc.groupBy(col("cluster_root"))
      .agg(
        max(when(col("_old_side").isin("train", "quarantined"), 1)
          .otherwise(0)).as("_has_train"),
        max(when(col("_old_side").isin("test", "quarantined"), 1)
          .otherwise(0)).as("_has_test"))
    cc.join(census, Seq("cluster_root"))
      .select(col(idCol), col("cluster_root"),
        when(col("_old_side").isNotNull, col("_old_side"))           // sticky
          .when(col("_has_train") === 1 && col("_has_test") === 1,
            lit("quarantined"))                                      // bridge
          .when(col("_has_train") === 1, lit("train"))               // adopt
          .when(col("_has_test") === 1, lit("test"))                 // adopt
          .when(graft.Exact.hashOrder(col("cluster_root"), 100) < testPct,
            lit("test"))                                             // fresh
          .otherwise(lit("train")).as("side"),
        col("_old_side").isNull.as("is_new"))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling"): spread a total token budget
    * over languages as EVENLY as possible subject to a per-language
    * repetition cap — no language may be allocated more than
    * `epochsCap` epochs of its own corpus. The waterfilling loop is the
    * paper's: languages ascending by cap, each takes
    * min(cap, remaining_budget div remaining_languages).
    *
    * Scale shape: the only corpus-grain work is the caller's per-group
    * token aggregate (map-combined); the allocation itself runs on the
    * DRIVER over the collected group-grain stats — the q89
    * bounded-driver discipline, with the bound explicit: the group
    * domain (languages) is semantically small, and `maxGroups` fails
    * loudly rather than collecting an unbounded frame. The sequential
    * recurrence is order-dependent by definition (ascending cap, ties
    * on group), so a window formulation would be a GLOBAL window — the
    * exact single-reducer shape the catalog bans; the driver loop over
    * ≤ maxGroups rows is strictly cheaper. Budget = total · num/den in
    * the divide-first decomposition (overflow-safe at the 100 TB token
    * regime, same as [[temperatureSample]]).
    *
    * @param groupTokens group-grain stats: (groupCol, tokCol)
    * @return one row per group: (group, corpus_tokens, cap_tokens,
    *         alloc_tokens, epochs_fp = alloc·65536 div corpus_tokens) */
  def unimaxAllocation(
      groupTokens: DataFrame, groupCol: String, tokCol: String,
      budgetNum: Long, budgetDen: Long, epochsCap: Int,
      maxGroups: Int = 100000): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0 && epochsCap >= 1)
    val spark = groupTokens.sparkSession
    // The loud bound must fire BEFORE any unbounded driver
    // materialization: collecting maxGroups+1 rows is enough to decide
    // pass/fail, so a mis-grained input (doc-grain instead of
    // group-grain) costs one bounded fetch, never a driver OOM.
    val rows = groupTokens
      .select(col(groupCol).cast("string"), col(tokCol).cast("long"))
      .limit(maxGroups + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(rows.length <= maxGroups,
      s"unimaxAllocation collected more than maxGroups=$maxGroups rows " +
        "— group by a bounded domain or raise the bound")
    val total = rows.map(_._2).sum
    val budget =
      (total / budgetDen) * budgetNum + (total % budgetDen) * budgetNum / budgetDen
    val sorted = rows
      .map { case (g, n) => (g, n, n * epochsCap) }
      .sortBy { case (g, _, cap) => (cap, g) }
    var rem = budget
    val out = sorted.zipWithIndex.map { case ((g, n, cap), i) =>
      val level = rem / (sorted.length - i)
      val a = math.min(cap, level)
      rem -= a
      val epochsFp = if (n == 0) 0L else a * 65536 / n
      (g, n, cap, a, epochsFp)
    }
    import spark.implicits._
    out.toSeq.toDF(groupCol, "corpus_tokens", "cap_tokens",
      "alloc_tokens", "epochs_fp")
  }

  /** Epoch expansion — the step that turns a per-group token allocation
    * ([[unimaxAllocation]] output) into the CONCRETE repeat schedule a
    * training run consumes: every doc of group g repeats
    * `alloc_g div n_g` times (whole epochs), and a deterministic
    * hash-ordered token prefix of the group repeats once more to spend
    * the remainder `alloc_g mod n_g` (approached from below at doc
    * granularity, the q122/q178 budget discipline). Docs with zero
    * repeats (allocation below one epoch and outside the remainder
    * prefix) are dropped — the output IS the sampled corpus.
    *
    * Scale shape: the allocation table is group-grain and broadcast;
    * the items table shuffles once for the per-group running-sum
    * window (group-partitioned — never global). Integer end to end.
    *
    * @param items doc-grain (groupCol, idCol, nCol)
    * @param alloc group-grain with `corpus_tokens` and `alloc_tokens`
    *              columns keyed by groupCol
    * @return (group, id, n, n_repeats) with n_repeats ≥ 1 */
  def epochExpand(
      items: DataFrame, groupCol: String, idCol: String, nCol: String,
      alloc: DataFrame): DataFrame = {
    val a = alloc.select(col(groupCol),
      col("corpus_tokens").as("_ng"), col("alloc_tokens").as("_alloc"))
    val w = Window.partitionBy(groupCol)
      .orderBy(graft.Exact.hashOrder(col(idCol), 1000000), col(idCol))
    items.join(broadcast(a), groupCol)
      .filter(col("_ng") > 0)
      .withColumn("_cum", sum(col(nCol)).over(w))
      .withColumn("n_repeats", expr(
        s"_alloc div _ng + (CASE WHEN _cum <= _alloc % _ng THEN 1 ELSE 0 END)"))
      .filter(col("n_repeats") > 0)
      .select(col(groupCol), col(idCol), col(nCol), col("n_repeats"))
  }
}
