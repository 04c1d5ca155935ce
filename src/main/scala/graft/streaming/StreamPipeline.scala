package graft.streaming

import graft.pipeline.{Clean, Schemas}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming twin of the batch pipeline (SURVEY.md §2.9).
  *
  * The reference reads three Kinesis streams, deserializes the binary
  * `data` column with from_json over a declared struct, applies the SAME
  * cleaning functions as batch, and appends to checkpointed tables
  * (`Kinesis_Processing.ipynb`). OSS Spark has no Kinesis source, so the
  * source is any [[graft.sources.TableSource]] stream in the raw table
  * shape (landed JSON files, or Kafka records through
  * [[graft.sources.KafkaTableSource.decode]]) — semantics preserved:
  * earliest-offset JSON records, stateless map-only transforms,
  * append-mode sink. [[graft.run.StreamMain]] composes the three
  * queries.
  *
  * Design fix carried from SURVEY §2.9 S5: the reference shares ONE
  * checkpoint dir across its three queries (Kinesis_Processing.ipynb
  * :1616) — a correctness hazard; here every sink derives a unique
  * checkpoint path from its query name.
  */
object StreamPipeline {

  /** ST4 — cross-stream pollution guard then table-specific cleaning;
    * identical Clean.* code path as batch (ST3). */
  def cleanPinStream(raw: DataFrame): DataFrame =
    Clean.pin(Clean.dropAllNull(Schemas.rawPin.fieldNames.toSeq.filterNot(_ == "index"))(raw))

  def cleanGeoStream(raw: DataFrame): DataFrame =
    Clean.geo(Clean.dropAllNull(Schemas.rawGeo.fieldNames.toSeq.filterNot(_ == "ind"))(raw))

  def cleanUserStream(raw: DataFrame): DataFrame =
    Clean.user(Clean.dropAllNull(Schemas.rawUser.fieldNames.toSeq.filterNot(_ == "ind"))(raw))

  /** S5 — append-mode parquet sink with a PER-QUERY checkpoint dir. */
  def writeStream(cleaned: DataFrame, outBase: String, name: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    cleaned.writeStream
      .queryName(name)
      .format("parquet")
      .option("path", s"$outBase/data/$name")
      .option("checkpointLocation", s"$outBase/_checkpoints/$name")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Streaming ingest dedup against an AT-REST hash index: instead of
    * unbounded keyed executor state (one entry per content hash ever
    * seen), the dedup state lives in parquet. Per micro-batch
    * (foreachBatch): read the index, run
    * [[graft.operators.Dedup.dedupIncremental]] (within-batch keepers +
    * bloom-gated index anti-join), land
    * survivors AND their hashes through [[IdempotentSink]]'s
    * batch=<id> + _SUCCESS discipline. A replayed batch (foreachBatch
    * is at-least-once) skips both writes on its markers — exactly-once
    * output and index growth; survivors commit BEFORE their hashes so
    * a crash between the two can only replay into a skip, never lose
    * or double-count. State survives restarts, is shared across jobs,
    * and costs zero executor memory between batches; a cross-batch
    * duplicate is dropped because the earlier batch's hash is already
    * in the index. */
  def dedupStreamWithIndex(docs: DataFrame, idCol: String, textCol: String,
      outBase: String, indexBase: String, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems, bloomBits: Long = IndexBloomBits)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$outBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupIndexBatch(batch, batchId, idCol, textCol, outBase, indexBase,
          maxIndexDirs, bloomItems, bloomBits)
      }
      .start()

  // DEFAULT geometry of the at-rest index sidecars (constant per index
  // so every batch's filter merges; matches dedupIncremental's
  // defaults). Size `bloomItems` for the landed ELEMENT count over the
  // stream's life, counting element multiplicity — one per doc for the
  // dedup twin, 1+bands per doc for the split twin — else the folded
  // filter saturates, the zero-positive fast paths stop firing, and
  // per-batch cost silently reverts to index-scan joins (correctness
  // unaffected; the
  // [[graft.streaming.IndexState.currentBloom]] saturation WARN is the
  // signal, and a mid-stream re-size migrates at the next compaction).
  val IndexBloomItems = 1000000L
  val IndexBloomBits = 1L << 23

  /** Per-batch phase wall clocks around a twin's ACTIONS (everything
    * else is lazy, so these attribute true cost) — the measurement
    * loop that found the r18/r19 corpus-linear terms, kept so the next
    * residual is attributable without re-instrumenting. Always
    * registered per index base ([[lastPhases]] — StreamStateBench
    * exports them into the artifact rows, VERDICT r19 item 6);
    * printed per batch when SPARK_GRAFT_TWIN_PHASES is set. */
  private final class PhaseClock(tag: String) {
    val phases = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      phases += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    def publish(indexBase: String, batchId: Long): Unit = {
      phaseReg.put(indexBase, phases.toList)
      if (sys.env.contains("SPARK_GRAFT_TWIN_PHASES"))
        println(s"$tag-phases b=$batchId " + phases.map {
          case (n, s) => f"$n=$s%.2f" }.mkString(" "))
    }
  }

  private val phaseReg =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()

  /** The phase clocks of the most recent index-twin batch for
    * `indexBase` in THIS JVM — a metrics register (the
    * [[IndexState.lastSaturation]] pattern) so a bench/operator can
    * export per-batch phase attribution instead of scraping stdout. */
  def lastPhases(indexBase: String): Option[Seq[(String, Double)]] =
    Option(phaseReg.get(indexBase))

  /** One micro-batch of [[dedupStreamWithIndex]] — named so replay
    * scenarios (crash mid-write → foreachBatch redelivery) are directly
    * testable.
    *
    * State cost per batch is FLAT in stream age (r16 weak item): the
    * bloom gate folds from the at-rest `_bloom` sidecars instead of
    * re-aggregating the whole index ([[IndexState.currentBloom]]); a
    * batch with zero bloom-positives — the common fresh-crawl case —
    * never scans the index at all (the [[graft.operators.Dedup
    * .dedupIncremental]] fast path); and the `batch=N` dirs compact
    * into one generation dir under [[IndexState.shouldCompact]]'s
    * geometric/fan-in policy, so the read side lists a bounded dir
    * set forever. Reads still go through committed (_SUCCESS-marked)
    * dirs only — a torn batch=N left by a crash mid index-write must
    * stay invisible to the replay ([[IndexState.read]] preserves
    * exactly the r14 torn-batch contract). */
  def dedupIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      outBase: String, indexBase: String, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems,
      bloomBits: Long = IndexBloomBits): Unit = {
    val spark = batch.sparkSession
    val clock = new PhaseClock("dedup")
    import clock.timed
    val index = IndexState.read(spark, indexBase, "h STRING")
    val bloom = timed("fold")(IndexState.currentBloom(spark, indexBase,
      IndexState.dedupElems, bloomItems, bloomBits))
    val survivors = graft.operators.Dedup
      .dedupIncremental(batch, idCol, textCol, index, "h",
        bloomItems, bloomBits, precomputedBloom = bloom)
    timed("write")(IdempotentSink.writeBatch(outBase)(survivors, batchId))
    // index rows from the COMMITTED output, not the live plan — the
    // survivors DAG would otherwise evaluate twice per batch; the
    // committed dir's bytes bound the index append's file sizing
    val outDir = s"$outBase/batch=$batchId"
    timed("append")(IndexState.append(
      spark.read.parquet(outDir).select(col("content_hash").as("h")),
      batchId, indexBase, IndexState.dedupElems, bloomItems, bloomBits,
      estBytes = IndexState.dataBytes(spark, outDir)))
    timed("compact")(
      if (IndexState.shouldCompact(spark, indexBase, maxIndexDirs))
        IndexState.compact(spark, indexBase, IndexState.dedupElems,
          bloomItems, bloomBits))
    clock.publish(indexBase, batchId)
  }

  /** One micro-batch of the streaming twin of [[graft.operators
    * .CorpusPrep.leakageSafeSplitIncremental]] — sticky train/test
    * assignment AT INGEST, against the accumulated assignment state.
    * Same append-only contract as the batch form: landed sides never
    * move; a new doc adopts its near-dup component's side; all-new
    * components take the hash-of-root side; a doc whose component
    * touches BOTH landed sides quarantines — and quarantined state
    * POISONS both flags, so later near-dups of a quarantined doc
    * quarantine too. Replays skip on the [[IdempotentSink]] markers
    * (the [[dedupIndexBatch]] discipline).
    *
    * State at rest (indexBase, parquet batch=N dirs): one row per
    * landed doc — (doc_id, side, hs, bands) — so the candidate join is
    * a band-key equi-join against stored keys. Components span batch ∪
    * TOUCHED index nodes (two batch docs sharing an index neighbor must
    * merge even without a direct batch-batch pair). Identity with the
    * one-shot batch split holds when first arrivals carry
    * component-minimum ids; leakage safety and stickiness hold under
    * ANY arrival order.
    *
    * Flat per-batch state cost (r16 weak item): the index's `_bloom`
    * sidecar fold ([[IndexState]]) carries BOTH probe domains — landed
    * doc ids (salted) for the stickiness check and (band, hash) keys
    * for the candidate probe — so a batch with no positive on either
    * never reads the index at all; positives fall back to the exact
    * joins. The `batch=N` index dirs compact into one generation dir
    * under [[IndexState.shouldCompact]]'s policy. */
  def splitIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      outBase: String, indexBase: String, testPct: Int = 10,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems,
      bloomBits: Long = IndexBloomBits): Unit = {
    import graft.functions.{TextFunctions => T}
    val spark = batch.sparkSession
    val clock = new PhaseClock("split")
    import clock.timed
    lazy val index = IndexState.read(spark, indexBase,
      "doc_id BIGINT, side STRING, hs ARRAY<BIGINT>, bands ARRAY<BIGINT>")
    val bloom = timed("fold")(IndexState.currentBloom(spark, indexBase,
      IndexState.splitElems, bloomItems, bloomBits))
    // Per-doc stickiness (r16 advice): a doc_id re-delivered in a LATER
    // batch (different batchId, so the idempotency marker cannot catch
    // it — e.g. the upstream source replays a range) must keep its
    // landed side verbatim, exactly as the batch operator's sticky
    // branch does — not be re-sided from the current census and
    // appended again (duplicate, possibly CONFLICTING (doc_id, side)
    // rows). Anti-join the batch against landed doc_ids BEFORE any
    // hashing — bloom-gated, so the common all-fresh batch proves
    // disjointness map-side and never scans the index. The dropped doc
    // still participates in this batch's components through its own
    // index row (bands + side are at rest), so new docs near it
    // adopt/quarantine identically.
    val b0 = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_text"))
    // ONE deserialized filter per batch, reused by every probe site —
    // the BloomProbe reference form (see its doc: a 1 MB bloom Literal
    // made every plan rehash the megabyte through analysis/AQE)
    val bloomF = bloom.map(graft.functions.BloomProbe.deserialize)
    val fresh = bloomF match {
      case None => b0
      case Some(f) =>
        val probe = graft.functions.BloomProbe(f,
          xxhash64(lit(-1), col("doc_id")))
        val maybeLanded = b0.filter(probe)
        if (timed("sticky")(maybeLanded.isEmpty)) b0
        else b0.filter(!probe).unionByName(
          maybeLanded.join(index.select(col("doc_id")), Seq("doc_id"),
            "left_anti"))
    }
    // batch shapes: hashed shingles once, signature+bands riding them
    val bsig = fresh.select(col("doc_id"),
        T.shingleHashes(col("_text"), shingleSize).as("hs"))
      .withColumn("bands", T.bandHashes(
        T.minhashSignature(col("hs"), numHashes), numHashes, bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bband = bsig.select(col("doc_id"), col("hs"), posexplode(col("bands")))
      .select(col("doc_id"), col("hs"), col("pos").as("b"), col("col").as("k"))
    // batch-batch verified pairs (canonical a < b)
    val bb = bband.select(col("b"), col("k"), col("doc_id").as("id_a"), col("hs").as("hs_a"))
      .join(bband.select(col("b"), col("k"), col("doc_id").as("id_b"), col("hs").as("hs_b")),
        Seq("b", "k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("hs_a"), col("hs_b")).distinct()
      .filter(T.jaccard(col("hs_a"), col("hs_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    // batch-index verified pairs — band keys bloom-gated: only keys the
    // sidecar fold marks positive meet the stored index bands; a batch
    // with zero positive keys (None here) skips the probe AND the
    // census's side join below, proving the all-zero census without an
    // index scan.
    // warms the bsig persist (bband and the index append both reuse it)
    // and bounds the candidate side for the broadcast-size gate below
    val batchRows = timed("bsigCount")(bsig.count())
    val biOpt: Option[(DataFrame, Long, Long)] = bloomF.flatMap { f =>
      val cand = bband.filter(graft.functions.BloomProbe(f,
        xxhash64(col("b"), col("k"))))
      if (timed("candProbe")(cand.isEmpty)) None
      else {
        // IDS-ONLY through the band join + pair distinct (r18), and the
        // index side PRUNED AT REST (r19): the landed corpus's band
        // keys are read from the compacted dir's `_postings` sidecar —
        // narrow (b, k, doc_id) rows partition-pruned to the candidate
        // keys' buckets — plus inline explodes of only the small
        // uncompacted batch dirs ([[IndexState.prunedPostings]]). The
        // r18 form re-exploded the WHOLE index's bands arrays per
        // duplicate-bearing batch (measured corpus-linear: plateau 1.46
        // at 1.6x corpus, BENCH_stream_state_r18.json); this form's
        // probe I/O is bounded by touched buckets + fan-in-capped
        // recent dirs, flat in stream age.
        val candNarrow = cand.select(col("doc_id"), col("b"), col("k"))
        // candidate bucket set: batch-bounded by construction
        // (≤ IndexState.PostingsBuckets distinct values — a driver
        // collect of at most 64 ints)
        val buckets = timed("buckets")(cand
          .select(pmod(xxhash64(col("b"), col("k")),
            lit(IndexState.PostingsBuckets)).cast("int").as("bucket"))
          .distinct().collect().map(_.getInt(0)).toSeq)
        val iband = IndexState.prunedPostings(spark, indexBase, buckets)
          .select(col("doc_id").as("i_id"), col("b"), col("k"))
        // broadcast the BATCH-BOUNDED side (cand ⊆ bband, ≤ batch ×
        // bands rows by construction) so the pruned postings STREAM
        // through a map-side hash join — without the hint the planner
        // shuffles the postings on (b, k) every duplicate-bearing
        // batch. GATED on the bound's estimated bytes vs the session
        // broadcast threshold (ADVICE r18): an oversized micro-batch
        // falls back to the shuffle join (slower, never an OOM-failed
        // batch). ADVICE r19 refinements: a session that DISABLED
        // broadcasting (threshold ≤ 0, e.g. protecting a small driver)
        // is honored — no forced hint; and the per-row estimate is
        // 128 B (3 longs serialize ~32 B, but the in-memory
        // HashedRelation footprint is 2–4× row bytes).
        val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
        val candSide =
          if (bcThreshold > 0 && batchRows * bands * 128L <=
              math.max(bcThreshold, 10L * 1024 * 1024))
            broadcast(candNarrow)
          else candNarrow
        val candPairs = iband.join(candSide, Seq("b", "k"))
          .select(col("doc_id"), col("i_id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // doc-id bounds of the touched index docs: pushed below the
        // wide `hs` (and the census's `side`) scans, where parquet
        // page/row-group stats on the doc_id-sorted merged dir skip
        // decoding everything outside the touched range — the second
        // measured corpus-linear term of r18 (duplicate pressure is
        // recency-skewed in practice, so the bound is usually tight;
        // an adversarial uniform-age probe degrades to the old full
        // decode, never to wrong answers)
        val bounds = timed("bounds")(
          candPairs.agg(min(col("i_id")), max(col("i_id"))).head())
        if (bounds.isNullAt(0)) {
          // bloom FPs only — no real band-key match anywhere in the
          // index; downgrade to the all-fresh census without touching
          // the wide columns at all
          candPairs.unpersist(false)
          None
        } else {
          val (idLo, idHi) = (bounds.getLong(0), bounds.getLong(1))
          val touched = col("doc_id").between(idLo, idHi)
          val ihs = index.filter(touched)
            .select(col("doc_id").as("i_id"), col("hs").as("i_hs"))
            .join(candPairs.select(col("i_id")).distinct(), Seq("i_id"),
              "left_semi")
          val verified = candPairs
            .join(bsig.select(col("doc_id"), col("hs")), Seq("doc_id"))
            .join(ihs, Seq("i_id"))
            .filter(T.jaccard(col("hs"), col("i_hs")) >= threshold)
            .select(col("doc_id"), col("i_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // a bloom FALSE POSITIVE on a band key can still send the
          // batch here (the key exists, Jaccard disproves) — downgrade
          // to the cheap all-fresh census instead of dragging the
          // landed-side outer join through an empty pair set (the
          // isEmpty action warms the persist, so a true-positive batch
          // pays one no-op job, not recomputation). Equivalent by
          // construction: with no verified pair, nodes = batch only
          // and every landed-side lookup would be null anyway (landed
          // ids were anti-joined out of `fresh` above).
          val noPairs = timed("verify")(verified.isEmpty)
          candPairs.unpersist(false)
          if (noPairs) {
            verified.unpersist(false); None
          } else Some((verified, idLo, idHi))
        }
      }
    }
    // components over batch ∪ touched index nodes; census from landed
    // sides ('quarantined' poisons both flags)
    val nodes = biOpt match {
      case Some((bi, _, _)) => bsig.select(col("doc_id"))
        .union(bi.select(col("i_id").as("doc_id"))).distinct()
      case None => bsig.select(col("doc_id")).distinct()
    }
    val edges = biOpt match {
      case Some((bi, _, _)) =>
        bb.union(bi.select(col("doc_id").as("id_a"), col("i_id").as("id_b")))
      case None => bb
    }
    val cc = graft.operators.Dedup.connectedComponents(nodes, "doc_id", edges)
      .select(col("doc_id"), col("keep_id").as("cluster_root"))
    val census = biOpt match {
      case Some((_, idLo, idHi)) => cc
        // the landed-side lookup is range-pruned to the touched docs'
        // doc_id bounds (pushed to parquet stats on the sorted merged
        // dir) AND semi-filtered to the touched nodes BEFORE the outer
        // join: `nodes` is batch-plus-neighborhood sized, so the index
        // side becomes a pruned map-side filtered scan instead of a
        // corpus-sized shuffle partner (r18/r19 measurements). Sound:
        // only touched i_ids can have landed rows (batch ids were
        // anti-joined out of `fresh`), and every i_id is within
        // [idLo, idHi] by construction.
        .join(index.filter(col("doc_id").between(idLo, idHi))
          .select(col("doc_id"), col("side").as("_ls"))
          .join(nodes, Seq("doc_id"), "left_semi"), Seq("doc_id"), "left")
        .groupBy(col("cluster_root"))
        .agg(
          max(when(col("_ls").isin("train", "quarantined"), 1).otherwise(0))
            .as("_ht"),
          max(when(col("_ls").isin("test", "quarantined"), 1).otherwise(0))
            .as("_hs"))
      case None => cc.select(col("cluster_root")).distinct()
        .withColumn("_ht", lit(0)).withColumn("_hs", lit(0))
    }
    val sided = cc
      .join(bsig.select(col("doc_id")), Seq("doc_id")) // batch docs only
      .join(census, Seq("cluster_root"))
      .select(col("doc_id"), col("cluster_root"),
        when(col("_ht") === 1 && col("_hs") === 1, lit("quarantined"))
          .when(col("_ht") === 1, lit("train"))
          .when(col("_hs") === 1, lit("test"))
          .when(graft.Exact.hashOrder(col("cluster_root"), 100) < testPct,
            lit("test"))
          .otherwise(lit("train")).as("side"))
    // assignments commit BEFORE the index (the dedupIndexBatch crash
    // contract: a replay that finds the out marker skips both writes).
    // The index rows derive from the COMMITTED output parquet, not the
    // live plan: `sided`'s DAG (components + census) would otherwise
    // evaluate twice per batch — once for the output write, once for
    // the index append (measured as ~2x the per-batch cost).
    // SIZE-AWARE file counts (ADVICE r19 — a hard repartition(1)
    // serialized a large micro-batch through one task): batchRows is
    // already counted, so the output sizes at ~64 B/row (id, root,
    // side) and the index append at ~400 B/row (wide hs + bands
    // arrays); at bench scale both resolve to the one-file-per-batch
    // layout that ended the r19 small-files storm.
    timed("ccWrite")(IdempotentSink.writeBatch(outBase)(
      sided.repartition(IndexState.sizedFileCount(batchRows * 64L)),
      batchId))
    timed("append")(IndexState.append(
      spark.read.parquet(s"$outBase/batch=$batchId")
        .select(col("doc_id"), col("side"))
        .join(bsig, Seq("doc_id"))
        .select(col("doc_id"), col("side"), col("hs"), col("bands")),
      batchId, indexBase, IndexState.splitElems,
      bloomItems, bloomBits, estBytes = batchRows * 400L))
    timed("compact")(
      if (IndexState.shouldCompact(spark, indexBase, maxIndexDirs))
        IndexState.compact(spark, indexBase, IndexState.splitElems,
          bloomItems, bloomBits,
          // merged dir doc_id-SORTED in size-targeted files (parquet
          // page/row-group stats then serve the probe's doc-id range
          // pruning) and carrying the bucket-partitioned `_postings`
          // sidecar the candidate probe partition-prunes; the sidecar
          // write is clocked apart so the artifact rows attribute the
          // compaction's data-vs-postings split (VERDICT r19 item 2)
          shape = (df, bytes) => df
            .repartitionByRange(IndexState.sizedFileCount(bytes),
              col("doc_id"))
            .sortWithinPartitions(col("doc_id")),
          extraMergedWrite = (s, dir) =>
            timed("postings")(IndexState.writePostings(s, dir))))
    biOpt.foreach(_._1.unpersist(false))
    bsig.unpersist(false)
    clock.publish(indexBase, batchId)
  }

  /** Streaming incremental rollup — q147's twin: maintain an additive
    * materialized aggregate from a stream without ever re-reading
    * history. Per micro-batch (foreachBatch), the batch collapses to a
    * grain-sized partial ([[graft.operators.Rollup.partial]]) and lands
    * as `batch=<id>` through [[IdempotentSink]]'s marker discipline —
    * an at-least-once replay skips on the marker, so each batch's rows
    * enter the rollup exactly once. The current rollup is the re-SUM
    * of all committed partials (additive algebra, same as
    * [[graft.operators.Rollup.merge]]); compacting old partials into
    * one state dir is an optional maintenance move that the same
    * algebra makes safe at any time. */
  def rollupBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      sums: Seq[(String, org.apache.spark.sql.Column)],
      stateBase: String): Unit = {
    val spark = batch.sparkSession
    val gen = resolveGen(spark, stateBase)
    IdempotentSink.writeBatch(gen)(
      graft.operators.Rollup.partial(batch, keys, sums), batchId)
    foldIfSuperseded(spark, stateBase, gen, batchId)
  }

  /** Writer half of the compaction-race protocol (see [[compactRollup]]
    * "Concurrency"): after committing into generation `committedGen`,
    * re-resolve; if a pointer swap intervened, fold this batch's dir
    * into the live generation by atomic rename and re-check — looping
    * until the resolved generation is the one the batch lives in. A
    * batch whose id the new generation already accounts for (merged
    * partial, manifest-covered, or folded by the compactor's own
    * straggler sweep) hits the manifest/exists checks and no-ops, so
    * the fold can never double-count. */
  private[streaming] def foldIfSuperseded(
      spark: org.apache.spark.sql.SparkSession, stateBase: String,
      committedGen: String, batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stateBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var gen = committedGen
    var next = resolveGen(spark, stateBase)
    while (next != gen) {
      foldBatchDir(fs, gen, next, batchId)
      gen = next
      next = resolveGen(spark, stateBase)
    }
  }

  /** Move one committed `batch=<id>` dir from a superseded generation
    * into the live one. The exists-check plus ATOMIC directory rename
    * make the fold race-safe against the other folder (compactor sweep
    * vs writer): at most one mover succeeds, the loser sees the
    * destination present and no-ops. A fold that can neither rename nor
    * find the destination is a real fault and fails loudly — silence
    * here is exactly the data loss this protocol exists to prevent. */
  private[streaming] def foldBatchDir(fs: org.apache.hadoop.fs.FileSystem,
      fromGen: String, toGen: String, batchId: Long): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$fromGen/batch=$batchId")
    val dst = new org.apache.hadoop.fs.Path(s"$toGen/batch=$batchId")
    // an id the target generation's manifest covers is already inside
    // its merged dir — renaming the old dir in would double-count
    if (IdempotentSink.isCompacted(fs,
        new org.apache.hadoop.fs.Path(toGen), batchId)) return
    if (!fs.exists(dst)) {
      val moved =
        try fs.rename(src, dst)
        catch { case _: java.io.IOException => false }
      if (!moved && !fs.exists(dst))
        throw new java.io.IOException(
          s"failed to fold straggler batch $batchId from $fromGen into $toGen")
    }
  }

  /** Current value of the streamed rollup: re-aggregate every committed
    * partial of the CURRENT generation (see [[compactRollup]]).
    * Returns None when no batch has committed yet. Marker-only
    * compacted-away batches have no dirs at all (their ids live in
    * the generation's `_COMPACTED` manifest), so the read lists only
    * real partials. */
  def currentRollup(spark: org.apache.spark.sql.SparkSession,
      stateBase: String, keys: Seq[String]): Option[DataFrame] = {
    val gen = resolveGen(spark, stateBase)
    val conf = spark.sparkContext.hadoopConfiguration
    val committed = IdempotentSink.committedDirs(spark, gen).filter { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).listStatus(p)
        .exists(_.getPath.getName.endsWith(".parquet"))
    }
    if (committed.isEmpty) None
    else {
      val all = spark.read.parquet(committed: _*)
      val measures = all.columns.filterNot(keys.contains)
      Some(all.groupBy(keys.map(col): _*)
        .agg(sum(col(measures.head)).as(measures.head),
          measures.tail.map(c => sum(col(c)).as(c)): _*))
    }
  }

  /** The generation dir the rollup state currently lives in: `base`
    * until the first compaction, then `base/gen-<n>` as named by the
    * highest `CURRENT-<n>` pointer file.
    *
    * The pointer is a new numbered file per generation, created by
    * tmp-write + rename to a name that never existed before — the
    * pointer state NEVER passes through a deleted/absent window (the
    * r10 design delete-then-renamed a single CURRENT file; a crash
    * between the delete and the rename left no pointer at all, and the
    * fallback silently reverted to pre-compaction `base` state whose
    * stale _SUCCESS markers then swallowed replays forever). A
    * half-built pointer is impossible (rename is atomic) and a
    * half-built GENERATION is invisible (its pointer is only written
    * after the generation's data + manifest are fully committed). */
  private[streaming] def resolveGen(spark: org.apache.spark.sql.SparkSession,
      base: String): String = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      if (!fs.exists(basePath)) Array.empty[String]
      else fs.listStatus(basePath).map(_.getPath.getName)
    // a bare CURRENT file is the r10 single-pointer design; silently
    // ignoring it would resolve to pre-compaction `base`, where stale
    // _SUCCESS markers swallow replays — the exact failure mode the
    // numbered-pointer redesign fixed. Fail loudly with the migration.
    if (names.contains("CURRENT"))
      throw new IllegalStateException(
        s"$base holds a legacy bare CURRENT pointer file; migrate by " +
          "reading its generation name and writing an equivalent " +
          "CURRENT-<n> file (then delete CURRENT) before resuming")
    val ptrs = names
      .filter(_.matches("CURRENT-\\d+")).map(_.stripPrefix("CURRENT-").toLong)
    if (ptrs.isEmpty) base else s"$base/gen-${ptrs.max}"
  }

  /** Compact the streamed rollup state — LSM-style generation rollover,
    * crash-safe at every step:
    *
    *  1. the merged partial is written to a NEW generation dir under
    *     the highest committed batch id;
    *  2. every compacted batch id is recorded in the new generation's
    *     `_COMPACTED` range manifest ([[IdempotentSink.compactedRanges]]
    *     — one file of coalesced id ranges, NOT one marker dir per id,
    *     whose count grew with total batches ever), so an at-least-once
    *     replay of a compacted batch still skips — its rows are inside
    *     the merged partial, and double-entry is the failure compaction
    *     must not introduce;
    *  3. a NEW numbered pointer file `CURRENT-<n>` is created
    *     (tmp-write + rename to a never-before-existing name — the
    *     pointer state never passes through a deleted window, see
    *     [[resolveGen]]). Until it lands, readers and writers see the
    *     old generation untouched; a crash anywhere before it leaves a
    *     dead half-built generation dir and full correctness.
    *
    * Concurrency: compaction tolerates a LIVE writer; no committed
    * batch can be lost to the pointer swap. Three mechanisms cover the
    * full interleaving space (a batch commits when its `_SUCCESS`
    * marker lands, at time T_c; the compactor re-lists at T_l and
    * renames the pointer at T_r; the post-swap sweep lists at T_s):
    *
    *  - T_c ≤ T_l: the batch is either in the snapshot (merged /
    *    manifest-covered) or the re-list differs from the snapshot
    *    and the half-built generation is discarded and retried — a
    *    batch missing from BOTH merge and manifest never survives to a
    *    swap;
    *  - T_l < T_c ≤ T_s: the post-rename STRAGGLER SWEEP re-lists the
    *    old generation and folds any committed batch id outside the
    *    snapshot into the new generation by atomic dir rename;
    *  - T_c > T_s: the writer's own post-commit re-resolve
    *    ([[foldIfSuperseded]]) observes T_c > T_s > T_r, sees the new
    *    pointer, and folds its batch itself.
    *
    * Both folders go through the same exists-check + atomic-rename
    * ([[foldBatchDir]]), so a batch already accounted for in the new
    * generation (merged, manifest-covered, or folded by the other party)
    * no-ops — fold can move a batch at most once. The r11 design relied
    * on checkpoint replay to recover the T_l < T_c case, which is wrong
    * in a healthy run: foreachBatch success commits the batch to the
    * streaming checkpoint and it is never redelivered.
    *
    * Needed because the partial-per-batch layout grows by one dir per
    * micro-batch forever; after compaction the read side re-SUMs ONE
    * data dir regardless of stream age, and the replay-skip manifest
    * is one bounded file. */
  def compactRollup(spark: org.apache.spark.sql.SparkSession,
      stateBase: String, keys: Seq[String], attempts: Int = 3): Unit =
    compactState(spark, stateBase, attempts)(
      _ => currentRollup(spark, stateBase, keys).get)((_, _, _) => ())

  /** The generation-rollover SKELETON shared by [[compactRollup]]
    * (merge = re-SUM of the additive partials) and
    * [[IndexState.compact]] (merge = plain union of append-only rows,
    * plus a merged bloom sidecar via `postWrite`): snapshot → merged
    * write → manifest → writer-race check → pointer swap → straggler
    * sweep, exactly the crash/concurrency protocol documented above.
    * `merge` receives the snapshot's committed dirs; `postWrite`
    * receives (fs, the merged batch dir, the snapshot dirs) after the
    * merged data commit and before the manifest — anything it writes
    * into the merged dir rides every later fold/rename atomically. */
  private[streaming] def compactState(
      spark: org.apache.spark.sql.SparkSession,
      stateBase: String, attempts: Int)(
      merge: Seq[String] => DataFrame)(
      postWrite: (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, Seq[String]) => Unit): Unit = {
    require(attempts > 0, s"compaction of $stateBase lost the race to a " +
      "concurrent writer on every attempt; quiesce the stream and re-run")
    val phases = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      phases += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    val gen = resolveGen(spark, stateBase)
    val committed = IdempotentSink.committedDirs(spark, gen)
    if (committed.size <= 1) return
    val merged = merge(committed)
    val ids = committed.map(_.replaceAll(".*batch=", "").toLong)
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(stateBase)
    val fs = basePath.getFileSystem(conf)
    // new generation number = one past the highest gen dir ON DISK, not
    // one past the pointer: a compaction that crashed mid-build left a
    // half-built gen-<n> with no pointer, and reusing that dir would
    // merge its stale committed batches into the fresh generation
    val onDisk =
      if (!fs.exists(basePath)) Array.empty[Long]
      else fs.listStatus(basePath).map(_.getPath.getName)
        .filter(_.matches("gen-\\d+")).map(_.stripPrefix("gen-").toLong)
    val genN = if (onDisk.isEmpty) 1L else onDisk.max + 1L
    val newGen = s"gen-$genN"
    timed("mergeWrite")(
      IdempotentSink.writeBatch(s"$stateBase/$newGen")(merged, ids.max))
    timed("postWrite")(postWrite(fs,
      new org.apache.hadoop.fs.Path(s"$stateBase/$newGen/batch=${ids.max}"),
      committed))
    // replay suppression for the folded ids: ONE manifest of coalesced
    // ranges, carrying the OLD generation's manifest forward — not one
    // marker dir per id, whose count grew with total batches ever and
    // made the per-batch generation walk O(stream age) (ADVICE r17).
    // ids.max is covered by the merged dir's own _SUCCESS marker but is
    // included anyway so contiguous id histories stay a single range.
    IdempotentSink.writeCompactedRanges(fs,
      new org.apache.hadoop.fs.Path(s"$stateBase/$newGen"),
      IdempotentSink.coalesceRanges(
        IdempotentSink.compactedRanges(fs, new org.apache.hadoop.fs.Path(gen)),
        ids))
    // writer-race check: anything committed into the old generation
    // since the snapshot is in neither the merge nor the manifest —
    // discard this generation and retry on the fresh snapshot
    val now = IdempotentSink.committedDirs(spark, gen)
      .map(_.replaceAll(".*batch=", "").toLong)
    if (now.toSet != ids.toSet) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateBase/$newGen"), true)
      compactState(spark, stateBase, attempts - 1)(merge)(postWrite)
      return
    }
    val tmp = new org.apache.hadoop.fs.Path(s"$stateBase/CURRENT-$genN.tmp")
    val out = fs.create(tmp, true)
    try out.write(newGen.getBytes("UTF-8")) finally out.close()
    val cur = new org.apache.hadoop.fs.Path(s"$stateBase/CURRENT-$genN")
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"pointer swap failed for $stateBase")
    // straggler sweep: a batch that committed into the old generation
    // after the re-list above is in neither the merge nor the
    // manifest — fold it into the new generation (atomic rename,
    // no-op if the writer's own foldIfSuperseded got there first)
    val idSet = ids.toSet
    IdempotentSink.committedDirs(spark, gen)
      .map(_.replaceAll(".*batch=", "").toLong)
      .filterNot(idSet)
      .foreach(id => foldBatchDir(fs, gen, s"$stateBase/$newGen", id))
    if (sys.env.contains("SPARK_GRAFT_TWIN_PHASES"))
      println(s"compact-steps base=$stateBase dirs=${committed.size} " +
        phases.map { case (n, s) => f"$n=$s%.2f" }.mkString(" "))
  }
}
