package graft.streaming

import graft.SparkSpec
import graft.pipeline.{Clean, Schemas}
import graft.sources.{EmulatorGenerator, FileJsonTableSource, KafkaTableSource, PipelineTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics (SURVEY §5.2 item 6): the same records produce
  * identical cleaned output under readStream (MemoryStream → from_json
  * → clean → checkpointed append sink) as under batch read — the
  * batch/stream identity the reference relies on — plus checkpoint
  * recovery with no duplicates (the test that would have caught the
  * reference's shared-checkpoint bug). */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def pinLines(n: Int, seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => EmulatorGenerator.pinJson(rng, i.toLong))
  }

  test("stream deserialize+clean == batch clean on the same records") {
    implicit val sqlCtx = spark.sqlContext
    val lines = pinLines(120, seed = 7L)
    val out = java.nio.file.Files.createTempDirectory("graft-stream").toString

    val mem = MemoryStream[String]
    mem.addData(lines: _*)
    val cleaned = StreamPipeline.cleanPinStream(
      KafkaTableSource.decode(mem.toDF, Schemas.rawPin))
    val q = StreamPipeline.writeStream(cleaned, out, "pin_stream")
    q.awaitTermination(60000)

    val streamed = spark.read.parquet(s"$out/data/pin_stream")
    val batch = Clean.pin(spark.read.schema(Schemas.rawPin).json(lines.toDS))
    assertSameRows(streamed, batch, "stream vs batch cleaned pin")
  }

  test("checkpoint recovery appends only new records (no duplicates)") {
    implicit val sqlCtx = spark.sqlContext
    val first = pinLines(50, seed = 11L)
    val second = pinLines(30, seed = 13L)
    val out = java.nio.file.Files.createTempDirectory("graft-stream-rec").toString

    val mem1 = MemoryStream[String]
    mem1.addData(first: _*)
    val q1 = StreamPipeline.writeStream(
      StreamPipeline.cleanPinStream(
        KafkaTableSource.decode(mem1.toDF, Schemas.rawPin)),
      out, "pin_rec")
    q1.awaitTermination(60000)
    assert(spark.read.parquet(s"$out/data/pin_rec").count() == 50)

    // restart from the same checkpoint with a fresh source carrying both
    // old and new data — offsets must resume past the old batch
    val mem2 = MemoryStream[String]
    mem2.addData(first: _*) // same offsets 0..49 in the new source
    mem2.addData(second: _*)
    val q2 = StreamPipeline.writeStream(
      StreamPipeline.cleanPinStream(
        KafkaTableSource.decode(mem2.toDF, Schemas.rawPin)),
      out, "pin_rec")
    q2.awaitTermination(60000)
    val total = spark.read.parquet(s"$out/data/pin_rec").count()
    assert(total == 80, s"expected 50+30 rows after recovery, got $total")
  }

  test("file-source stream over the landed topic layout == batch scan") {
    // the reference's real landing: JSON files under topics/<t>/partition=N
    // consumed as an unbounded source (new files = new micro-batches)
    val base = java.nio.file.Files.createTempDirectory("graft-landed")
    graft.sources.EmulatorGenerator.writeTopicLayout(base, 60, seed = 23L)
    val out = java.nio.file.Files.createTempDirectory("graft-landed-out").toString
    val stream = spark.readStream
      .schema(Schemas.rawPin)
      .json(s"$base/topics/pin/partition=*")
    val q = StreamPipeline.writeStream(Clean.pin(stream), out, "pin_files")
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$out/data/pin_files")
    val batch = Clean.pin(
      FileJsonTableSource(base.toString).readBatch(spark, PipelineTable.Pin))
    assertSameRows(streamed, batch, "file-stream vs batch")
  }

  test("three concurrent queries with per-query checkpoints") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(17L)
    val out = java.nio.file.Files.createTempDirectory("graft-stream-3").toString
    val pinMem = MemoryStream[String]
    val geoMem = MemoryStream[String]
    val userMem = MemoryStream[String]
    pinMem.addData((0 until 40).map(i => EmulatorGenerator.pinJson(rng, i.toLong)): _*)
    geoMem.addData((0 until 40).map(i => EmulatorGenerator.geoJson(rng, i.toLong)): _*)
    userMem.addData((0 until 40).map(i => EmulatorGenerator.userJson(rng, i.toLong)): _*)

    val qs = Seq(
      StreamPipeline.writeStream(StreamPipeline.cleanPinStream(
        KafkaTableSource.decode(pinMem.toDF, Schemas.rawPin)), out, "pin"),
      StreamPipeline.writeStream(StreamPipeline.cleanGeoStream(
        KafkaTableSource.decode(geoMem.toDF, Schemas.rawGeo)), out, "geo"),
      StreamPipeline.writeStream(StreamPipeline.cleanUserStream(
        KafkaTableSource.decode(userMem.toDF, Schemas.rawUser)), out, "user"))
    qs.foreach(_.awaitTermination(60000))

    assert(spark.read.parquet(s"$out/data/pin").count() == 40)
    assert(spark.read.parquet(s"$out/data/geo").count() == 40)
    assert(spark.read.parquet(s"$out/data/user").count() == 40)
    // distinct checkpoint dirs actually materialized
    val cps = new java.io.File(s"$out/_checkpoints").listFiles().map(_.getName).toSet
    assert(cps == Set("pin", "geo", "user"))
  }

  test("StreamMain.start drops all-null records, then lands batch Clean.* of the rest") {
    // a record carrying only the key (cross-stream pollution, the
    // reference's Kinesis_Processing.ipynb:848-849 guard) lands beside
    // generator rows; the streaming job must drop it before cleaning
    val base = java.nio.file.Files.createTempDirectory("graft-streammain")
    EmulatorGenerator.writeTopicLayout(base, 60, seed = 29L)
    java.nio.file.Files.writeString(
      base.resolve("topics/pin/partition=0/polluted.json"), """{"index": 7}""" + "\n")
    val out = java.nio.file.Files.createTempDirectory("graft-streammain-out").toString
    graft.run.StreamMain.start(spark, base.toString, out,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).foreach(_.awaitTermination())
    val source = FileJsonTableSource(base.toString)
    for ((t, key, clean) <- Seq[(PipelineTable, String, DataFrame => DataFrame)](
        (PipelineTable.Pin, "index", Clean.pin),
        (PipelineTable.Geo, "ind", Clean.geo),
        (PipelineTable.User, "ind", Clean.user))) {
      val raw = source.readBatch(spark, t)
      val valid = raw.filter(raw.columns.filterNot(_ == key)
        .map(col(_).isNotNull).reduce(_ || _))
      assertSameRows(spark.read.parquet(s"$out/data/${t.name}"), clean(valid),
        s"landed ${t.name} vs batch clean of the valid rows")
    }
    assert(spark.read.parquet(s"$out/data/pin").count() == 60)
  }

  test("index-backed streaming dedup: cross-batch dups drop, state survives in parquet") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-inc-out").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-inc-idx").toString + "/index"
    val mem = MemoryStream[(Long, String)]
    val q = StreamPipeline.dedupStreamWithIndex(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text", out, idx)
    try {
      // batch 0: fresh content + an internal dup
      mem.addData((1L, "alpha body"), (2L, "ALPHA   Body"), (3L, "beta body"))
      q.processAllAvailable()
      // batch 1: replding of batch-0 content + fresh
      mem.addData((4L, "alpha body"), (5L, "gamma body"))
      q.processAllAvailable()
      // batch 2: dup of batch-1 survivor + dup within
      mem.addData((6L, "gamma body"), (7L, "delta body"), (8L, "Delta BODY"))
      q.processAllAvailable()
      val survivors = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(survivors == Set(1L, 3L, 5L, 7L),
        s"first arrival of each content must win: $survivors")
      // the index holds exactly the survivors' hashes — restart-shared state
      assert(IndexState.read(spark, idx, "h STRING").select("h").distinct().count() == 4)
    } finally q.stop()
  }

  test("torn index batch (crash mid index-write) is invisible to replay") {
    // Crash model: batch 1's survivors committed to outBase, then the
    // crash hit MID index-write — batch=1 under the index has data files
    // but no _SUCCESS. foreachBatch redelivers batch 1. Pre-fix, the
    // bare spark.read.parquet(indexBase) treated the torn hashes as
    // committed state: the replayed survivors saw their own hashes as
    // "already indexed", shrank, and the index rewrite lost hashes for
    // docs already committed — later cross-batch duplicates then passed.
    val out = java.nio.file.Files.createTempDirectory("graft-torn-out").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-torn-idx").toString + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamPipeline.dedupIndexBatch(
      batchOf((1L, "alpha body"), (2L, "beta body")), 0L, "doc_id", "text", out, idx)
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "gamma body"), (4L, "alpha body")), 1L, "doc_id", "text", out, idx)
    // tear index batch=1: data files stay, commit marker gone
    val marker = new java.io.File(s"$idx/batch=1/_SUCCESS")
    assert(marker.exists(), "fixture expects a committed batch=1 to tear")
    assert(marker.delete())
    // redelivery of batch 1 (out batch=1 is still committed and skips on
    // its marker; the index write must heal from pre-crash state only)
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "gamma body"), (4L, "alpha body")), 1L, "doc_id", "text", out, idx)
    val hashes = IndexState.read(spark, idx, "h STRING").select("h").distinct().count()
    assert(hashes == 3, s"alpha, beta, gamma hashes must all be indexed: $hashes")
    // a later duplicate of batch-1's survivor must still drop
    StreamPipeline.dedupIndexBatch(
      batchOf((5L, "gamma body"), (6L, "delta body")), 2L, "doc_id", "text", out, idx)
    val survivors = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 6L),
      s"gamma's replayed hash must suppress doc 5: $survivors")
  }

  test("splitIndexBatch: adopt/fresh sides at ingest equal the batch incremental split; replay skips") {
    import graft.operators.{CorpusPrep, Dedup}
    val out = java.nio.file.Files.createTempDirectory("graft-split-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-split-idx").toString + "/index"
    def toks(f: Int) = (0 until 40).map(i => s"f${f}w$i")
    def text(ts: Seq[String]) = ts.mkString(" ")
    def variant(f: Int, pos: Int) = text(toks(f).updated(pos, s"f${f}x$pos"))
    // batch 0: family A pair (10, 11), singletons 20 (famB), 31 (famC)
    val b0 = Seq(
      (10L, text(toks(1))), (11L, variant(1, 0)),
      (20L, text(toks(2))), (31L, text(toks(3)))).toDF("doc_id", "text")
    // batch 1: 40 joins famA, 41 joins famC, fresh pair (50, 51), fresh singleton 60
    val b1 = Seq(
      (40L, variant(1, 2)), (41L, variant(3, 0)),
      (50L, text(toks(5))), (51L, variant(5, 0)),
      (60L, text(toks(6)))).toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b0, 0L, "doc_id", "text", out, idx, testPct = 30)
    StreamPipeline.splitIndexBatch(b1, 1L, "doc_id", "text", out, idx, testPct = 30)
    def landed = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    val got = landed
    assert(got.size == 9, s"one assignment per doc: $got")
    // batch-0 sides are the fresh hash-of-root sides (roots 10, 20, 31)
    def hside(root: Long) = if ((root % 1000000007L) * 2654435761L % 100 < 30) "test" else "train"
    assert(got(10L) == hside(10L) && got(11L) == hside(10L), s"famA: $got")
    assert(got(20L) == hside(20L) && got(31L) == hside(31L), s"singletons: $got")
    // adopt: 40 joins famA's side, 41 joins famC's side
    assert(got(40L) == got(10L), s"40 must adopt famA's side: $got")
    assert(got(41L) == got(31L), s"41 must adopt famC's side: $got")
    // fresh: {50,51} share the hash side of root 50; 60 is its own root
    assert(got(50L) == hside(50L) && got(51L) == hside(50L) && got(60L) == hside(60L), got.toString)
    // identity with the one-shot batch incremental split (first arrivals
    // carry component-minimum ids, the documented convention)
    val union = b0.unionByName(b1)
    val assigned0 = spark.read.parquet(s"$idx/batch=0")
      .select(col("doc_id"), col("side"))
    val ref = CorpusPrep.leakageSafeSplitIncremental(
        assigned0, union, "doc_id",
        Dedup.minhashCandidatePairs(union, "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5),
        testPct = 30)
      .filter(col("is_new"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(ref == got.view.filterKeys(k => Set(40L, 41L, 50L, 51L, 60L).contains(k)).toMap,
      s"stream batch-1 sides must equal the batch incremental split: ref=$ref got=$got")
    // replay of batch 1 is marker-skipped: nothing duplicates
    StreamPipeline.splitIndexBatch(b1, 1L, "doc_id", "text", out, idx, testPct = 30)
    assert(landed.size == 9, s"replay must not duplicate assignments: ${landed.size}")
  }

  test("splitIndexBatch: a doc_id re-delivered in a LATER batch keeps its landed side, no duplicates") {
    // The idempotency marker only catches same-batchId replays; an
    // upstream source replaying a range delivers old docs under a NEW
    // batch id. Stickiness (r16 advice): the landed side is kept
    // verbatim — no re-siding from the current census, no duplicate
    // (doc_id, side) rows in out, no duplicate index rows.
    val out = java.nio.file.Files.createTempDirectory("graft-redeliver-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-redeliver-idx").toString + "/index"
    def toks(f: Int) = (0 until 40).map(i => s"r${f}w$i")
    val b0 = Seq((10L, toks(1).mkString(" ")), (20L, toks(2).mkString(" ")))
      .toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b0, 0L, "doc_id", "text", out, idx, testPct = 30)
    // batch 1 re-delivers doc 10 under a fresh batch id, plus a new doc
    val b1 = Seq((10L, toks(1).mkString(" ")), (30L, toks(3).mkString(" ")))
      .toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b1, 1L, "doc_id", "text", out, idx, testPct = 30)
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("side")))
    assert(rows.length == 3, s"exactly one assignment row per doc: ${rows.toSeq}")
    // a near-dup of the re-delivered doc still adopts its landed side
    // (the dropped re-delivery participates via its at-rest index row)
    val b2 = Seq((40L, toks(1).updated(0, "rx0").mkString(" "))).toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b2, 2L, "doc_id", "text", out, idx, testPct = 30)
    val g = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(g(40L) == g(10L), s"near-dup of re-delivered doc adopts landed side: $g")
    val idxIds = IndexState.read(spark, idx,
      "doc_id BIGINT, side STRING, hs ARRAY<BIGINT>, bands ARRAY<BIGINT>")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(idxIds == Seq(10L, 20L, 30L, 40L), s"one index row per landed doc: $idxIds")
  }

  test("splitIndexBatch: a doc bridging both landed sides quarantines, and poisons its successors") {
    import graft.functions.{TextFunctions => T}
    val out = java.nio.file.Files.createTempDirectory("graft-splitq-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-splitq-idx").toString + "/index"
    def toks = (0 until 40).map(i => s"q7w$i")
    val z = toks.mkString(" ")
    val a = toks.updated(5, "qx5").mkString(" ")   // ≈ z, landed train
    val b = toks.updated(30, "qx30").mkString(" ") // ≈ z, landed test
    // plant the landed state DIRECTLY (the real-world shape: a and b
    // landed in different epochs before their connector arrived — their
    // mutual similarity was never observed at assignment time)
    val planted = Seq((100L, a, "train"), (200L, b, "test")).toDF("doc_id", "text", "side")
      .select(col("doc_id"), col("side"),
        T.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("bands", T.bandHashes(
        T.minhashSignature(col("hs"), 32), 32, 8))
      .select("doc_id", "side", "hs", "bands")
    graft.streaming.IdempotentSink.writeBatch(idx)(planted, 0L)
    // z bridges both sides -> quarantined
    StreamPipeline.splitIndexBatch(
      Seq((300L, z)).toDF("doc_id", "text"), 1L, "doc_id", "text", out, idx)
    val g1 = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(g1 == Map(300L -> "quarantined"), s"bridge must quarantine: $g1")
    // a later near-dup of the quarantined doc is transitively in reach
    // of both sides -> quarantined too (state poisoning)
    StreamPipeline.splitIndexBatch(
      Seq((400L, toks.updated(1, "qy1").mkString(" "))).toDF("doc_id", "text"),
      2L, "doc_id", "text", out, idx)
    val g2 = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(g2(400L) == "quarantined", s"successor of a quarantined doc: $g2")
  }

  test("filter-funnel cascade runs unchanged on a stream (stream == batch)") {
    import graft.functions.{TextFunctions => T}
    implicit val sqlCtx = spark.sqlContext
    // q131's reason cascade is per-row stateless — micro-batch execution
    // must reproduce the batch tagging bit-for-bit (incl. the IEEE
    // quality threshold comparison)
    def funnel(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("lang"), T.qualityMetrics(col("text")).as("m"))
      .select(col("doc_id"),
        when(col("m.n_tokens") < 24, "too_short")
          .when(col("lang") =!= "en", "non_english")
          .when(col("m.quality_score") < 0.8, "low_quality")
          .otherwise("kept").as("reason"))
    val data = Seq(
      (1L, "en", "tiny"),
      (2L, "de", Seq.fill(30)("wort").mkString(" ")),
      (3L, "en", Seq.fill(30)("zz9$").mkString(" ")),
      (4L, "en", "the cat and the dog walked to the house of a friend and " +
        "said hello to everyone in the warm room before dinner was served."))
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(data: _*)
    val q = funnel(mem.toDF.toDF("doc_id", "lang", "text"))
      .writeStream.queryName("funnel_stream").format("memory")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assertSameRows(spark.table("funnel_stream"),
        funnel(data.toDF("doc_id", "lang", "text")), "funnel stream vs batch")
      // the fixture must exercise every cascade arm
      import spark.implicits._
      val reasons = spark.table("funnel_stream")
        .select("reason").as[String].collect().toSet
      assert(reasons == Set("too_short", "non_english", "low_quality", "kept"),
        s"fixture must hit all arms: $reasons")
    } finally q.stop()
  }

  test("fused signal kernels run unchanged on a stream (stream == batch)") {
    import graft.functions.{GraftFunctions, TextFunctions => T}
    implicit val sqlCtx = spark.sqlContext
    GraftFunctions.register(spark)
    // stateless projection == q126's kernel set; micro-batch execution
    // must produce the batch result bit-for-bit (incl. the codegen'd
    // fingerprint64 custom expression inside a streaming plan)
    def signals(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      T.qualityMetrics(col("text")).as("m"),
      T.langId(col("text")).as("lang_pred"),
      GraftFunctions.fingerprint64(T.normalizeText(col("text"))).as("fingerprint"))
      .select(col("doc_id"), col("m.*"), col("lang_pred"), col("fingerprint"))
    val data = Seq(
      (1L, "the quick brown fox and the lazy dog jumped over it"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, ""),
      (4L, "  Whitespace   And CASE  folding\ttest  "))
    val mem = MemoryStream[(Long, String)]
    mem.addData(data: _*)
    val q = signals(mem.toDF.toDF("doc_id", "text"))
      .writeStream.queryName("fused_sig").format("memory")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assertSameRows(spark.table("fused_sig"),
        signals(data.toDF("doc_id", "text")), "fused signals stream vs batch")
    } finally q.stop()
  }

  test("streaming rollup: committed partials re-sum to the one-shot aggregate") {
    import graft.operators.Rollup
    val r = new scala.util.Random(9)
    val all = Seq.fill(300)((s"p${r.nextInt(4)}", r.nextInt(3).toLong, r.nextInt(500).toLong))
      .toDF("prio", "yr", "cents")
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollup-st").toString + "/state"
    val batches = Seq(all.filter(col("cents") < 150),
      all.filter(col("cents") >= 150 && col("cents") < 400),
      all.filter(col("cents") >= 400))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamPipeline.rollupBatch(b, i.toLong, keys, sums, st)
    }
    val got = StreamPipeline.currentRollup(spark, st, keys).get
    assertSameRows(got, Rollup.partial(all, keys, sums), "stream vs one-shot")
    // at-least-once replay of a batch is a no-op on the marker
    StreamPipeline.rollupBatch(batches(1), 1L, keys, sums, st)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get,
      Rollup.partial(all, keys, sums), "replay must not double-count")
  }

  test("rollup compaction: value preserved, replays skip, stream continues") {
    import graft.operators.Rollup
    val r = new scala.util.Random(13)
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupc-st").toString + "/state"
    val b = Seq(batch(60, 1), batch(40, 2), batch(80, 3), batch(30, 4))
    b.take(3).zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    val pre = StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet
    StreamPipeline.compactRollup(spark, st, keys)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "compaction must not change the rollup value")
    // replay of a COMPACTED batch hits its tombstone marker in the new gen
    StreamPipeline.rollupBatch(b(0), 0L, keys, sums, st)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "replayed compacted batch must not double-count")
    // the stream continues into the new generation
    StreamPipeline.rollupBatch(b(3), 3L, keys, sums, st)
    val expect4 = Rollup.partial(b.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect4,
      "post-compaction batch lands in the live generation")
    // second compaction rolls gen-1 -> gen-2
    StreamPipeline.compactRollup(spark, st, keys)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect4,
      "second compaction preserved the value")
    StreamPipeline.rollupBatch(b(3), 3L, keys, sums, st)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect4,
      "replay after second compaction skips")
  }

  test("rollup compaction: a straggler batch committed into the old generation folds in") {
    import graft.operators.Rollup
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollups-st").toString + "/state"
    val b = Seq(batch(60, 31), batch(40, 32), batch(80, 33))
    b.take(2).zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    StreamPipeline.compactRollup(spark, st, keys)
    // simulate the race: a writer that resolved the OLD generation
    // before the pointer swap commits its batch there AFTER the
    // compactor's re-list — in r11 this batch silently vanished
    IdempotentSink.writeBatch(st)(Rollup.partial(b(2), keys, sums), 2L)
    // ... then runs its post-commit re-resolve, which must fold the
    // batch into the live generation
    StreamPipeline.foldIfSuperseded(spark, st, st, 2L)
    val expect = Rollup.partial(b.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "straggler batch must fold into the live generation, not vanish")
    // the fold is idempotent: re-running it (and replaying the batch)
    // must not double-count
    StreamPipeline.foldIfSuperseded(spark, st, st, 2L)
    StreamPipeline.rollupBatch(b(2), 2L, keys, sums, st)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "fold + replay must be idempotent")
    // a straggler whose id the new generation already tombstoned no-ops
    StreamPipeline.foldIfSuperseded(spark, st, st, 0L)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "tombstoned id must not re-fold")
  }

  test("rollup state: a legacy bare CURRENT pointer fails loudly") {
    val st = java.nio.file.Files.createTempDirectory("graft-rollupl-st").toString + "/state"
    StreamPipeline.rollupBatch(
      Seq(("p0", 1L, 10L)).toDF("prio", "yr", "cents"), 0L,
      Seq("prio", "yr"), Seq("cents_sum" -> col("cents")), st)
    val cur = new java.io.File(st, "CURRENT")
    java.nio.file.Files.write(cur.toPath, "gen-1".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      StreamPipeline.currentRollup(spark, st, Seq("prio", "yr"))
    }
    assert(e.getMessage.contains("legacy bare CURRENT"))
  }

  test("rollup compaction: a half-built generation without its pointer is invisible") {
    import graft.operators.Rollup
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupx-st").toString + "/state"
    val b = Seq(batch(50, 21), batch(70, 22))
    b.zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    val pre = StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet
    // simulate a compaction that crashed mid-build: a gen dir exists
    // (even with a committed-looking garbage batch inside) but its
    // CURRENT-<n> pointer was never written — readers and writers must
    // stay on the pre-compaction state
    IdempotentSink.writeBatch(s"$st/gen-1")(
      Seq(("pX", 9L, 999999L)).toDF("prio", "yr", "cents"), 99L)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "half-built generation must be invisible without its pointer")
    // a real compaction now lands gen-2 (the dead gen-1 dir stays dead)
    StreamPipeline.compactRollup(spark, st, keys)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "compaction after a dead half-built generation preserves the value")
    StreamPipeline.rollupBatch(b(0), 0L, keys, sums, st)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "replayed compacted batch still tombstoned after crash recovery")
  }

  test("chaos: concurrent writers, replays and compactor — rollup stays exactly-once") {
    import graft.operators.Rollup
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupch-st").toString + "/state"
    val batches = (0 until 10).map(i => batch(25 + i, 500 + i))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writers = batches.zipWithIndex.map { case (d, i) =>
        Future {
          StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
          // at-least-once: every batch replays once, racing compaction —
          // markers/tombstones/folds must swallow the replay
          StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
        }
      }
      val compactor = Future {
        (0 until 3).foreach { _ =>
          Thread.sleep(40)
          // losing the snapshot race to a live writer on every attempt
          // is the documented liveness (not correctness) failure —
          // tolerated mid-chaos, retried quiesced below
          try StreamPipeline.compactRollup(spark, st, keys, attempts = 6)
          catch { case _: IllegalArgumentException => () }
        }
      }
      Await.result(Future.sequence(writers :+ compactor), 5.minutes)
    } finally pool.shutdown()
    val expect = Rollup.partial(batches.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "chaos interleaving must not lose or double-count any batch")
    // quiesced: compaction and one more full replay sweep change nothing
    StreamPipeline.compactRollup(spark, st, keys)
    batches.zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "post-chaos compaction + replay sweep must be a no-op")
  }

  test("foldIfSuperseded: double-fold race has one winner; a truly lost batch fails loudly") {
    import graft.operators.Rollup
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupdf-st").toString + "/state"
    val b = Seq(batch(60, 61), batch(40, 62), batch(80, 63))
    b.take(2).zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    StreamPipeline.compactRollup(spark, st, keys)
    // straggler commits into the superseded generation...
    IdempotentSink.writeBatch(st)(Rollup.partial(b(2), keys, sums), 2L)
    // ...and BOTH protocol halves (writer re-resolve + compactor sweep)
    // try to fold it concurrently: exists-check + atomic rename means at
    // most one rename wins and the loser no-ops — never a double count,
    // never a loss
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(Seq(
        Future(StreamPipeline.foldIfSuperseded(spark, st, st, 2L)),
        Future(StreamPipeline.foldIfSuperseded(spark, st, st, 2L)))), 2.minutes)
    finally pool.shutdown()
    val expect = Rollup.partial(b.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "double-fold must land the batch exactly once")
    // fault injection: a batch id that exists in NO generation (rename
    // fails, destination absent) is real data loss — must throw, not
    // silently converge
    val e = intercept[java.io.IOException] {
      StreamPipeline.foldIfSuperseded(spark, st, st, 77L)
    }
    assert(e.getMessage.contains("failed to fold"),
      s"lost-batch fold must fail loudly, got: ${e.getMessage}")
  }

}
