package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.pipeline.Clean
import graft.sources.{EmulatorGenerator, FileJsonTableSource, PipelineTable}
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The streaming twin: three `StreamPipeline.writeStream(Clean.<t>(
  * readStream))` queries composed as StreamMain composes them, fed by an
  * open-loop generator that lands one file per topic every period. */
object PinStream {
  val periodMs = 250

  def recordsPerFile(o: Opts): Int = if (o.tiny) 50 else 250
  def filesPerTopic(o: Opts): Int = math.max(2, (o.seconds * 1000 / periodMs).toInt)
  // files landed before the measured window: the freshly started queries'
  // first batches run slower, and timing them doubled the run-to-run spread
  val leadIn = 8

  /** StreamMain's session confs. */
  def session(o: Opts): SparkSession = SparkSession.builder()
    .appName("graft-stream").master(s"local[${o.cores}]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .getOrCreate()

  private final case class Progress(query: String, batch: Long, start: Long,
      durations: Map[String, Long], rows: Long) {
    def end: Long = start + durations.getOrElse("triggerExecution", 0L)
  }

  private def startQueries(spark: SparkSession, landed: Path, out: Path,
      trigger: Trigger): Seq[StreamingQuery] = {
    val source = FileJsonTableSource(landed.toString)
    import PipelineTable._
    Seq(
      StreamPipeline.writeStream(Clean.pin(source.readStream(spark, Pin)), out.toString, "pin", trigger),
      StreamPipeline.writeStream(Clean.geo(source.readStream(spark, Geo)), out.toString, "geo", trigger),
      StreamPipeline.writeStream(Clean.user(source.readStream(spark, User)), out.toString, "user", trigger))
  }

  /** File contents per topic, in landing order. */
  private def contents(o: Opts, files: Int, seed: Long): Map[String, Seq[String]] = {
    val per = recordsPerFile(o)
    val (p, g, u) = EmulatorGenerator.generate(files * per, seed)
    Map("pin" -> p, "geo" -> g, "user" -> u).map { case (t, rows) =>
      t -> rows.grouped(per).map(_.mkString("\n")).toSeq }
  }

  private def land(base: Path, topic: String, name: String, body: String): Unit = {
    val tmp = base.resolve("tmp").resolve(s"$topic-$name")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, body)
    val dst = base.resolve(s"landed/topics/$topic/partition=0/$name")
    Files.createDirectories(dst.getParent)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** file name -> batch id, from the file source's checkpointed log. */
  private def fileBatches(out: Path, query: String): Map[String, Long] = {
    val dir = out.resolve(s"_checkpoints/$query/sources/0")
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.toSeq.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l)
        .map(m => m.group(1).split('/').last -> m.group(2).toLong))
    }.toMap
  }

  def run(o: Opts, r: Report): Unit = {
    val files = leadIn + filesPerTopic(o)
    val per = recordsPerFile(o)
    val topics = Seq("pin", "geo", "user")
    var spark: SparkSession = null
    val data = Main.setups(3, r) { i =>
      if (spark != null) spark.stop()
      val d = contents(o, files, o.seed)
      spark = session(o)
      // warm pass: the same queries drain two files per topic, once
      val warm = o.work.resolve(s"warm-$i")
      val w = contents(o, 2, o.seed + 1)
      for (t <- topics; (body, k) <- w(t).zipWithIndex) land(warm, t, f"$k%05d.json", body)
      startQueries(spark, warm.resolve("landed"), warm.resolve("out"), Trigger.AvailableNow())
        .foreach(_.awaitTermination())
      d
    }
    try {
      window(o, r, spark, data, files, per)
      r.probeS = Main.hostProbe(spark, o.cores)
    } finally spark.stop()
  }

  private def window(o: Opts, r: Report, spark: SparkSession,
      data: Map[String, Seq[String]], files: Int, per: Int): Unit = {
    val topics = Seq("pin", "geo", "user")
    val base = o.work.resolve("stream")
    val landed = base.resolve("landed")
    val out = base.resolve("out")
    for (t <- topics) Files.createDirectories(landed.resolve(s"topics/$t/partition=0"))
    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          progress.add(Progress(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
    }
    spark.streams.addListener(listener)
    val queries = startQueries(spark, landed, out, Trigger.ProcessingTime(0))
    @volatile var lateMax = 0L
    val tracer = new Tracer
    val t0 = Trace.now() + 500
    val half = t0 + (leadIn + files) * periodMs / 2
    val gen = new Thread(() => {
      for (k <- 0 until files) {
        val due = t0 + k.toLong * periodMs
        val wait = due - Trace.now()
        if (wait > 0) Thread.sleep(wait)
        lateMax = math.max(lateMax, Trace.now() - due)
        val name = f"$k%05d.json"
        for (t <- topics) land(base, t, name, data(t)(k))
      }
    }, "perfbench-generator")
    Trace.span("pin_stream.window") {
      gen.start()
      if (o.trace) {
        // traced runs attach the engine listener for the second half
        Thread.sleep(math.max(0L, half - Trace.now()))
        spark.sparkContext.addSparkListener(tracer); Trace.on = true
      }
      gen.join()
      // drain: every landed row committed, or give up after a minute
      val want = files.toLong * per
      val deadline = Trace.now() + 60000
      def committed(q: String) = progress.asScala.filter(_.query == q).map(_.rows).sum
      while (topics.exists(committed(_) < want) && Trace.now() < deadline) Thread.sleep(50)
    }
    val tracedTotals = Trace.totalsNow()
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)
    if (o.trace) { spark.sparkContext.removeSparkListener(tracer); Trace.on = false }

    val batches = progress.asScala.toSeq
    for (b <- batches) Trace.record("streaming.batch", b.start, b.end,
      Map("query" -> b.query, "batch" -> b.batch.toString, "rows" -> b.rows.toString))
    val byBatch = batches.map(b => (b.query, b.batch) -> b).toMap
    // one sample per file: (due, batch start, batch commit). An open loop
    // times a request from when it was due, so a generator stall shows.
    val samples = topics.flatMap { t =>
      val fb = fileBatches(out, t)
      (0 until files).map { k =>
        k -> fb.get(f"$k%05d.json").flatMap(b => byBatch.get((t, b)))
          .map(b => (t0 + k.toLong * periodMs, b.start, b.end))
      }
    }
    r.attempted = samples.size
    r.failed = samples.count(_._2.isEmpty)
    val ok = samples.collect { case (k, Some(x)) if k >= leadIn => x }
    if (ok.nonEmpty) {
      val lat = ok.map { case (c, _, e) => (e - c).toDouble }
      if (!o.trace) {
        r.e2e("latency_p50_ms") = (Stats.median(lat), "ms")
        val span = (ok.map(_._3).max - ok.map(_._1).min) / 1000.0
        r.e2e("rows_per_s") = (ok.size.toDouble * per / span, "rows/s")
      } else {
        def d(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
        r.layer("streaming.batches") = (batches.size.toDouble, "count")
        for ((m, k) <- Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
          "query_planning" -> "queryPlanning", "add_batch" -> "addBatch",
          "wal_commit" -> "walCommit", "commit" -> "commitOffsets", "trigger" -> "triggerExecution"))
          r.layer(s"streaming.${m}_ms") = (d(k), "ms")
        r.layer("streaming.queue_wait_ms_p50") = // from due time, as latency
          (Stats.median(ok.map { case (c, s, _) => (s - c).toDouble }), "ms")
        r.layer("streaming.rows_per_batch_p50") = (Stats.median(batches.map(_.rows.toDouble)), "rows")
        r.layer("streaming.backlog_files_max") =
          (batches.map(b => b.rows.toDouble / per).max, "files")
        r.layer("gen.late_ms_max") = (lateMax.toDouble, "ms")
        val tracedBatches = batches.count(_.start >= half)
        Layers.spark(r, Seq(tracedTotals), perOp = math.max(1, tracedBatches))
        Layers.overhead(r, ok.map { case (c, _, e) => ((e - c).toDouble, c >= half) })
      }
    }

    // output check: what landed equals batch Clean.* over the same files
    val source = FileJsonTableSource(landed.toString)
    import PipelineTable._
    for ((t, clean) <- Seq[(PipelineTable, DataFrame => DataFrame)](
        Pin -> Clean.pin, Geo -> Clean.geo, User -> Clean.user))
      r.check(s"pin_stream.${t.name}") {
        Main.rowHash(spark.read.parquet(out.resolve(s"data/${t.name}").toString)) ==
          Main.rowHash(clean(source.readBatch(spark, t)))
      }
  }
}
