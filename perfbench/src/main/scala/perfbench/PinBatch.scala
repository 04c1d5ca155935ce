package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.pipeline.{Clean, PinQueries}
import graft.run.PipelineMain
import graft.sources.{FileJsonTableSource, PipelineTable}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The paper's batch job: `PipelineMain.main(landed, out)` in-process, each
  * call building and stopping its own session as the cron job does. */
object PinBatch {
  val tasks = Seq("task4", "task5", "task6_1", "task6_2", "task7", "task8",
    "task9", "task10", "task11")

  def records(o: Opts): Int = if (o.tiny) 1000 else 5000

  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The three landed topics, read and cleaned as PipelineMain does. */
  def cleaned(spark: SparkSession, landed: Path): (DataFrame, DataFrame, DataFrame) = {
    val source = FileJsonTableSource(landed.toString)
    import PipelineTable._
    (Clean.pin(source.readBatch(spark, Pin)), Clean.geo(source.readBatch(spark, Geo)),
      Clean.user(source.readBatch(spark, User)))
  }

  /** One traced call's layer split, read from the listener's SQL
    * executions (by output path) and its engine totals. */
  private final case class CallTrace(sessionS: Double, landS: Double,
      taskS: Map[String, Double], totals: Totals)

  def run(o: Opts, r: Report): Unit = {
    val n = records(o)
    val landed = o.work.resolve("landed")
    // PipelineMain takes its master from this property, like spark-submit
    System.setProperty("spark.master", s"local[${o.cores}]")
    // one set-up, whose warm pass is a whole call on the same input (a
    // smaller one left the first timed call about 20% slower than the
    // second): it costs about as much as a timed call
    Main.setups(1, r) { _ =>
      Main.deleteTree(landed)
      PipelineMain.main(Array("gen-topics", landed.toString, n.toString, o.seed.toString))
      PipelineMain.main(Array(landed.toString, o.work.resolve("out-warm").toString))
    }
    val landedBytes = bytesUnder(landed)

    val lat = collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val traces = collection.mutable.ArrayBuffer.empty[CallTrace]
    var lastOut: Path = null
    val w0 = System.nanoTime()
    var i = 0
    // at least two calls, one of each kind in a traced run
    while ((System.nanoTime() - w0) / 1e9 < o.seconds || i < 2) {
      val out = o.work.resolve(s"out-$i")
      // traced runs alternate traced and untraced calls: the difference
      // of their medians is the tracing overhead
      val traced = o.trace && i % 2 == 0
      if (traced) { System.setProperty("spark.extraListeners", "perfbench.Tracer"); Trace.on = true }
      val before = Trace.totalsNow()
      val t0 = Trace.now()
      r.attempted += 1
      val ok = try {
        Trace.span("pin_batch.call", Map("traced" -> traced.toString)) {
          PipelineMain.main(Array(landed.toString, out.toString))
        }
        true
      } catch { case e: Throwable =>
        r.failed += 1; r.notes(s"call$i") = e.toString.take(300); false }
      val t1 = Trace.now()
      if (traced) {
        System.clearProperty("spark.extraListeners"); Trace.on = false
        val sql = Trace.allSpans().filter(s => s.name == "spark.sql" && s.start >= t0 && s.end <= t1)
        def secs(f: String => Boolean) =
          sql.filter(s => f(s.attrs("target"))).map(s => s.end - s.start).sum / 1000.0
        traces += CallTrace((Trace.lastAppStart - t0) / 1000.0,
          secs(_.contains("/clean/")),
          tasks.map(t => t -> secs(_.endsWith(s"/tasks/$t"))).toMap,
          Trace.totalsNow().minus(before))
      }
      if (ok) {
        lat += (((t1 - t0).toDouble, traced))
        if (lastOut != null) Main.deleteTree(lastOut)
        lastOut = out
      }
      i += 1
    }
    r.notes("call_ms_each") = lat.map(p => f"${p._1}%.0f").mkString(" ")
    val untraced = lat.filterNot(_._2).map(_._1).toSeq
    if (!o.trace) {
      val p50 = Stats.median(untraced)
      r.e2e("latency_p50_ms") = (p50, "ms")
      r.e2e("rows_per_s") = (3.0 * n / (p50 / 1000.0), "rows/s")
    }

    val spark = Main.benchSession(o.cores, "perfbench-check")
    try {
      val (pin, geo, user) = cleaned(spark, landed)
      Seq(pin, geo, user).foreach(_.cache())
      r.check("pin_batch.clean_counts") {
        Seq(pin, geo, user).forall(_.count() == n)
      }
      val sqlForms = PinQueries.allSql(spark, pin, geo, user)
      for (t <- tasks) r.check(s"pin_batch.$t") {
        lastOut != null &&
          Main.rowHash(spark.read.parquet(lastOut.resolve(s"tasks/$t").toString)) ==
          Main.rowHash(sqlForms(t))
      }
      // uncached again, or the layer timings below would read the cache
      Seq(pin, geo, user).foreach(_.unpersist(blocking = true))
      if (o.trace) layers(o, r, spark, landedBytes, traces.toSeq, lat.toSeq)
      r.probeS = Main.hostProbe(spark, o.cores)
    } finally spark.stop()
  }

  private def layers(o: Opts, r: Report, spark: SparkSession, landedBytes: Long,
      traces: Seq[CallTrace], lat: Seq[(Double, Boolean)]): Unit = {
    val landed = o.work.resolve("landed")
    val source = FileJsonTableSource(landed.toString)
    def timed(body: => Unit): Double = {
      body // warm
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })
    }
    val scan = Trace.span("sources.scan") {
      timed(PipelineTable.all.foreach(t => noop(source.readBatch(spark, t))))
    }
    val cleanTotal = Trace.span("pipeline.clean") {
      timed {
        val (pin, geo, user) = cleaned(spark, landed)
        Seq(pin, geo, user).foreach(noop)
      }
    }
    def med(f: CallTrace => Double) = Stats.median(traces.map(f))
    r.layer("run.session_start_s") = (med(_.sessionS), "s")
    r.layer("sources.scan_s") = (scan, "s")
    r.layer("sources.json_read_amplification") =
      (med(_.totals.jsonBytes.toDouble) / landedBytes, "ratio")
    r.layer("pipeline.clean_s") = (cleanTotal - scan, "s")
    r.layer("pipeline.land_s") = (med(_.landS), "s")
    r.layer("pipeline.tasks_s") = (med(_.taskS.values.sum), "s")
    for (t <- tasks) r.layer(s"pipeline.task.${t}_s") = (med(_.taskS(t)), "s")
    Layers.spark(r, traces.map(_.totals))
    Layers.overhead(r, lat)
  }
}
