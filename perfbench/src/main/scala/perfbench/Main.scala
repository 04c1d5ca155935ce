package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Command-line options; `tiny` shrinks every size for the self-check. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, tiny: Boolean, work: Path, cores: Int)

/** What a workload reports: end-to-end metrics, per-layer metrics (only
  * filled when traced), named output checks and the operation tally. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  var probeS = 0.0 // host-regime probe, seconds
  def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable =>
      notes(s"check.$name") = e.toString.take(300); false }
    checks(name) = r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}

object Main {
  /** Confs `graft.Bench` pins for the catalog, at this host's core count. */
  def benchSession(cores: Int, app: String): SparkSession =
    SparkSession.builder().appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.cleaner.periodicGC.interval", "10min")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .getOrCreate()

  /** Order-independent content hash: row count plus the wrapping sum of
    * per-row xxhash64 over the columns in name order. Loss, duplication
    * or any changed value moves it. */
  def rowHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col).toSeq
    val hs = df.select(xxhash64(cols: _*)).collect().map(_.getLong(0))
    (hs.length.toLong, hs.foldLeft(0L)(_ + _))
  }

  /** Host-regime probe, shaped like graft.Bench's sentinel: a fixed
    * in-memory aggregate and sort with zero I/O; min of two after a warm
    * run. A diagnostic beside the numbers, not a gated metric. */
  def hostProbe(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions.{avg, max, sum}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4L * 1000 * 1000, 1, cores)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v").as("s"), avg("v").as("a"), max("v").as("m"))
        .orderBy("k").write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once(); math.min(once(), once())
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Median of `n` timed set-ups; the last one's product is kept. */
  def setups[T](n: Int, r: Report)(one: Int => T): T = {
    var out: Option[T] = None
    val secs = (0 until n).map { i =>
      val t0 = System.nanoTime()
      out = Some(Trace.span("setup", Map("i" -> i.toString))(one(i)))
      (System.nanoTime() - t0) / 1e9
    }
    r.e2e("setup_s") = (Stats.median(secs), "s")
    r.notes("setup_s_each") = secs.map(x => f"$x%.2f").mkString(" ")
    out.get
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("tiny", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    deleteTree(o.work)
    Files.createDirectories(o.work)
    Trace.runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}"
    val r = new Report
    val t0 = Trace.now()
    Trace.span("run", Map("workload" -> o.workload, "seed" -> o.seed.toString)) {
      o.workload match {
        case "pin_batch" => PinBatch.run(o, r)
        case "pin_stream" => PinStream.run(o, r)
        case "dedup_catalog" => DedupCatalog.run(o, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    if (o.trace) {
      Layers.complete(r)
      Trace.writeJson(o.work.resolve("spans.json"))
    }
    def metrics(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    val checks = r.checks.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val notes = r.notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    // one line for run.py, which adds its own checks and prints the result
    println(s"""PERFBENCH {"workload":${Json.str(o.workload)},"run":${Json.str(Trace.runId)},"wall_s":${(Trace.now() - t0) / 1000.0},"attempted":${r.attempted},"failed":${r.failed},"host_probe_s":${r.probeS},"peak_rss_mb":${peakRssMb()},"e2e":${metrics(r.e2e)},"layer":${metrics(r.layer)},"checks":$checks,"notes":$notes}""")
    System.out.flush()
  }
}
