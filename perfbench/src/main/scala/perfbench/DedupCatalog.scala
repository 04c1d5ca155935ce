package perfbench

import java.nio.file.{Files, Path}
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, min}
import org.apache.spark.sql.types._

/** The costliest composed dedup and curation catalog queries, each
  * built through `SparkEntry.queries` and written into a noop sink. */
object DedupCatalog {
  val names: Seq[String] = Layers.queries.map { p =>
    SparkEntry.queries.keys.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalStateException(s"no catalog query $p"))
  }

  def documents(o: Opts): Int = if (o.tiny) 300 else 500

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  /** A seeded `documents` table shaped like the catalog's test corpus:
    * 10-100 words from a small vocabulary, and one document in twenty a
    * lightly edited copy of an earlier one, so every dedup stage finds
    * work. */
  def writeDocuments(spark: SparkSession, dir: Path, n: Int, seed: Long): Unit = {
    val rng = new Random(seed)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      texts(i) =
        if (i > 10 && rng.nextInt(20) == 0) {
          val w = texts(rng.nextInt(i)).split(' ')
          rng.nextInt(4) match {
            case 0 => w.mkString(" ")
            case 1 => (w :+ "dup").mkString(" ")
            case 2 => w.updated(rng.nextInt(w.length), vocab(rng.nextInt(vocab.size))).mkString(" ")
            case _ => w.dropRight(1).mkString(" ")
          }
        } else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val u = rng.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, c), (l, p)) => (l, c + p) }
        .tail.find(_._2 > u).map(_._1).getOrElse("en")
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  /** Free what a query cached, outside the timed window, as graft.Bench does. */
  private def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The seed picks one of `corpora` documents tables; each one's oracle
    * hashes are recorded in dedup_oracle.json (run.py --record 1). */
  val corpora = 3
  def corpus(o: Opts): Long = Math.floorMod(o.seed, corpora.toLong)

  def run(o: Opts, r: Report): Unit = {
    val sf = o.work.resolve("sf")
    val results = o.work.resolve("results")
    // one set-up: a warm pass of the five queries costs as much as a timed
    // pass, so it runs once, at full size, and its results are the ones
    // the output checks read
    val spark = Main.setups(1, r) { _ =>
      val s = Main.benchSession(o.cores, "perfbench-dedup")
      writeDocuments(s, sf, documents(o), corpus(o))
      for (q <- names) {
        SparkEntry.queries(q)(s, sf.toString).write.mode("overwrite")
          .parquet(results.resolve(q).toString)
        teardown(s)
      }
      s
    }
    try {
      measure(o, r, spark, sf)
      checks(r, spark, sf, results)
      r.probeS = Main.hostProbe(spark, o.cores)
    } finally spark.stop()
  }

  /** One query of a pass: wall-clock start, end of build, end of write. */
  private final case class Step(t0: Long, t1: Long, t2: Long) {
    def build: Double = (t1 - t0) / 1000.0
    def write: Double = (t2 - t1) / 1000.0
  }

  private def measure(o: Opts, r: Report, spark: SparkSession, sf: Path): Unit = {
    val tracer = new Tracer
    val passes = collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val steps = collection.mutable.ArrayBuffer.empty[Map[String, Step]]
    val totals = collection.mutable.ArrayBuffer.empty[Totals]
    val w0 = System.nanoTime()
    var i = 0
    // a traced run needs one traced and one untraced pass for the overhead
    while ((System.nanoTime() - w0) / 1e9 < o.seconds || (o.trace && i < 2)) {
      val traced = o.trace && i % 2 == 0
      if (traced) { spark.sparkContext.addSparkListener(tracer); Trace.on = true }
      val before = Trace.totalsNow()
      var ok = true
      val step = Trace.span("dedup.pass", Map("traced" -> traced.toString)) {
        names.map { q =>
          r.attempted += 1
          val t0 = Trace.now()
          try {
            val df = Trace.span(s"queries.$q.build")(SparkEntry.queries(q)(spark, sf.toString))
            val t1 = Trace.now()
            Trace.span(s"queries.$q.write")(df.write.mode("overwrite").format("noop").save())
            q -> Step(t0, t1, Trace.now())
          } catch { case e: Throwable =>
            r.failed += 1; ok = false; r.notes(s"$q.pass$i") = e.toString.take(300)
            q -> Step(t0, t0, t0)
          } finally teardown(spark)
        }.toMap
      }
      if (traced) {
        // listener events are asynchronous; let the bus catch up
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(tracer); Trace.on = false
        totals += Trace.totalsNow().minus(before)
        steps += step
      }
      if (ok) passes += ((step.values.map(s => s.t2 - s.t0).sum.toDouble, traced))
      i += 1
    }
    r.notes("pass_ms_each") = passes.map(p => f"${p._1}%.0f").mkString(" ")
    if (!o.trace) {
      val p50 = Stats.median(passes.map(_._1).toSeq)
      r.e2e("latency_p50_ms") = (p50, "ms")
      r.e2e("rows_per_s") = (documents(o).toDouble * names.size / (p50 / 1000), "rows/s")
    } else {
      // jobs are attributed to build or write by their start time
      val jobStarts = Trace.allSpans().filter(_.name == "spark.job").map(_.start)
      def jobs(from: Long, to: Long) = jobStarts.count(t => t >= from && t < to).toDouble
      for (q <- names; p = q.takeWhile(_ != '_')) {
        def med(f: Step => Double) = Stats.median(steps.map(s => f(s(q))).toSeq)
        r.layer(s"queries.$p.build_s") = (med(_.build), "s")
        r.layer(s"queries.$p.write_s") = (med(_.write), "s")
        r.layer(s"queries.$p.jobs_build") = (med(s => jobs(s.t0, s.t1)), "count")
        r.layer(s"queries.$p.jobs_write") = (med(s => jobs(s.t1, s.t2)), "count")
      }
      Layers.spark(r, totals.toSeq)
      Layers.overhead(r, passes.toSeq)
    }
  }

  /** q45 has no SQL oracle, so it is checked here on its cluster
    * invariants; run.py compares the other results with recorded oracle
    * hashes. */
  private def checks(r: Report, spark: SparkSession, sf: Path, results: Path): Unit = {
    val oracles = SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"),
      names.filter(oracles.contains).map(q => Json.str(q) + ":" + Json.str(oracles(q)))
        .mkString("{", ",", "}"))
    val docs = spark.read.parquet(sf.resolve("documents.parquet").toString)
    val nDocs = docs.count()
    for (q <- names if !oracles.contains(q)) r.check(s"dedup_catalog.${q.takeWhile(_ != '_')}") {
      // every document exactly once, labelled by the least id of its
      // cluster, and every exact-duplicate text inside one cluster
      val lab = spark.read.parquet(results.resolve(q).toString)
        .select(col("doc_id"), col("keep_id").as("label"), col("is_duplicate"))
      val once = lab.count() == nDocs && lab.select("doc_id").distinct().count() == nDocs
      val flagged = lab.filter(col("is_duplicate") =!= (col("doc_id") =!= col("label"))).isEmpty
      val least = lab.groupBy("label").agg(min("doc_id").as("m"))
        .filter(col("m") =!= col("label")).isEmpty
      val dupsTogether = docs.join(lab, "doc_id").groupBy("text")
        .agg(countDistinct("label").as("k")).filter(col("k") > 1).isEmpty
      once && flagged && least && dupsTogether
    }
  }
}
