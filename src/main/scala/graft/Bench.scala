package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Wall-clock budget for TIMED SAMPLES (seconds). Once cumulative
    // sample time exceeds it, later passes stop early so the cheapest
    // queries degrade from `reps` samples to 1 — sub-second queries
    // cannot materially breach a 2x gate, while the expensive queries
    // (where a median matters most) keep their full rep count because
    // passes >= 2 visit queries most-expensive-first. r6 post-mortem:
    // the driver's bench timed out (rc=124) and, because the summary
    // printed once at the END, the artifact was empty. Now every
    // completed pass re-prints a full summary line, so a kill at any
    // point leaves the latest complete summary on stdout.
    // 480 (was 240): the 189-query catalog's pass 1 alone costs ~150 s,
    // so a 240 s budget left pass 2+ mostly unrun — n=1 medians that two
    // consecutive judge verdicts could not adjudicate against host
    // noise. 480 funds a full second pass (most-expensive-first) plus
    // most of a third for the queries where a median matters; the
    // per-sample compact summary lines keep any harness kill harmless.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "480").toDouble
    val spark = Sessions.build("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // warmup pass at the smallest sf: JIT + whole-stage-codegen compile
    // per query shape, so timed numbers measure the engine, not javac
    val warmDir = "/root/testdata/sf0.001"
    var sentinelStart = -1.0
    var sentinelEnd = -1.0
    def sentinelJson: String = {
      def r3(x: Double) = math.round(x * 1000) / 1000.0
      s"""{"start":${r3(sentinelStart)},"end":${r3(sentinelEnd)}}"""
    }
    // SPARK_GRAFT_ONLY: comma-separated name prefixes — bench just those
    // queries (local iteration aid; driver leaves it unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // per_query_ms keys each query by its qNN prefix: two names sharing
    // one would overwrite a key and drop a query from the comparison
    val prefixes = named.map(_._1.takeWhile(_ != '_'))
    require(prefixes.distinct.size == prefixes.size,
      s"qNN prefixes must be unique: ${prefixes.diff(prefixes.distinct).mkString(",")}")
    Measure.warmUp(spark, warmDir, sfDir, named.map(_._2))
    // N timed samples per query, taken ROUND-ROBIN (q1..qn, q1..qn, ...)
    // so a transient machine-load spike lands in at most one sample per
    // query instead of all of them; the median then rejects it. A
    // single-sample harness (rounds 1-5) could not distinguish a real
    // regression from load — 27 queries "regressed" >2x on unchanged
    // code in r5.
    val samples = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failed = collection.mutable.Set.empty[String]
    var spent = 0.0 // cumulative timed-sample seconds, checked vs budgetSec
    def median(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // contract: a query that threw on ANY rep reports -1, never a
    // time-of-failure that would read as a (fast) success
    def summaryLine(pass: Int): String = {
      val stats = named.map { case (name, _) =>
        val v = samples(name)
        if (failed(name) || v.isEmpty) (name, -1.0, -1.0, -1.0)
        else (name, median(v), v.min, v.max)
      }
      val qs = stats.map { case (k, m, _, _) => s"\"" + k + "\":" + m }
        .mkString("{", ",", "}")
      val spread = stats.map { case (k, m, mn, mx) =>
        s"\"" + k + "\":" + s"""{"median":$m,"min":$mn,"max":$mx,"n":${samples(k).size}}"""
      }.mkString("{", ",", "}")
      val total = stats.filter(_._2 >= 0).map(_._2).sum
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"sentinel":$sentinelJson,"reps":$pass,"sf":"$sfDir"}"""
    }
    // Compact twin of summaryLine: total + counts only, NO per-query maps.
    // r7 post-mortem: the full summary for 129 queries is ~8 KB on one
    // line, but the driver's tail capture holds ~2.3 KB — the stored tail
    // began MID-line, so a clean rc=0 run still produced parsed:null (two
    // rounds running). This line is <200 bytes, printed AFTER the full
    // summary, so the final line of stdout is always a complete JSON
    // object no matter how small the tail buffer is. The big line and the
    // per-sample JSONL stay for humans.
    def compactLine(pass: Int): String = {
      val meds = named.map { case (name, _) =>
        val v = samples(name)
        if (failed(name) || v.isEmpty) -1.0 else median(v)
      }
      val total = meds.filter(_ >= 0).sum
      // total_min rides in the same line: sum of per-query MINIMUM
      // sample times. Two rounds in a row (r6, r9->r10) a median-total
      // swing on unchanged code needed manual adjudication as host
      // noise; the min is the noise-robust round-over-round comparator
      // (load spikes only ever ADD time, so the min converges on the
      // quiet-host cost) while the median keeps reporting the spread.
      val totalMin = named.map { case (name, _) =>
        val v = samples(name)
        if (failed(name) || v.isEmpty) -1.0 else v.min
      }.filter(_ >= 0).sum
      def r3(x: Double) = math.round(x * 1000) / 1000.0
      s"""{"metric":"total","value":${r3(total)},"total_min":${r3(totalMin)},"unit":"sec","n_queries":${named.size},"n_failed":${failed.size},"reps":$pass,"sf":"$sfDir"}"""
    }
    // Compact PER-QUERY map (r20 verdict item 8): median milliseconds
    // under short keys — the qNN prefix, unique across the catalog — so
    // the complete 213-query map fits in ~2.6 KB and survives the
    // driver's tail capture (the full summaryLine is ~17 KB and lands
    // truncated, which left PERF_r20 with n_common=0). Printed BETWEEN
    // the full summary and the final total/total_min lines; the final
    // line's byte format is untouched.
    def perQueryMsLine(pass: Int): String = {
      val qs = named.map { case (name, _) =>
        val v = samples(name)
        val ms = if (failed(name) || v.isEmpty) -1L
          else math.round(median(v) * 1000)
        s"\"" + name.takeWhile(_ != '_') + "\":" + ms
      }.mkString("{", ",", "}")
      s"""{"metric":"per_query_ms","reps":$pass,"q":$qs}"""
    }
    // Standalone total_min line, printed BEFORE the compact total line so
    // the process's final stdout line keeps "metric":"total" (the shape
    // the driver has parsed since r10) while a grep for total_min finds a
    // complete JSON object of its own.
    def minLine(pass: Int): String = {
      val totalMin = named.map { case (name, _) =>
        val v = samples(name)
        if (failed(name) || v.isEmpty) -1.0 else v.min
      }.filter(_ >= 0).sum
      s"""{"metric":"total_min","value":${math.round(totalMin * 1000) / 1000.0},"unit":"sec","n_queries":${named.size},"n_failed":${failed.size},"reps":$pass,"sf":"$sfDir"}"""
    }
    def sample(name: String, fn: Measure.Query, pass: Int): Unit = {
      val t0 = System.nanoTime()
      try Measure.noop(fn(spark, sfDir)) catch { case _: Throwable => failed += name }
      val sec = (System.nanoTime() - t0) / 1e9
      samples(name) = samples(name) :+ sec
      spent += sec
      // one JSONL progress line per sample, distinct key from the
      // summary's "metric" so the driver's summary parse is unaffected
      // but a timeout still leaves per-query evidence on stdout.
      // Explicit flush: stdout under a pipe is BLOCK-buffered — a
      // timeout kill would discard everything still in the buffer,
      // which is exactly the data this line exists to preserve.
      println(s"""{"bench_sample":{"q":"$name","pass":$pass,"sec":$sec,"ok":${!failed(name)}}}""")
      // ... immediately chased by the <200-byte compact summary so that
      // ANY tail window of stdout — however a timeout kill lands —
      // contains a complete parseable summary line, not just JSONL
      // sample evidence (r6: rc=124 mid-pass left an empty artifact).
      println(compactLine(pass))
      System.out.flush()
      Measure.teardown(spark)
    }
    // host-regime sentinel at window start and end
    sentinelStart = Measure.sentinel(spark, Sessions.cpus)
    println(s"""{"bench_sentinel":{"when":"start","sec":$sentinelStart}}""")
    System.out.flush()
    // pass 1: every query gets one sample regardless of budget —
    // partial data beats no data
    for ((name, fn) <- named) sample(name, fn, 1)
    println(summaryLine(1)); println(perQueryMsLine(1)); println(minLine(1)); println(compactLine(1)); System.out.flush()
    // passes 2..reps: most-expensive-first (by pass-1 time), so when the
    // budget trips, the queries losing reps are the cheapest ones.
    // Queries already in `failed` are skipped: their summary value is
    // pinned at -1 regardless, so re-sampling a deterministic failure
    // only burns budget that healthy expensive queries need for reps.
    for (pass <- 2 to reps) {
      val order = named.filterNot { case (n, _) => failed(n) }
        .sortBy { case (n, _) => -samples(n).headOption.getOrElse(0.0) }
      for ((name, fn) <- order if spent < budgetSec) sample(name, fn, pass)
      println(summaryLine(pass)); println(perQueryMsLine(pass)); println(minLine(pass)); println(compactLine(pass)); System.out.flush()
    }
    sentinelEnd = Measure.sentinel(spark, Sessions.cpus)
    println(s"""{"bench_sentinel":{"when":"end","sec":$sentinelEnd}}""")
    System.out.flush()
    // Final re-print AFTER logging is forced off and the session is
    // stopped: executor/shutdown WARNs can otherwise interleave into the
    // captured tail after the summary (the r6 artifact ended on
    // SimpleFunctionRegistry WARNs). With logs off and sbt's output
    // passthrough (build.sbt: StdoutOutput + showSuccess:=false), the
    // process's final stdout line is always this complete <200-byte JSON
    // object, whatever the driver's tail-buffer size.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(summaryLine(reps)); println(perQueryMsLine(reps)); println(minLine(reps)); println(compactLine(reps)); System.out.flush()
  }
}
