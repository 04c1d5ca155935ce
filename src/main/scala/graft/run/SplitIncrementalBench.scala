package graft.run

import graft.{Measure, Sessions}
import org.apache.spark.sql.functions._

/** Production-grain measurement of the incremental sticky split (r17
  * verdict item 2): q212's CATALOG entry is self-contained — it
  * recomputes the prior snapshot's split (two full minhash chains)
  * inside the timed window, so its number of record overstates the
  * operator. The production contract takes the PUBLISHED assignment
  * table and the union pair set as inputs; this main materializes both
  * to parquet once (untimed), then times only
  * [[graft.operators.CorpusPrep.leakageSafeSplitIncremental]] — the
  * delta-grain work: one connected-components pass over the verified
  * pairs, doc-grain joins, and the two-flag census.
  *
  * Usage: runMain graft.run.SplitIncrementalBench <sfDir> [reps=3]
  * Prints ONE JSON line (same spread shape as Bench) for merging into
  * the dedicated artifact.
  */
object SplitIncrementalBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Sessions.build("graft-split-incremental-bench")
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("graft-sib").toString
    // ---- untimed: materialize the production inputs (q212's fixture
    // split: snapshot 1 = doc_id % 3 != 0, snapshot 2 adds the rest)
    val docs = graft.Tables.load(spark, dir, "documents")
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.minhashCandidatePairs(
        d, "doc_id", "text", shingleSize = 3, numHashes = 32,
        bands = 8, threshold = 0.5,
        shingleHasher = graft.functions.TextFunctions.md5ShingleHashes)
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    graft.operators.CorpusPrep.leakageSafeSplit(
        oldDocs, "doc_id", pairsOf(oldDocs), testPct = 10)
      .select(col("doc_id"), col("side"))
      .write.mode("overwrite").parquet(s"$root/assigned")
    pairsOf(docs).write.mode("overwrite").parquet(s"$root/pairs")
    Measure.teardown(spark)
    // ---- timed: the operator alone over the materialized inputs
    val samples = (1 to reps).map { _ =>
      val assigned = spark.read.parquet(s"$root/assigned")
      val pairs = spark.read.parquet(s"$root/pairs")
      val t0 = System.nanoTime()
      Measure.noop(graft.operators.CorpusPrep.leakageSafeSplitIncremental(
          assigned, graft.operators.Fanout.forKernel(docs), "doc_id", pairs,
          testPct = 10))
      val sec = (System.nanoTime() - t0) / 1e9
      Measure.teardown(spark)
      sec
    }.sorted
    val med = samples(samples.size / 2)
    println(
      f"""{"metric":"q212_materialized_inputs","sf":"$dir","reps":$reps,""" +
      f""""samples":${samples.map(s => f"$s%.3f").mkString("[", ",", "]")},""" +
      f""""min":${samples.min}%.3f,"median":$med%.3f}""")
    spark.stop()
  }
}
