package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$hint: ${extraA} rows only in left, ${extraB} rows only in right\n" +
        s"left=${a.collect().take(5).mkString("; ")}\nright=${b.collect().take(5).mkString("; ")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the conf set every main gets from graft.Sessions, taken as data
    // (Sessions.build would read the SPARK_GRAFT_CONF overlay), plus the
    // test-only keys
    val confs = Sessions.confs("", Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      // janino failures in our doGenCode must fail tests, not silently
      // drop the whole plan to interpreted mode
      "spark.sql.codegen.fallback" -> "false",
      "spark.ui.enabled" -> "false"))
    val s = confs.foldLeft(SparkSession.builder().appName("graft-tests")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
