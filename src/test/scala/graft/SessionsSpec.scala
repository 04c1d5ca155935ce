package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session conf set, checked as data: building a second
  * session here would rewrite the confs of the shared SparkSpec one. */
class SessionsSpec extends AnyFunSuite {
  private val preset = Sessions.confs("", props = Map.empty)

  test("preset pins UTC, ANSI off, raw-nanos parquet and cpus shuffle partitions") {
    assert(preset("spark.master") == s"local[${Sessions.cpus}]")
    assert(preset("spark.sql.session.timeZone") == "UTC")
    assert(preset("spark.sql.ansi.enabled") == "false")
    assert(preset("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(preset("spark.sql.shuffle.partitions") == Sessions.cpus.toString)
  }

  test("overlay entries override preset keys and per-call overrides") {
    val c = Sessions.confs(" spark.sql.shuffle.partitions = 7 ;; bad ;x.y=1=2",
      Seq("spark.sql.shuffle.partitions" -> "3", "spark.sql.adaptive.enabled" -> "false"),
      Map.empty)
    assert(c("spark.sql.shuffle.partitions") == "7")
    assert(c("spark.sql.adaptive.enabled") == "false")
    assert(c("x.y") == "1=2")
    assert(!c.contains("bad"))
    assert(c("spark.sql.session.timeZone") == "UTC")
  }

  test("spark-submit properties win over the preset") {
    val c = Sessions.confs("", props = Map("spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "11", "spark.sql.session.timeZone" -> "Etc/GMT+1"))
    assert(c("spark.master") == "local[3]")
    assert(c("spark.sql.shuffle.partitions") == "11")
    assert(c("spark.sql.session.timeZone") == "Etc/GMT+1")
    assert(c("spark.sql.files.maxPartitionBytes") == preset("spark.sql.files.maxPartitionBytes"))
  }

  test("a cluster master keeps the shared keys but drops the local-only presets") {
    val c = Sessions.confs("", props = Map("spark.master" -> "spark://head:7077"))
    assert(c("spark.master") == "spark://head:7077")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
      "spark.cleaner.periodicGC.interval").foreach(k => assert(!c.contains(k), k))
  }
}
