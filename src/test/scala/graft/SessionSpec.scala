package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Session]] is the one place a session is configured: no other source
  * file may build its own, and the factory's session carries every shared
  * conf.
  */
class SessionSpec extends AnyFunSuite {

  test("no source file but graft/Session.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder" // split, so this file passes
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val scalaFiles = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(scalaFiles.contains(factory))
    val copies = scalaFiles.filter(p =>
      p != factory && Files.readString(p).contains(needle))
    assert(copies.isEmpty,
      s"build sessions through graft.Session, not: ${copies.mkString(", ")}")
  }

  test("the factory's session carries every shared conf") {
    val spark = Session(4)
    assert(spark.sparkContext.master == "local[4]")
    Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.ui.enabled" -> "false").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains("graft_wh"), wh)
  }

  test("SPARK_GRAFT_CPUS: a positive integer or unset, anything else fails") {
    assert(Session.parseCpus(None, 32) == 32)
    assert(Session.parseCpus(Some("8"), 32) == 8)
    Seq("", "0", "-2", "na", "4.5", "local[*]", " 8").foreach { v =>
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(v), 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }
}
