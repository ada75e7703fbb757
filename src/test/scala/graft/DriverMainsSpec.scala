package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.nio.file.Files
import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The artifacts of the driver mains: Bench's JSON numbers parse under
  * any locale, and Verify names every query that throws.
  */
class DriverMainsSpec extends AnyFunSuite with LocalSpark {

  private val json = new ObjectMapper()

  test("Bench JSON stays valid under a decimal-comma locale (de_DE)") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert("%.1f".format(1.5) == "1,5") // the locale does bite
      assert(Bench.jnum(1.5) == "1.500")
      val q = json.readTree(Bench.queriesLine(8, Seq("q1" -> 1.234, "q2" -> 0.5)))
      assert(q.get("cpus").asInt == 8)
      assert(q.get("queries").get("q1").asDouble == 1.23)
      val (full, compact) = Bench.streamBlocks(nLines = 1000L,
        streamSec = 2.5, statsRows = 300L, alertRows = 7L, s34Sec = 1.5,
        fileSec = 1.75, alertsF = 7L, graphSec = 4.0, statsG = 300L,
        alertsG = 7L)
      val f = json.readTree("{" + full.drop(1) + "}")
      assert(f.get("stream").get("sec").asDouble == 2.5)
      assert(f.get("stream").get("lines_per_sec").asDouble == 400.0)
      assert(f.get("stream_file").get("graph_lines_per_sec").asDouble == 250.0)
      val c = json.readTree("{" + compact.drop(1) + "}")
      assert(c.get("stream_file").get("g_lps").asDouble == 250.0)
    } finally Locale.setDefault(saved)
  }

  test("Verify.dump writes failures.json naming each query that threw") {
    val out = Files.createTempDirectory("graft_verify").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(3).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("planted")),
      // fails only when the write runs the plan
      "late" -> ((s, _) => s.range(3).selectExpr("raise_error('planted')")))
    val failures = Verify.dump(spark, "unused", out, queries)
    assert(failures.map(_._1) == Seq("boom", "late"))
    assert(failures.head._2 == "java.lang.IllegalStateException")
    assert(spark.read.parquet(s"$out/ok").count() == 3)
    val written = json.readTree(new File(s"$out/failures.json"))
    assert(written.size == 2)
    assert(written.get(0).get("name").asText == "boom")
    assert(written.get(0).get("exception").asText ==
      "java.lang.IllegalStateException")

    val clean = Files.createTempDirectory("graft_verify").toString
    assert(Verify.dump(spark, "unused", clean,
      queries.take(1)).isEmpty)
    assert(Files.readString(new File(s"$clean/failures.json").toPath) == "[]")
  }
}
