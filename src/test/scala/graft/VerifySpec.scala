package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** Verify's failure contract: a query that throws while planning or
  * while writing does not stop the others, and is named with its first
  * error line. */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("dumpAll keeps dumping past failures and names each failed query") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s, _) => s.range(3).toDF("id")),
      "q_plan" -> ((_, _) => throw new IllegalStateException("boom\nat line 2")),
      "q_exec" -> ((_, _) => Seq(1, 0).toDF("d").selectExpr("assert_true(d > 0) AS x")))
    val failures = Verify.dumpAll(spark, "unused", out, queries)
    assert(failures.keySet == Set("q_plan", "q_exec"), failures.toString)
    assert(failures("q_plan") == "java.lang.IllegalStateException: boom")
    assert(!failures("q_exec").contains("\n"))
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(Verify.jsonObject(failures.filter(_._1 == "q_plan")) ==
      "{\"q_plan\": \"java.lang.IllegalStateException: boom\"}")
    assert(Verify.jsonObject(Nil) == "{}")
  }
}
