package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dev mains' shared session settings ([[DevSession.settings]], a pure
  * function: building a second session inside the test JVM would hand
  * back the suites' shared one) and their argument checks, which must
  * fail before any session is started.
  */
class DevSessionSpec extends AnyFunSuite {
  private def settings(env: Map[String, String], extra: (String, String)*) =
    DevSession.settings(env, availableProcessors = 6, extra)

  test("cores default to the available processors; SPARK_GRAFT_CPUS overrides") {
    assert(settings(Map.empty)("spark.master") == "local[6]")
    assert(settings(Map("SPARK_GRAFT_CPUS" -> "2"))("spark.master") == "local[2]")
  }

  test("shuffle partitions follow the cores unless overridden") {
    val parts = "spark.sql.shuffle.partitions"
    assert(settings(Map.empty)(parts) == "6")
    assert(settings(Map("SPARK_GRAFT_CPUS" -> "3"))(parts) == "3")
    assert(settings(Map("SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "64"))(parts) == "64")
  }

  test("UTC session time zone and UI off") {
    val s = settings(Map.empty)
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.ui.enabled") == "false")
    assert(s.keySet == Set("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.ui.enabled"))
  }

  test("caller pairs win over the defaults and the environment") {
    val s = settings(Map("SPARK_GRAFT_CPUS" -> "8"),
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    assert(s("spark.master") == "local[4]")
    assert(s("spark.sql.shuffle.partitions") == "4")
    assert(s("spark.sql.adaptive.enabled") == "false")
    assert(s("spark.sql.session.timeZone") == "UTC")
  }

  test("dev mains reject too few arguments with a usage error, before any session") {
    val calls: Seq[(String, () => Unit)] = Seq(
      "Verify" -> (() => Verify.main(Array("/tmp/sf"))),
      "ScaleData" -> (() => ScaleData.main(Array("/tmp/sf", "/tmp/out"))),
      "PlanDump" -> (() => PlanDump.main(Array.empty)),
      "PlanDump --out" -> (() => PlanDump.main(Array("q1_agg", "--out"))),
      "NgramProbe" -> (() => NgramProbe.main(Array.empty)),
      "ZipfCorpus" -> (() => ZipfCorpus.main(Array("/tmp/zipf"))))
    calls.foreach { case (name, call) =>
      val before = SparkSession.getDefaultSession
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("usage:"), s"$name: ${e.getMessage}")
      // neither started a session nor stopped the suites' shared one
      val after = SparkSession.getDefaultSession
      assert(after.map(System.identityHashCode) == before.map(System.identityHashCode), name)
      after.foreach(s => assert(!s.sparkContext.isStopped, name))
    }
  }
}
