package graft.bench

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{lit, raise_error}
import graft.SparkTestSession
import java.nio.file.Files

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private def query(name: String) = name -> (() => graft.SparkEntry.queries(name)(spark, sf))

  test("plan writes each query's formatted plan under the given directory") {
    val dir = Files.createTempDirectory("probe-plan")
    Probe.plan(spark, dir, "t", Seq(query("q01_pricing_agg")))
    val txt = Files.readString(dir.resolve("q01_pricing_agg_t.txt"))
    assert(txt.contains("HashAggregate"), txt)
  }

  test("exec-plans captures every execution with its duration, and marks failures") {
    val dir = Files.createTempDirectory("probe-exec")
    val boom = "boom" -> (() => spark.range(3).toDF().filter(raise_error(lit("injected failure")).isNull))
    val failed = Probe.execPlans(spark, dir, "t", Seq(query("q01_pricing_agg"), boom))
    assert(failed == Seq("boom"))
    val ok = Files.readString(dir.resolve("q01_pricing_agg_rounds_t.txt"))
    assert("""==== execution 1: action=count duration_ms=\d+\.\d ====""".r.findFirstIn(ok).isDefined, ok)
    assert(ok.contains("==== final plan (returned DataFrame) ===="))
    val bad = Files.readString(dir.resolve("boom_rounds_t.txt"))
    assert(bad.contains("==== execution 1 FAILED: action=count ===="), bad)
    assert(bad.contains("injected failure"), bad)
  }
}
