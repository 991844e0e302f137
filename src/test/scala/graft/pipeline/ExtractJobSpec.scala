package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.io.TableIO
import java.nio.file.{Files, Paths}

class ExtractJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(): String = Files.createTempDirectory("graft_job").toString

  test("job extracts all pages and commits an atomic batch") {
    val out = tmp()
    val s = ExtractJob.run(spark, "synthetic:200", out)
    assert(s.input == 200 && s.extracted == 200 && s.skippedDone == 0)
    val data = TableIO.readData(spark, out).get
    assert(data.count() == 200)
    assert(data.select("url").distinct().count() == 200)
    // bucket layout present
    assert(data.columns.contains("bucket"))
    // metrics table reconciles with data
    val m = TableIO.readMetrics(spark, out).get
    assert(m.agg(sum("urls_seen")).head.getLong(0) == 200)
    assert(!Files.exists(Paths.get(s"$out/.staging")) ||
      Files.list(Paths.get(s"$out/.staging")).count() == 0)
  }

  test("resume: second run skips all committed urls (idempotent)") {
    val out = tmp()
    val s1 = ExtractJob.run(spark, "synthetic:150", out)
    assert(s1.extracted == 150)
    val s2 = ExtractJob.run(spark, "synthetic:150", out)
    assert(s2.extracted == 0 && s2.skippedDone == 150)
    val data = TableIO.readData(spark, out).get
    assert(data.count() == 150) // no duplicates from the re-run
  }

  test("resume: mid-run growth extracts only the delta") {
    val out = tmp()
    ExtractJob.run(spark, "synthetic:100", out)
    val s2 = ExtractJob.run(spark, "synthetic:180", out) // same seed → first 100 identical
    assert(s2.extracted == 80 && s2.skippedDone == 100)
    assert(TableIO.readData(spark, out).get.select("url").distinct().count() == 180)
  }

  test("north rule: output byte-identical across parallelism levels") {
    val out1 = tmp(); val out2 = tmp()
    ExtractJob.run(spark, "synthetic:120", out1)
    // different partitioning of the same input
    import spark.implicits._
    val pages = graft.gen.SyntheticCorpus.generate(spark, 120, partitions = 7)
    val extracted = pages.repartition(13).mapPartitions(graft.extract.Extractor.run(_))
    val a = TableIO.readData(spark, out1).get
      .select("url", "markdown", "blocks_kept", "blocks_dropped", "ok")
      .orderBy("url").collect().toSeq
    val b = extracted.select("url", "markdown", "blocks_kept", "blocks_dropped", "ok")
      .orderBy("url").collect().toSeq
    assert(a == b)
  }

  test("staging garbage from a crashed run is invisible and cleaned") {
    val out = tmp()
    ExtractJob.run(spark, "synthetic:50", out)
    // simulate a crash: orphan staging dir with junk
    val orphan = Paths.get(s"$out/.staging/b99999")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    assert(TableIO.readData(spark, out).get.count() == 50) // reader unaffected
    val s = ExtractJob.run(spark, "synthetic:60", out) // next run clears + proceeds
    assert(s.extracted == 10)
    assert(TableIO.readData(spark, out).get.count() == 60)
  }

  test("parquet input: input counts the pages table, a re-run skips every page") {
    val pagesDir = tmp() + "/pages"
    graft.gen.SyntheticCorpus.generate(spark, 90).write.parquet(pagesDir)
    val out = tmp()
    val s1 = ExtractJob.run(spark, pagesDir, out)
    assert(s1.input == 90 && s1.extracted == 90 && s1.skippedDone == 0)
    val s2 = ExtractJob.run(spark, pagesDir, out)
    assert(s2.input == 90 && s2.extracted == 0 && s2.skippedDone == 90)
  }
}
