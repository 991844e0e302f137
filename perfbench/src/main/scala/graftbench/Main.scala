package graftbench

import graft.core.ExtractedDoc
import graft.extract.Extractor
import graft.io.TableIO
import graft.pipeline.{CorpusJob, ExtractJob}
import graft.post.Postprocess
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** One benchmark process: builds a Spark session, makes sure the
  * workload's input table exists, runs one warm job that completes the
  * set-up, and then times back-to-back jobs for the requested seconds,
  * checking every job's output. With tracing on it also gathers the
  * per-layer metrics. `perfbench/run.py` starts this process and prints
  * the result; see `perfbench/README.md`.
  */
object Main {

  final case class Args(prepare: Boolean, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, size: Long, work: Path, result: Path,
                        launchNs: Long, injectFailure: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("prepare") == "1", need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("size").toLong, Path.of(need("work")).toAbsolutePath,
      Path.of(need("result")), need("launch-ns").toLong, need("inject-failure") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    try new Bench(a, res).run()
    catch {
      case e: Throwable =>
        e.printStackTrace()
        res.error = s"${e.getClass.getName}: ${e.getMessage}"
    }
    Files.createDirectories(a.result.toAbsolutePath.getParent)
    Files.writeString(a.result, res.json)
    System.exit(if (res.error.isEmpty) 0 else 1)
  }

  /** What one process hands back to run.py. */
  final class Result {
    var error = ""
    var setupS = 0.0
    var genS = 0.0
    var inputDigest = ""
    var attempted = 0L
    var failed = 0L
    val checks = ArrayBuffer.empty[String]
    val digests = ArrayBuffer.empty[String]
    val jobS = ArrayBuffer.empty[Double]
    val metrics = LinkedHashMap.empty[String, (Double, String)]

    def fail(msg: String): Unit = { failed += 1; checks += msg }

    private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString

    def json: String = {
      val ms = metrics.map { case (k, (v, u)) => s"${str(k)}:[${num(v)},${str(u)}]" }
      s"""{"error":${str(error)},"setup_s":${num(setupS)},"gen_s":${num(genS)},""" +
        s""""input_digest":${str(inputDigest)},""" +
        s""""attempted":$attempted,"failed":$failed,""" +
        s""""checks":[${checks.map(str).mkString(",")}],""" +
        s""""digests":[${digests.distinct.map(str).mkString(",")}],""" +
        s""""job_s":[${jobS.map(num).mkString(",")}],"metrics":{${ms.mkString(",")}}}"""
    }
  }
}

/** One timed job's outcome, as the job loop sees it. */
final case class JobOut(wallS: Double, rows: Long, failedRows: Long, digest: String,
                        pipeline: Map[String, Double], checks: Seq[String])

final class Bench(a: Main.Args, res: Main.Result) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val trace = new Trace(a.trace)
  private val jobsDir = a.work.resolve("jobs").resolve(s"p${ProcessHandle.current().pid()}")

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - a.launchNs) / 1e9}%7.2fs] $msg")

  private def inputs = a.work.resolve("inputs")

  def run(): Unit = if (a.prepare) prepare() else measureRun()

  /** The `--prepare 1` process: checks the cached input and generates it
    * when it is missing. */
  private def prepare(): Unit = {
    val t0 = System.nanoTime()
    res.inputDigest = Inputs.ensure(inputs, a.workload, a.seed, a.size, a.injectFailure).digest
    res.genS = (System.nanoTime() - t0) / 1e9
    log(f"inputs ready (${res.genS}%.2f s)")
  }

  private def measureRun(): Unit = {
    val root = trace.open("bench.process", -1, 0)
    val spark = trace.span("bench.session", root, 0)(_ => session())
    val readyS = (System.nanoTime() - a.launchNs) / 1e9
    try {
      val table = trace.span("bench.input_check", root, 0)(_ =>
        Inputs.check(inputs, a.workload, a.seed, a.size, a.injectFailure)).getOrElse(
        throw new IllegalStateException("the input table is missing or damaged; run with --prepare 1 first"))
      res.inputDigest = table.digest
      val work = a.workload match {
        case "extract" => new ExtractWork(spark, table, a)
        case "corpus" => new CorpusWork(spark, table, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      // the untimed warm job is part of set-up: a user pays it once per JVM
      val warm = trace.span("bench.warm_job", root, 0)(_ => runJob(work, 0))
      res.setupS = readyS + warm.wallS
      gate(warm, table.rows)
      log(f"set-up ${res.setupS}%.2f s (session $readyS%.2f s, warm job ${warm.wallS}%.2f s)")
      measure(spark, work, table, root)
      res.metrics("peak_rss_mb") = (Util.peakRssMb(), "MiB")
    } finally {
      Util.deleteTree(jobsDir)
      spark.stop()
      trace.close(root)
      if (a.trace)
        trace.write(a.work.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
    }
  }

  /** Job `n` in a fresh output directory. The first timed job's output
    * also gets the sample check; the digest check then extends it to
    * every other job. */
  private def runJob(work: Work, n: Int, around: Around = Around.plain): JobOut = {
    val out = jobsDir.resolve(s"job$n")
    Util.deleteTree(out)
    try work.run(out.toString, around, sample = n == 1) finally Util.deleteTree(out)
  }

  /** Checks every job's output; a failed check counts as a failure and
    * makes the run incorrect, never faster. */
  private def gate(j: JobOut, inputRows: Long): Unit = {
    j.checks.foreach(res.fail)
    if (j.rows != inputRows) res.fail(s"job read $inputRows pages but wrote ${j.rows} rows")
    res.failed += j.failedRows
    if (j.failedRows > 0) res.checks += s"${j.failedRows} rows came back ok=false"
    res.digests += j.digest
  }

  private def measure(spark: SparkSession, work: Work, table: Inputs.Table, root: Int): Unit = {
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    val traced = ArrayBuffer.empty[(JobOut, SparkProbe.Counters)]
    val untracedS = ArrayBuffer.empty[Double]
    // in the traced mode jobs run traced, untraced, untraced, traced, ...
    // so that the JIT warm-up trend falls on both halves alike, and the
    // tracing overhead is measured in the same process
    val jobs = Bench.jobCount(a.workload, a.seconds, a.trace)
    for (n <- 1 to jobs) {
      val tj = System.nanoTime()
      val j = probe.filter(_ => n % 4 < 2) match {
        case Some(p) =>
          trace.span("bench.job", root, n) { _ =>
            var c: SparkProbe.Counters = null
            val j = runJob(work, n, new Around {
              def apply[T](body: => T): T = { val (r, cs) = p.measure(s"job$n")(body); c = cs; r }
            })
            traced += ((j, c)); j
          }
        case None =>
          val j = runJob(work, n)
          if (a.trace) untracedS += j.wallS
          j
      }
      log(f"job $n: ${j.wallS}%.3f s, checked in ${(System.nanoTime() - tj) / 1e9 - j.wallS}%.2f s")
      res.jobS += j.wallS
      res.attempted += j.rows
      gate(j, table.rows)
    }
    if (res.digests.distinct.length > 1)
      res.fail(s"repeated jobs over one input gave different outputs: ${res.digests.distinct.mkString(", ")}")

    val wall = Stats.median(res.jobS.toSeq)
    val pages = table.rows.toDouble
    res.metrics("wall_s") = (wall, "s")
    res.metrics("docs_per_s") = (pages / wall, "docs/s")
    if (a.trace) {
      sparkMetrics(traced.toSeq)
      pipelineMetrics(traced.map(_._1).toSeq)
      val tracedWall = Stats.mean(traced.map(_._1.wallS).toSeq)
      val untracedWall = Stats.mean(untracedS.toSeq)
      res.metrics("trace.traced_docs_per_s") = (pages / tracedWall, "docs/s")
      res.metrics("trace.untraced_docs_per_s") = (pages / untracedWall, "docs/s")
      res.metrics("trace.overhead_share") = (tracedWall / untracedWall - 1, "share")
      trace.span("bench.layer_probe", root, 0)(s => layerMetrics(s))
    }
  }

  private def sparkMetrics(js: Seq[(JobOut, SparkProbe.Counters)]): Unit = {
    def med(f: SparkProbe.Counters => Double) = Stats.median(js.map(x => f(x._2)))
    val m = res.metrics
    m("spark.executor_run_s") = (med(_.runS), "s")
    m("spark.executor_cpu_s") = (med(_.cpuS), "s")
    m("spark.gc_s") = (med(_.gcS), "s")
    m("spark.busy_share") = (Stats.median(js.map { case (j, c) => c.runS / (j.wallS * cores) }), "share")
    m("spark.shuffle_write_bytes") = (med(_.shuffleWriteBytes.toDouble), "bytes")
    m("spark.shuffle_read_bytes") = (med(_.shuffleReadBytes.toDouble), "bytes")
    m("spark.spill_bytes") = (med(_.spillBytes.toDouble), "bytes")
    m("spark.input_bytes") = (med(_.inputBytes.toDouble), "bytes")
    m("spark.output_bytes") = (med(_.outputBytes.toDouble), "bytes")
    m("spark.stages") = (med(_.stages.toDouble), "count")
    m("spark.tasks") = (med(_.tasks.toDouble), "count")
    m("spark.failed_tasks") = (js.map(_._2.failedTasks).sum.toDouble, "count")
    m("spark.task_skew") = (med(_.taskSkew), "ratio")
  }

  private def pipelineMetrics(js: Seq[JobOut]): Unit =
    Work.PipelineMetrics.foreach { case (k, unit) =>
      res.metrics(k) = (Stats.median(js.map(_.pipeline.getOrElse(k, 0.0))), unit)
    }

  /** Single-thread layer pass over a deterministic page sample, after
    * warm passes; the medians of the measured passes are reported. */
  private def layerMetrics(parent: Int): Unit = {
    val step = math.max(1L, a.size / Bench.LayerDocs)
    val pages = (0L until a.size by step).take(Bench.LayerDocs).map { i =>
      val p = Inputs.page(a.workload, a.seed, a.size, i); (p.url, p.html)
    }
    // warm passes; the first also counts and checks each page against
    // Extractor.extract, which the measured passes must not pay for
    val off = new Trace(false)
    var counts: LayerProbe.Counts = null
    val mds = new Array[String](pages.length)
    LayerProbe.pass(pages, off, -1, 0, Some((c: LayerProbe.Counts) => counts = c), Some(mds))
    (1 to 2).foreach(_ => LayerProbe.pass(pages, off, -1, 0, None))
    val passes = (1 to 3).map { r =>
      trace.span("extract.pass", parent, r) { s =>
        LayerProbe.pass(pages, trace, s, r.toLong * pages.length, None)
      }
    }
    val m = res.metrics
    val totalS = Stats.median(passes.map(_.totalNs / 1e9))
    LayerProbe.Layers.zipWithIndex.foreach { case (name, k) =>
      m(name) = (Stats.median(passes.map(_.layerNs(k) / 1e9)), "s")
    }
    val layerSum = LayerProbe.Layers.map(m(_)._1).sum
    m("extract.single_thread_s") = (totalS, "s")
    m("extract.layer_share") = (layerSum / totalS, "share")
    m("extract.single_thread_docs_per_s") = (pages.length / totalS, "docs/s")
    val docUs = passes.flatMap(_.docNs.map(_ / 1e3))
    m("extract.doc_p50_us") = (Stats.percentile(docUs, 50), "us")
    m("extract.doc_p99_us") = (Stats.percentile(docUs, 99), "us")
    // standalone stage timings; they overlap post.postprocess_s
    m("post.truncate_repetitions_s") = (Stats.median((1 to 3).map(_ =>
      LayerProbe.timeStage(mds)(s => Postprocess.truncateRepetitions(s)) / 1e9)), "s")
    m("post.remove_hallucinated_refs_s") = (Stats.median((1 to 3).map(_ =>
      LayerProbe.timeStage(mds)(s => Postprocess.removeHallucinatedReferences(s)) / 1e9)), "s")
    m("html.tokens") = (counts.tokens.toDouble, "count")
    m("html.dom_nodes") = (counts.domNodes.toDouble, "count")
    m("extract.blocks_kept") = (counts.blocksKept.toDouble, "count")
    m("extract.blocks_dropped") = (counts.blocksDropped.toDouble, "count")
    m("extract.spans") = (counts.spans.toDouble, "count")
    m("extract.html_bytes") = (counts.htmlBytes.toDouble, "bytes")
    m("extract.md_bytes") = (counts.mdBytes.toDouble, "bytes")
    m("post.repetition_truncated") = (counts.repetitionTruncated.toDouble, "count")
    m("post.slices_removed") = (counts.slicesRemoved.toDouble, "count")
    if (counts.mismatches > 0)
      res.fail(s"layer pass disagreed with Extractor.extract on ${counts.mismatches} pages")
  }
}

object Bench {

  /** Pages in the traced single-thread layer pass (at most --size). */
  val LayerDocs = 4000

  /** A warm job's time on a 4-vCPU host at the default input size. */
  private val NominalJobS = Map("extract" -> 3.0, "corpus" -> 6.5)

  /** Timed jobs in a run: as many as take about `seconds` on that host,
    * and at least three. The count does not depend on how fast the jobs
    * run, so every build is measured at the same job positions of the
    * JVM's warm-up. A traced run rounds it up to whole groups of four
    * traced/untraced jobs. */
  def jobCount(workload: String, seconds: Double, traced: Boolean): Int = {
    val n = math.max(3, math.round(seconds / NominalJobS(workload)).toInt)
    if (traced) (n + 3) / 4 * 4 else n
  }
}

/** Wraps the timed job call; the traced mode brackets it with the
  * Spark listener's markers, outside the timed region. */
trait Around { def apply[T](body: => T): T }

object Around {
  val plain: Around = new Around { def apply[T](body: => T): T = body }
}

/** A workload's job over its input table. `run` times only the job
  * call; the checks after it are untimed. */
abstract class Work(spark: SparkSession, table: Inputs.Table, a: Main.Args) {
  def run(outDir: String, around: Around, sample: Boolean): JobOut

  protected def timed[T](around: Around)(body: => T): (T, Double) = around {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A fixed 1-in-k page sample and its in-process single-thread
    * `Extractor.extract` result. */
  private lazy val expected: Map[String, ExtractedDoc] =
    (0L until a.size by Work.SampleEvery.toLong).map { i =>
      val p = Inputs.page(a.workload, a.seed, a.size, i)
      p.url -> Extractor.extract(p.url, p.html)
    }.toMap

  /** Checks an extract table: the sampled pages must equal the
    * single-thread result in every field, markdown and span offsets
    * included. */
  protected def sampleCheck(extractDir: String, sample: Boolean): Seq[String] = {
    import spark.implicits._
    if (!sample) return Nil
    val got = TableIO.readData(spark, extractDir).get
      .filter(col("url").isin(expected.keys.toSeq: _*))
      .select(Work.ExtractCols.map(col): _*).as[ExtractedDoc].collect()
      .map(d => d.url -> d).toMap
    val bad = expected.count { case (u, d) => !got.get(u).contains(d) }
    if (bad == 0) Nil
    else Seq(s"$bad of ${expected.size} sampled pages differ from Extractor.extract")
  }
}

object Work {
  /** One page in this many is checked against `Extractor.extract`. */
  val SampleEvery = 50

  /** Pipeline- and corpus-layer metrics; a workload that does not run a
    * stage reports 0 for it. */
  val PipelineMetrics: Seq[(String, String)] = Seq(
    "pipeline.extract_s" -> "s", "pipeline.scrub_s" -> "s", "pipeline.assemble_s" -> "s",
    "corpus.template_lines" -> "count", "corpus.dup_dropped" -> "count",
    "corpus.quality_dropped" -> "count", "corpus.docs" -> "count")

  /** Every `ExtractedDoc` field, in declaration order. */
  val ExtractCols = Seq("url", "markdown", "spans", "blocks_kept", "blocks_dropped",
    "span_counts", "ok", "error", "references")

  /** The hashable ones (Spark does not hash maps; span_counts is a
    * function of spans). */
  val ExtractDigestCols: Seq[String] = ExtractCols.filter(_ != "span_counts")
}

/** `ExtractJob.run`: parquet scan → extract → bucketed commit. */
final class ExtractWork(spark: SparkSession, table: Inputs.Table, a: Main.Args)
    extends Work(spark, table, a) {

  def run(outDir: String, around: Around, sample: Boolean): JobOut = {
    val (s, wall) = timed(around)(ExtractJob.run(spark, table.path, outDir))
    val (rows, digest) = Inputs.digest(TableIO.readData(spark, outDir).get, Work.ExtractDigestCols)
    val checks =
      (if (s.input != table.rows) Seq(s"ExtractJob saw ${s.input} input rows, the table has ${table.rows}")
       else Nil) ++ sampleCheck(outDir, sample)
    JobOut(wall, rows, s.failed, digest, Map("pipeline.extract_s" -> s.wallSec), checks)
  }
}

/** `CorpusJob.run`: extract → template scrub → exact dedup → quality
  * gate → split, three tables written and read back. The scrub, dedup
  * and quality stages are checked against [[CorpusReference]], computed
  * from the checked job's own extract table. */
final class CorpusWork(spark: SparkSession, table: Inputs.Table, a: Main.Args)
    extends Work(spark, table, a) {
  import spark.implicits._

  private var ref: Option[CorpusReference] = None

  private def urlToMarkdown(dir: String): Map[String, String] =
    TableIO.readData(spark, dir).get.select("url", "markdown").as[(String, String)].collect().toMap

  private def differ(name: String, got: Map[String, String], want: Map[String, String]): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).count(u => got.get(u) != want.get(u))
    if (bad == 0) Nil else Seq(s"$bad urls of the $name table differ from the reference")
  }

  /** The sampled job builds the reference and compares the scrub and
    * corpus tables with it row by row; every later job's counts are
    * compared with it, and its tables through the digest. */
  private def referenceChecks(outDir: String, s: CorpusJob.Summary, sample: Boolean): Seq[String] = {
    val rowChecks = if (!sample) Nil else {
      val docs = TableIO.readData(spark, s"$outDir/extract").get.filter(col("ok"))
        .select("url", "markdown").as[(String, String)].collect().toSeq
      val r = CorpusReference(docs)
      ref = Some(r)
      val tokens = TableIO.readData(spark, s"$outDir/corpus").get.select("markdown", "n_tokens")
        .as[(String, Int)].collect().count { case (md, n) => n != CorpusReference.tokens(md) }
      differ("scrub", urlToMarkdown(s"$outDir/scrub"), r.scrubbed) ++
        differ("corpus", urlToMarkdown(s"$outDir/corpus"), r.corpus) ++
        (if (tokens == 0) Nil else Seq(s"$tokens corpus rows have an n_tokens other than the reference's")) ++
        (if (r.templateLines >= 2L * CorpusPages.multiPageHosts(a.seed, a.size)) Nil
         else Seq(s"scrub found ${r.templateLines} template lines, fewer than two per host with two or more pages"))
    }
    rowChecks ++ ref.toSeq.flatMap { r =>
      Seq(
        ("template_lines", s.scrub.templateLines, r.templateLines),
        ("dup_dropped", s.dupDropped, r.dupDropped),
        ("quality_dropped", s.qualityDropped, r.qualityDropped),
        ("docs", s.docs, r.corpus.size.toLong)
      ).collect { case (k, got, want) if got != want => s"summary $k $got, reference $want" }
    }
  }

  def run(outDir: String, around: Around, sample: Boolean): JobOut = {
    val (s, wall) = timed(around)(CorpusJob.run(spark, table.path, outDir))
    val (_, digest) = Inputs.digest(TableIO.readData(spark, s"$outDir/corpus").get,
      Seq("url", "host", "markdown", "n_tokens", "fp", "split"))
    val checks = referenceChecks(outDir, s, sample) ++ sampleCheck(s"$outDir/extract", sample)
    val extractS = s.extract.wallSec
    val scrubS = s.scrub.wallSec
    JobOut(wall, s.extract.extracted, s.extract.failed, digest,
      Map("pipeline.extract_s" -> extractS, "pipeline.scrub_s" -> scrubS,
        "pipeline.assemble_s" -> (s.wallSec - extractS - scrubS),
        "corpus.template_lines" -> s.scrub.templateLines.toDouble,
        "corpus.dup_dropped" -> s.dupDropped.toDouble,
        "corpus.quality_dropped" -> s.qualityDropped.toDouble,
        "corpus.docs" -> s.docs.toDouble),
      checks)
  }
}
