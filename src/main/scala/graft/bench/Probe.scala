package graft.bench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path, Paths}

/** Query measurement and plan evidence for optimization work, one CLI
  * on one session (local[cores], cores per [[GraftSession.cores]]):
  *
  * {{{
  * Probe time [rounds] [query ...]            interleaved timing, default 3 rounds
  * Probe plan <round> <tag> <query ...>       final formatted plan → plans/<round>/<query>_<tag>.txt
  * Probe exec-plans <round> <tag> <query ...> every executed plan → plans/<round>/<query>_rounds_<tag>.txt
  * Probe plans-md [sfDir]                     annotated plans → BENCH/PLANS.md (sfDir default sf0.01)
  * }}}
  * `time`, `plan` and `exec-plans` read the tables in SPARK_GRAFT_SF_DIR
  * (default: sf0.1, as Bench). Exits 1 when an `exec-plans` query fails.
  */
object Probe {

  private val usage =
    "usage: Probe time [rounds] [query ...] | plan <round> <tag> <query ...> | " +
      "exec-plans <round> <tag> <query ...> | plans-md [sfDir]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val rest = args.drop(1).toSeq
    require(Set("time", "plan", "exec-plans", "plans-md")(mode), usage)
    require(mode == "time" || mode == "plans-md" || rest.length >= 3, usage)
    val sfDir =
      if (mode == "plans-md") rest.headOption.getOrElse("/root/testdata/sf0.01")
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(s"graft-probe-$mode", GraftSession.cores())
    spark.sparkContext.setLogLevel("ERROR")
    def queries(names: Seq[String]): Seq[(String, () => DataFrame)] = {
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      names.map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir)))
    }
    val failed = try mode match {
      case "time" =>
        // rounds is OPTIONAL: only consume it when it parses as an int,
        // so `Probe time q52 q57` probes both queries
        val roundsOpt = rest.headOption.flatMap(_.toIntOption)
        val names = if (roundsOpt.isDefined) rest.drop(1) else rest
        time(spark, queries(if (names.nonEmpty) names else Seq("q40_trained_recall", "q49_probe_sweep")),
          roundsOpt.getOrElse(3))
        Nil
      case "plan" =>
        plan(spark, Paths.get("plans", rest(0)), rest(1), queries(rest.drop(2)))
        Nil
      case "exec-plans" =>
        execPlans(spark, Paths.get("plans", rest(0)), rest(1), queries(rest.drop(2)))
      case "plans-md" =>
        plansMd(spark, sfDir)
        Nil
    } finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Times the queries INTERLEAVED over `rounds` after an untimed
    * warm-up (codegen + C2 for each exact plan): every query samples
    * once per round, so all of them share each round's host-noise
    * window. Prints per-query best/median. */
  def time(spark: SparkSession, qs: Seq[(String, () => DataFrame)], rounds: Int): Unit = {
    qs.foreach { case (_, q) => q().count(); spark.catalog.clearCache() }
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    for (_ <- 1 to rounds; (name, q) <- qs) {
      val t0 = System.nanoTime()
      q().count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      samples(name) = samples.getOrElse(name, Vector.empty) :+ sec
    }
    samples.foreach { case (name, ss) =>
      val xs = ss.sorted
      val med = if (xs.length % 2 == 1) xs(xs.length / 2) else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2
      println(f"[probe] $name best=${xs.min}%.3f median=$med%.3f samples=${ss.map(x => f"$x%.3f").mkString(",")}")
    }
  }

  /** Writes each query's final `.explain("formatted")` plan to
    * `<outDir>/<query>_<tag>.txt` — the before/after evidence an
    * optimization commits next to its numbers. Queries whose builder
    * runs eager actions (checkpoint rounds, cache materialization) run
    * them here; the dump is the final plan over those intermediates. */
  def plan(spark: SparkSession, outDir: Path, tag: String, qs: Seq[(String, () => DataFrame)]): Unit = {
    Files.createDirectories(outDir)
    qs.foreach { case (name, q) =>
      val txt = q().queryExecution.explainString(FormattedMode)
      val p = outDir.resolve(s"${name}_$tag.txt")
      Files.writeString(p, txt)
      println(s"[probe] wrote $p (${txt.length} chars)")
      spark.catalog.clearCache()
    }
  }

  /** Captures the formatted plan and duration of EVERY execution a
    * query runs while it is built and counted — including the eager
    * localCheckpoint rounds and persisted passes that never appear in
    * the final plan (each checkpoint truncates lineage) — then the final
    * plan, into `<outDir>/<query>_rounds_<tag>.txt`. A failed execution
    * leaves a `FAILED` header with its exception; a query that throws is
    * reported on stderr and its partial dump still written. Returns the
    * names of the failed queries. */
  def execPlans(spark: SparkSession, outDir: Path, tag: String,
                qs: Seq[(String, () => DataFrame)]): Seq[String] = {
    Files.createDirectories(outDir)
    val buf = new StringBuilder
    var captured = 0
    var ended = 0 // SQL executions the listener bus reported finished
    def explain(qe: QueryExecution): String =
      try qe.explainString(FormattedMode)
      catch { case e: Exception => s"(plan unavailable: ${e.getClass.getName}: ${e.getMessage})" }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        buf.synchronized {
          captured += 1
          buf.append(f"==== execution $captured: action=$funcName duration_ms=${durationNs / 1e6}%.1f ====%n")
          buf.append(explain(qe)).append('\n')
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        buf.synchronized {
          captured += 1
          buf.append(s"==== execution $captured FAILED: action=$funcName ====\n")
          buf.append(s"${e.getClass.getName}: ${e.getMessage}\n")
          buf.append(explain(qe)).append('\n')
        }
    }
    val ends = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionEnd => buf.synchronized(ended += 1)
        case _ =>
      }
    }
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(ends)
    try qs.flatMap { case (name, q) =>
      buf.synchronized { buf.clear(); captured = 0; ended = 0 }
      val df = try { val d = q(); d.count(); Right(d) } catch { case e: Exception => Left(e) }
      // listener events post asynchronously and Spark has no public
      // drain: wait until neither count has moved for a second
      awaitQuiet(() => buf.synchronized((captured, ended)))
      val (c, e) = buf.synchronized((captured, ended))
      df.foreach(d => buf.synchronized {
        buf.append("==== final plan (returned DataFrame) ====\n")
        buf.append(explain(d.queryExecution)).append('\n')
      })
      val p = outDir.resolve(s"${name}_rounds_$tag.txt")
      Files.writeString(p, buf.synchronized(buf.toString))
      println(s"[probe] wrote $p (expected $e executions, captured $c)")
      if (c != e) System.err.println(s"[probe] WARNING $name: expected $e executions, captured $c")
      spark.catalog.clearCache()
      df.swap.toOption.map { ex =>
        System.err.println(s"[probe] FAILED $name: ${ex.getClass.getName}: ${ex.getMessage}")
        name
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(ends)
    }
  }

  /** Polls `state` until it has not changed for 1 s, giving up after 30 s. */
  private def awaitQuiet(state: () => Any): Unit = {
    val t0 = System.nanoTime()
    var last = state()
    var since = t0
    def ms(from: Long) = (System.nanoTime() - from) / 1000000
    while (ms(since) < 1000 && ms(t0) < 30000) {
      Thread.sleep(50)
      val s = state()
      if (s != last) { last = s; since = System.nanoTime() }
    }
  }

  /** Representative queries and the plan property each was designed
    * for — the "explain and iterate" evidence in BENCH/PLANS.md:
    * predicate pushdown reaching the parquet scan, column pruning,
    * broadcast placement, anti-join shape, whole-stage codegen spans.
    * PlanAuditSpec asserts the load-bearing ones. */
  private val annotated = Seq(
    "q01_pricing_agg" -> "partial→final hash aggregation (map-side combine before the single shuffle)",
    "q02_filter_pushdown" -> "PushedFilters reach the parquet scan; ReadSchema prunes to projected columns",
    "q03_join_enrich" -> "dimension tables broadcast; one shuffle join on the fact key",
    "q04_antijoin_resume" -> "LEFT ANTI join — the resume/skip-if-computed shape",
    "q18_exact_dedup" -> "one shuffle on the content hash (exact dedup)",
    "q23_cosine_topk" -> "query side broadcast; candidates stream map-only into per-query top-k",
    "q25_ivf_assign" -> "centroid side broadcast (IVF assignment, O(n·k) not O(n²))",
    "q20_lsh_buckets" -> "one typed signature map feeding a single posexplode Generate (no recompute)",
    "q21_simhash" -> "row-local typed map (compiled simhash loop) — zero Exchange before the final orderBy",
    "q31_embed_neardup" -> "cell-blocked self-join on ceil(sqrt(n)) coarse cells (no label hot-block)",
    "q32_ivf_search" -> "probe-3 IVF cells; assignment subplan persisted and reused (InMemoryTableScan)",
    "q34_template_scrub" -> "posexplode lines map-only; (host,line) shuffle aggregates; LeftAnti scrub-back",
    "q39_ann_recall" -> "distance transform hoisted out of the fold (one sqDist per centroid); persisted assignment shared by the IVF and exact branches",
    "q40_trained_recall" -> "Lloyd-trained spherical codebook; same probe-3 assignment plan as q39",
    "q41_twolevel_assign" -> "two-level quantizer: super-cell routing joins, WindowGroupLimit top-3 over probed cells only",
    "q42_band_claims" -> "simhash bands via one posexplode; first-claim via window min; no embedding-width rows in the shuffle",
    "q35_meteor" -> "one typed alignment map; only the final orderBy exchange",
    "q36_pt2px" -> "pure projection; scan prunes to doc_id",
    "q37_frame_sample" -> "doc→frames flatMap explosion, map-only before the final sort",
    "q44_gopher_rules" -> "one typed map per row (tokenize once — HOFs are interpreted with no CSE); scan prunes to doc_id/text; no shuffle aggregate",
    "q46_top_bigrams" -> "typed bigram flatMap → partial+final hash aggregate → TakeOrderedAndProject top-k (no global sort)",
    "q48_salted_distinct" -> "value-hash salted distinct-count: (k,salt,v) → (k,salt) → (k) shuffle ladder, every stage's hot-key load bounded",
    "q52_dup_substrings" -> "ONE corpus scan/shingle map; (h,doc) partial+final aggregate; count window over h; no self-join",
    "q56_pii_scrub" -> "map-only redaction chain: three codegen'd regexp_replace over the scan, zero shuffles before the final sort",
    "q57_decontam" -> "benchmark %17 slice filtered at its scan, distinct hashes BROADCAST; corpus side resolves contamination map-side before the per-doc rollup",
    "qx_pipe_cat" -> "scan → mapPartitions external worker (no Exchange introduced); one subprocess per partition, not per row",
    "q59_split_sample" -> "stateless map over the scan — split + sample decisions from content-fingerprint arithmetic, zero shuffles before the final sort",
    "q60_mixture" -> "one shuffle on source for the rank window; quota filter local; fp-threshold variant is the skew path",
    "q61_sessions" -> "gaps-and-islands: both window passes AND the session rollup share ONE user_id Exchange",
    "q64_seq_pack" -> "packing window is per-bucket (64 independent partitions — no global order needed to pack); only the final output orderBy is a global sort; typed map computes tokens+fp once",
    "q66_bm25" -> "one tokenize map; 1-row stats aggregate broadcast-cross-joined back; TakeOrderedAndProject top-20 — no postings shuffle",
    "q67_para_dedup" -> "paragraph keep-first via min-position window on the content hash; reassembly is one doc_id shuffle — never all-pairs",
    "qx_outlinks" -> "corpus scan → flatMap DOM walk → partial+final HashAggregate on href (all-numeric buffers, no SortAggregate)",
    "q68_host_stats" -> "blocklist relation BROADCAST into a LeftAnti — the corpus never shuffles for the filter; per-host rollup partial-aggregates",
    "q69_common_tokens" -> "global top-8 token head (TakeOrderedAndProject) broadcast back into the scoring re-scan; corpus never shuffles on token",
    "q70_lm_score" -> "map-only bigram transform (no position self-join); unigram/bigram count tables partial-aggregate; scoring joins on pre-aggregated keys",
    "q71_url_canon" -> "canonicalization is a join-free codegen projection; ONE hash shuffle (keep-first window on canon) before the output sort",
    "q72_link_rank" -> "rank rounds are localCheckpoint-truncated (plan shows the final round over checkpointed RDDs, not an unrolled 4-deep lineage); edges⋈ranks shuffle on the same key; hub skew absorbed by partial aggregation on dst",
    "qx_corpus_assemble" -> "the per-split rollup over the published corpus table (partition-pruned scan, partial+final aggregate); the assembly's own dedup + layout shuffles live in CorpusJob (one content-hash window + one (split,bucket) write shuffle, pinned by CorpusJobSpec)",
    "qx_crawl_ingest" -> "the whole wire-bytes→markdown ingest (WARC parse, HTTP strip, charset sniff, extract) is ONE stateless per-row map over the scan — zero Exchange before the output sort, the 1000-executor crawl shape"
  )

  /** Renders the [[annotated]] queries' plans over `sfDir` to BENCH/PLANS.md. */
  def plansMd(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.bench.Probe plans-md)\n\n")
    sb.append(s"Input: `$sfDir`. These are the plans the engine was DESIGNED for —\n")
    sb.append("PlanAuditSpec asserts the load-bearing properties in CI.\n")
    annotated.foreach { case (name, why) =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(SimpleMode)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      // the load-bearing shape is in the first levels; an unrolled
      // iterative lineage (q40's Lloyd chain) would be ~600 KB of noise
      val lines = plan.linesIterator.toVector
      if (lines.length <= 150) sb.append(plan)
      else sb.append((lines.take(150) :+
        s"... truncated (${lines.length - 150} more lines)").mkString("\n"))
      sb.append("\n```\n")
    }
    val out = Paths.get("BENCH/PLANS.md")
    Files.createDirectories(out.getParent)
    Files.writeString(out, sb.toString)
    println(s"[probe] wrote $out (${sb.length} chars)")
  }
}
