package graft.bench

/** Multi-JVM scaling evidence: the same timed extraction job as
  * [[ScalingBench.runAt]], but submitted via `spark-submit --master
  * local-cluster[N,cores,mem]` so executors are SEPARATE JVM processes
  * — the north rule's "two cluster sizes" regime in its actual shape
  * (N vs 4N executors), not thread-level parallelism inside one heap.
  * Separate executor JVMs also load the application jar on their own
  * classpath, which removes the documented sbt-classloader Janino
  * fallback (CLAUDE.md): this run doubles as the proof that generated
  * code compiles clean outside sbt — tools/cluster_bench.sh greps the
  * EXECUTOR stderr logs (under the standalone worker's work/
  * directory, where executor-side fallbacks actually land — the
  * driver's own stderr would miss them) and fails the run on any
  * CompileException.
  *
  * Usage (the corpus must be pre-materialized by ScalingBench):
  * {{{
  * sbt -batch package && sbt -batch "runMain graft.bench.ScalingBench 1000000 8 32 0" # corpus only
  * /opt/spark/bin/spark-submit --master "local-cluster[2,4,4096]" \
  *   --class graft.bench.ClusterBench target/scala-2.13/<jar> <corpusPath> <pages>
  * }}}
  * Results are interleaved across cluster sizes by tools/cluster_bench.sh
  * (the host-noise protocol) and recorded in BENCH/CLUSTER.md.
  */
object ClusterBench {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val pages = args(1).toLong
    // no .master() here: spark-submit's --master must win
    val spark = graft.GraftSession.builder("graft-cluster-bench", 32).getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    // Warmup = one FULL untimed pass: in multi-JVM mode every executor
    // has its own C2 JIT, so a `limit(N)` warmup (the local-mode trick)
    // would warm only the one executor its few tasks land on and the
    // timed pass would pay compilation in all the others — the full
    // pass touches every executor with real volume.
    spark.read.parquet(path).as[graft.core.PageRow]
      .mapPartitions(graft.extract.Extractor.run(_)).filter(_.ok).count()
    // counted after the warmup so late-registering executors are seen
    val execs = spark.sparkContext.statusTracker.getExecutorInfos.length - 1 // minus driver

    // host thread-scaling ceiling sampled in THIS run's noise window
    // (driver-side threads — the executors are idle here): the same
    // matched-window normalization ScalingBench applies, because the
    // raw hi-level ratio saturates this host's memory bus either way
    val ceiling = ScalingBench.cpuProbe(8, 32)

    // the SAME timed job as the thread-mode ScalingBench — shared code,
    // so the two documents' digests and rates can never drift apart
    val (wall, n, digest) = ScalingBench.timedPass(spark, path)
    if (n != pages)
      System.err.println(s"CLUSTERBENCH WARNING: corpus has $n rows, arg said $pages — rate uses the measured count")
    // single greppable result line on stdout; rate over the MEASURED
    // count. Locale.ROOT, never the f-interpolator: String.format under
    // a comma-decimal default locale would corrupt the machine-parsed
    // line (the ScalingBench.persistAndBuild rule)
    println(String.format(java.util.Locale.ROOT,
      """CLUSTERBENCH {"executors":%d,"pages":%d,"wall_sec":%.2f,"docs_per_sec":%.1f,"cpu_ceiling_8_32":%.3f,"digest":"%s"}""",
      Int.box(execs), Long.box(n), Double.box(wall), Double.box(n / wall),
      Double.box(ceiling), digest))
    spark.stop()
  }
}
