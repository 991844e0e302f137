package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.PageRow
import graft.extract.Extractor
import graft.gen.SyntheticCorpus
import graft.io.TableIO

/** The production extraction job (north rule): pages table → anti-join
  * resume → spread-repartition → mapPartitions(extract) → atomic batch
  * commit + per-partition lineage metrics.
  *
  * Scale design (SURVEY §4.3):
  *  - resume = LEFT ANTI join against the output table's pruned url
  *    column — the data files ARE the checkpoint, no side state;
  *  - repartition on xxhash64(url) to 2× parallelism spreads the
  *    heavy-tailed html sizes (row = unit of work, so url-hash salting
  *    is the right granularity; AQE skew-join handles the anti-join);
  *  - output bucketed by pmod(xxhash64(url), nBuckets) — the Parquet
  *    emulation of Iceberg bucket(url) for bucket-pruned downstream
  *    joins;
  *  - per-row fault isolation: a bad page becomes an ok=false row.
  *
  * Usage: ExtractJob --pages <dir>|synthetic:<n> --out <dir>
  *        [--buckets B] [--cores N]
  */
object ExtractJob {

  final case class Summary(batchId: String, input: Long, extracted: Long,
                           failed: Long, skippedDone: Long, wallSec: Double)

  def run(spark: SparkSession, pagesSpec: String, outDir: String,
          nBuckets: Int = 8): Summary = {
    import spark.implicits._
    val t0 = System.nanoTime()

    TableIO.clearStaging(outDir)
    val batchId = TableIO.nextBatchId(outDir)

    val pages: Dataset[PageRow] =
      if (pagesSpec.startsWith("synthetic:"))
        SyntheticCorpus.generate(spark, pagesSpec.stripPrefix("synthetic:").toLong)
      else spark.read.parquet(pagesSpec).as[PageRow]

    // R1 resume: anti-join against committed output (url column only —
    // Parquet column pruning keeps this scan narrow)
    val done = TableIO.readData(spark, outDir).map(_.select("url"))
    val todo = done match {
      case Some(d) => pages.join(d, Seq("url"), "left_anti").as[PageRow]
      case None => pages
    }

    val parallelism = spark.sparkContext.defaultParallelism
    val extracted = todo
      .repartition(parallelism * 2, col("url")) // spread heavy-tailed rows
      .mapPartitions(Extractor.run(_))
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)))
      .withColumn("part_id", spark_partition_id())

    // stage → metrics → atomic publish
    val staging = TableIO.stagingDir(outDir, batchId)
    // url and markdown are distinct per row, so parquet's dictionary
    // attempt on them only hashes every value before falling back to
    // plain encoding
    extracted.write.mode("overwrite").partitionBy("bucket")
      .option("parquet.enable.dictionary#url", "false")
      .option("parquet.enable.dictionary#markdown", "false")
      .parquet(staging)

    // explicit schema: a fully-resumed run stages zero rows, and an empty
    // parquet dir has nothing to infer from
    val staged = spark.read.schema(extracted.schema).parquet(staging)
    val metrics = staged.groupBy(col("part_id").as("partition_id"))
      .agg(
        count(lit(1)).as("urls_seen"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("urls_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("urls_failed"),
        sum(col("blocks_kept").cast("long")).as("blocks_kept"),
        sum(col("blocks_dropped").cast("long")).as("blocks_dropped"),
        sum(size(col("spans")).cast("long")).as("span_total")
      )
    // materialize lineage rows BEFORE the rename publishes the batch —
    // the metrics plan reads the staging dir, which stops existing.
    // Scale bound: ONE 7-field row per input partition, so the collect
    // is O(partitions-per-batch), not O(rows) — callers must keep the
    // per-batch partition count bounded (split a 10^6-partition corpus
    // into batches), which resume-by-anti-join makes natural
    val mRows = metrics.as[(Int, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val totals = (mRows.map(_._2).sum, mRows.map(_._4).sum)

    // input size: the synthetic spec knows its count, and a parquet
    // count is footer metadata — never re-run the generation plan. The
    // count reuses `pages`, whose relation already listed the files and
    // read the schema
    val inputN =
      if (pagesSpec.startsWith("synthetic:")) pagesSpec.stripPrefix("synthetic:").toLong
      else pages.count()
    if (totals._1 == 0) { // fully resumed: nothing to publish
      TableIO.clearStaging(outDir)
      Summary("-", inputN, 0, 0, inputN, (System.nanoTime() - t0) / 1e9)
    } else {
      TableIO.commitBatch(outDir, batchId)
      val metricsDf = mRows.toDF("partition_id", "urls_seen", "urls_ok",
        "urls_failed", "blocks_kept", "blocks_dropped", "span_total")
      TableIO.appendMetrics(metricsDf, outDir, batchId)
      Summary(batchId, inputN, totals._1, totals._2,
        inputN - totals._1, (System.nanoTime() - t0) / 1e9)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => (k, v) }.toMap
    val pagesSpec = opts.getOrElse("--pages", "synthetic:10000")
    val outDir = opts.getOrElse("--out", "/tmp/graft_out")
    val nBuckets = opts.getOrElse("--buckets", "8").toInt

    val spark = graft.GraftSession.local("graft-extract", graft.GraftSession.cores(opts.get("--cores")))
    // pages rows are KBs–MBs each; smaller scan splits keep per-task
    // memory bounded and the heavy tail spread (SURVEY §4.3 spill note)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
    spark.sparkContext.setLogLevel("WARN")

    val s = run(spark, pagesSpec, outDir, nBuckets)
    println(
      s"""{"batch":"${s.batchId}","input":${s.input},"extracted":${s.extracted},""" +
      s""""failed":${s.failed},"skipped_done":${s.skippedDone},"wall_sec":${s.wallSec}}""")
    spark.stop()
  }
}
