package graftbench

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** Spark-layer counters for one bracketed piece of work, gathered by a
  * listener registered through Spark's public API. The listener is
  * attached only while [[measure]] runs, so work outside it pays nothing
  * for it.
  *
  * Listener events arrive asynchronously, in the order Spark posts them.
  * [[measure]] therefore brackets the work between two one-task marker
  * jobs: events after the opening marker's job-end and before the
  * closing marker's job-start belong to the work, and the closing
  * marker's job-end proves that all of them were delivered. No sleep and
  * no private Spark API is involved.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  import SparkProbe._

  private val lock = new Object
  private val markerJobs = HashMap.empty[Int, String]
  private var openMarker = ""
  private var lastClosed = ""
  private var recording = false
  private var cur = new Acc

  private def marker(id: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, "perfbench marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
  }

  /** Runs `body` and returns its value with the Spark counters of every
    * stage and task it ran. */
  def measure[T](tag: String)(body: => T): (T, Counters) = {
    val open = s"$OpenPrefix$tag-${System.nanoTime()}"
    val close = s"$ClosePrefix$tag-${System.nanoTime()}"
    lock.synchronized { openMarker = open; cur = new Acc }
    spark.sparkContext.addSparkListener(this)
    try {
      marker(open)
      val out = body
      marker(close)
      val deadline = System.nanoTime() + 60L * 1000000000L
      lock.synchronized {
        while (lastClosed != close && System.nanoTime() < deadline) lock.wait(50)
        if (lastClosed != close)
          throw new IllegalStateException(s"Spark listener never saw marker $close")
        (out, cur.counters)
      }
    } finally spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && (g.startsWith(OpenPrefix) || g.startsWith(ClosePrefix))) {
      markerJobs(e.jobId) = g
      if (g.startsWith(ClosePrefix)) recording = false
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    // job-end events carry no properties, so markers are matched by job id
    markerJobs.remove(e.jobId).foreach { g =>
      if (g == openMarker) recording = true
      if (g.startsWith(ClosePrefix)) { lastClosed = g; lock.notifyAll() }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    if (recording) cur.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (recording) cur.add(e)
  }
}

object SparkProbe {
  private val OpenPrefix = "perfbench-open-"
  private val ClosePrefix = "perfbench-close-"

  /** Totals of one measured piece of work. */
  final case class Counters(
      runS: Double, cpuS: Double, gcS: Double,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      inputBytes: Long, outputBytes: Long,
      stages: Int, tasks: Int, failedTasks: Int,
      taskSkew: Double)

  private final class Acc {
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input, output = 0L
    var stages, tasks, failedTasks = 0
    private val durations = HashMap.empty[(Int, Int), ArrayBuffer[Long]]

    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.reason != TaskSuccess) failedTasks += 1
      durations.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) { // absent on some failed tasks
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        output += m.outputMetrics.bytesWritten
      }
    }

    /** Max ÷ median task time in the stage with the most tasks: the
      * straggler cost of heavy-tailed inputs. */
    private def skew: Double =
      if (durations.isEmpty) 1.0
      else {
        val widest = durations.values.maxBy(d => (d.length, d.sum)).map(_.toDouble).toSeq
        widest.max / math.max(Stats.median(widest), 1.0)
      }

    def counters: Counters = Counters(runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
      shuffleWrite, shuffleRead, spill, input, output, stages, tasks, failedTasks, skew)
  }
}
