package graftbench

import java.io.{BufferedWriter, FileWriter}
import scala.collection.mutable.ArrayBuffer

/** In-memory span store for the traced mode.
  *
  * A span is (name, start, end, parent, run): start and end are
  * `System.nanoTime` readings, `parent` is the index of the enclosing
  * span (-1 for a root) and `run` groups the spans of one unit of work
  * (one timed job, or one document of the layer pass). Spans are kept in
  * growable primitive arrays so that recording one costs no allocation
  * beyond amortised growth, and they are written out only when the
  * benchmark ends. A disabled trace records nothing and returns -1.
  */
final class Trace(val enabled: Boolean) {
  private val names = ArrayBuffer.empty[String]
  private val nameIds = scala.collection.mutable.HashMap.empty[String, Int]
  private var nameOf = new Array[Int](1024)
  private var starts = new Array[Long](1024)
  private var ends = new Array[Long](1024)
  private var parents = new Array[Int](1024)
  private var runs = new Array[Long](1024)
  private var n = 0

  /** Interns a span name; the id is what [[add]] takes. */
  def nameId(name: String): Int =
    nameIds.getOrElseUpdate(name, { names += name; names.length - 1 })

  /** Records a finished span and returns its index. */
  def add(name: Int, start: Long, end: Long, parent: Int, run: Long): Int = {
    if (!enabled) return -1
    if (n == starts.length) grow()
    nameOf(n) = name; starts(n) = start; ends(n) = end
    parents(n) = parent; runs(n) = run
    n += 1
    n - 1
  }

  /** Opens a span whose end is filled in by [[close]]; used when the
    * children of a span are recorded before it finishes. */
  def open(name: String, parent: Int, run: Long): Int =
    add(nameId(name), System.nanoTime(), 0L, parent, run)

  def close(span: Int): Unit = if (span >= 0) ends(span) = System.nanoTime()

  /** Times `body` as one span. */
  def span[T](name: String, parent: Int, run: Long)(body: Int => T): T = {
    val s = open(name, parent, run)
    try body(s) finally close(s)
  }

  private def grow(): Unit = {
    val m = starts.length * 2
    nameOf = java.util.Arrays.copyOf(nameOf, m)
    starts = java.util.Arrays.copyOf(starts, m)
    ends = java.util.Arrays.copyOf(ends, m)
    parents = java.util.Arrays.copyOf(parents, m)
    runs = java.util.Arrays.copyOf(runs, m)
  }

  /** Writes one JSON object per span, times relative to the first span. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new FileWriter(path.toFile))
    try {
      val t0 = if (n > 0) starts(0) else 0L
      var i = 0
      while (i < n) {
        w.write(s"""{"i":$i,"name":"${names(nameOf(i))}","start_ns":${starts(i) - t0},""" +
          s""""end_ns":${ends(i) - t0},"parent":${parents(i)},"run":${runs(i)}}""")
        w.newLine()
        i += 1
      }
    } finally w.close()
  }
}
