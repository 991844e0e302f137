package graftbench

import java.nio.file.{Files, Path}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Peak resident set of this JVM in MiB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
