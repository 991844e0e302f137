package graftbench

import graft.core.PageRow
import graft.gen.SyntheticCorpus
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark inputs: a pages table that is a pure function of
  * (workload, seed, size), cached on disk and checked before each use.
  * The digest recorded with it (row count and a hash of its files) is
  * printed with the run.
  *
  * Generation is never timed: it runs in a separate process before the
  * measured one (so it neither lands in a metric nor warms the measured
  * JVM), and later runs with the same key reuse the table after the
  * check. The cache key also holds a fingerprint of the first generated
  * pages, so a change to the page generator can never reuse a stale
  * table.
  */
object Inputs {

  /** The url of the page added by `--inject-failure`: its html is empty,
    * so extraction must return `ok=false` for it. */
  val InjectedUrl = "https://injected.invalid/empty-page"

  /** Page `i` of workload `w` at `seed` out of `n` pages. */
  def page(w: String, seed: Long, n: Long, i: Long): PageRow = w match {
    case "extract" => SyntheticCorpus.pageFor(seed, i)
    case "corpus" => CorpusPages.pageFor(seed, n, i)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  final case class Table(path: String, rows: Long, digest: String)

  private def fingerprint(w: String, seed: Long, n: Long): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
    (0L until math.min(n, 32L)).foreach { i =>
      val p = page(w, seed, n, i)
      h.update(p.url.getBytes(UTF_8)); h.update(p.html)
    }
    h.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** Order-independent digest of a pages table: row count, xor and
    * high-bit sum of per-row 64-bit hashes. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(shiftrightunsigned(h, 40))).head()
    val n = r.getLong(0)
    (n, f"$n-${if (n == 0) 0L else r.getLong(1)}%016x-${if (n == 0) 0L else r.getLong(2)}%x")
  }

  /** The cached pages table for the key, if it is there and every file
    * still has the SHA-256 recorded when it was generated. */
  def check(cacheDir: Path, w: String, seed: Long, n: Long, injectFailure: Boolean): Option[Table] = {
    val dir = cacheDir.resolve(key(w, seed, n, injectFailure))
    val manifest = dir.resolve("manifest.txt")
    val table = dir.resolve("pages.parquet")
    if (!Files.exists(manifest)) None
    else {
      val lines = Files.readAllLines(manifest).toArray.map(_.toString).toSeq
      lines.headOption.map(_.split(" ")) match {
        case Some(Array(rows, digest)) if fileHashes(table) == lines.tail =>
          Some(Table(table.toString, rows.toLong, digest))
        case _ => None
      }
    }
  }

  /** The checked pages table for the key, generated first if it is
    * absent or damaged. */
  def ensure(cacheDir: Path, w: String, seed: Long, n: Long, injectFailure: Boolean): Table =
    check(cacheDir, w, seed, n, injectFailure).getOrElse {
      generate(cacheDir.resolve(key(w, seed, n, injectFailure)), w, seed, n, injectFailure)
      check(cacheDir, w, seed, n, injectFailure).getOrElse(
        throw new IllegalStateException(s"input ${key(w, seed, n, injectFailure)} fails its check right after generation"))
    }

  private def key(w: String, seed: Long, n: Long, injectFailure: Boolean): String =
    s"$w-seed$seed-n$n-${fingerprint(w, seed, n)}${if (injectFailure) "-inject" else ""}"

  /** "<sha256> <name>" for every data file of a table, sorted by name. */
  private def fileHashes(table: Path): Seq[String] = {
    if (!Files.isDirectory(table)) return Nil
    val s = Files.list(table)
    val files = try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString).toSeq
    finally s.close()
    files.map { f =>
      val h = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))
      s"${h.map(b => f"$b%02x").mkString} ${f.getFileName}"
    }
  }

  /** The parquet schema Spark writes for `PageRow`. */
  private val pageSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary url (STRING);
      |  optional int64 warc_ts (TIMESTAMP(MICROS,true));
      |  optional binary html;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |}""".stripMargin)

  /** Writes the pages table as one parquet file per core, each holding a
    * contiguous range of pages, with parquet's own writer: starting
    * Spark would cost more than generating the pages. */
  private def generate(dir: Path, w: String, seed: Long, n: Long, injectFailure: Boolean): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + s".tmp-${ProcessHandle.current().pid()}")
    Util.deleteTree(tmp)
    val table = tmp.resolve("pages.parquet")
    Files.createDirectories(table)
    val parts = Runtime.getRuntime.availableProcessors()
    val injected = PageRow(InjectedUrl, new java.sql.Timestamp(0L), Array.emptyByteArray, "", "en")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parts)
    try (0 until parts).map { k =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val rows = (k * n / parts until (k + 1) * n / parts).iterator.map(i => page(w, seed, n, i)) ++
            (if (injectFailure && k == parts - 1) Iterator(injected) else Iterator.empty)
          writePages(table.resolve(f"part-$k%05d.parquet"), rows)
        }
      })
    }.foreach(_.get())
    finally pool.shutdownNow()
    val files = fileHashes(table)
    val h = java.security.MessageDigest.getInstance("SHA-256").digest(files.mkString("\n").getBytes(UTF_8))
    val rows = n + (if (injectFailure) 1 else 0)
    Files.writeString(tmp.resolve("manifest.txt"),
      (s"$rows $rows-${h.take(8).map(b => f"$b%02x").mkString}" +: files).mkString("", "\n", "\n"))
    Util.deleteTree(dir)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  private def writePages(file: Path, pages: Iterator[PageRow]): Unit = {
    val groups = new SimpleGroupFactory(pageSchema)
    val out = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(pageSchema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try pages.foreach { p =>
      val ts = p.warc_ts
      out.write(groups.newGroup()
        .append("url", p.url)
        .append("warc_ts", Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000)
        .append("html", Binary.fromConstantByteArray(p.html))
        .append("text", p.text)
        .append("lang", p.lang))
    } finally out.close()
  }
}

/** The corpus workload's pages: the stock synthetic pages, spread over
  * a thousand hosts of Zipf-distributed size, with per-host template
  * sentences and about one page in five copying another page's html
  * under a new url. Stock pages all sit on one host and repeat no
  * content, so template scrub and exact dedup would find nothing.
  */
object CorpusPages {
  val Hosts = 1000

  /** Rank-size exponent of the host-size law: host k (0-based) gets a
    * share proportional to 1/(k+1)^s. Pages per site follow a power law
    * (Huberman & Adamic, "Growth dynamics of the World-Wide Web",
    * Nature 401, 1999); s = 1 is a placeholder, not fitted to a crawl.
    * With it the largest host holds about 13% of the pages and most
    * hosts hold one to ten. */
  val ZipfExponent = 1.0

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unit(z: Long): Double = (z >>> 11) * 1.1102230246251565e-16

  /** Cumulative host shares of the Zipf law, ending at 1. */
  private lazy val hostCdf: Array[Double] = {
    val w = (1 to Hosts).map(k => math.pow(k.toDouble, -ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** Host of page `i`, drawn from the Zipf law. */
  def hostOf(seed: Long, i: Long): Int = {
    val u = unit(mix(seed * 31 + i * 0x632be59bd9b4e019L + 1))
    val k = java.util.Arrays.binarySearch(hostCdf, u)
    math.min(Hosts - 1, if (k >= 0) k + 1 else -k - 1)
  }

  /** Hosts holding at least two of the `n` pages. Each carries its two
    * template sentences on every page, so template scrub must find at
    * least twice as many template lines. */
  def multiPageHosts(seed: Long, n: Long): Int = {
    val pages = new Array[Int](Hosts)
    (0L until n).foreach(i => pages(hostOf(seed, i)) += 1)
    pages.count(_ >= 2)
  }

  private def isCopy(seed: Long, i: Long): Boolean =
    Math.floorMod(mix(seed * 17 + i * 0x8cb92ba72f3d8dd7L + 2), 5L) == 0L

  /** Index of the stock page whose content page `i` carries: itself, or
    * for a copy the first non-copy page of a pseudo-random probe. */
  def contentOf(seed: Long, n: Long, i: Long): Long =
    if (!isCopy(seed, i) || n < 2) i
    else {
      var z = mix(seed * 13 + i + 3)
      var j = Math.floorMod(z, n)
      while (j == i || isCopy(seed, j)) { z = mix(z); j = Math.floorMod(z, n) }
      j
    }

  private val words = IndexedSeq("daily", "notes", "archive", "weekly", "digest", "review",
    "journal", "letters", "field", "guide", "bulletin", "gazette")

  private def hostName(h: Int): String = s"site$h.${words(h % words.length)}.test"

  /** Template sentences every page of the host carries. They end in a
    * period, which the block classifier needs to keep them. */
  private def templates(h: Int): (String, String) = {
    val a = words((h * 7 + 3) % words.length)
    val b = words((h * 5 + 1) % words.length)
    (s"<p>Welcome to the ${hostName(h)} $a, published by the $b team since ${1990 + h % 30}.</p>",
     s"<p>Subscribe to the $a of ${hostName(h)} for every new $b and our monthly letter.</p>")
  }

  def pageFor(seed: Long, n: Long, i: Long): PageRow = {
    val c = contentOf(seed, n, i)
    val p = SyntheticCorpus.pageFor(seed, c)
    val h = hostOf(seed, i)
    val (head, tail) = templates(h)
    val html = new String(p.html, UTF_8)
      .replaceFirst("<article>", "<article>" + head)
      .replaceFirst("</article>", tail + "</article>")
    val path = p.url.stripPrefix("https://example.org/").takeWhile(_ != '/')
    PageRow(f"https://${hostName(h)}/$path/$i%08d", p.warc_ts, html.getBytes(UTF_8), p.text, p.lang)
  }
}
