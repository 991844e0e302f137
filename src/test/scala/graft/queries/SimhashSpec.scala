package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.SparkTestSession

/** Pins q21 on the compiled simhash loop ([[Dedup.simhashScala]]) to
  * the output of the interpreted Column fold it replaced, whose values
  * the DuckDB oracle gates: the sf0.001 result as one digest, plus a
  * fixture of awkward inputs the shared corpus never exercises.
  */
class SimhashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def q21(dir: String): Seq[(Long, Option[Long])] =
    Dedup.q21Simhash.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))

  test("wordFeatureScala counts code points, as Spark's length does") {
    import spark.implicits._
    val words = Seq("𝑥y", "é", "", "abc")
    val sql = words.toDF("w").select(TextOps.wordFeature(col("w"))).collect().map(_.getLong(0)).toSeq
    assert(words.map(TextOps.wordFeatureScala) == sql)
  }

  test("q21 at sf0.001 matches the digest recorded from the Column fold") {
    val rows = q21("/root/testdata/sf0.001")
    val text = rows.map { case (id, v) => s"$id:${v.map(_.toString).getOrElse("null")}" }.mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows.length == 500)
    assert(md5 == "3b84d1fb2026c54d563994ee36f9d481")
  }

  test("q21 on NULL, empty, padded, tab-separated and non-BMP text") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "  padded words here  "), (4L, "tab\tseparated\twords"),
      (5L, "\tlead tab word"), (6L, "𝑥y math 𝑥"), (7L, "plain words only"))
    val dir = java.nio.file.Files.createTempDirectory("q21fx")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // values the Column fold produced for these rows
    assert(q21(dir.toString) == Seq(1L -> None, 2L -> Some(0L), 3L -> Some(290L),
      4L -> Some(402L), 5L -> Some(192L), 6L -> Some(54433L), 7L -> Some(267L)))
  }
}
