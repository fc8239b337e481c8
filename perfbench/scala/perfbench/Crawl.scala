package perfbench

import java.io.File
import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import htmlspark.pipeline.{IcebergishIO, PagesGen, Page, ParseJob}
import htmlspark.tree.HtmlParser

/** The crawl corpus of one seed and what a correct job must produce on it.
  *
  * Pages are `PagesGen.page(i)` for i in [offset, offset + n). Every index
  * divisible by 100 is crawled a second time one day later with the
  * content of index `i ^ 0xbeef` (the same re-crawl rule as
  * `PagesGen.pages`, shifted by the offset); that later crawl is the one
  * latest-crawl dedup keeps. */
object Crawl {
  val DayMs = 86400000L

  def isRecrawl(i: Long): Boolean = i % 100 == 0
  def survivorContent(i: Long): Long = if (isRecrawl(i)) i ^ 0xbeef else i

  def recrawl(i: Long): Page = {
    val p = PagesGen.page(i)
    p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + DayMs),
      html = PagesGen.renderHtml(i ^ 0xbeef))
  }

  def corpus(spark: SparkSession, offset: Long, n: Long, parts: Int): Dataset[Page] = {
    require(offset % 100 == 0, s"offset $offset must be a multiple of 100")
    import spark.implicits._
    val base = spark.range(offset, offset + n, 1, parts).map(i => PagesGen.page(i))
    val again = spark.range(offset, offset + n, 100, 1).map(i => recrawl(i))
    base.union(again)
  }

  /** Spark's `xxhash64(url, text)` (seed 42, UTF-8 bytes of each string in
    * turn), so a digest summed here equals one summed by Spark. */
  def rowHash(url: String, text: String): Long = {
    var h = 42L
    for (s <- Seq(url, text) if s != null) {
      val b = s.getBytes(UTF_8)
      h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    }
    h
  }

  /** Order-independent digest of a table: row count, distinct urls, the
    * exact sum of `xxhash64(url, text_extracted)`, and rows whose parse
    * failed. */
  def tableDigest(df: DataFrame): (Long, Long, String, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col("url")),
      sum(xxhash64(col("url"), col("text_extracted")).cast(DecimalType(38, 0))),
      sum(when(col("parse_ok"), 0L).otherwise(1L))).collect()(0)
    (r.getLong(0), r.getLong(1),
      Option(r.getDecimal(2)).map(_.toBigInteger.toString).getOrElse("0"),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  def dataBytes(tableDir: String): Long =
    Option(new File(s"$tableDir/data").listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Per-thread sums of a pass over the corpus urls. */
  final class Acc {
    var digest: BigInteger = BigInteger.ZERO
    var rows, bytes, failed = 0L
    def add(h: Long): Unit = digest = digest.add(BigInteger.valueOf(h))
    def merge(o: Acc): Acc = {
      digest = digest.add(o.digest)
      rows += o.rows; bytes += o.bytes; failed += o.failed
      this
    }
  }

  /** Visits every url index of [offset, offset + n) on `threads` plain
    * threads, each with its own parser engine. */
  private def overUrls(offset: Long, n: Long, threads: Int)(
      visit: (Long, Acc, HtmlParser.Engine) => Unit): Acc = {
    val chunk = (n + threads - 1) / threads
    val accs = Array.fill(threads)(new Acc)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        val engine = new HtmlParser.Engine
        var i = offset + t * chunk
        val until = math.min(offset + n, i + chunk)
        while (i < until) { visit(i, accs(t), engine); i += 1 }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    accs.reduce(_ merge _)
  }

  /** Materialises the corpus as parquet under `dir/pages` unless
    * `dir/expected.json` already exists, then writes it: the row and byte
    * counts and the digest of the template-derived text
    * (`PagesGen.fullExpectedText` of each url's surviving crawl). No page is
    * parsed here. `injectWrongText` corrupts one expected text, which every
    * later rep must report as FAIL. */
  def prepare(spark: SparkSession, dir: String, offset: Long, n: Long,
              threads: Int, injectWrongText: Boolean): Unit = {
    if (new File(s"$dir/expected.json").exists()) return
    corpus(spark, offset, n, threads * 4).write.mode("overwrite")
      .parquet(s"$dir/pages")
    val acc = overUrls(offset, n, threads) { (i, acc, _) =>
      val first = PagesGen.page(i)
      acc.rows += 1; acc.bytes += first.html.length
      if (isRecrawl(i)) { acc.rows += 1; acc.bytes += recrawl(i).html.length }
      var text = PagesGen.fullExpectedText(survivorContent(i)).get
      if (injectWrongText && i == offset) text += "#"
      acc.add(rowHash(first.url, text))
    }
    val json = Json.obj(Seq(
      "generator_version" -> PagesGen.GeneratorVersion.toString,
      "offset" -> offset.toString, "n_urls" -> n.toString,
      "rows_in" -> acc.rows.toString, "html_bytes" -> acc.bytes.toString,
      "template_digest" -> Json.str(acc.digest.toString)))
    Files.write(Paths.get(s"$dir/expected.json"), json.getBytes(UTF_8))
  }

  /** The digest of a plain-JVM `ParseJob.parsePage` pass over every
    * surviving crawl, and how many of those parses failed. */
  def referenceDigest(offset: Long, n: Long, threads: Int): String = {
    val acc = overUrls(offset, n, threads) { (i, acc, engine) =>
      val doc = ParseJob.parsePage(if (isRecrawl(i)) recrawl(i) else PagesGen.page(i), engine)
      if (!doc.parse_ok) acc.failed += 1
      acc.add(rowHash(doc.url, doc.text_extracted))
    }
    Json.obj(Seq("digest" -> Json.str(acc.digest.toString),
      "failed" -> acc.failed.toString))
  }
}
