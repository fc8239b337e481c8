package htmlspark.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** E2E pipeline test (SURVEY.md §5.2 item 6): synthesized pages at
  * local[2]; row counts, byte-identical extracted text vs the in-JVM oracle
  * (the same pure function run row-by-row OUTSIDE Spark), resume-after-
  * partial-commit, metrics table shape, dedup semantics. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val N = 400L

  test("pipeline output is byte-identical to the in-JVM per-row oracle") {
    import spark.implicits._
    val docs = ParseJob.run(PagesGen.pages(spark, N))
      .select($"url", $"text_extracted").as[(String, String)].collect().toMap
    // oracle: same pure function, no Spark, over the deduped logical corpus
    val allPages = (0L until N).map(PagesGen.page) ++
      (0L until math.max(N / 100, 1)).map { k =>
        val i = k * 100
        val p = PagesGen.page(i)
        p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
          html = PagesGen.renderHtml(i ^ 0xbeef))
      }
    val latest = allPages.groupBy(_.url).map { case (_, ps) =>
      ps.maxBy(_.warc_ts.getTime)
    }
    assert(docs.size == latest.size)
    latest.foreach { p =>
      val oracle = ParseJob.parsePage(p)
      assert(docs.contains(p.url), s"missing ${p.url}")
      assert(docs(p.url) == oracle.text_extracted,
        s"text mismatch for ${p.url}")
    }
  }

  test("all parses succeed and charset classes are exercised") {
    import spark.implicits._
    val docs = ParseJob.run(PagesGen.pages(spark, N)).cache()
    assert(docs.filter(!$"parse_ok").count() == 0)
    val sources = docs.select($"charset_source").distinct()
      .as[String].collect().toSet
    assert(sources.contains("bom"))
    assert(sources.contains("meta-prescan"))
    val charsets = docs.select($"charset").distinct().as[String].collect().toSet
    assert(charsets.contains("UTF-16LE") || charsets.contains("UTF-16BE"))
    assert(charsets.contains("windows-1252"))
    val quirks = docs.select($"quirks_mode").distinct().as[String].collect().toSet
    assert(quirks.contains("quirks") && quirks.contains("no-quirks"))
    docs.unpersist()
  }

  test("resume: second run only processes uncommitted urls, union is complete") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("graft_spec_").toString
    val pages = ParseJob.dedupLatest(PagesGen.pages(spark, N))
    val firstHalf = pages.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64($"url"), org.apache.spark.sql.functions.lit(2L)) === 0)
    val snap1 = IcebergishIO.commit(ParseJob.parseAll(firstHalf), tableDir)
    assert(snap1 == 1L)
    val remaining = IcebergishIO.resumeFilter(pages, tableDir)
    val nTotal = pages.count()
    val nFirst = firstHalf.count()
    assert(remaining.count() == nTotal - nFirst)
    val snap2 = IcebergishIO.commit(ParseJob.parseAll(remaining), tableDir)
    assert(snap2 == 2L)
    val all = IcebergishIO.readCommitted(spark, tableDir).get
    assert(all.select("url").distinct().count() == nTotal)
    // idempotent: resuming again leaves nothing to do
    assert(IcebergishIO.resumeFilter(pages, tableDir).count() == 0)
  }

  test("dedup keeps exactly one latest row per url") {
    import spark.implicits._
    val pages = PagesGen.pages(spark, N)
    val deduped = ParseJob.dedupLatest(pages)
    assert(deduped.count() == pages.select("url").distinct().count())
    // re-crawled url 0 must carry the newer timestamp
    val r = deduped.filter($"url" === "https://synth.example/0/0.html")
      .select($"warc_ts").as[java.sql.Timestamp].collect()
    assert(r.length == 1)
    val orig = PagesGen.page(0).warc_ts.getTime
    assert(r(0).getTime == orig + 86400000L)
  }

  test("run and dedupLatest keep the in-JVM reference survivor under " +
       "(url, warc_ts) ties with different html") {
    import spark.implicits._
    // 40 urls, each with THREE crawls at an identical timestamp but
    // different html (different content index) — only the xxhash64(html)
    // tie-break decides the survivor.
    val ts = new java.sql.Timestamp(1704067200000L)
    val crawls = (0L until 40L).flatMap { u =>
      Seq(0x1000, 0x2000, 0x3000).map { off =>
        Page(s"https://tied.example/$u", ts, PagesGen.renderHtml(u + off), "", "en")
      }
    }
    // reference pick, outside Spark: max of (warc_ts, tieOf(html)) per url
    val reference = crawls.groupBy(_.url).map { case (url, ps) =>
      url -> ps.maxBy(p => (p.warc_ts.getTime, ParseJob.tieOf(p.html)))
    }
    // the three crawls of a url differ in extracted text, so a wrong pick
    // shows up in run's rows
    crawls.groupBy(_.url).values.foreach { ps =>
      val texts = ps.map(ParseJob.parsePage(_).text_extracted)
      assert(texts.distinct.size == 3, s"crawls of ${ps.head.url} are not distinguishable")
    }
    val tied = spark.createDataset(crawls)

    val run = ParseJob.run(tied)
      .select($"url", $"text_extracted", $"n_bytes")
      .as[(String, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expectedRun = reference.map { case (url, p) =>
      val d = ParseJob.parsePage(p)
      url -> ((d.text_extracted, d.n_bytes))
    }
    assert(run.size == 40)
    assert(run == expectedRun,
      s"run differs on ${(run.toSet diff expectedRun.toSet).map(_._1).take(3)}")

    // kept crawl per url, as its index into `crawls`
    def picks(ps: Iterable[Page]): Map[String, Int] = ps.map { p =>
      p.url -> crawls.indexWhere(c =>
        c.url == p.url && java.util.Arrays.equals(c.html, p.html))
    }.toMap
    assert(picks(ParseJob.dedupLatest(tied).collect()) == picks(reference.values))
  }

  test("a page with null html survives run and runStats as an empty page") {
    import spark.implicits._
    val nullUrl = "https://null.example/empty.html"
    val pages = Seq(
      Page(nullUrl, new java.sql.Timestamp(0L), null, "", "en"),
      PagesGen.page(1)).toDS()
    val run = ParseJob.run(pages).collect()
    assert(run.length == 2)
    val d = run.find(_.url == nullUrl).getOrElse(fail(s"run dropped $nullUrl"))
    assert(d.parse_ok && d.n_bytes == 0 && d.text_extracted == "")
    val stats = ParseJob.runStats(pages)
      .select($"url", $"n_bytes", $"parse_ok").as[(String, Int, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats.size == 2)
    assert(stats.get(nullUrl) == Some((0, true)))
  }

  test("re-crawls on both sides of the oversized-page threshold keep the " +
       "in-JVM reference survivor in run and runStats") {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/realdoc/test.html")
    val big = try in.readAllBytes() finally in.close()
    assert(big.length > 65536, "must exceed the oversized-page threshold")
    val t0 = new java.sql.Timestamp(1704067200000L)
    val t1 = new java.sql.Timestamp(t0.getTime + 86400000L)
    def page(url: String, ts: java.sql.Timestamp, html: Array[Byte]) =
      Page(url, ts, html, "", "en")
    val crawls =
      Seq(page("https://straddle.example/big-newer", t1, big),
        page("https://straddle.example/big-newer", t0, PagesGen.renderHtml(7)),
        page("https://straddle.example/small-newer", t1, PagesGen.renderHtml(8)),
        page("https://straddle.example/small-newer", t0, big)) ++
      (0L until 8L).flatMap { k =>
        val url = s"https://straddle.example/tied-$k"
        Seq(page(url, t0, big), page(url, t0, PagesGen.renderHtml(100 + k)))
      }
    // reference pick, outside Spark: max of (warc_ts, tieOf(html)) per url
    val reference = crawls.groupBy(_.url).map { case (url, ps) =>
      url -> ps.maxBy(p => (p.warc_ts.getTime, ParseJob.tieOf(p.html)))
    }
    def isBig(p: Page) = p.html.length > 65536
    assert(isBig(reference("https://straddle.example/big-newer")))
    assert(!isBig(reference("https://straddle.example/small-newer")))
    val tiedPicks = reference.filter(_._1.contains("tied-")).values.map(isBig)
    assert(tiedPicks.toSet == Set(true, false),
      "the tie must pick the oversized crawl for some urls and the small one for others")
    val expected = reference.map { case (url, p) => url -> ParseJob.parsePage(p) }
    val ds = spark.createDataset(crawls)

    val run = ParseJob.run(ds)
      .select($"url", $"text_extracted", $"n_bytes", $"parse_ok")
      .as[(String, String, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(run == expected.map { case (url, d) =>
      url -> ((d.text_extracted, d.n_bytes, d.parse_ok)) })

    val stats = ParseJob.runStats(ds)
      .select($"url", $"n_bytes", $"parse_ok").as[(String, Int, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats == expected.map { case (url, d) => url -> ((d.n_bytes, d.parse_ok)) })
  }

  test("run over a parquet pages table plans one scan and one exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_").toString
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so the executed plan is the whole static plan
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      PagesGen.pages(spark, 200).write.mode("overwrite").parquet(s"$dir/pages")
      val pages = spark.read.parquet(s"$dir/pages").as[Page]
      val plan = ParseJob.run(pages).queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      val scans = plan.collect { case s: FileSourceScanExec => s }
      assert(exchanges.size == 1, s"expected one exchange; got plan:\n$plan")
      assert(scans.size == 1, s"expected one pages scan; got plan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      deleteTree(new java.io.File(dir))
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("p08 flagship oracle faces agree: parsed plain-article md5/len == " +
       "template-derived expected (the driver's DuckDB compare shape)") {
    val dir = "/root/testdata/sf0.001"
    val n = PagesQueries.sampleN(spark, dir)
    val actual = PagesQueries.plainTextMd5(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val expected = PagesGen.expectedPlainDocs(spark, n).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(actual.keySet == expected.keySet,
      s"row sets differ: only-actual=${(actual.keySet -- expected.keySet).take(3)} " +
        s"only-expected=${(expected.keySet -- actual.keySet).take(3)}")
    expected.foreach { case (url, e) =>
      assert(actual(url) == e, s"$url: actual=${actual(url)} expected=$e")
    }
    assert(expected.nonEmpty)
  }

  test("p09 encoding oracle faces agree: pipeline sniff outcomes == " +
       "template-derived expected for every url") {
    val dir = "/root/testdata/sf0.001"
    val n = PagesQueries.sampleN(spark, dir)
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3),
        r.getBoolean(4), r.getBoolean(5)))
    val actual = PagesQueries.docMeta(spark, dir).collect().map(key).toMap
    val expected = PagesGen.expectedDocMeta(spark, n).collect().map(key).toMap
    assert(actual.keySet == expected.keySet)
    expected.foreach { case (url, e) =>
      assert(actual(url) == e, s"$url: actual=${actual(url)} expected=$e")
    }
    // every branch of the oracle is actually exercised in the sample
    val sources = expected.values.map(_._3).toSet
    assert(sources.contains("bom") && sources.contains("meta-prescan") &&
      sources.contains("meta-in-parse"), s"sources seen: $sources")
    assert(expected.values.exists(_._1 == "quirks"))
  }

  test("per-partition metrics cover every doc and carry lineage ranges") {
    import spark.implicits._
    val docs = ParseJob.run(PagesGen.pages(spark, N))
    val m = ParseJob.metrics(docs).collect()
    assert(m.map(_.n_docs).sum == docs.count())
    m.foreach { r =>
      assert(r.min_url <= r.max_url)
      assert(r.n_ok + r.n_failed == r.n_docs)
      assert(r.n_late_meta >= 0 && r.n_late_meta <= r.n_docs)
    }
  }

  test("the real 133KB document rides the full pipeline (big-doc salting " +
       "path) byte-identically to the in-JVM parse") {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/realdoc/test.html")
    val bytes = try in.readAllBytes() finally in.close()
    assert(bytes.length > 65536, "must exceed the salting threshold")
    val realUrl = "https://real.example/spec-chapter.html"
    val real = Seq(Page(realUrl, new java.sql.Timestamp(0), bytes, "", "en")).toDS()
    val out = ParseJob.run(PagesGen.pages(spark, 200).union(real))
      .filter($"url" === realUrl).as[ExtractedDoc].collect()
    assert(out.length == 1)
    val d = out(0)
    assert(d.parse_ok && d.n_parse_errors == 0)
    assert(d.charset == "windows-1252" && d.charset_source == "default")
    assert(d.n_chars == 68158, s"got ${d.n_chars}")
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(md.digest(d.text_extracted.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString == "daefc30b7917fb683b6455d9ff334ef3")
  }
}
