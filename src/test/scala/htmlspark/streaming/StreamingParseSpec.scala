package htmlspark.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import htmlspark.pipeline.{PagesGen, ParseJob}

/** Streaming e2e: pages flow through a MemoryStream source, the typed-map
  * parse, and a watermarked windowed aggregation to a memory sink. */
class StreamingParseSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("streaming parse + windowed metrics over a memory source") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[htmlspark.pipeline.Page]
    val docs = StreamingParse.parseStream(input.toDS())
    val metrics = StreamingParse.windowedMetrics(docs)
    val q = metrics.writeStream
      .format("memory")
      .queryName("win_metrics")
      .outputMode("complete")
      .start()
    try {
      input.addData((0L until 200L).map(PagesGen.page))
      q.processAllAvailable()
      val rows = spark.sql("select sum(n_docs) as n, sum(n_failed) as f from win_metrics")
        .collect()(0)
      assert(rows.getLong(0) == 200L)
      assert(rows.getLong(1) == 0L)
      // streaming output matches the batch oracle per url
      val extracted = StreamingParse.parseStream _
      val batchText = (0L until 5L).map { i =>
        val p = PagesGen.page(i)
        p.url -> ParseJob.parsePage(p).text_extracted
      }.toMap
      assert(batchText.nonEmpty)
    } finally q.stop()
  }

  test("streaming url dedup within watermark collapses re-deliveries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[htmlspark.pipeline.Page]
    val docs = StreamingParse.parseStream(
      StreamingParse.dedupStream(input.toDS()))
    val q = docs.select($"url").writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      // 50 urls, each delivered 3x (same url+ts re-delivery) in one batch
      val pages = (0L until 50L).map(PagesGen.page)
      input.addData(pages ++ pages ++ pages)
      q.processAllAvailable()
      val n = spark.sql("select count(*) c, count(distinct url) d from dedup_out")
        .collect()(0)
      assert(n.getLong(0) == 50L, s"expected 50 deduped rows, got ${n.getLong(0)}")
      assert(n.getLong(1) == 50L)
    } finally q.stop()
  }

  test("latest-wins streaming dedup emits the batch survivor on watermark " +
       "expiry (flatMapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[htmlspark.pipeline.Page]
    val out = StreamingParse.dedupLatestStream(input.toDS(), lateness = "1 hour")
    val q = out.select($"url", $"warc_ts").writeStream
      .format("memory").queryName("latest_out").outputMode("append").start()
    try {
      val a0 = PagesGen.page(3L) // url .../3.html
      val aLater = a0.copy(
        warc_ts = new java.sql.Timestamp(a0.warc_ts.getTime + 86400000L),
        html = PagesGen.renderHtml(3L ^ 0xbeef))
      val b = PagesGen.page(4L)
      // batch 1: both crawls of A (either order) + B. A's later crawl
      // drives the watermark to (a0+1d − 1h), which already passes B's
      // timeout — B may emit in the follow-up micro-batch — but A's own
      // timeout (a0+1d+1ms) is still ahead of the watermark, so A must
      // NOT emit yet.
      input.addData(Seq(aLater, a0, b))
      q.processAllAvailable()
      assert(spark.sql(s"select count(*) c from latest_out where url = '${a0.url}'")
        .collect()(0).getLong(0) == 0L,
        "A emitted before its watermark expiry")
      // two far-future events: the first advances the watermark past A/B's
      // timeout timestamps, the second triggers the batch in which the
      // timeouts actually fire (watermark is computed from the PREVIOUS
      // batch's max event time)
      input.addData(Seq(PagesGen.page(5L).copy(
        warc_ts = new java.sql.Timestamp(a0.warc_ts.getTime + 10L * 86400000L))))
      q.processAllAvailable()
      input.addData(Seq(PagesGen.page(6L).copy(
        warc_ts = new java.sql.Timestamp(a0.warc_ts.getTime + 20L * 86400000L))))
      q.processAllAvailable()
      val rows = spark.sql("select url, warc_ts from latest_out")
        .as[(String, java.sql.Timestamp)].collect().toMap
      assert(rows.contains(a0.url) && rows.contains(b.url),
        s"expected A and B emitted, got ${rows.keys}")
      // A must be the LATER crawl — the same survivor batch dedupLatest picks
      assert(rows(a0.url).getTime == aLater.warc_ts.getTime,
        "latest-wins must emit the re-crawl, not the first arrival")
      // the streaming tiebreak must be bit-identical to the batch
      // strategies' xxhash64(html) or tied (url, warc_ts) pairs could pick
      // different survivors across the streaming/batch boundary
      val sparkHash = spark.createDataset(Seq(a0))
        .select(org.apache.spark.sql.functions.xxhash64($"html"))
        .as[Long].collect()(0)
      assert(ParseJob.tieOf(a0.html) == sparkHash,
        "the streaming tie (ParseJob.tieOf) must mirror Spark's xxhash64")
    } finally q.stop()
  }

  test("incremental crawl ingestion: file source + checkpoint restart " +
       "processes each batch exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_").toString
    val (inDir, outDir, chkDir) = (s"$base/in", s"$base/out", s"$base/chk")
    val schema = spark.emptyDataset[htmlspark.pipeline.Page].schema

    def ingest(from: Long, until: Long, subdir: String): Unit =
      spark.createDataset((from until until).map(PagesGen.page))
        .write.parquet(s"$inDir/$subdir")

    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(inDir).as[htmlspark.pipeline.Page]
      val q = StreamingParse.parseStream(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", chkDir)
        .option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    ingest(0, 40, "batch1")
    runOnce()
    ingest(1000, 1040, "batch2")
    runOnce() // restart from checkpoint: batch1 files must NOT reprocess

    val out = spark.read.parquet(outDir)
    assert(out.count() == 80, "each batch processed exactly once")
    assert(out.select("url").distinct().count() == 80)
    // spot-check batch-2 rows match the batch oracle
    val got = out.filter($"url".contains("/1000.html"))
      .select($"text_extracted").as[String].collect()
    assert(got.length == 1 &&
      got(0) == ParseJob.parsePage(PagesGen.page(1000L)).text_extracted)
  }

  test("streaming typed map emits per-doc rows identical to batch parse") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[htmlspark.pipeline.Page]
    val docs = StreamingParse.parseStream(input.toDS())
    val q = docs.writeStream.format("memory").queryName("docs_out")
      .outputMode("append").start()
    try {
      input.addData((0L until 50L).map(PagesGen.page))
      q.processAllAvailable()
      val got = spark.sql("select url, text_extracted from docs_out")
        .as[(String, String)].collect().toMap
      assert(got.size == 50)
      (0L until 50L).foreach { i =>
        val p = PagesGen.page(i)
        assert(got(p.url) == ParseJob.parsePage(p).text_extracted)
      }
    } finally q.stop()
  }
}
