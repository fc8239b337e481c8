package htmlspark.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import htmlspark.encoding.EncodingSniffer
import htmlspark.extract.TextExtractor
import htmlspark.tree.HtmlParser
import java.sql.Timestamp

/** Flat, Catalyst-friendly output row of the extraction pipeline
  * (SURVEY.md §1.2). */
final case class ExtractedDoc(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    text_extracted: String,
    charset: String,
    charset_source: String,
    n_bytes: Int,
    n_chars: Int,
    // element-node count of the parsed DOM (template contents included) —
    // the structural size metric SURVEY §1.2 promises next to the text
    n_nodes: Int,
    n_parse_errors: Int,
    // per-doc parse-error CODES (sorted, builder-capped at 64): the triage
    // column SURVEY §1.2 promises — "which 0.1% of the crawl trips
    // adoption-agency-fe-not-open?" needs codes, not counts (reference
    // counterpart: the ParserErrorEventArgs event channel,
    // Core/TreeBuilder.cs:171-192)
    error_codes: Seq[String],
    quirks_mode: String,
    restarted: Boolean,
    late_meta: Boolean,
    parse_ok: Boolean,
    error: String,
    parse_us: Long)

/** Per-partition lineage + metrics row (north rule: "per-partition lineage
  * + parse-error metrics"). Kept in sync with `ParseJob.metrics` by the
  * encoder: metrics() returns Dataset[PartitionMetrics], so a drifted
  * field fails at analysis time rather than silently. */
final case class PartitionMetrics(
    partition_id: Int,
    n_docs: Long,
    n_ok: Long,
    n_failed: Long,
    n_restarted: Long,
    n_late_meta: Long,
    n_error_docs: Long,
    sum_bytes: Long,
    sum_errors: Long,
    min_url: String,
    max_url: String)

/** A page after the scan stage of `ParseJob.run`: parsed in place
  * (`doc`), or, when larger than the oversized-page threshold, still raw
  * (`html`) for the reduce stage to parse. `tie` is `ParseJob.tieOf(html)`,
  * the latest-crawl tiebreak. Exactly one of `doc` and `html` is set. */
private[pipeline] final case class StagedPage(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    tie: Long,
    doc: ExtractedDoc,
    html: Array[Byte])

/** The extraction pipeline: pages → per-row parse via typed Dataset map in
  * the scan's own stage (oversized pages deferred) → latest crawl per url,
  * the one exchange → parse of the oversized survivors → extracted docs (+
  * per-partition metrics). The parse is a pure Array[Byte] ⇒ ExtractedDoc
  * function; everything around it stays declarative so Catalyst owns scan
  * pruning and the dedup window plan.
  */
object ParseJob {

  /** Pure per-row parse: sniff → decode → tokenize+tree-build → extract.
    * Total: any byte soup yields a row. */
  def parsePage(p: Page): ExtractedDoc = parsePage(p, new HtmlParser.Engine)

  def parsePage(p: Page, engine: HtmlParser.Engine): ExtractedDoc = {
    val bytes = if (p.html == null) Array.emptyByteArray else p.html
    val t0 = System.nanoTime()
    try {
      val d = decodeAndParse(bytes, engine)
      val result = d.result
      val text = TextExtractor.extract(result.doc)
      ExtractedDoc(
        url = p.url, warc_ts = p.warc_ts, lang = p.lang,
        text_extracted = text,
        charset = d.sniff.charset, charset_source = d.sniff.source,
        n_bytes = bytes.length, n_chars = text.length,
        n_nodes = htmlspark.tree.DomNode.countElements(result.doc),
        n_parse_errors = result.nErrors,
        error_codes = result.errorCodes.sorted,
        quirks_mode = result.quirksMode match {
          case 0 => "no-quirks"; case 1 => "limited-quirks"; case _ => "quirks"
        },
        restarted = d.restarted, late_meta = d.lateMeta, parse_ok = true,
        error = null,
        parse_us = (System.nanoTime() - t0) / 1000)
    } catch {
      case e: Throwable =>
        ExtractedDoc(p.url, p.warc_ts, p.lang, "", "", "", bytes.length, 0, 0,
          0, Nil, "", restarted = false, late_meta = false, parse_ok = false,
          error = s"${e.getClass.getSimpleName}: ${e.getMessage}",
          parse_us = (System.nanoTime() - t0) / 1000)
    }
  }

  /** The final DOM of a page, through the same sniff → decode → parse →
    * restart rule as parsePage (the serialization face p17 needs the
    * tree, not the extracted row). */
  def parseDomOnly(bytes0: Array[Byte],
                   engine: HtmlParser.Engine): htmlspark.tree.DomNode =
    decodeAndParse(if (bytes0 == null) Array.emptyByteArray else bytes0,
      engine).result.doc

  /** A parsed page with the charset that decoded it and its meta flags. */
  private final class Decoded(val sniff: EncodingSniffer.Sniff,
                              val result: HtmlParser.Result,
                              val restarted: Boolean, val lateMeta: Boolean)

  /** Sniff → decode → parse, with a bounded single restart when a
    * meta-declared charset contradicts the default (reference suspends
    * mid-parse instead: Core/Tokenizer.cs:2056-2059).
    *
    * Meta-boundary metric (reference NotifyAboutMetaBoundary,
    * Core/Tokenizer.cs:675-678,419-421): a charset-bearing meta the
    * prescan did not see — i.e. it sits beyond the sniff window — is
    * flagged even when it agrees with the default and needs no restart.
    * (Deviation, FIXTURES.md §3: our boundary is the spec's 1024-byte
    * prescan window, not the reference's 512 bytes.) */
  private def decodeAndParse(bytes: Array[Byte],
                             engine: HtmlParser.Engine): Decoded = {
    val sniff = EncodingSniffer.sniff(bytes)
    val result = engine.parse(EncodingSniffer.decode(bytes, sniff))
    val declared =
      if (sniff.source == EncodingSniffer.SourceDefault) findMetaCharset(result.doc)
      else null
    if (declared == null || declared == sniff.charset)
      new Decoded(sniff, result, restarted = false, lateMeta = declared != null)
    else {
      val meta = EncodingSniffer.Sniff(declared, "meta-in-parse", 0)
      new Decoded(meta, engine.parse(EncodingSniffer.decode(bytes, meta)),
        restarted = true, lateMeta = true)
    }
  }

  /** Element budget for the in-parse meta-charset walk: a contradicting
    * meta buried megabytes deep must NOT force a full re-decode + re-parse
    * (the reference bounds meta detection; the spec prescan stops at 1024
    * bytes). A genuine charset meta lives in <head>, always within the
    * first few dozen elements of document order.
    *
    * This budget is ALSO the recursion bound of the walk below — walk()
    * recurses only on elements, and every element visit decrements the
    * budget, so stack depth can never exceed MetaWalkBudget even on the
    * adversarially-deep class. Do not "fix" the recursion into an
    * unbounded walk without adding an explicit stack. */
  private val MetaWalkBudget = 512

  private def findMetaCharset(doc: htmlspark.tree.DomNode): String = {
    import htmlspark.tree.Dom
    var found: String = null
    var budget = MetaWalkBudget
    def walk(n: htmlspark.tree.DomNode): Unit = {
      if (found != null || budget <= 0 || n.children == null) return
      var i = 0
      while (i < n.children.length && found == null && budget > 0) {
        val c = n.children(i)
        if (c.kind == Dom.ELEMENT) {
          budget -= 1
          if (c.ns == Dom.NS_HTML && c.name == "meta" && c.attrs != null) {
            val cs = c.attrs.get("charset")
            if (cs != null) found = EncodingSniffer.normalizeLabel(cs)
            else {
              val he = c.attrs.get("http-equiv")
              val content = c.attrs.get("content")
              if (he != null && he.equalsIgnoreCase("content-type") && content != null) {
                val x = EncodingSniffer.extractCharsetFromContent(content)
                if (x != null) found = EncodingSniffer.normalizeLabel(x)
              }
            }
          }
          walk(c)
        }
        i += 1
      }
    }
    walk(doc)
    found
  }

  /** Dedup to the latest crawl per url (north-rule dedup) on raw pages,
    * for consumers that need the surviving html itself (p03, p17, resume).
    *
    * Shuffle-frugal shape: re-crawled urls are rare (~1%), so never shuffle
    * the 99% singleton payloads. Pass 1 finds duplicated urls with a
    * KEY-ONLY aggregation (map-side partial agg; shuffle carries ~40 B/row,
    * not the html blob). The dup-url set is then broadcast: singletons
    * stream through with NO shuffle, and only the duplicated rows pay the
    * per-url ranking window. At 10^12 rows the broadcast side is the dup
    * URL set, not the corpus — if it outgrows broadcast, drop the two
    * `broadcast` hints (with a bucketed-by-url table both joins
    * co-locate); the payload-shuffle asymmetry still holds. */
  def dedupLatest(pages: Dataset[Page]): Dataset[Page] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val dupUrls = pages.groupBy($"url")
      .agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"url")
    val singletons = pages
      .join(broadcast(dupUrls), Seq("url"), "left_anti").as[Page]
    // Total-order tiebreak (xxhash64 of the payload) so ties in
    // (url, warc_ts) pick the same survivor on every run/engine.
    val w = Window.partitionBy($"url")
      .orderBy($"warc_ts".desc, xxhash64($"html").desc)
    val dedupedDups = pages
      .join(broadcast(dupUrls), Seq("url"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn").as[Page]
    singletons.union(dedupedDups)
  }

  /** Pages above this many bytes are parsed after the dedup exchange
    * rather than in the scan's stage. */
  private val SaltThreshold = 65536

  /** Salt count: scale-adaptive (r6, guide §2.5) — 2× the session's
    * default parallelism instead of a constant tuned for local[32]: on a
    * 1000-core cluster a fixed 32 salts × 3 size buckets caps the
    * oversized-doc leg at 96 tasks no matter how many oversized docs there
    * are; deriving from the cluster keeps the skew leg's key-space ahead
    * of its task count everywhere. The floor of 32 only matters below
    * local[16]. Salts change which partition a row lands in, never the
    * row set or the dedup survivors. */
  private def saltCount(pages: Dataset[Page]): Int =
    math.max(pages.sparkSession.sparkContext.defaultParallelism * 2, 32)

  /** Skew-salted repartition: CPU cost tracks byte size and nesting, which
    * AQE cannot see (it balances shuffle bytes, and a 2 MB doc costs ~1000×
    * a 2 KB doc in the SAME byte-balanced partition). Route rows by
    * (size_bucket, salt) so pathological docs spread across tasks.
    *
    * `run` no longer calls this: its dedup exchange, hash-partitioned on
    * url, spreads the oversized pages just as this url-hash salt did, so
    * a separate salt exchange only added a second scan and a stage
    * barrier. It stays as a step of its own for the benchmark's traced
    * `ParseJob.saltBySize` group. Pages with null html fail both filters
    * and are dropped.
    */
  def saltBySize(pages: Dataset[Page]): Dataset[Page] = {
    import pages.sparkSession.implicits._
    val salts = saltCount(pages)
    // Only the skew classes pay the shuffle: ordinary docs (≤ threshold
    // bytes) stay where the scan put them; big/deep docs are hash-spread by
    // (size_bucket, salt). Parsing is order-independent, so the two legs
    // re-unite with a cheap union after the narrow split.
    val small = pages.filter(octet_length($"html") <= SaltThreshold)
    val big = pages.filter(octet_length($"html") > SaltThreshold)
      .withColumn("size_bucket",
        when(octet_length($"html") > 1000000, 3)
          .when(octet_length($"html") > 262144, 2)
          .otherwise(1))
      .withColumn("salt", pmod(xxhash64($"url"), lit(salts)))
      // hash repartition (not range): no sampling pass over the source
      .repartition(col("size_bucket"), col("salt"))
      .drop("size_bucket", "salt")
      .as[Page]
    small.union(big)
  }

  /** The parse stage: typed Dataset map with ONE parser engine per
    * partition — tokenizer/builder buffers grow to the largest doc in the
    * partition once, then every row parses allocation-lean (the DOM and
    * output strings are the only per-row garbage). */
  def parseAll(pages: Dataset[Page]): Dataset[ExtractedDoc] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val engine = new HtmlParser.Engine
      it.map(p => parsePage(p, engine))
    }
  }

  /** The (url, warc_ts) tiebreak value, as a row-local kernel: exactly
    * Spark's xxhash64(html) (seed 42 over the raw bytes — the catalyst
    * XXH64 the expression compiles to; XxHashTieSpec pins the equality),
    * computed INSIDE the parse map so the pipeline needs no separate
    * projection + tuple-encoder stage around the parse. Null html returns
    * the seed (42) — exactly what the expression does with a null child.
    * dedupLatest and StreamingParse.dedupLatestStream order by the same
    * value (one source of truth for the survivor tiebreak). */
  private[htmlspark] def tieOf(html: Array[Byte]): Long =
    if (html == null) 42L
    else org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      html, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      html.length, 42L)

  /** The scan stage shared by `run` and `runStats`: every page of at most
    * SaltThreshold bytes (null html included, parsed as an empty page) is
    * parsed where the scan put it; an oversized page keeps its raw html.
    * Each row carries its tiebreak. */
  private def staged(pages: Dataset[Page]): Dataset[StagedPage] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val engine = new HtmlParser.Engine
      it.map { p =>
        if (p.html != null && p.html.length > SaltThreshold)
          StagedPage(p.url, p.warc_ts, p.lang, tieOf(p.html), null, p.html)
        else
          StagedPage(p.url, p.warc_ts, p.lang, tieOf(p.html),
            parsePage(p, engine), null)
      }
    }
  }

  /** Full pipeline: parse in the scan's stage → latest crawl per url →
    * parse the oversized survivors.
    *
    * One scan and one exchange. Ordinary pages are parsed before the dedup
    * exchange, so their html payload (~2.5 KB/doc) never shuffles: the
    * exchange carries *extracted* rows (~0.5 KB) — a 5-6× smaller
    * shuffle. Parsing the ~1% stale duplicate crawls costs ~1% extra CPU,
    * far cheaper than shuffling 100% of raw bytes. Oversized pages (CPU
    * skew) ride the same exchange as raw html and are parsed after it:
    * the exchange's hash partitioning on url spreads them across tasks,
    * and a stale oversized crawl is never parsed. Output is identical to
    * dedup-then-parse: the parse is pure, so picking the latest row before
    * or after parsing commutes. The dedup is a rank-1 window, not max_by
    * over the full row: max_by's struct buffer triples the exchange here
    * (PLANS.md, removed strategies). */
  def run(pages: Dataset[Page]): Dataset[ExtractedDoc] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"url").orderBy($"warc_ts".desc, $"tie".desc)
    staged(pages).withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select(coalesce($"doc",
        parseOversized($"url", $"warc_ts", $"lang", $"html")).as("doc"))
      .select($"doc.*").as[ExtractedDoc]
  }

  /** The reduce-stage parse of an oversized page. A column rather than a
    * typed map, so the rows parsed in the scan stage pass through without
    * a deserialize → serialize round trip: `coalesce(doc, parseOversized(…))`
    * evaluates it only where `doc` is null. Each call gets a fresh engine;
    * an oversized parse dwarfs the engine's set-up. */
  private val parseOversized =
    udf((url: String, ts: Timestamp, lang: String, html: Array[Byte]) =>
      parsePage(Page(url, ts, html, "", lang)))

  /** Per-survivor (n_bytes, parse_ok) of `run` — the throughput face.
    * The dedup decision needs just (url, warc_ts, tie) and the payload
    * just those two stats, so the select before the aggregate lets
    * serializer pruning drop every other doc field: the exchange carries
    * ~40 B/row instead of the full extracted row, plus the raw html of
    * oversized pages, which are parsed after it as in `run`. The survivor
    * per url is the (warc_ts, tie)-lexicographic-max row — exactly the
    * row run's rank-1 window picks — so the stats are identical; max_by
    * additionally enables map-side partial aggregation (a partial
    * SortAggregate before the exchange: one candidate per (map partition,
    * url)). */
  def runStats(pages: Dataset[Page]): DataFrame = {
    import pages.sparkSession.implicits._
    staged(pages)
      .select($"url", $"warc_ts", $"tie", $"html",
        $"doc.n_bytes".as("n_bytes"), $"doc.parse_ok".as("parse_ok"))
      .groupBy("url")
      .agg(max_by(struct($"n_bytes", $"parse_ok", $"html"),
        struct($"warc_ts", $"tie")).as("s"))
      // the stats depend on the html alone, so the parse needs no ts/lang
      .select($"url", $"s.n_bytes".as("n_bytes"), $"s.parse_ok".as("parse_ok"),
        when($"s.html".isNotNull, parseOversized($"url",
          lit(null).cast("timestamp"), lit(null).cast("string"),
          $"s.html")).as("big"))
      .select($"url", coalesce($"n_bytes", $"big.n_bytes").as("n_bytes"),
        coalesce($"parse_ok", $"big.parse_ok").as("parse_ok"))
  }

  /** Per-partition lineage/metrics over an extracted Dataset (second,
    * cheap aggregation pass — partial aggregation map-side). */
  def metrics(docs: Dataset[ExtractedDoc]): Dataset[PartitionMetrics] = {
    import docs.sparkSession.implicits._
    docs.groupBy(spark_partition_id().as("partition_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("n_failed"),
        sum(when(col("restarted"), 1L).otherwise(0L)).as("n_restarted"),
        sum(when(col("late_meta"), 1L).otherwise(0L)).as("n_late_meta"),
        sum(when(col("n_parse_errors") > 0, 1L).otherwise(0L))
          .as("n_error_docs"),
        sum(col("n_bytes").cast("long")).as("sum_bytes"),
        sum(col("n_parse_errors").cast("long")).as("sum_errors"),
        min(col("url")).as("min_url"),
        max(col("url")).as("max_url"))
      .as[PartitionMetrics]
  }
}
