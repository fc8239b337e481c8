package htmlspark.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import htmlspark.pipeline.{ExtractedDoc, Page, ParseJob}

/** Structured Streaming face of the extraction engine. The reference is a
  * batch corpus parser (SURVEY.md §2.7: no streaming semantics), but the
  * per-row engine is a pure function, so the SAME parse stage lifts onto a
  * streaming Dataset unchanged — `readStream` source → typed map →
  * watermarked windowed metrics → `writeStream` sink.
  */
object StreamingParse {

  /** The parse stage on a streaming Dataset[Page] — identical kernel to the
    * batch path (ParseJob.parsePage). */
  def parseStream(pages: Dataset[Page]): Dataset[ExtractedDoc] = {
    import pages.sparkSession.implicits._
    pages.map(ParseJob.parsePage)
  }

  /** Streaming url dedup bounded by the watermark: collapses source
    * RE-DELIVERIES (at-least-once transports) of the same url to one parse,
    * keeping the FIRST arrival — dropDuplicatesWithinWatermark semantics.
    * NOTE: this is deliberately NOT the batch latest-crawl rule; a genuine
    * re-crawl with newer content arriving inside the window is dropped
    * here and reconciled by the batch dedupLatest compaction downstream —
    * use dedupLatestStream below when exact latest-wins (at the cost of
    * watermark-delayed emission) is wanted. State is bounded (keys expire with the
    * watermark); at 10^12-url scale the state store hash-partitions by url
    * across executors — place this BEFORE the parse stage so duplicate
    * html bytes are dropped, not parsed. */
  def dedupStream(pages: Dataset[Page], lateness: String = "1 hour"): Dataset[Page] =
    pages
      .withWatermark("warc_ts", lateness)
      .dropDuplicatesWithinWatermark("url")

  /** Buffered best-crawl state for one url awaiting watermark expiry:
    * the current winner plus the max event time seen (drives the timeout). */
  final case class PendingLatest(page: Page, tie: Long, maxTsMs: Long)

  /** LATEST-WINS streaming dedup — the genuine re-crawl reconciliation
    * dedupStream deliberately does not do, via custom keyed state
    * (`flatMapGroupsWithState`, the KeyValueGroupedDataset state surface):
    * per url, buffer the best (warc_ts desc, xxhash64(html) desc) crawl
    * (the tie is ParseJob.tieOf, the batch pipeline's own tiebreak)
    * and EMIT it only when the event-time watermark passes the newest
    * arrival — within the lateness window the emitted row is exactly what
    * batch dedupLatest would pick. A crawl arriving after its url's state
    * expired starts fresh state and emits again (unavoidable under
    * bounded state; the batch compaction reconciles, as with
    * dropDuplicatesWithinWatermark). State is one row per in-flight url,
    * hash-partitioned across executors, expired by the watermark — at
    * 10^12 urls the working set is only the urls crawled within the
    * lateness window. Trade-off vs dedupStream: exact latest-wins + full
    * buffering of one html per in-flight url, and emission delayed by the
    * watermark lateness. */
  def dedupLatestStream(pages: Dataset[Page],
                        lateness: String = "1 hour"): Dataset[Page] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    pages
      .withWatermark("warc_ts", lateness)
      .groupByKey(_.url)
      .flatMapGroupsWithState[PendingLatest, Page](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Page], state: GroupState[PendingLatest]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(_.page).iterator
            state.remove()
            out
          } else {
            var best = state.getOption.orNull
            rows.foreach { p =>
              val ts = p.warc_ts.getTime
              val cand = PendingLatest(p, ParseJob.tieOf(p.html), ts)
              best =
                if (best == null) cand
                else {
                  val bTs = best.page.warc_ts.getTime
                  val newer = ts > bTs || (ts == bTs && cand.tie > best.tie)
                  val keep = if (newer) cand else best
                  keep.copy(maxTsMs = math.max(best.maxTsMs, ts))
                }
            }
            if (best != null) {
              state.update(best)
              // fire once no row currently inside the lateness window can
              // supersede the buffered winner; must stay above the current
              // watermark or Spark rejects the timestamp
              state.setTimeoutTimestamp(
                math.max(best.maxTsMs + 1, state.getCurrentWatermarkMs + 1))
            }
            Iterator.empty
          }
      }
  }

  /** Watermarked per-window parse metrics: 10-minute event-time windows on
    * warc_ts, 1-hour lateness tolerance. Append-mode-compatible (aggregate
    * keyed by the watermarked window). */
  def windowedMetrics(docs: Dataset[ExtractedDoc]): DataFrame =
    docs
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "10 minutes"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("n_failed"),
        sum(col("n_parse_errors").cast("long")).as("sum_parse_errors"),
        sum(col("n_bytes").cast("long")).as("sum_bytes"))
}
