package htmlspark.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract queries over the synthesized pages table (FIXTURES.md §1:
  * deterministic, seeded, no external data). The HTML parse itself has no
  * SQL oracle (DuckDB cannot parse HTML) → rows-only checks; determinism
  * comes from the seeded generator + pure parse.
  */
object PagesQueries {

  /** Scale the corpus with the sf dir via the events row count. Memoized
    * per (session, events file list) — every sampled p-face calls this
    * (often twice: once for the sample size, once inside parsedSample),
    * and each call was a full count job (r6; ~10 redundant jobs per bench
    * run). The key carries each file's path, size and mtime, so events
    * rewritten inside a session are counted again. */
  def nPages(spark: SparkSession, dir: String): Long = {
    val events = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val files = events.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(events, true)
    val parts = Seq.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      parts += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    val fingerprint = java.util.UUID.nameUUIDFromBytes(
      parts.result().sorted.mkString("\n").getBytes("UTF-8"))
    PlanCache.getOrComputeLong(spark, s"npages:$dir:$fingerprint") {
      spark.read.parquet(events.toString).count()
    }
  }

  /** Corpus size used by the sampled p-queries: shared so the Spark side
    * and the Verify-written oracle parquet agree on the row set. */
  def sampleN(spark: SparkSession, dir: String, cap: Long = 5000): Long =
    math.max(500L, math.min(nPages(spark, dir) / 10, cap))

  /** One parsed sample corpus per (session, sample size), persisted and
    * shared by every p-face (p01/p02/p04/p08–p11): without this each face
    * re-runs the full pipeline (`ParseJob.run`) — the same N× redundancy
    * the LSH plan cache removes for the sketch subplans. Keyed on the size
    * alone because PagesGen.pages(spark, n) is fully determined by n. p05
    * (the throughput workhorse) deliberately stays un-cached and
    * full-corpus. */
  private def parsedSample(spark: SparkSession, dir: String,
                           cap: Long = 5000): DataFrame = {
    val n = sampleN(spark, dir, cap)
    PlanCache.getOrBuild(spark, s"parsed:$n") {
      ParseJob.run(PagesGen.pages(spark, n)).toDF
    }
  }

  /** Flagship: full extraction pipeline (`ParseJob.run`: parse → latest
    * crawl per url → parse of the oversized survivors). No embedded
    * global sort — determinism ordering is applied by the Verify wrapper;
    * pipeline consumers at scale take the rows unordered. */
  def extractPipeline(spark: SparkSession, dir: String, cap: Long = 5000): DataFrame =
    parsedSample(spark, dir, cap)
      .select(col("url"), md5(col("text_extracted").cast("binary")).as("text_md5"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_nodes").cast("long").as("n_nodes"),
        col("n_parse_errors").cast("long").as("n_parse_errors"),
        col("quirks_mode"),
        col("charset"), col("charset_source"), col("restarted"), col("parse_ok"))

  /** Flagship ORACLE face (driver DuckDB-checkable): per-url md5 of the
    * extracted text for the plain-article class, joined against the
    * template-derived expected set (PagesGen.expectedPlainDocs — no
    * tokenizer/tree-builder/extractor involved on that side). Verify writes
    * the expected rows to a fixed parquet path that p08's oracleSql reads;
    * a hash mismatch means the parser chain broke the §2.6 invariant. */
  def plainTextMd5(spark: SparkSession, dir: String): DataFrame = {
    val n = sampleN(spark, dir)
    parsedSample(spark, dir)
      .join(PagesGen.expectedPlainDocs(spark, n).select(col("url")),
        Seq("url"), "left_semi")
      .select(col("url"),
        md5(col("text_extracted").cast("binary")).as("text_md5"),
        col("n_chars").cast("long").as("n_chars"))
  }

  /** Second flagship ORACLE face (p10): the table-heavy class — every doc
    * here routes its "misplaced " text through FOSTER PARENTING, so this
    * gate catches regressions in pending-table-character buffering and
    * insert-before-table placement that the plain class (p08) never
    * exercises. Same Verify-written expected-parquet mechanism as p08. */
  def tableTextMd5(spark: SparkSession, dir: String): DataFrame = {
    val n = sampleN(spark, dir)
    parsedSample(spark, dir)
      .join(PagesGen.expectedTableDocs(spark, n).select(col("url")),
        Seq("url"), "left_semi")
      .select(col("url"),
        md5(col("text_extracted").cast("binary")).as("text_md5"),
        col("n_chars").cast("long").as("n_chars"))
  }

  /** FULL-CORPUS ORACLE face (p11): byte-identity of the extracted text for
    * EVERY url — the north rule's per-row invariant, driver-checked over
    * 100% of the corpus (p08/p10 remain as per-class diagnostics that
    * localize a failure). No join needed: every doc has expected text. */
  def allTextMd5(spark: SparkSession, dir: String): DataFrame =
    parsedSample(spark, dir)
      .select(col("url"),
        md5(col("text_extracted").cast("binary")).as("text_md5"),
        col("n_chars").cast("long").as("n_chars"))

  /** BPE-ish token profile over the EXTRACTED text (p13): class-regex
    * token counts — word runs, number runs, ASCII punctuation, non-ASCII —
    * the cheap pre-tokenization signal a training pipeline thresholds on.
    * Oracle: DuckDB runs the same regexes over the template-derived
    * expected text (class-based ASCII patterns mean Java regex and RE2
    * agree), so this face checks parse + extract + tokenize end-to-end. */
  def tokenProfile(spark: SparkSession, dir: String): DataFrame =
    parsedSample(spark, dir)
      .select(col("url"),
        regexp_count(col("text_extracted"), lit("[A-Za-z]+"))
          .cast("long").as("n_words"),
        regexp_count(col("text_extracted"), lit("[0-9]+"))
          .cast("long").as("n_nums"),
        regexp_count(col("text_extracted"), lit("[.,!?;:&]"))
          .cast("long").as("n_punct"),
        regexp_count(col("text_extracted"), lit("[^\\x00-\\x7F]"))
          .cast("long").as("n_nonascii"))

  /** Serializer ORACLE face (p17): per-url md5 of serialize(parse(html))
    * for every document the engine's OWN roundTrips predicate certifies
    * hazard-free. The expected side (PagesGen.serializedExpectedFor) is
    * derived from the template — the serialized form of the normalized DOM
    * each class must produce (implied end tags written out, implied
    * <tbody>, fostered text before the table, the adoption-agency shape,
    * attribute quoting, text re-escaping) — with no parser or serializer
    * involved. Because the Spark side filters by roundTrips and the
    * expected side by document class, the certified SET is gated too: a
    * drifted predicate shows up as a row-count mismatch, a drifted
    * serializer as a hash mismatch. Puts the round-4 HtmlSerializer under
    * the same hard DuckDB gate as every other component (VERDICT r4 #1). */
  def serializedMd5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = sampleN(spark, dir)
    ParseJob.dedupLatest(PagesGen.pages(spark, n))
      .mapPartitions { it =>
        val engine = new htmlspark.tree.HtmlParser.Engine
        it.flatMap { p =>
          // Per-row failure isolation (ADVICE r5): parsePage's contract is
          // "any byte soup yields a row", so a throwing document here is
          // treated as not-round-trippable instead of failing the stage —
          // p17 degrades per-row like every other face.
          scala.util.Try {
            val doc = ParseJob.parseDomOnly(p.html, engine)
            if (htmlspark.tree.HtmlSerializer.roundTrips(doc))
              Some((p.url, htmlspark.tree.HtmlSerializer.serialize(doc)))
            else None
          }.toOption.flatten
        }
      }
      .toDF("url", "serialized")
      .select(col("url"),
        md5(col("serialized").cast("binary")).as("ser_md5"),
        length(col("serialized")).cast("long").as("n_ser_chars"))
  }

  /** Encoding/quirks ORACLE face (p09): per-url sniff outcome from the
    * full pipeline, DuckDB-compared against PagesGen.expectedDocMeta
    * (template-side derivation, no parser). Covers BOM routing, the
    * 1024-byte prescan, pragma metas, the bounded late-meta restart, and
    * the doctype quirks decision across every document class. */
  def docMeta(spark: SparkSession, dir: String): DataFrame =
    parsedSample(spark, dir)
      .select(col("url"), col("quirks_mode"), col("charset"),
        col("charset_source"), col("restarted"), col("late_meta"))

  /** Per-url parse-error codes (p14): the triage face — which documents
    * trip which parser error paths. Codes are sorted at parse time, so the
    * comma-join is deterministic; oracle = PagesGen.expectedErrorCodesFor,
    * class-constant expectations derived from the template's markup shape
    * with no parser involved. */
  def errorCodes(spark: SparkSession, dir: String): DataFrame =
    parsedSample(spark, dir)
      .select(col("url"), array_join(col("error_codes"), ",").as("codes"))

  /** Top error codes (p15): the explode+count lineage face a pipeline
    * triages with ("which 0.1% of the crawl trips X?"). Oracled via DuckDB
    * re-aggregating the SAME template-derived per-url expected codes p14
    * reads — one expected parquet serves both faces. */
  def topErrorCodes(spark: SparkSession, dir: String): DataFrame =
    parsedSample(spark, dir)
      .select(col("url"), explode(col("error_codes")).as("code"))
      .groupBy("code")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("url")).as("n_docs"))

  /** Stable parse-quality metrics (error counts per quirks/charset
    * class). Deterministic columns ONLY since round 4 — the runtime
    * latency percentiles moved to p16 so THIS face sits under the hard
    * DuckDB gate (expected side: PagesGen.expectedParseMetrics, the same
    * template-derived per-url values p09/p11/p14 already pin, aggregated). */
  def parseMetrics(spark: SparkSession, dir: String): DataFrame = {
    parsedSample(spark, dir)
      .groupBy("quirks_mode", "charset_source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_parse_errors").cast("long")).as("sum_errors"),
        sum(when(col("late_meta"), 1L).otherwise(0L)).as("n_late_meta"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("n_failed"),
        sum(col("n_bytes").cast("long")).as("sum_bytes"))
  }

  /** Parse-latency percentiles (p16) — the UDAF/percentile_approx surface
    * (SURVEY §2.7), split from p02: latency is runtime-dependent, so this
    * stays a rows-only face by design. */
  def parseLatency(spark: SparkSession, dir: String): DataFrame = {
    parsedSample(spark, dir)
      .groupBy("quirks_mode")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("parse_us"), lit(0.5), lit(1000))
          .as("parse_us_p50"),
        percentile_approx(col("parse_us"), lit(0.99), lit(1000))
          .as("parse_us_p99"))
  }

  /** Checkpoint/resume round-trip: commit half the corpus as snapshot 1,
    * then show the resume anti-join only reprocesses the other half.
    * Counts are batched into two aggregation jobs (total+committed in one
    * pass over the deduped corpus, remaining+ok in one pass over the
    * resumed parse) instead of four sequential count() jobs. */
  def resumeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 1000L
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_resume_").toString
    // The deduped corpus is consumed THREE times (commit leg, corpus agg,
    // resume leg); un-persisted, each consumer re-generated the pages and
    // re-ran the dedup (with its broadcast sub-job) from scratch (r6,
    // guide §5: reuse > recompute when recompute is the expensive part).
    // Bounded: n rows of raw pages, released before return.
    val pages = ParseJob.dedupLatest(PagesGen.pages(spark, n))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val firstHalf = pages.filter(pmod(xxhash64($"url"), lit(2)) === 0)
      IcebergishIO.commit(ParseJob.parseAll(firstHalf), tableDir)
      val corpus = pages.agg(
        count(lit(1)),
        sum(when(pmod(xxhash64($"url"), lit(2)) === 0, 1L).otherwise(0L))
      ).collect()(0)
      val resumed = ParseJob.parseAll(IcebergishIO.resumeFilter(pages, tableDir))
        .agg(count(lit(1)),
          sum(when($"parse_ok", 1L).otherwise(0L))).collect()(0)
      Seq(
        ("total", corpus.getLong(0)),
        ("committed_snapshot_1", corpus.getLong(1)),
        ("remaining_after_resume", resumed.getLong(0)),
        ("parsed_remaining_ok", resumed.getLong(1))
      ).toDF("stage", "n")
    } finally {
      try pages.unpersist(false) catch { case _: Throwable => () }
      deleteTree(new java.io.File(tableDir))
    }
  }

  /** Best-effort recursive delete (children before their directory). */
  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
  }

  /** Per-partition lineage metrics of the parsed sample (north rule). */
  def partitionLineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = parsedSample(spark, dir).as[ExtractedDoc]
    ParseJob.metrics(docs)
      .agg(count(lit(1)).as("n_partitions"),
        sum("n_docs").as("n_docs"),
        sum("n_ok").as("n_ok"),
        sum("n_failed").as("n_failed"),
        sum("n_restarted").as("n_restarted"),
        sum("n_late_meta").as("n_late_meta"),
        sum("n_error_docs").as("n_error_docs"),
        sum("sum_errors").as("sum_errors"))
  }

  /** Throughput workhorse for Bench: full-scale corpus parse, one count.
    * Same dedup-latest semantics and survivor stats as ParseJob.run, but
    * through its narrow projection ParseJob.runStats: the only columns
    * this face aggregates are (n_bytes, parse_ok), so the dedup exchange
    * ships ~40 B/row instead of full extracted rows — identical output
    * values, ~10× fewer shuffled bytes. */
  def throughput(spark: SparkSession, dir: String): DataFrame = {
    val n = nPages(spark, dir)
    ParseJob.runStats(PagesGen.pages(spark, n))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes").cast("long")).as("sum_bytes"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("n_ok"))
  }
}
