package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.storage.StorageLevel
import htmlspark.encoding.EncodingSniffer
import htmlspark.extract.TextExtractor
import htmlspark.pipeline.{IcebergishIO, Page, PagesGen, ParseJob, TextOps}
import htmlspark.tree.HtmlParser

/** JVM side of the benchmark, launched once per run by run.py. It
  * prepares the crawl corpus when the run needs one, sets up, measures one
  * workload and writes the raw record. All arithmetic on the raw record
  * (medians, ratios, self time) and every pass/fail decision is in
  * benchlib.py, where it is unit-tested. */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val needsCorpus = o("workload") == "crawl-full" || o("trace") == "1"
    if (needsCorpus) {
      val spark = session(o("work"), o("cores").toInt)
      try Crawl.prepare(spark, o("corpus"), o("offset").toLong, o("urls").toLong,
        o("cores").toInt, o("inject-wrong-text") == "1")
      finally spark.stop()
    }
    val raw = if (o("trace") == "1") traced(o) else measured(o)
    // The reference pass runs last, so it cannot warm the parse kernel's JIT
    // before the timed jobs; benchlib.py checks every rep against it.
    val reference = if (needsCorpus)
      Crawl.referenceDigest(o("offset").toLong, o("urls").toLong, o("cores").toInt)
    else "null"
    Files.write(Paths.get(o("out")),
      Json.obj(Seq("run" -> raw, "reference" -> reference)).getBytes(UTF_8))
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "htmlspark.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session bring-up, seven times; all but the last session are stopped.
    * Returns the seconds of each bring-up and the live session. */
  private def setUp(work: String, cores: Int): (Seq[Double], SparkSession) = {
    val times = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (k <- 0 until 7) {
      val t0 = System.nanoTime()
      spark = session(work, cores)
      spark.range(1).count()
      times += (System.nanoTime() - t0) / 1e9
      if (k < 6) spark.stop()
    }
    (times.toSeq, spark)
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------------- crawl

  /** One crawl-full rep: scan → ParseJob.run → IcebergishIO.commit into an
    * empty table, timed; then the untimed output check. */
  private def crawlRep(spark: SparkSession, corpusDir: String, table: String,
                       traceAs: Option[(Tracer, String)] = None): String = {
    import spark.implicits._
    Crawl.deleteTree(new File(table))
    val t0 = System.nanoTime()
    def job(): Unit = IcebergishIO.commit(
      ParseJob.run(spark.read.parquet(s"$corpusDir/pages").as[Page]), table)
    traceAs match {
      case Some((t, name)) => t.group(name)(job())
      case None => job()
    }
    val wall = secsSince(t0)
    val (rows, urls, digest, failed) = Crawl.tableDigest(
      IcebergishIO.readCommitted(spark, table).get)
    val bytes = Crawl.dataBytes(table)
    Crawl.deleteTree(new File(table))
    Json.obj(Seq("wall_s" -> Json.num(wall), "rows" -> rows.toString,
      "urls" -> urls.toString, "digest" -> Json.str(digest),
      "failed_rows" -> failed.toString, "table_bytes" -> bytes.toString))
  }

  // ---------------------------------------------------------------- queries

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and the exact sum of a per-row hash over every column. Map
    * columns cannot be hashed directly, so such rows hash their JSON. */
  def queryDigest(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq.map(c => df.col(s"`$c`"))
    val h = if (df.schema.fields.exists(f => hasMap(f.dataType)))
      xxhash64(to_json(struct(cols: _*))) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  /** Janino compiles so far and their total time in ns. The histogram's
    * count is exact; its sampled values are not a running sum, so the time
    * comes from the code generator's own accumulator. */
  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** One pass of the named SparkEntry queries in sorted order; each result is
    * digested, and the digest is what the check compares. */
  private def queryPass(spark: SparkSession, sfDir: String, names: Seq[String],
                        tracer: Option[Tracer]): String = {
    val (n0, ns0) = codegen()
    val recs = names.sorted.map { name =>
      val t0 = System.nanoTime()
      try {
        val fn = graft.SparkEntry.queries.getOrElse(name,
          throw new NoSuchElementException(s"no query named $name"))
        val (rows, digest) = tracer match {
          case Some(t) => t.group(s"query.$name")(queryDigest(fn(spark, sfDir)))
          case None => queryDigest(fn(spark, sfDir))
        }
        name -> Json.obj(Seq("s" -> Json.num(secsSince(t0)), "ok" -> "true",
          "rows" -> rows.toString, "digest" -> Json.str(digest)))
      } catch { case NonFatal(e) =>
        name -> Json.obj(Seq("s" -> Json.num(secsSince(t0)), "ok" -> "false",
          "error" -> Json.str(e.toString.take(300))))
      }
    }
    val (n1, ns1) = codegen()
    Json.obj(Seq("queries" -> Json.obj(recs),
      "compiles" -> (n1 - n0).toString, "compile_ns" -> (ns1 - ns0).toString))
  }

  /** Runs jobs in a closed loop and tags each with its phase: "first"
    * (the first job in the session), "warmup" (jobs that still get faster
    * while C2 compiles the code they run: checked, not timed into a
    * metric) and "measured": at least `minMeasured`, and until `seconds` of
    * measured time are done. */
  private def phased(warmups: Int, minMeasured: Int, seconds: Double)(
      job: Int => String): Seq[String] = {
    val out = ArrayBuffer[String]()
    var measured = 0.0
    var k = 0
    while (k < 1 + warmups + minMeasured || measured < seconds) {
      val t0 = System.nanoTime()
      val rep = job(k)
      val phase = if (k == 0) "first" else if (k <= warmups) "warmup" else "measured"
      if (phase == "measured") measured += secsSince(t0)
      out += Json.obj(Seq("phase" -> Json.str(phase), "rep" -> rep))
      k += 1
    }
    out.toSeq
  }

  /** Query passes: the first in the fresh session, then the measured
    * passes, each starting with an empty plan cache. A warm-up pass would
    * not fit the time budget: a pass takes 15-20 s on 4 cores. */
  private def queryPasses(spark: SparkSession, o: Map[String, String],
                          tracer: Option[Tracer]): Seq[String] = {
    val names = o("queries").split(",").toSeq
    phased(0, 1, o("seconds").toDouble) { k =>
      if (k > 0) TextOps.clearPlanCache(spark)
      queryPass(spark, o("sf"), names, tracer)
    }
  }

  // ---------------------------------------------------------------- modes

  /** Untraced run: the end-to-end metrics. */
  private def measured(o: Map[String, String]): String = {
    val work = o("work")
    val (setup, spark) = setUp(work, o("cores").toInt)
    try {
      val reps = o("workload") match {
        // four warm-up jobs: C2 is still compiling the tokenizer and tree
        // builder on the same cores the job runs on
        case "crawl-full" => phased(4, 3, o("seconds").toDouble) { _ =>
          crawlRep(spark, o("corpus"), s"$work/tables/full") }
        case "query-suite" => queryPasses(spark, o, None)
      }
      Json.obj(Seq("setup_s" -> Json.arr(setup.map(Json.num)),
        "reps" -> Json.arr(reps),
        "heap_live_bytes" -> liveHeapBytes().toString))
    } finally {
      TextOps.clearPlanCache(spark)
      spark.stop()
    }
  }

  /** Heap in use after full collections, with the session and whatever
    * the workload left cached still live. Spark's ContextCleaner frees
    * shuffle and broadcast blocks on its own thread once a collection has
    * found their owners unreachable, so it gets time between collections. */
  private def liveHeapBytes(): Long = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(500) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Single-thread kernel pass over `k` pages from `offset`: parsePage as
    * one call, then its phases called one by one in parsePage order. */
  private def kernelPass(offset: Long, k: Int): String = {
    val pages = Array.tabulate(k)(j => PagesGen.page(offset + j))
    val engine = new HtmlParser.Engine
    var sink = 0L
    for (_ <- 0 until 3; p <- pages) sink += ParseJob.parsePage(p, engine).n_chars
    val passes = 3
    val parseNs = Array.ofDim[Long](passes, k)
    val phaseNs = Array.ofDim[Long](passes, 4)
    var restarts = 0
    for (pass <- 0 until passes) {
      var j = 0
      while (j < k) {
        val t0 = System.nanoTime()
        val d = ParseJob.parsePage(pages(j), engine)
        parseNs(pass)(j) = System.nanoTime() - t0
        sink += d.n_chars
        if (pass == 0 && d.restarted) restarts += 1
        j += 1
      }
      j = 0
      while (j < k) {
        val bytes = pages(j).html
        val t0 = System.nanoTime()
        val s = EncodingSniffer.sniff(bytes)
        val t1 = System.nanoTime()
        val html = EncodingSniffer.decode(bytes, s)
        val t2 = System.nanoTime()
        val r = engine.parse(html)
        val t3 = System.nanoTime()
        sink += TextExtractor.extract(r.doc).length
        val t4 = System.nanoTime()
        val ph = phaseNs(pass)
        ph(0) += t1 - t0; ph(1) += t2 - t1; ph(2) += t3 - t2; ph(3) += t4 - t3
        j += 1
      }
    }
    Json.obj(Seq("docs" -> k.toString, "restarts" -> restarts.toString,
      "sink" -> sink.toString,
      "parse_ns" -> Json.arr(parseNs.map(a => Json.arr(a.map(_.toString)))),
      "phase_ns" -> Json.arr(phaseNs.map(a => Json.arr(a.map(_.toString))))))
  }

  /** The per-layer pass: query layer in the fresh session, the kernel pass,
    * one isolated Spark action per module call on the workload's corpus,
    * and crawl reps with and without tracing for the overhead. */
  private def traced(o: Map[String, String]): String = {
    val work = o("work")
    val corpus = o("corpus")
    val spark = session(work, o("cores").toInt)
    import spark.implicits._
    val tr = new Tracer(spark.sparkContext)
    tr.attach()
    try {
      val queries = queryPasses(spark, o, Some(tr))
      TextOps.clearPlanCache(spark)
      val kernel = kernelPass(o("offset").toLong, o("kernel-docs").toInt)

      val pages = spark.read.parquet(s"$corpus/pages").as[Page]
      def sizeAgg(ds: org.apache.spark.sql.Dataset[Page]) =
        ds.agg(count(lit(1)), sum(octet_length(col("html")).cast("long"))).collect()(0)
      def docAgg(ds: org.apache.spark.sql.Dataset[htmlspark.pipeline.ExtractedDoc]) =
        ds.agg(count(lit(1)), sum(col("n_chars").cast("long"))).collect()(0)
      val scan = tr.group("scan")(sizeAgg(pages))
      tr.group("ParseJob.saltBySize")(sizeAgg(ParseJob.saltBySize(pages)))
      tr.group("ParseJob.parseAll")(docAgg(ParseJob.parseAll(pages)))
      val run = tr.group("ParseJob.run")(docAgg(ParseJob.run(pages)))
      val docs = ParseJob.run(pages).persist(StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val tableA = s"$work/tables/trace-commit"
      val tableB = s"$work/tables/trace-resume"
      Seq(tableA, tableB).foreach(t => Crawl.deleteTree(new File(t)))
      tr.group("IcebergishIO.commit")(IcebergishIO.commit(docs, tableA))
      val committedRows = IcebergishIO.readCommitted(spark, tableA).get.count()
      val tableBytes = Crawl.dataBytes(tableA)
      // the resume table holds 90 % of the urls, chosen by url hash
      IcebergishIO.commit(docs.filter(pmod(xxhash64(col("url")), lit(10)) =!= 0), tableB)
      val kept = tr.group("IcebergishIO.resumeFilter")(
        sizeAgg(IcebergishIO.resumeFilter(pages, tableB)))
      docs.unpersist(true)
      Seq(tableA, tableB).foreach(t => Crawl.deleteTree(new File(t)))

      val overhead = ArrayBuffer[String]()
      for (k <- 0 until 2) {
        val on = k == 1
        if (on) tr.attach() else tr.detach()
        val rep = crawlRep(spark, corpus, s"$work/tables/overhead",
          if (on) Some((tr, s"overhead.rep$k")) else None)
        overhead += Json.obj(Seq("traced" -> on.toString, "rep" -> rep))
      }
      tr.detach()

      Json.obj(Seq(
        "cores" -> o("cores"),
        "queries" -> Json.arr(queries),
        "kernel" -> kernel,
        "spans" -> tr.json,
        "bases" -> Json.obj(Seq(
          "rows_in" -> scan.getLong(0).toString,
          "html_bytes" -> scan.getLong(1).toString,
          "survivors" -> run.getLong(0).toString,
          "committed_rows" -> committedRows.toString,
          "table_bytes" -> tableBytes.toString,
          "resume_kept" -> kept.getLong(0).toString)),
        "overhead" -> Json.arr(overhead)))
    } finally {
      TextOps.clearPlanCache(spark)
      spark.stop()
    }
  }
}
