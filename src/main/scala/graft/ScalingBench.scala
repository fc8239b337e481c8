package graft

import org.apache.spark.sql.SparkSession
import htmlspark.pipeline.{PagesGen, ParseJob}

/** Scaling-evidence runner (BASELINE.json north rule: throughput scaling
  * efficiency ≥0.8 from N to 4N executors; sandboxed as local[N] vs
  * local[4N] per the driver's instruction — same job, same input, two
  * parallelism levels).
  *
  * Usage: runMain graft.ScalingBench <cores> <nPages> [rounds]
  * Prints one JSON line: {"cores":N,"n_docs":...,"docs_per_sec":...}
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val n = args(1).toLong
    val rounds = if (args.length > 2) args(2).toInt else 1
    val mode = if (args.length > 3) args(3) else "full"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"scaling-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.buffer.pageSize", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // warmup: JIT + codegen caches, small corpus
    ParseJob.run(PagesGen.pages(spark, 2000, cores)).count()

    // Materialize the corpus once (untimed): the north-rule input is an
    // Iceberg/parquet table, so the timed job must SCAN, not re-render
    // (ParseJob.run reads the source once; parse-only mode does too).
    import spark.implicits._
    val corpusDir = sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark") +
      s"/pages_corpus_v${PagesGen.GeneratorVersion}_$n"
    if (!new java.io.File(corpusDir + "/_SUCCESS").exists()) {
      PagesGen.pages(spark, n, cores * 4).write
        .mode("overwrite").parquet(corpusDir)
    }

    var best = 0.0
    var lastDocs = 0L
    var lastBytes = 0L
    (1 to rounds).foreach { _ =>
      val t0 = System.nanoTime()
      val src = spark.read.parquet(corpusDir).as[htmlspark.pipeline.Page]
      val job = if (mode == "parse") ParseJob.parseAll(src) else ParseJob.run(src)
      val agg = job
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("n_bytes").cast("long")))
        .collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      lastDocs = agg.getLong(0)
      lastBytes = agg.getLong(1)
      val rate = lastDocs / secs
      if (rate > best) best = rate
    }
    println(f"""{"cores":$cores,"mode":"$mode","n_docs":$lastDocs,"sum_bytes":$lastBytes,"docs_per_sec":$best%.1f}""")
    spark.stop()
  }
}
