package htmlspark.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Iceberg-shaped snapshot/commit IO facade (SURVEY.md §7.5).
  *
  * Production target is a real Iceberg table (`df.writeTo(t).append()`,
  * snapshot-id based resume); this sandbox has no Iceberg runtime jar, so
  * the same semantics are provided over partitioned Parquet plus a
  * `snapshots/<id>.json` manifest per commit: committed data files + row
  * count + url-range watermark. Every Iceberg-specific call in the engine
  * routes through this one file.
  *
  * Resume = LEFT ANTI join of incoming urls against committed urls — the
  * reference's "snapshot + reload" lifecycle (Core/TreeBuilder.Snapshot.cs)
  * lifted from parser state to job state.
  */
object IcebergishIO {

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Append `docs` as a new snapshot under `tableDir`; returns snapshot id. */
  def commit(docs: Dataset[ExtractedDoc], tableDir: String): Long = {
    val prev = lastSnapshotId(tableDir)
    val snapId = prev + 1
    val dataDir = s"$tableDir/data/snap-$snapId"
    // The manifest's row count and url range are observed on the write
    // itself, so the commit never re-reads the snapshot it just wrote.
    val stats = new Observation()
    docs.observe(stats, count(lit(1)).as("n_rows"), min("url").as("min_url"),
        max("url").as("max_url"))
      .write.mode(SaveMode.Overwrite).parquet(dataDir)
    val m = stats.get
    val files = new java.io.File(dataDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).sorted
    Files.createDirectories(Paths.get(s"$tableDir/snapshots"))
    val json =
      s"""{"snapshot_id": $snapId, "parent_id": ${if (prev == 0) "null" else prev},
         | "data_dir": ${q(s"data/snap-$snapId")},
         | "n_rows": ${m("n_rows")},
         | "min_url": ${q(Option(m("min_url")).fold("")(_.toString))},
         | "max_url": ${q(Option(m("max_url")).fold("")(_.toString))},
         | "files": [${files.map(q).mkString(", ")}]}""".stripMargin
    Files.write(Paths.get(s"$tableDir/snapshots/snap-$snapId.json"),
      json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    snapId
  }

  def lastSnapshotId(tableDir: String): Long = {
    val dir = new java.io.File(s"$tableDir/snapshots")
    if (!dir.isDirectory) return 0L
    dir.listFiles().map(_.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        n.stripPrefix("snap-").stripSuffix(".json").toLong }
      .foldLeft(0L)(math.max)
  }

  /** All rows committed across snapshots. */
  def readCommitted(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    val last = lastSnapshotId(tableDir)
    if (last == 0) return None
    val dirs = (1L to last).map(i => s"$tableDir/data/snap-$i")
      .filter(d => new java.io.File(d).isDirectory)
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Checkpoint/resume: drop pages whose url is already committed.
    * Anti-join touches only the url column of the committed side (column
    * pruning reaches the parquet scan). */
  def resumeFilter(pages: Dataset[Page], tableDir: String): Dataset[Page] = {
    import pages.sparkSession.implicits._
    readCommitted(pages.sparkSession, tableDir) match {
      case None => pages
      case Some(done) =>
        pages.join(done.select($"url").distinct(), Seq("url"), "left_anti")
          .as[Page]
    }
  }

  // ------------------------------------------------------------------
  // Bucketed-by-url layout (the 100 TB resume shape).
  //
  // When both the incoming corpus and the committed table are written
  // bucketed on url with the same bucket count, the resume anti-join (and
  // the latest-crawl dedup window) need NO shuffle of the payload side —
  // each bucket joins its committed counterpart in place. In Iceberg this
  // is `bucket(N, url)` partition transform; here it's Spark's native
  // bucketBy through the session catalog. BucketedLayoutSpec asserts the
  // join plan is Exchange-free on the pages side.
  // ------------------------------------------------------------------

  /** Write a Dataset as a url-bucketed catalog table. */
  def writeBucketedByUrl[T](ds: Dataset[T], table: String,
                            buckets: Int = 8): Unit =
    ds.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "url").sortBy("url")
      .format("parquet").saveAsTable(table)

  /** Resume anti-join over two url-bucketed tables: shuffle-free. */
  def resumeFilterBucketed(spark: SparkSession, pagesTable: String,
                           doneTable: String): DataFrame =
    spark.table(pagesTable)
      .join(spark.table(doneTable).select(col("url")), Seq("url"), "left_anti")
}
