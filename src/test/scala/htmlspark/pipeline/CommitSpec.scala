package htmlspark.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** IcebergishIO.commit writes its manifest from metrics observed on the
  * write; the manifest must still say exactly what a re-read of the
  * snapshot says. Also: the p03 resume round trip cleans up its table. */
class CommitSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("commit-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def manifest(tableDir: String, snap: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tableDir/snapshots/snap-$snap.json")), "UTF-8")

  private def field(json: String, name: String): String = {
    val m = ("\"" + name + "\": (\"([^\"]*)\"|[0-9]+)").r.findFirstMatchIn(json)
    assert(m.isDefined, s"$name missing from $json")
    Option(m.get.group(2)).getOrElse(m.get.group(1))
  }

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
  }

  test("commit manifest equals a re-read of the snapshot it wrote") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("graft_commit_").toString
    try {
      val pages = ParseJob.dedupLatest(PagesGen.pages(spark, 300))
      val half = pages.filter(pmod(xxhash64($"url"), lit(2L)) === 0)
      val empty = pages.filter(lit(false))
      Seq(half, empty, pages).zipWithIndex.foreach { case (ds, k) =>
        val snap = IcebergishIO.commit(ParseJob.parseAll(ds), tableDir)
        assert(snap == k + 1L)
        val json = manifest(tableDir, snap)
        val dataDir = s"$tableDir/data/snap-$snap"
        val r = spark.read.parquet(dataDir)
          .agg(count(lit(1)), min("url"), max("url")).collect()(0)
        assert(field(json, "n_rows").toLong == r.getLong(0), json)
        assert(field(json, "min_url") == Option(r.getString(1)).getOrElse(""), json)
        assert(field(json, "max_url") == Option(r.getString(2)).getOrElse(""), json)
        val files = new java.io.File(dataDir).listFiles()
          .map(_.getName).filter(_.endsWith(".parquet")).sorted
        assert(files.forall(f => json.contains("\"" + f + "\"")), json)
      }
      assert(field(manifest(tableDir, 2), "n_rows") == "0")
      assert(field(manifest(tableDir, 3), "n_rows").toLong == pages.count())
    } finally deleteTree(new java.io.File(tableDir))
  }

  test("p03 resume round trip leaves no graft_resume_ table dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def resumeDirs(): Set[String] =
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .map(_.getName).filter(_.startsWith("graft_resume_")).toSet
    val before = resumeDirs()
    val rows = PagesQueries.resumeRoundTrip(spark, "unused").collect()
    assert(rows.length == 4)
    assert(resumeDirs() -- before == Set.empty[String])
  }
}
