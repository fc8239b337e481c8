package graft
import htmlspark.pipeline.{PagesGen, ParseJob}
import htmlspark.tree.HtmlParser

/** Plain-thread engine harness: isolates engine-level scaling from Spark
  * overheads. One reusable parser Engine per thread, mirroring the
  * per-partition reuse in ParseJob.parseAll.
  * Usage: runMain graft.ThreadProf <threads> [docsPerThread]  */
object ThreadProf {
  def main(args: Array[String]): Unit = {
    val nt = args(0).toInt
    val perThread = if (args.length > 1) args(1).toLong else 60000L
    // warmup (JIT) with a reused engine, same as the measured loop
    val warm = new HtmlParser.Engine
    (0L until 5000L).foreach(i => ParseJob.parsePage(PagesGen.page(i), warm))
    val t0 = System.nanoTime()
    val threads = (0 until nt).map { k =>
      val t = new Thread(() => {
        val engine = new HtmlParser.Engine
        var i = k * perThread
        val end = i + perThread
        while (i < end) {
          ParseJob.parsePage(PagesGen.page(i), engine)
          i += 1
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"THREADS $nt docs=${nt * perThread} secs=$secs%.2f docs_per_sec=${nt * perThread / secs}%.0f per_core=${perThread * nt / secs / nt}%.0f")
  }
}
