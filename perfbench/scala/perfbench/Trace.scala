package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON text building: the raw record the JVM hands to run.py. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * taken here and listener event times share one time base. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Gc {
  /** Total collection time of every collector so far. */
  def millis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}

/** Collects, per Spark job group, the job intervals and one record per
  * finished task. Job groups are set by [[Tracer.group]] and named after
  * the call they wrap. */
final class GroupListener extends SparkListener {
  private val stageGroup = scala.collection.mutable.Map[Int, String]()
  private val jobGroup = scala.collection.mutable.Map[Int, (String, Long)]()
  val jobs = scala.collection.mutable.Map[String, ArrayBuffer[(Long, Long)]]()
  /** stage, duration ms, run ms, cpu ns, shuffle write B, shuffle read B,
    * fetch wait ms, disk spill B. */
  val tasks = scala.collection.mutable.Map[String, ArrayBuffer[Array[Long]]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      e.stageIds.foreach(s => stageGroup(s) = g)
      jobGroup(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      jobs.getOrElseUpdate(g, ArrayBuffer()) += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      tasks.getOrElseUpdate(g, ArrayBuffer()) += Array(
        e.stageId.toLong, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled)
    }
  }
}

/** Spans around the benchmark's calls into a module; each span is also a
  * Spark job group, so the listener attributes the group's tasks to it. */
final class Tracer(sc: SparkContext) {
  private val listener = new GroupListener
  private val spans = ArrayBuffer[(String, Double, Double, Long)]()
  private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) { sc.removeSparkListener(listener); attached = false }

  def group[T](name: String)(body: => T): T = {
    sc.setJobGroup(name, name)
    val gc0 = Gc.millis()
    val t0 = Clock.ms()
    try body
    finally {
      val t1 = Clock.ms()
      sc.clearJobGroup()
      org.apache.spark.perfbench.BusDrain.drain(sc)
      spans += ((name, t0, t1, Gc.millis() - gc0))
    }
  }

  /** Every span, keyed by its name, with its jobs and tasks. */
  def json: String = listener.synchronized {
    Json.obj(spans.map { case (name, t0, t1, gcMs) =>
      name -> Json.obj(Seq(
        "start_ms" -> Json.num(t0), "end_ms" -> Json.num(t1),
        "gc_ms" -> gcMs.toString,
        "jobs" -> Json.arr(listener.jobs.getOrElse(name, Nil)
          .map { case (a, b) => s"[$a,$b]" }),
        "tasks" -> Json.arr(listener.tasks.getOrElse(name, Nil)
          .map(_.mkString("[", ",", "]")))))
    })
  }
}
