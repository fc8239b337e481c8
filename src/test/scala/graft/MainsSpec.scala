package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Probe code stays out of `htmlspark.*`, and `graft` holds only the
  * benchmark, verification and measurement mains below: a new one-off
  * `main` fails here. */
class MainsSpec extends AnyFunSuite {

  private val allowed = Set("Bench", "Verify", "ScalingBench", "ThreadProf", "PlanDump")
  private val root = Paths.get("src/main/scala")
  private val entryPoint = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
  private val objectDecl = """\bobject\s+(\w+)""".r

  /** (path under src/main/scala, enclosing object) of every entry point. */
  private def mains(): Seq[(String, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      entryPoint.findAllMatchIn(src).map { m =>
        val owner = objectDecl.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        (root.relativize(f).toString, owner)
      }
    }
  }

  test("every main lives in graft and is one of the kept entry points") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val found = mains()
    assert(found.map(_._2).toSet.contains("Bench"), s"scan found $found")
    val outside = found.filterNot(_._1.startsWith("graft/"))
    assert(outside.isEmpty, s"mains outside graft/: $outside")
    val extra = found.filterNot(m => allowed(m._2))
    assert(extra.isEmpty, s"graft mains beyond $allowed: $extra")
  }
}
