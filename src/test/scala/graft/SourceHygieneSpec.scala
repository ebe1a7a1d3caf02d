package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session setup from the environment lives in one place: no main source
  * other than `core/GraftSession.scala` reads the core count or builds
  * its own session. */
class SourceHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val bootstrap = root.resolve("graft/core/GraftSession.scala")

  private def sources: Seq[Path] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally w.close()
  }

  test("only GraftSession reads SPARK_GRAFT_CPUS or calls " +
      "SparkSession.builder()") {
    assert(Files.isRegularFile(bootstrap), s"$bootstrap missing")
    val offenders = for {
      p <- sources if p != bootstrap
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("SPARK_GRAFT_CPUS") ||
        line.contains("SparkSession.builder()")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(sources.size > 50, "source walk found too few files")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
