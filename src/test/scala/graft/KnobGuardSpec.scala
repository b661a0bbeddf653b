package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators read no JVM property or environment variable: their tiers
  * are chosen from the input (DriverTier), and tests force fallbacks
  * with `DriverTier.withFallback`. Deployment settings (core's
  * SPARK_GRAFT_CPUS) and the CLI mains stay outside the scanned
  * packages. */
class KnobGuardSpec extends AnyFunSuite {

  test("operators, ext, functions and streaming read no sys.props, System.getProperty or sys.env") {
    val read = raw"sys\.props|System\.getProperty|sys\.env|System\.getenv".r
    val roots = Seq("operators", "ext", "functions", "streaming")
      .map(p => Paths.get("src/main/scala/graft", p))
    assert(roots.forall(Files.isDirectory(_)), roots)
    val sources: Seq[Path] = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val hits = sources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
