package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps code-path switches out of the engine: main code may read only the
  * run settings below from the environment, and no `spark.graft.*` system
  * property. Reads files only, no Spark. */
class KnobGuardSpec extends AnyFunSuite {
  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_BENCH_REF")

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
    finally walk.close()
  }

  test("src/main names only the allowed SPARK_GRAFT_* settings and no spark.graft. property") {
    val sources = mainSources
    assert(sources.exists(_.toString.endsWith("Bench.scala")), "src/main not found")
    val envName = "SPARK_GRAFT_[A-Z0-9_]*".r
    val offending = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.flatMap {
        case (line, i) =>
          envName.findAllIn(line).filterNot(allowed).map(n => s"$p:${i + 1}: $n") ++
            Option.when(line.contains("spark.graft."))(s"$p:${i + 1}: spark.graft.")
      }
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
