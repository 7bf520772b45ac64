package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the environment variables the main sources may read. Each one is
  * a configuration of the engine or its harness; a new debug or
  * experiment flag has to be added here on purpose (or, better, not at
  * all), instead of silently widening the set of configurations every
  * result was measured under.
  */
class EnvAllowListSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_SWEEPS", "SPARK_GRAFT_BENCH_TAG", "SPARK_GRAFT_ROUND")

  private val mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  /** A read with a literal name: `sys.env("X")`, `sys.env.get("X")`,
    * `sys.env.getOrElse("X", …)`, `sys.env.contains("X")`.
    */
  private val literalRead =
    """sys\.env(?:\.(?:get|getOrElse|contains))?\(\s*"([A-Za-z0-9_]+)"""".r

  test("main sources read exactly the allowed env vars") {
    val read = mainSources.flatMap { case (_, src) =>
      literalRead.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(read === allowed)
  }

  test("every env read in the main sources names its variable literally") {
    val opaque = mainSources.collect {
      case (p, src)
          if "sys\\.env".r.findAllMatchIn(src).size !=
               literalRead.findAllMatchIn(src).size ||
             src.contains("System.getenv") => p.toString
    }
    assert(opaque.isEmpty,
      "env reads the allow-list cannot check (dynamic name or getenv)")
  }
}
