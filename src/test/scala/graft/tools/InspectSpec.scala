package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Each [[Inspect]] mode on q1_agg at sf0.001, through `Inspect.run` on
  * the shared session (the exit code `main` would exit with).
  */
class InspectSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-inspect").toString

  test("plans writes <name>_<tag>.txt with both sections and the final " +
       "adaptive plan") {
    val dir = tmp()
    assert(Inspect.run(spark, Array(sf, "q1_agg", "plans", dir, "t")) === 0)
    val text = Files.readString(Paths.get(dir, "q1_agg_t.txt"))
    assert(text.contains("== explain(\"formatted\") =="))
    assert(text.contains("== executed plan (post-AQE, isFinalPlan"))
    assert(text.contains("isFinalPlan=true"))
  }

  test("jobs prints the timed run's total line") {
    val out = new ByteArrayOutputStream
    val code = Console.withOut(out) {
      Inspect.run(spark, Array(sf, "q1_agg", "jobs"))
    }
    assert(code === 0)
    assert(out.toString.linesIterator.exists(
      _.matches("JOBPROFILE q1_agg total \\d+\\.\\d\\d s")))
  }

  test("codegen writes the audit JSON and passes the gate") {
    val file = Paths.get(tmp(), "jit.json")
    assert(Inspect.run(spark,
      Array(sf, "q1_agg", "codegen", file.toString)) === 0)
    val json = Files.readString(file)
    assert(json.contains("\"n_queries\":1,"))
    assert(json.contains("\"failed\":[]"))
    assert(json.contains("\"queries\":{\"q1_agg\":{\"n_stages\":"))
  }

  test("codegen fails, and lists under failed, a query that throws") {
    val file = Paths.get(tmp(), "jit.json")
    val code = Inspect.run(spark,
      Array("/nonexistent/sf", "q1_agg", "codegen", file.toString))
    assert(code !== 0)
    val json = Files.readString(file)
    assert(json.contains("\"failed\":[\"q1_agg\"]"))
    assert(json.contains("\"queries\":{}"))
  }

  test("an unknown mode is a usage error") {
    assert(Inspect.run(spark, Array(sf, "q1_agg", "stages")) === 2)
  }
}
