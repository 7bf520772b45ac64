package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards `graft.streaming` and `graft.plans` against regrowing modules
  * that nothing runs. Outside the pinned entry modules, every top-level
  * `object`, `class` or `trait` in the two packages must be named in the
  * code (not the comments) of a reached main source: a file outside the
  * two packages, an entry module, or a module already reached that way.
  * A module that only its own spec or a scaladoc link reaches fails here
  * by name; delete it, or give it a caller.
  */
class OrphanModuleSpec extends AnyFunSuite {

  /** Entry modules: reached by specs and by the dashboard's streaming
    * face, not by a main.
    */
  private val entries = Set("StreamingIngest", "StreamingDashboard")

  private val guarded = Seq("graft/streaming", "graft/plans")

  /** Each main source with its comments blanked out. */
  private val mainCode: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p) -> Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " "))
    finally walk.close()
  }

  private val topLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r

  private def isGuarded(p: Path): Boolean =
    guarded.exists(g => p.toString.startsWith(g + "/"))

  /** Guarded module name -> the file that declares it. */
  private val modules: Map[String, Path] = mainCode.collect {
    case (p, src) if isGuarded(p) =>
      topLevel.findAllMatchIn(src).map(_.group(1) -> p).toSeq
  }.flatten.toMap

  private def names(code: String, n: String): Boolean =
    s"\\b$n\\b".r.findFirstIn(code).isDefined

  test("every entry module is still declared in a guarded package") {
    assert(entries.subsetOf(modules.keySet),
      s"pinned entry modules not found: ${entries -- modules.keySet}")
  }

  test("every other module in graft.streaming and graft.plans is reached " +
       "from non-comment main code") {
    val reachedFiles = scala.collection.mutable.Set[Path]()
    reachedFiles ++= mainCode.map(_._1).filterNot(isGuarded)
    reachedFiles ++= entries.flatMap(modules.get)
    var grew = true
    while (grew) {
      val reached = modules.collect {
        case (n, p) if !reachedFiles(p) && mainCode.exists {
          case (q, code) => q != p && reachedFiles(q) && names(code, n)
        } => p
      }
      grew = reached.nonEmpty
      reachedFiles ++= reached
    }
    val orphans = modules.collect {
      case (n, p) if !reachedFiles(p) => s"$n ($p)"
    }.toSeq.sorted
    if (orphans.nonEmpty)
      fail(s"unreached modules: ${orphans.mkString(", ")}")
  }
}
