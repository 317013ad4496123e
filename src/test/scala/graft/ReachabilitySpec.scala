package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dead-code check: every top-level non-private `object`, `class` or
  * `trait` in `src/main` must be named by another file — another
  * `src/main` file (which includes `SparkEntry`'s entry list) or a
  * `perfbench/scala` file. Uses inside its own file do not count, so a
  * definition only a dead sibling calls shows up too. Comments are
  * stripped first: a name in a comment reaches nothing. Specs do not
  * count, so a definition only its spec uses shows up here. */
class ReachabilitySpec extends AnyFunSuite {

  /** Known unreached definitions, each with its reason. */
  private val allowed = Set(
    // the sbt mains: run by name, named by no code
    "Bench", "Verify", "PlanAudit", "Profiler", "LayoutMain",
    // serve only DashboardParitySpec's verbatim panel SQL; ROADMAP
    // item 12 decides whether they move to src/test or go
    "PgDialect", "ReferenceCatalog",
    // library entry points that only their own specs call
    // (exactly-once durable log, retention, the two streaming dedup
    // operators); ROADMAP item 12 decides whether an entry or the
    // ingest path adopts them or they go
    "NtripDurableLog", "Retention", "StreamingDedup", "StreamingNearDup")

  private val decl =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def stripped(f: Path): String =
    Files.readString(f).replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")

  test("every top-level src/main definition is named by another file") {
    val main = scalaFiles("src/main/scala").map(stripped)
    val all = main ++ scalaFiles("perfbench/scala").map(stripped)
    val unreached = main.indices.flatMap { i =>
      decl.findAllMatchIn(main(i)).map(_.group(1)).filter { n =>
        val named = ("\\b" + n + "\\b").r
        !all.indices.exists(j => j != i && named.findFirstIn(all(j)).isDefined)
      }
    }.toSet
    // the scan is not vacuous: it finds the mains, which no code names
    assert(Set("Bench", "Verify").subsetOf(unreached))
    assert((unreached -- allowed).isEmpty,
      s"defined in src/main but named by no other src/main or perfbench file: " +
        (unreached -- allowed).toSeq.sorted.mkString(", "))
  }
}
