package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Dead-code guard: every top-level `object` in `operators`, `ops` and
  * `pipeline` must be reached from the rest of `src/main` — the queries,
  * sources, functions, plans and mains — directly or through another
  * reached object of those packages. An object only its own specs call is
  * code the oracle never checks; delete it, or allowlist it here with the
  * reason it is an entry point.
  *
  * Reach is a whole-word mention of the object's name in another reached
  * file, so a doc-comment link counts too. */
class ReachabilitySpec extends AnyFunSuite {

  private val allowlist = Map(
    "RorPipeline" -> "the entry point of the rorbench harness",
    "StreamingIngest" -> "a library entry point: the paper's incremental variant")

  private val guardedDirs = Set("operators", "ops", "pipeline")

  test("every object in operators, ops and pipeline is reached from the rest of src/main") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files: Map[Path, String] = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toMap
    def guardedFile(p: Path): Boolean =
      guardedDirs(root.relativize(p).getName(0).toString)
    val objectDecl = raw"(?m)^(?:private\S* )?(?:case )?object (\w+)".r
    val objects: Map[String, Path] = files.toSeq.filter(f => guardedFile(f._1))
      .flatMap { case (p, src) => objectDecl.findAllMatchIn(src).map(_.group(1) -> p) }
      .toMap
    assert(objects.contains("UltimateParent") && objects.contains("PinnedLoop"))
    assert(allowlist.keySet.subsetOf(objects.keySet),
      s"allowlisted objects that no longer exist: ${allowlist.keySet -- objects.keySet}")

    var reached = allowlist.keySet
    var reachedFiles = files.keySet.filterNot(guardedFile) ++ reached.map(objects)
    var grew = true
    while (grew) {
      val found = objects.collect {
        case (o, own) if !reached(o) && reachedFiles.exists(f =>
            f != own && raw"\b$o\b".r.findFirstIn(files(f)).isDefined) => o
      }
      reached ++= found
      reachedFiles ++= found.map(objects)
      grew = found.nonEmpty
    }
    val unreached = (objects.keySet -- reached).toSeq.sorted
    assert(unreached.isEmpty,
      s"${unreached.size} objects no query, source, plan or main reaches: " +
        unreached.map(o => s"$o (${root.relativize(objects(o))})").mkString(", "))
  }
}
