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
  * Reach is a whole-word mention of the object's name in the code of
  * another reached file: comments, doc-comment links included, do not
  * count. */
class ReachabilitySpec extends AnyFunSuite {

  private val allowlist = Map(
    "RorPipeline" -> "the entry point of the rorbench harness",
    "StreamingIngest" -> "a library entry point: the paper's incremental variant")

  private val guardedDirs = Set("operators", "ops", "pipeline")

  /** `src` with its comments blanked. String and character literals are
    * copied as they are (SQL text may name an object) and skipped over, so
    * a comment marker inside one starts no comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def copyTo(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < src.length
        }) ()
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        copyTo(if (end < 0) src.length else end + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, src.length))
      } else if (at("'\\") && src.indexOf('\'', i + 2) == i + 3) {
        copyTo(i + 4)
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else copyTo(i + 1)
    }
    out.toString
  }

  test("every object in operators, ops and pipeline is reached from the rest of src/main") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files: Map[Path, String] = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(new String(Files.readAllBytes(p), "UTF-8"))).toMap
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
