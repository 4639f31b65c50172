package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Dead-code guard: every top-level `object` in `operators`, `ops`,
  * `pipeline` and `sources` must be reached from the rest of `src/main` —
  * the queries, functions, plans and mains — directly or through another
  * reached declaration of those packages. An object only its own specs
  * call is code the oracle never checks; delete it, or allowlist it here
  * with the reason it is an entry point.
  *
  * Reach is a whole-word mention of the object's name in the code of a
  * reached declaration other than its own: comments, doc-comment links
  * included, do not count. A declaration is a top-level object, class or
  * trait; a class and its companion object are one declaration, so a
  * companion object is reached when its class is. Everything outside the
  * guarded packages is reached.
  *
  * The second guard holds `SnapshotTable` to the same rule one level
  * down: each of its public methods needs a caller in another `src/main`
  * file. */
class ReachabilitySpec extends AnyFunSuite {

  private val allowlist = Map(
    "RorPipeline" -> "the entry point of the rorbench harness",
    "StreamingIngest" -> "a library entry point: the paper's incremental variant",
    "CatalogSelect" -> ("unreached: the reference's S1 dump selection, which no " +
      "main calls yet; kept until ROADMAP direction 5 decides whether the " +
      "harness uses it or it goes"))

  private val snapshotTableAllowlist = Map(
    "resetConsumer" -> ("the only recovery path the vacuumed-offset error of " +
      "pollChanges names; no main needs it until an offset is vacuumed away"))

  private val guardedDirs = Set("operators", "ops", "pipeline", "sources")

  private val root = Paths.get("src/main/scala/graft")

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

  /** Every `src/main` file with its comments blanked. */
  private lazy val files: Map[Path, String] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(new String(Files.readAllBytes(p), "UTF-8"))).toMap
  }

  private def words(src: String): Set[String] = raw"\w+".r.findAllIn(src).toSet

  test("every object in operators, ops, pipeline and sources is reached from the rest of src/main") {
    def guardedFile(p: Path): Boolean =
      guardedDirs(root.relativize(p).getName(0).toString)
    // a top-level declaration runs from its header to the next one
    val declHead =
      raw"(?m)^(?:(?:private|protected)\S* |final |sealed |abstract |case )*(object|class|trait) (\w+)".r
    // identity equality: a declaration is one value, compared by reference
    final class Decl(val file: Path, val name: String, val isObject: Boolean,
                     val words: Set[String])
    val decls: Seq[Decl] = files.toSeq.filter(f => guardedFile(f._1)).flatMap { case (p, src) =>
      val heads = declHead.findAllMatchIn(src).toSeq
      val spans = heads.zip(heads.drop(1).map(_.start) :+ src.length).map {
        case (m, end) => (m.group(2), m.group(1) == "object", src.substring(m.start, end)) }
      spans.groupBy(_._1).toSeq.map { case (name, ss) =>
        new Decl(p, name, ss.exists(_._2), ss.map(s => words(s._3)).reduce(_ ++ _)) }
    }
    val objects = decls.filter(_.isObject)
    val names = objects.map(_.name).toSet
    assert(Seq("UltimateParent", "PinnedLoop", "SnapshotTable", "IndexDir").forall(names))
    assert(allowlist.keySet.subsetOf(names),
      s"allowlisted objects that no longer exist: ${allowlist.keySet -- names}")

    var reached: Set[Decl] = decls.filter(d => allowlist.contains(d.name)).toSet
    var reachedWords: Seq[Set[String]] =
      files.toSeq.filterNot(f => guardedFile(f._1)).map(f => words(f._2)) ++ reached.map(_.words)
    var grew = true
    while (grew) {
      // a declaration's own words join reachedWords only once it is reached,
      // so it never reaches itself
      val found = decls.filter(d => !reached(d) && reachedWords.exists(_.contains(d.name)))
      reached ++= found
      reachedWords ++= found.map(_.words)
      grew = found.nonEmpty
    }
    val unreached = objects.filterNot(reached)
      .map(d => s"${d.name} (${root.relativize(d.file)})").sorted
    assert(unreached.isEmpty,
      s"${unreached.size} objects no query, function, plan or main reaches: " +
        unreached.mkString(", "))
  }

  test("every public method of SnapshotTable has a caller in another src/main file") {
    val own = root.resolve("sources/SnapshotTable.scala")
    val src = files(own)
    // members of the object sit at two spaces; private ones carry a modifier
    val defs = raw"(?m)^  def (\w+)".r
      .findAllMatchIn(src.substring(src.indexOf("object SnapshotTable")))
      .map(_.group(1)).toSet
    assert(defs("read") && defs("upsert"))
    assert(snapshotTableAllowlist.keySet.subsetOf(defs),
      s"allowlisted methods that no longer exist: ${snapshotTableAllowlist.keySet -- defs}")
    // a caller names the method through the object or through a value
    // bound to it (`val st = graft.sources.SnapshotTable`)
    val alias = raw"\bval (\w+) = (?:[\w.]+\.)?SnapshotTable\b".r
    val called: Set[String] = (files - own).values.flatMap { c =>
      val qualifiers = ("SnapshotTable" +: alias.findAllMatchIn(c).map(_.group(1)).toSeq)
        .mkString("|")
      raw"\b(?:$qualifiers)\s*\.\s*(\w+)".r.findAllMatchIn(c).map(_.group(1))
    }.toSet
    val uncalled = (defs -- called -- snapshotTableAllowlist.keySet).toSeq.sorted
    assert(uncalled.isEmpty,
      s"${uncalled.size} public SnapshotTable methods no other src/main file calls: " +
        uncalled.mkString(", "))
  }
}
