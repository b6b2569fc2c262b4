package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The reachability contract: every public def in `src/main` has a caller
  * in `src/main` or in the perfbench harness — the code the declared
  * queries, the mains and the benchmark run — or an entry in
  * `src/test/resources/reachability-allowlist.txt` that says why it stays.
  * Tests are not callers: a def only a test calls is surface nothing uses.
  *
  * A name scan, not a call graph. A def counts as called when its name
  * appears on a code line outside its own body; for a member of an
  * `object`, only in its own file or in a file that names the object.
  * Private and overriding defs, `main`s and the query entry points in
  * [[SparkEntry]] are exempt. The scan over-approximates — any same-name
  * token is a caller — so what it flags is surely unreached. */
class ReachabilitySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val harnessRoot = Paths.get("perfbench/harness/src/main/scala")
  private val allowlistPath = Paths.get("src/test/resources/reachability-allowlist.txt")

  /** The allowlist only shrinks: lower this with every entry removed. */
  private val allowlistCeiling = 79

  private final class Source(val path: Path, val lines: Seq[(Int, String)]) {
    val text: String = lines.map(_._2).mkString("\n")
    /** Line number → the line that opens its top-level member (the last
      * code line indented two spaces or less). */
    val memberOf: Map[Int, Int] = lines.scanLeft((0, 0)) { case ((_, cur), (n, l)) =>
      (n, if (indent(l) <= 2) n else cur)
    }.tail.toMap
  }

  private final class Def(val src: Source, val line: Int, val name: String,
                          val kind: String, val owner: String) {
    def id: String = s"$owner.$name"
  }

  private def indent(l: String): Int = l.length - l.dropWhile(_ == ' ').length

  /** Non-blank lines outside comments, with 1-based line numbers. */
  private def codeLines(p: Path): Seq[(Int, String)] = {
    var inBlock = false
    Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
      val t = l.trim
      if (inBlock) { if (t.contains("*/")) inBlock = false; None }
      else if (t.startsWith("/*")) { if (!t.contains("*/")) inBlock = true; None }
      else if (t.isEmpty || t.startsWith("//") || t.startsWith("*")) None
      else Some((i + 1, l))
    }.toSeq
  }

  private def sources(root: Path): Seq[Source] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new Source(p, codeLines(p))).toSeq
  }

  private val ownerLine = """^(?:[a-z]+\s+)*(object|class|trait)\s+(\w+).*""".r
  private val defLine = """^  ((?:\S+\s+)*?)def\s+(\w+).*""".r

  private lazy val main = sources(mainRoot)
  private lazy val callers = main ++ sources(harnessRoot)

  private lazy val publicDefs: Seq[Def] = main.flatMap { src =>
    var owner: Option[(String, String)] = None
    src.lines.flatMap {
      case (_, ownerLine(kind, name)) => owner = Some((kind, name)); None
      case (n, defLine(mods, name)) =>
        val hidden = mods.split("\\s+").exists(m =>
          m.startsWith("private") || m.startsWith("protected") || m == "override")
        owner.filterNot(o => hidden || name == "main" || o._2 == "SparkEntry")
          .map { case (kind, o) => new Def(src, n, name, kind, o) }
      case _ => None
    }
  }

  private def isCalled(d: Def): Boolean = {
    val word = ("\\b" + java.util.regex.Pattern.quote(d.name) + "\\b").r
    val ownerWord = ("\\b" + d.owner + "\\b").r
    callers.exists { src =>
      val sameFile = src.path == d.src.path
      (d.kind != "object" || sameFile || ownerWord.findFirstIn(src.text).isDefined) &&
        src.lines.exists { case (n, l) =>
          !(sameFile && src.memberOf(n) == d.line) && word.findFirstIn(l).isDefined
        }
    }
  }

  private lazy val unreached: Set[String] = publicDefs.filterNot(isCalled).map(_.id).toSet

  /** Entry id → reason. */
  private lazy val allowlist: Seq[(String, String)] =
    Files.readAllLines(allowlistPath).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val (id, why) = l.span(!_.isWhitespace); (id, why.trim) }.toSeq

  test("every public def in src/main is reached from a root or allowlisted") {
    val missing = unreached -- allowlist.map(_._1)
    assert(missing.isEmpty,
      s"\nno caller in src/main or perfbench/harness (delete it, or allowlist it " +
        s"with a reason):\n  ${missing.toSeq.sorted.mkString("\n  ")}")
  }

  test("allowlist entries are live: each names an existing, unreached def") {
    val stale = allowlist.map(_._1).filterNot(unreached)
    assert(stale.isEmpty,
      s"\nreached or gone — remove from the allowlist:\n  ${stale.mkString("\n  ")}")
  }

  test("allowlist: one entry per def, each with a reason; the list only shrinks") {
    val ids = allowlist.map(_._1)
    assert(ids.diff(ids.distinct).isEmpty, s"duplicate entries: ${ids.diff(ids.distinct)}")
    val reasonless = allowlist.collect {
      case (id, why) if !why.matches("""\((a|b|c)\) \S.*""") => id
    }
    assert(reasonless.isEmpty, s"entries without an (a)/(b)/(c) reason: $reasonless")
    // (b): the named twin query must be a declared query
    val twins = allowlist.collect { case (id, why) if why.startsWith("(b)") =>
      id -> """q\d+[a-z]?_\w+""".r.findFirstIn(why) }
    val badTwins = twins.filterNot { case (_, q) => q.exists(SparkEntry.queries.contains) }
    assert(badTwins.isEmpty, s"(b) entries must name a declared query: $badTwins")
    assert(allowlist.size <= allowlistCeiling,
      s"the allowlist grew to ${allowlist.size} (ceiling $allowlistCeiling)")
  }
}
