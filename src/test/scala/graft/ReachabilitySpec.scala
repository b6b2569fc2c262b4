package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The reachability contract: every public def, class and case class in
  * `src/main` has a user in `src/main` or in the perfbench harness — the
  * code the declared queries, the mains and the benchmark run — or an
  * entry in `src/test/resources/reachability-allowlist.txt` that says why
  * it stays. Tests are not users: a member only a test uses is surface
  * nothing uses.
  *
  * A name scan, not a call graph. A member counts as used when its name
  * appears on a code line outside its own body; for a member of an
  * `object`, only in its own file or in a file that names the object.
  * Classes are scanned at the top level and as members of a top-level
  * owner. Private, implicit and overriding members, `main`s and the
  * query entry points in [[SparkEntry]] are exempt. The scan
  * over-approximates — any same-name token is a user — so what it flags
  * is surely unreached. */
class ReachabilitySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val harnessRoot = Paths.get("perfbench/harness/src/main/scala")
  private val allowlistPath = Paths.get("src/test/resources/reachability-allowlist.txt")

  /** The allowlist only shrinks: lower this with every entry removed. */
  private val allowlistCeiling = 79

  private final class Source(val path: Path, val lines: Seq[(Int, String)]) {
    val text: String = lines.map(_._2).mkString("\n")
    /** Indent → (line number → the line that opens its member at that
      * indent: the last code line indented that little or less). */
    val openerAt: Map[Int, Map[Int, Int]] = Seq(0, 2).map { depth =>
      depth -> lines.scanLeft((0, 0)) { case ((_, cur), (n, l)) =>
        (n, if (indent(l) <= depth) n else cur)
      }.tail.toMap
    }.toMap
  }

  /** A public def or class at `line`, indented `depth`; `owner` is the
    * enclosing top-level (kind, name), None for a top-level class. */
  private final class Member(val src: Source, val line: Int, val depth: Int,
                             val name: String, val owner: Option[(String, String)]) {
    def id: String = owner.fold(name)(o => s"${o._2}.$name")
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
  private val classLine =
    """^((?:  )?)((?:(?:private|protected)(?:\[\w+\])?\s+|[a-z]+\s+)*)class\s+(\w+).*""".r

  private def hidden(mods: String): Boolean = mods.split("\\s+").exists(m =>
    m.startsWith("private") || m.startsWith("protected") || m == "override")

  private lazy val main = sources(mainRoot)
  private lazy val callers = main ++ sources(harnessRoot)

  private lazy val publicMembers: Seq[Member] = main.flatMap { src =>
    var owner: Option[(String, String)] = None
    src.lines.flatMap { case (n, l) =>
      val cls = l match {
        case classLine(ind, mods, name) if !hidden(mods) && !mods.contains("implicit") =>
          Some(new Member(src, n, ind.length, name, if (ind.isEmpty) None else owner))
        case _ => None
      }
      val defn = l match {
        case ownerLine(kind, name) => owner = Some((kind, name)); None
        case defLine(mods, name) if !hidden(mods) && name != "main" =>
          owner.map(o => new Member(src, n, 2, name, Some(o)))
        case _ => None
      }
      (cls ++ defn).filterNot(_.owner.exists(_._2 == "SparkEntry"))
    }
  }

  private def isCalled(d: Member): Boolean = {
    val word = ("\\b" + java.util.regex.Pattern.quote(d.name) + "\\b").r
    val inObject = d.owner.collect { case ("object", o) => ("\\b" + o + "\\b").r }
    callers.exists { src =>
      val sameFile = src.path == d.src.path
      (sameFile || inObject.forall(_.findFirstIn(src.text).isDefined)) &&
        src.lines.exists { case (n, l) =>
          !(sameFile && src.openerAt(d.depth)(n) == d.line) && word.findFirstIn(l).isDefined
        }
    }
  }

  private lazy val unreached: Set[String] = publicMembers.filterNot(isCalled).map(_.id).toSet

  /** Entry id → reason. */
  private lazy val allowlist: Seq[(String, String)] =
    Files.readAllLines(allowlistPath).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val (id, why) = l.span(!_.isWhitespace); (id, why.trim) }.toSeq

  test("every public def in src/main is reached from a root or allowlisted") {
    val missing = unreached -- allowlist.map(_._1)
    assert(missing.isEmpty,
      s"\nno user in src/main or perfbench/harness (delete it, or allowlist it " +
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
