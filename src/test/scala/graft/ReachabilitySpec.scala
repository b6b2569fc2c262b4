package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The reachability contract: every public def, val, class, case class
  * and trait in `src/main` has a user in `src/main` or in the perfbench
  * harness — the code the declared queries, the mains and the benchmark
  * run — or an entry in `src/test/resources/reachability-allowlist.txt`
  * that says why it stays. Tests are not users: a member only a test uses
  * is surface nothing uses. The same holds one level down: every
  * defaulted parameter of a reached public def is set by some call in
  * those roots, or `src/test/resources/parameter-allowlist.txt` says why
  * it stays a parameter; a default nobody overrides is a constant.
  *
  * A name scan, not a call graph. A member counts as used when its name
  * appears on a code line outside its own body; for a member of an
  * `object`, only in its own file or in a file that names the object.
  * Classes and traits are scanned at the top level and as members of a
  * top-level owner. Private, implicit and overriding members, `main`s
  * and the query entry points in [[SparkEntry]] are exempt. A parameter
  * counts as set when a call of its def's name passes it by name, or
  * passes at least its index of positional arguments in its list. The
  * scan over-approximates — any same-name token is a user, any same-name
  * call a setter — so what it flags is surely unreached or unset. */
class ReachabilitySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val harnessRoot = Paths.get("perfbench/harness/src/main/scala")
  private val allowlistPath = Paths.get("src/test/resources/reachability-allowlist.txt")

  private val paramAllowlistPath = Paths.get("src/test/resources/parameter-allowlist.txt")

  /** The allowlists only shrink: lower these with every entry removed. */
  private val allowlistCeiling = 79
  private val paramAllowlistCeiling = 4

  private final class Source(val path: Path, val lines: Seq[(Int, String)]) {
    val text: String = lines.map(_._2).mkString("\n")
    /** Offset in `text` where each code line starts, in line order. */
    private val starts: Vector[(Int, Int)] =
      lines.map(_._1).zip(lines.scanLeft(0)(_ + _._2.length + 1)).toVector
    val offsetOf: Map[Int, Int] = starts.toMap
    def lineAt(offset: Int): Int = {
      val i = starts.indexWhere(_._2 > offset)
      starts(if (i < 0) starts.size - 1 else i - 1)._1
    }
    /** Indent → (line number → the line that opens its member at that
      * indent: the last code line indented that little or less). */
    val openerAt: Map[Int, Map[Int, Int]] = Seq(0, 2).map { depth =>
      depth -> lines.scanLeft((0, 0)) { case ((_, cur), (n, l)) =>
        (n, if (indent(l) <= depth) n else cur)
      }.tail.toMap
    }.toMap
  }

  /** A public def, val, class or trait (`kind`) at `line`, indented
    * `depth`; `owner` is the enclosing top-level (kind, name), None at the
    * top level. */
  private final class Member(val src: Source, val line: Int, val depth: Int, val kind: String,
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
  private val defLine = """^  ((?:\S+\s+)*?)(def|val|var)\s+(\w+).*""".r
  private val classLine =
    """^((?:  )?)((?:(?:private|protected)(?:\[\w+\])?\s+|[a-z]+\s+)*)(class|trait)\s+(\w+).*""".r

  private def hidden(mods: String): Boolean = mods.split("\\s+").exists(m =>
    m.startsWith("private") || m.startsWith("protected") || m == "override")

  private lazy val main = sources(mainRoot)
  private lazy val callers = main ++ sources(harnessRoot)

  private lazy val publicMembers: Seq[Member] = main.flatMap { src =>
    var owner: Option[(String, String)] = None
    src.lines.flatMap { case (n, l) =>
      val cls = l match {
        case classLine(ind, mods, kind, name) if !hidden(mods) && !mods.contains("implicit") =>
          Some(new Member(src, n, ind.length, kind, name, if (ind.isEmpty) None else owner))
        case _ => None
      }
      val defn = l match {
        case ownerLine(kind, name) => owner = Some((kind, name)); None
        case defLine(mods, kind, name) if !hidden(mods) && !mods.contains("implicit") &&
            name != "main" =>
          owner.map(o => new Member(src, n, 2, kind, name, Some(o)))
        case _ => None
      }
      (cls ++ defn).filterNot(_.owner.exists(_._2 == "SparkEntry"))
    }
  }

  private def word(name: String) = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r

  /** The caller sources that may use `d`, each with a test for whether
    * its line `n` lies outside `d`'s own body. */
  private def callerScope(d: Member): Seq[(Source, Int => Boolean)] = {
    val inObject = d.owner.collect { case ("object", o) => word(o) }
    callers.collect {
      case src if src.path == d.src.path =>
        (src, (n: Int) => src.openerAt(d.depth)(n) != d.line)
      case src if inObject.forall(_.findFirstIn(src.text).isDefined) =>
        (src, (_: Int) => true)
    }
  }

  private def isCalled(d: Member): Boolean = {
    val w = word(d.name)
    callerScope(d).exists { case (src, outside) =>
      src.lines.exists { case (n, l) => outside(n) && w.findFirstIn(l).isDefined }
    }
  }

  private lazy val unreached: Set[String] = publicMembers.filterNot(isCalled).map(_.id).toSet

  /** Entry id → reason. */
  private def entries(path: Path): Seq[(String, String)] =
    Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val (id, why) = l.span(!_.isWhitespace); (id, why.trim) }.toSeq

  private lazy val allowlist = entries(allowlistPath)
  private lazy val paramAllowlist = entries(paramAllowlistPath)

  // ---- parameters: signatures and call sites, read from the joined code text

  /** Index just past the string or char literal opening at `i`, or `i`
    * when none opens there. */
  private def literalEnd(t: String, i: Int): Int = t(i) match {
    case '"' if t.startsWith("\"\"\"", i) => t.indexOf("\"\"\"", i + 3) + 3
    case '"' =>
      var j = i + 1
      while (j < t.length && t(j) != '"') j += (if (t(j) == '\\') 2 else 1)
      j + 1
    case '\'' if i + 3 < t.length && t(i + 1) == '\\' => t.indexOf('\'', i + 3) + 1
    case '\'' if i + 2 < t.length && t(i + 2) == '\'' => i + 3
    case _ => i
  }

  /** The bracket group opening at `open`: its top-level comma-separated
    * pieces, and the index just past its close. */
  private def group(t: String, open: Int): (Seq[String], Int) = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var i = open
    var from = open + 1
    while (i < t.length && (depth > 0 || i == open)) {
      val e = literalEnd(t, i)
      if (e > i) i = e
      else {
        t(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' =>
            depth -= 1
            if (depth == 0) parts += t.substring(from, i)
          case ',' if depth == 1 => parts += t.substring(from, i); from = i + 1
          case _ =>
        }
        i += 1
      }
    }
    (parts.result().map(_.trim).filter(_.nonEmpty), i)
  }

  /** Whether parameter `p` has a default: a top-level lone `=` (not `==`,
    * `=>`, `<=`, `>=`, `!=`). */
  private def hasDefault(p: String): Boolean = {
    var depth, i = 0
    var hit = false
    while (!hit && i < p.length) {
      val e = literalEnd(p, i)
      if (e > i) i = e
      else {
        p(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case '=' if depth == 0 && !p.lift(i + 1).exists("=>".contains(_)) &&
              !p.lift(i - 1).exists("=<>!".contains(_)) => hit = true
          case _ =>
        }
        i += 1
      }
    }
    hit
  }

  private def skipSpace(t: String, i: Int): Int = {
    var j = i
    while (j < t.length && t(j).isWhitespace) j += 1
    j
  }

  /** A defaulted parameter `name`: position `pos` of list `list` of the
    * def `defId`. */
  private final class Param(defId: String, val list: Int, val pos: Int, val name: String) {
    def id: String = s"$defId($name)"
  }

  /** The defaulted parameters of def `d` (implicit lists excluded). */
  private def defaulted(d: Member): Seq[Param] = {
    val t = d.src.text
    val at = word(d.name).findFirstMatchIn(t.substring(d.src.offsetOf(d.line))).get
    var j = skipSpace(t, d.src.offsetOf(d.line) + at.end)
    if (j < t.length && t(j) == '[') j = skipSpace(t, group(t, j)._2)
    val out = Seq.newBuilder[Param]
    var list = 0
    while (j < t.length && t(j) == '(') {
      val (ps, end) = group(t, j)
      if (!ps.headOption.exists(_.startsWith("implicit")))
        ps.zipWithIndex.foreach { case (p, pos) =>
          if (hasDefault(p))
            out += new Param(d.id, list, pos, p.takeWhile(_ != ':').trim.split("\\s+").last)
        }
      list += 1
      j = skipSpace(t, end)
    }
    out.result()
  }

  private val namedArg = """(?s)(\w+)\s*=[^=>].*""".r

  /** Every call of `d` in its caller scope as (list → positional count,
    * names passed). A `{ … }` block is one positional argument. */
  private def calls(d: Member): Seq[(Map[Int, Int], Set[String])] = {
    val w = ("(?<!def\\s{1,8})\\b" + java.util.regex.Pattern.quote(d.name) + "\\b").r
    callerScope(d).flatMap { case (src, outside) =>
      val t = src.text
      w.findAllMatchIn(t).filter(m => outside(src.lineAt(m.start))).map { m =>
        var j = m.end
        if (j < t.length && t(j) == '[') j = group(t, j)._2
        var list = 0
        var positional = Map.empty[Int, Int]
        var names = Set.empty[String]
        while (j < t.length && (t(j) == '(' || (list > 0 && t(skipSpace(t, j)) == '{'))) {
          j = skipSpace(t, j)
          val (args, end) = group(t, j)
          if (t(j) == '{') positional += list -> 1
          else {
            val named = args.collect { case namedArg(n) => n }
            names ++= named
            positional += list -> args.count(a => !namedArg.pattern.matcher(a).matches())
          }
          list += 1
          j = end
        }
        (positional, names)
      }.toSeq
    }
  }

  /** Defaulted parameters of reached public defs that no call sets. */
  private lazy val unsetParams: Seq[Param] =
    publicMembers.filter(d => d.kind == "def" && !unreached(d.id)).flatMap { d =>
      val ps = defaulted(d)
      if (ps.isEmpty) Nil
      else {
        val cs = calls(d)
        ps.filterNot(p => cs.exists { case (pos, names) =>
          names(p.name) || pos.getOrElse(p.list, 0) > p.pos })
      }
    }

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

  test("every defaulted parameter of a reached public def is set by a root or allowlisted") {
    val unset = unsetParams.map(_.id).toSet
    val kept = paramAllowlist.map(_._1)
    val missing = unset -- kept
    assert(missing.isEmpty,
      s"\nno call in src/main or perfbench/harness sets it (make it a constant, " +
        s"or allowlist it with a reason):\n  ${missing.toSeq.sorted.mkString("\n  ")}")
    val stale = kept.filterNot(unset)
    assert(stale.isEmpty, s"\nset by a root or gone — remove from the parameter " +
      s"allowlist:\n  ${stale.mkString("\n  ")}")
    assert(kept.diff(kept.distinct).isEmpty, s"duplicate entries: ${kept.diff(kept.distinct)}")
    val reasonless = paramAllowlist.collect {
      case (id, why) if !why.matches("""\((failure-test|misuse-check|deployment)\) \S.*""") => id
    }
    assert(reasonless.isEmpty, s"entries without a (failure-test)/(misuse-check)/" +
      s"(deployment) reason: $reasonless")
    assert(paramAllowlist.size <= paramAllowlistCeiling,
      s"the parameter allowlist grew to ${paramAllowlist.size} (ceiling $paramAllowlistCeiling)")
  }
}
