package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` free of code nothing runs, at two levels.
  *
  * Types: every top-level object, class and trait in `src/main/scala` must
  * be reached from a root (`SparkEntry`, `PipelineRunner`,
  * `IngestPipeline`, `Bench`, `Verify`, the `graft.tools` mains and
  * everything under `perfbench/src/main/scala`). A type is reached when
  * the code of a reached type names it, in any file.
  *
  * Members: every public `def`/`val` of a reached top-level object must be
  * used by reached code outside its own definition. A member whose name
  * another top-level object also defines is used only through its owner:
  * `Obj.name`, `X.name` after a `val X = …Obj` alias, a bare `name` in a
  * file that imports `Obj._` or `Obj.{name}`, `Obj(…)` for `apply`, or a
  * bare `name` inside its own file.
  *
  * What no root reaches is deleted, or listed with its reason in the
  * "Reachability keep list" section of STATUS.md; the spec checks that
  * each listed reason holds. Names are matched in the code with its `//`
  * and `/* */` comments removed; string literals are kept, so a class
  * named in a `.format("…")` string counts. */
class ReachabilitySpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val mainDir = root.resolve("src/main/scala")
  private val benchDir = root.resolve("perfbench/src/main/scala")
  private val toolsDir = mainDir.resolve("graft/tools")
  private val rootNames =
    Set("SparkEntry", "PipelineRunner", "IngestPipeline", "Bench", "Verify")

  private val TypeLine =
    """^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+).*""".r
  private val MemberLine =
    """^  (?:@\w+\s+)*((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|implicit\s+|lazy\s+)*)(?:def|val|var)\s+(\w+).*""".r
  private val KeepLine = """^- `(\w+)(?:\.(\w+))?` — (\S.*)$""".r
  private val Token = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val BackTicked = """`(\w+)`""".r

  private case class TopType(file: Path, name: String, isObject: Boolean,
                             from: Int, until: Int) {
    def where: String = s"${root.relativize(file)}:${from + 1}"
  }

  private case class Member(file: Path, obj: String, name: String,
                            public: Boolean, from: Int, until: Int) {
    def id: String = s"$obj.$name"
  }

  /** `text` with its comments blanked out, line breaks kept so line
    * numbers stay; string and character literals are left as they are. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    def blank(until: Int): Unit = {
      out ++= text.substring(i, until).map(c => if (c == '\n') c else ' ')
      i = until
    }
    def copyTo(until: Int): Unit = {
      out ++= text.substring(i, until)
      i = until
    }
    def endOf(close: String, from: Int): Int = {
      val j = text.indexOf(close, from)
      if (j < 0) text.length else j + close.length
    }
    while (i < text.length) {
      if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        blank(if (j < 0) text.length else j)
      } else if (text.startsWith("/*", i)) blank(endOf("*/", i + 2))
      else if (text.startsWith("\"\"\"", i)) copyTo(endOf("\"\"\"", i + 3))
      else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        copyTo(j + 1 min text.length)
      } else if (text.startsWith("'\"'", i)) copyTo(i + 3)
      else copyTo(i + 1)
    }
    out.result()
  }

  private def readTree(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  private lazy val files: Map[Path, Vector[String]] =
    (readTree(mainDir) ++ readTree(benchDir)).map { p =>
      p -> stripComments(new String(Files.readAllBytes(p), "UTF-8"))
        .split("\n", -1).toVector
    }.toMap

  private def isTopLevelBreak(l: String): Boolean =
    TypeLine.matches(l) || l.startsWith("import ") || l.startsWith("package ")

  /** Top-level types; a type's code runs to the next top-level type,
    * import or package line of its file. */
  private lazy val types: Seq[TopType] = files.toSeq.flatMap {
    case (p, lines) =>
      lines.indices.collect { case i if TypeLine.matches(lines(i)) =>
        val TypeLine(kind, name) = lines(i)
        val until = lines.indices.find(j => j > i && isTopLevelBreak(lines(j)))
          .getOrElse(lines.size)
        TopType(p, name, kind == "object", i, until)
      }
  }

  /** Members of top-level objects; a member's definition runs to the next
    * member line or the object's closing brace. */
  private lazy val members: Seq[Member] = types.filter(_.isObject).flatMap { t =>
    val lines = files(t.file)
    val starts = (t.from until t.until).collect { i =>
      lines(i) match {
        case MemberLine(mods, name) =>
          val public = !mods.contains("private") &&
            !mods.contains("protected") && !mods.contains("override")
          Some((name, public, i))
        case _ => None
      }
    }.flatten
    val ends = (t.from until t.until).filter(i => lines(i).startsWith("}"))
    val bounds = (starts.map(_._3) ++ ends).sorted
    starts.map { case (n, pub, i) =>
      Member(t.file, t.name, n, pub, i, bounds.find(_ > i).getOrElse(t.until))
    }
  }

  private def tokens(lines: Seq[String]): Set[String] =
    lines.flatMap(l => Token.findAllIn(l)).toSet

  private def isRoot(t: TopType): Boolean = rootNames(t.name) ||
    t.file.startsWith(benchDir) || t.file.startsWith(toolsDir)

  /** The types reached from the roots and from `kept`, by the names their
    * code mentions. */
  private def reachFrom(kept: Set[String]): Set[TopType] = {
    val byName = types.groupBy(_.name)
    var seen = types.filter(t => isRoot(t) || kept(t.name)).toSet
    var frontier = seen
    while (frontier.nonEmpty) {
      val named = frontier.flatMap(t => tokens(files(t.file).slice(t.from, t.until)))
      frontier = named.flatMap(byName.getOrElse(_, Nil)).diff(seen)
      seen ++= frontier
    }
    seen
  }

  private case class Keep(owner: String, member: Option[String], reason: String,
                          line: String)

  private lazy val status: Seq[String] =
    Files.readAllLines(root.resolve("STATUS.md")).asScala.toSeq

  /** The keep list; a line without a reason does not count. */
  private lazy val keepList: Seq[Keep] =
    status.dropWhile(_ != "## Reachability keep list").drop(1)
      .takeWhile(!_.startsWith("## "))
      .collect { case l @ KeepLine(o, n, why) => Keep(o, Option(n), why, l) }

  private lazy val keptTypes = keepList.filter(_.member.isEmpty).map(_.owner).toSet
  private lazy val keptMembers =
    keepList.flatMap(k => k.member.map(n => s"${k.owner}.$n")).toSet

  private lazy val reachedTypes: Set[TopType] = reachFrom(keptTypes)

  /** Per file, the line numbers of reached code. */
  private lazy val reachedLines: Map[Path, Seq[Int]] =
    reachedTypes.toSeq.groupBy(_.file).map { case (p, ts) =>
      p -> ts.flatMap(t => t.from until t.until).sorted
    }

  private def code(p: Path, skip: Range = 0 until 0): Seq[String] =
    reachedLines.getOrElse(p, Nil).filterNot(skip.contains).map(files(p))

  /** Member names that more than one top-level object defines. */
  private lazy val sharedNames: Set[String] =
    members.groupBy(_.name).collect {
      case (n, ms) if ms.map(_.obj).distinct.size > 1 => n
    }.toSet

  private def word(s: String) = java.util.regex.Pattern.quote(s)

  /** Per file, its reached code as one text and as a token set. */
  private lazy val codeText: Map[Path, String] =
    reachedLines.map { case (p, _) => p -> code(p).mkString("\n") }
  private lazy val codeTokens: Map[Path, Set[String]] =
    reachedLines.map { case (p, _) => p -> tokens(code(p)) }

  /** Whether reached code in `p` uses `m` through its owner object. */
  private def usedThroughOwner(m: Member, p: Path): Boolean =
    codeTokens(p).contains(if (m.name == "apply") m.obj else m.name) && {
      val text = codeText(p)
      val o = word(m.obj)
      val n = word(m.name)
      val Alias = s"""\\bval\\s+(\\w+)\\s*=\\s*(?:[\\w.]*\\.)?$o\\s*\\n""".r
      val owners = m.obj +: Alias.findAllMatchIn(text).map(_.group(1)).toSeq
      val Import =
        s"""\\bimport\\s+(?:[\\w.]*\\.)?$o\\.(?:_|\\{[^}]*\\b$n\\b[^}]*\\}|$n\\b)""".r
      val Apply = s"""(?<!new |class |object )\\b$o\\s*(?:\\[[^\\]]*\\])?\\s*\\(""".r
      owners.exists(x => s"\\b${word(x)}\\s*\\.\\s*$n\\b".r.findFirstIn(text).isDefined) ||
        files(p).exists(l => Import.findFirstIn(l).isDefined) ||
        (m.name == "apply" && Apply.findFirstIn(text).isDefined)
    }

  private def used(m: Member): Boolean = {
    val inOwnFile = tokens(code(m.file, m.from until m.until)).contains(m.name)
    val others = reachedLines.keys.filter(_ != m.file)
    inOwnFile || (
      if (sharedNames(m.name)) others.exists(usedThroughOwner(m, _))
      else others.exists(p => codeTokens(p).contains(m.name)))
  }

  private lazy val reachedObjects = reachedTypes.filter(_.isObject).map(_.name)

  /** Unused public members of reached objects; a kept type keeps its
    * members. */
  private lazy val unusedMembers: Seq[Member] = members.filter(m =>
    m.public && m.name != "main" && reachedObjects(m.obj) &&
      !keptTypes(m.obj) && !used(m))

  /** The types the roots reach without the keep list. */
  private lazy val reachedAnyway: Set[String] = reachFrom(Set.empty).map(_.name)

  /** Names of the types the roots reach without the keep list, and of
    * their objects' members that are used or private: the main paths a
    * reason (b) may name. */
  private lazy val reachedNames: Set[String] = {
    val unused = unusedMembers.toSet
    reachedAnyway ++
      members.filter(m => reachedAnyway(m.obj) && !unused(m)).map(_.name)
  }

  /** The spec files, by class name. */
  private lazy val specs: Map[String, String] =
    readTree(root.resolve("src/test/scala")).map { p =>
      p.getFileName.toString.stripSuffix(".scala") ->
        new String(Files.readAllBytes(p), "UTF-8")
    }.toMap

  /** §2 table rows of STATUS.md, by reference operator code. */
  private lazy val refRows: Map[String, String] =
    status.takeWhile(_ != "## Reachability keep list")
      .collect { case l if l.startsWith("| ") => l.drop(2).takeWhile(_ != ' ') -> l }
      .toMap

  /** Why `k`'s reason does not hold, if it does not. */
  private def badReason(k: Keep): Option[String] = {
    val name = k.member.getOrElse(k.owner)
    k.reason.split(" ", 3).toList match {
      case "(a)" :: code :: _ =>
        refRows.get(code) match {
          case None => Some(s"no §2 row for $code")
          case Some(row) if !Token.findAllIn(row).contains(name) =>
            Some(s"the $code row does not name $name")
          case _ => None
        }
      case "(b)" :: spec :: _ =>
        val specName = spec.takeWhile(_.isLetterOrDigit)
        val paths = BackTicked.findAllMatchIn(k.reason).map(_.group(1)).toSeq
        specs.get(specName) match {
          case None => Some(s"no spec $specName")
          case Some(text) if !Token.findAllIn(stripComments(text)).contains(name) =>
            Some(s"$specName does not use $name")
          case _ if paths.isEmpty => Some("names no main path in backticks")
          case _ => paths.filterNot(reachedNames).headOption
            .map(p => s"the main path `$p` is not reached")
        }
      case "(c)" :: _ =>
        if (k.owner == "SparkEntry") None else Some("not in SparkEntry")
      case _ => Some("the reason is not (a), (b) or (c)")
    }
  }

  test("the sweep sees the main sources and the keep list") {
    assert(files.size > 100, s"only ${files.size} main files under $root")
    assert(types.size > 150, s"only ${types.size} top-level types")
    assert(members.size > 500, s"only ${members.size} members")
    assert(rootNames.forall(n => types.exists(_.name == n)), "a root is missing")
    assert(keepList.nonEmpty, "STATUS.md has no reachability keep list")
  }

  test("every top-level type in main is reached from a root or on the keep list") {
    val unreached = types.filterNot(reachedTypes)
      .map(t => s"${t.name} (${t.where})").distinct.sorted
    assert(unreached.isEmpty,
      s"${unreached.size} types no root reaches; delete them or add them " +
        "to STATUS.md's keep list:\n" + unreached.mkString("\n"))
  }

  test("every public object member in main is reached or on the keep list") {
    val unused = unusedMembers.filterNot(m => keptMembers(m.id))
      .map(m => s"${m.id} (${root.relativize(m.file)}:${m.from + 1})")
      .distinct.sorted
    assert(unused.isEmpty,
      s"${unused.size} members nothing reaches; delete them or add " +
        "them to STATUS.md's keep list:\n" + unused.mkString("\n"))
  }

  test("every keep-list entry names a member that exists") {
    val stale = keepList.filterNot(k => k.member match {
      case None => types.exists(_.name == k.owner)
      case Some(n) => members.exists(m => m.obj == k.owner && m.name == n && m.public)
    }).map(_.line)
    assert(stale.isEmpty, s"keep-list entries with no such type or member: $stale")
  }

  test("every keep-list entry is needed and its reason holds") {
    val unusedIds = unusedMembers.map(_.id).toSet
    val bad = keepList.flatMap { k =>
      val problem = k.member match {
        case None if reachedAnyway(k.owner) => Some("reached without the keep list")
        case Some(n) if !unusedIds(s"${k.owner}.$n") => Some("used without the keep list")
        case _ => badReason(k)
      }
      problem.map(why => s"${k.line}\n    $why")
    }
    assert(bad.isEmpty, s"keep-list entries that do not hold:\n${bad.mkString("\n")}")
  }
}
