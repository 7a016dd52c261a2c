package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` free of code nothing runs. Every public `def`/`val`
  * member of a top-level object in `src/main/scala` or
  * `perfbench/src/main/scala` must be reached: its name appears in another
  * main file, or again in its own file outside its definition. A member
  * that is neither is either deleted or listed, with its reason, in the
  * "Reachability keep list" section of STATUS.md. Comments do not count:
  * names are matched in the code with its `//` and `/* */` comments
  * removed. The rule is one level deep and matches names, so a call from
  * an unreached caller or a shared name still counts as reached. */
class ReachabilitySpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val mainDirs = Seq("src/main/scala", "perfbench/src/main/scala")

  private val ObjectLine =
    """^(?:(?:private\[\w+\]|final|case)\s+)*object\s+(\w+).*""".r
  private val MemberLine =
    """^  (?:@\w+\s+)*((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|implicit\s+|lazy\s+)*)(?:def|val|var)\s+(\w+).*""".r
  private val KeepLine = """^- `(\w+)\.(\w+)` — \S.*$""".r
  private val Token = """[A-Za-z_][A-Za-z0-9_]*""".r

  private case class Member(file: Path, obj: String, name: String,
                            from: Int, until: Int) {
    def id: String = s"$obj.$name"
  }

  private def tokens(lines: Seq[String]): Map[String, Int] =
    lines.flatMap(l => Token.findAllIn(l)).groupMapReduce(identity)(_ => 1)(_ + _)

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

  private lazy val files: Map[Path, Vector[String]] = mainDirs.flatMap { d =>
    val s = Files.walk(root.resolve(d))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }.map { p =>
    p -> stripComments(new String(Files.readAllBytes(p), "UTF-8"))
      .split("\n", -1).toVector
  }.toMap

  /** Public members of top-level objects; a member's definition runs to
    * the next member line or the object's closing brace. */
  private lazy val members: Seq[Member] = files.toSeq.flatMap {
    case (p, lines) =>
      var obj: Option[String] = None
      val starts = Seq.newBuilder[(String, String, Boolean, Int)]
      val ends = Seq.newBuilder[Int]
      lines.zipWithIndex.foreach { case (l, i) =>
        l match {
          case ObjectLine(o) => obj = Some(o)
          case _ if l.startsWith("}") =>
            if (obj.isDefined) ends += i
            obj = None
          case MemberLine(mods, name) if obj.isDefined =>
            val public = !mods.contains("private") &&
              !mods.contains("protected") && !mods.contains("override")
            starts += ((obj.get, name, public, i))
          case _ =>
        }
      }
      val bounds = (starts.result().map(_._4) ++ ends.result()).sorted
      starts.result().collect { case (o, n, true, i) =>
        Member(p, o, n, i, bounds.find(_ > i).getOrElse(lines.size))
      }
  }

  private lazy val fileTokens: Map[Path, Map[String, Int]] =
    files.map { case (p, lines) => p -> tokens(lines) }

  private def reached(m: Member): Boolean = {
    val elsewhere = fileTokens.exists { case (p, t) =>
      p != m.file && t.contains(m.name)
    }
    lazy val inOwnDef =
      tokens(files(m.file).slice(m.from, m.until)).getOrElse(m.name, 0)
    elsewhere || fileTokens(m.file).getOrElse(m.name, 0) > inOwnDef
  }

  /** `Object.member` ids of the keep list; a line without a reason does
    * not count. */
  private lazy val keepList: Set[String] = {
    val status = Files.readAllLines(root.resolve("STATUS.md")).asScala
    val section = status.dropWhile(_ != "## Reachability keep list").drop(1)
      .takeWhile(!_.startsWith("## "))
    section.collect { case KeepLine(o, n) => s"$o.$n" }.toSet
  }

  test("the sweep sees the main sources and the keep list") {
    assert(files.size > 100, s"only ${files.size} main files under $root")
    assert(members.size > 500, s"only ${members.size} members")
    assert(keepList.nonEmpty, "STATUS.md has no reachability keep list")
  }

  test("every public object member in main is reached or on the keep list") {
    val unreached = members
      .filter(m => m.name != "main" && !reached(m))
      .filterNot(m => keepList.contains(m.id))
      .map(m => s"${m.id} (${root.relativize(m.file)}:${m.from + 1})")
      .distinct.sorted
    assert(unreached.isEmpty,
      s"${unreached.size} members nothing reaches; delete them or add " +
        "them to STATUS.md's keep list:\n" + unreached.mkString("\n"))
  }

  test("every keep-list entry names a member that exists") {
    val ids = members.map(_.id).toSet
    val stale = keepList.filterNot(ids).toSeq.sorted
    assert(stale.isEmpty, s"keep-list entries with no such member: $stale")
  }
}
