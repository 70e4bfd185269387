package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** "No operator hands back a release handle" as a checked invariant at
  * source level. An operator either shares a subplan through the plan,
  * or leaves the cache an eager audit reads to the session (released
  * by `spark.catalog.clearCache()`); none returns a `() => Unit` for
  * its caller to run. Both the old `*Releasable` spelling and any
  * renamed def whose return type carries such a handle fail here. */
class ReleasableGuardSpec extends AnyFunSuite {

  private val twin = """def\s+(\w+Releasable)\b""".r
  private val defName = """\bdef\s+(\w+)""".r
  private val handle = """\(\)\s*=>\s*Unit""".r

  /** `src` without string literals and comments, so neither a quoted
    * paren nor a "def" in prose derails [[returnTypes]]. */
  private def code(src: String): String = {
    val noStrings = "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"".r
      .replaceAllIn(src, "\"\"")
    "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(noStrings, "")
  }

  /** (name, declared return type) of every def in `src`: the text after
    * the type and value parameter lists' `:` up to the `=` or `{` that
    * opens the body, or the line's end ("" when the type is inferred). */
  private def returnTypes(src: String): Seq[(String, String)] = {
    val s = code(src)
    def skipWs(i: Int): Int =
      if (i < s.length && s(i).isWhitespace) skipWs(i + 1) else i
    def closeGroup(from: Int): Int = {
      var i = from
      var depth = 0
      do {
        s(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case _ =>
        }
        i += 1
      } while (depth > 0 && i < s.length)
      i
    }
    defName.findAllMatchIn(s).map { m =>
      var i = skipWs(m.end)
      while (i < s.length && (s(i) == '(' || s(i) == '['))
        i = skipWs(closeGroup(i))
      if (i >= s.length || s(i) != ':') (m.group(1), "")
      else {
        val start = i + 1
        var depth = 0
        // an abstract def's type ends at its line
        def opensBody(j: Int): Boolean = depth == 0 &&
          (s(j) == '{' || s(j) == '\n' ||
            s(j) == '=' && !s.startsWith("=>", j))
        i = start
        while (i < s.length && !opensBody(i)) {
          s(i) match {
            case '(' | '[' => depth += 1
            case ')' | ']' => depth -= 1
            case _ =>
          }
          i += 1
        }
        (m.group(1), s.substring(start, i).trim)
      }
    }.toSeq
  }

  private def mainSources = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // a wrong working directory must not pass vacuously
    assert(files.size > 50, s"only ${files.size} sources under $root")
    files.map(f => f -> Files.readString(f))
  }

  test("the return-type reader flags a renamed twin and only that") {
    val src =
      """object X {
        |  /** def inProse(a: Int): () => Unit = is not code */
        |  def plain(df: DataFrame, sep: String = ")"): DataFrame = df
        |  def renamed(df: DataFrame, n: Int = 3)
        |      : (DataFrame, () => Unit) = {
        |    (df, () => ())
        |  }
        |  def nested[T](a: Seq[T])(b: Int): Option[() => Unit] = None
        |  def callback(f: () => Unit): Int = 1
        |  def inferred(x: Int) = x
        |}""".stripMargin
    val flagged = returnTypes(src)
      .filter { case (_, t) => handle.findFirstIn(t).nonEmpty }
      .map(_._1).toSet
    assert(flagged == Set("renamed", "nested"))
    assert(returnTypes(src).map(_._1).toSet ==
      Set("plain", "renamed", "nested", "callback", "inferred"))
  }

  test("no main def is a *Releasable twin or returns () => Unit") {
    val srcs = mainSources
    val twins = srcs.flatMap { case (_, s) =>
      twin.findAllMatchIn(s).map(_.group(1)) }
    assert(twins.isEmpty, s"Releasable twins: ${twins.mkString(", ")}")
    val defs = srcs.flatMap { case (f, s) =>
      returnTypes(s).map { case (n, t) => (s"${f.getFileName}:$n", t) } }
    // the reader must actually see the sources' defs
    assert(defs.size > 1000, s"only ${defs.size} defs parsed")
    val handles = defs.collect {
      case (n, t) if handle.findFirstIn(t).nonEmpty => s"$n: $t" }
    assert(handles.isEmpty,
      s"defs returning a release handle: ${handles.mkString("; ")}")
  }
}
