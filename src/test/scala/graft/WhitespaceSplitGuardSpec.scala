package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** "Per-row kernels never compile a regex per row" as a checked
  * invariant at source level: no file under the pipeline, analysis or
  * streaming sources may call `split("\\s+")`, which compiles a
  * `Pattern` on every call. Whitespace tokenizing goes through the
  * precompiled functions.Tokens. */
class WhitespaceSplitGuardSpec extends AnyFunSuite {

  private val call = """split\(\s*"\\\\s\+"\s*\)""".r

  test("no pipeline, analysis or streaming source compiles a " +
      "whitespace regex per call") {
    val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val files = Seq("pipeline", "analysis", "streaming").flatMap { d =>
      Files.walk(main.resolve("graft").resolve(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    // a wrong working directory must not pass vacuously
    assert(files.size > 50, s"only ${files.size} sources under $main")
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined =>
          s"${main.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, "per-call regex splits in kernel sources:\n" +
      hits.mkString("\n"))
  }
}
