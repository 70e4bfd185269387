package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** "The artifact layout never renames" as a checked invariant at source
  * level: no file under src/main/scala may call `rename`. Every
  * artifact commit is a conditional create of a new manifest version
  * (pipeline.Manifest), the one primitive object stores offer; a
  * directory rename there is a non-atomic copy+delete. ManifestSpec
  * proves the same at runtime on a FileSystem that audits and one that
  * rejects renames. */
class NoRenameGuardSpec extends AnyFunSuite {

  private val call = """\.rename\s*\(""".r

  test("no main source calls .rename(") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // a wrong working directory must not pass vacuously
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined =>
          s"${root.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"rename calls in main sources:\n" +
      hits.mkString("\n"))
  }
}
