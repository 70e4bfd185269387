package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** "An operator shares a subplan through the plan, not a hidden cache"
  * as a checked invariant at source level: the only `*Releasable`
  * twins in src/main/scala are the ones whose cache or broadcast a
  * driver action or a collected layout reads (an eager audit, pinned
  * range offsets, a bloom broadcast, the ingest loop's signature
  * frame). A new twin means a new entry here, with that reason. */
class ReleasableGuardSpec extends AnyFunSuite {

  private val twin = """def\s+(\w+Releasable)\b""".r

  private val allowed = Set(
    "linkPairsReleasable", // eager hottest-block audit
    "spearmanPairsReleasable", // eager series audit
    "quantileNormalizeReleasable", // eager distinct audits
    "ksDriftReleasable", // eager maxDistinct audit
    "tokenBudgetCutReleasable", // collected per-partition offsets
    "mightContainReleasable", // big-filter broadcast
    "bloomContaminationHitsReleasable", // big-filter broadcast
    "dedupAgainstStoreReleasable") // released by the ingest loop

  test("the Releasable twins in main sources are exactly the allowed 8") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // a wrong working directory must not pass vacuously
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val found = files.flatMap(f =>
      twin.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
    assert(found == allowed,
      s"added: ${found -- allowed}; gone: ${allowed -- found}")
  }
}
