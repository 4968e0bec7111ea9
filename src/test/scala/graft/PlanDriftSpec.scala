package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-drift gate: every flagship plan in the committed PLANS.md must
  * still have the same physical node shape when re-derived at HEAD. A
  * refactor that silently turns a broadcast join into a shuffle, or loses
  * a pushed filter, fails here at commit time instead of judge time.
  * Shapes compare node NAMES in tree order (ids, sizes, paths stripped),
  * so cosmetic re-numbering doesn't trip it. On intentional change:
  * `sbt "runMain graft.Plans"`, review the diff, commit.
  */
class PlanDriftSpec extends AnyFunSuite with SparkFixture {
  private val sfDir = "/root/testdata/sf0.001"

  /** Node headers from a formatted explain's header tree with tree-art and
    * ids stripped: "+- * BroadcastHashJoin Inner BuildRight (20)" →
    * "BroadcastHashJoin Inner BuildRight". The WHOLE header is kept — an
    * earlier version kept one token, which let a join-strategy, join-type,
    * or build-side flip (broadcasting the fact side!) compare equal. */
  private def shape(explain: String): Seq[String] =
    explain.linesIterator
      .takeWhile(l => !l.startsWith("(1)")) // header tree only
      .flatMap { l =>
        """^[\s:+\-*]*(.*?)\s*\(\d+\)\s*$""".r.findFirstMatchIn(l)
          .map(_.group(1).trim).filter(_.nonEmpty)
      }
      .toSeq

  private lazy val committed: String =
    Files.readString(Paths.get("PLANS.md"))

  Plans.flagship.foreach { case (name, _) =>
    test(s"$name plan shape matches committed PLANS.md") {
      val start = committed.indexOf(s"## $name")
      assert(start >= 0, s"$name missing from PLANS.md — regenerate it")
      val codeStart = committed.indexOf("```", start)
      val codeEnd = committed.indexOf("```", codeStart + 3)
      val want = shape(committed.substring(codeStart + 3, codeEnd))
      val got = shape(Plans.formatted(name, spark, sfDir))
      assert(got == want,
        s"""$name physical plan drifted from the committed shape.
           |If intentional: sbt "runMain graft.Plans", review, commit.
           |  want: ${want.mkString(" ")}
           |  got:  ${got.mkString(" ")}""".stripMargin)
    }
  }
}
