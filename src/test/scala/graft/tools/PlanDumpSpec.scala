package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump regenerates only its own sections of PLANS.md. */
class PlanDumpSpec extends AnyFunSuite {
  test("regeneration replaces the generated sections and keeps the hand-written tail") {
    val tail = PlanDump.HandWritten + "\n\n## Hand-written\n\nnotes\n"
    val old = "# PLANS\n\n## Old generated\n\n```\nplan\n```\n\n" + tail
    assert(PlanDump.merge("# PLANS\n\n## New\n", old) === "# PLANS\n\n## New\n\n" + tail)
    // a file without the marker is refused, not overwritten
    intercept[IllegalArgumentException](PlanDump.merge("# PLANS\n", "# PLANS\n\n## Hand-written\n"))
  }
}
