package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** JobProfile's driver time is wall time minus the time some job was
  * running, so jobs that overlap must count once. */
class JobProfileSpec extends AnyFunSuite {

  test("busySeconds is the union of job intervals: overlapping and " +
    "nested jobs count once, disjoint jobs add") {
    assert(JobProfile.busySeconds(Seq.empty) == 0.0)
    // two jobs running side by side for 1 s each over the same second
    assert(JobProfile.busySeconds(Seq((0L, 1000L), (0L, 1000L))) == 1.0)
    // overlapping [0, 600] and [400, 1000], a nested [100, 200], and a
    // disjoint [1500, 1750], given out of order
    assert(JobProfile.busySeconds(Seq((1500L, 1750L), (400L, 1000L),
      (0L, 600L), (100L, 200L))) == 1.25)
  }
}
