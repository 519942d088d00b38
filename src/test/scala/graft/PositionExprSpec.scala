package graft

import graft.exec.{PositionKernels, PositionOps}
import org.scalatest.funspec.AnyFunSpec

import scala.util.Random

/** The block-max engine's positional [[PositionKernels]] must be
  * indistinguishable from the [[PositionOps]] transliterations of the
  * reference: kernel ≡ PositionOps on thousands of random position-list
  * tuples (deterministic seeds), exercised directly on int arrays — no
  * Spark. */
class PositionExprSpec extends AnyFunSpec {

  /** Random ascending distinct position lists, like real postings. */
  private def randLists(rng: Random): Seq[Seq[Int]] = {
    val k = 1 + rng.nextInt(4)
    Seq.fill(k) {
      val n = 1 + rng.nextInt(12)
      val start = rng.nextInt(20)
      // strictly ascending with random gaps
      Iterator.iterate(start)(_ + 1 + rng.nextInt(5)).take(n).toSeq
    }
  }

  describe("PositionKernels vs PositionOps (property, seed=42)") {
    it("near kernel ≡ nearPositions on 3000 random inputs") {
      val rng = new Random(42)
      (1 to 3000).foreach { i =>
        val ps = randLists(rng)
        val d = 1 + rng.nextInt(8)
        val expect = PositionOps.nearPositions(ps, d)
        val got = PositionKernels.near(ps.map(_.toArray).toArray, d).toSeq
        assert(got == expect, s"near case $i: ps=$ps d=$d")
      }
    }
    it("window kernel ≡ windowPositions on 3000 random inputs") {
      val rng = new Random(4242)
      (1 to 3000).foreach { i =>
        val ps = randLists(rng)
        val d = 1 + rng.nextInt(8)
        val expect = PositionOps.windowPositions(ps, d)
        val got = PositionKernels.window(ps.map(_.toArray).toArray, d).toSeq
        assert(got == expect, s"window case $i: ps=$ps d=$d")
      }
    }
  }
}
