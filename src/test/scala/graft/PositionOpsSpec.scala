package graft

import graft.exec.PositionOps
import org.scalatest.funspec.AnyFunSpec

class PositionOpsSpec extends AnyFunSpec {

  describe("nearPositions (QryopIlNear.java:74-120)") {
    it("reproduces the reference's own docstring example") {
      // "cheap" pos{1,4,6,9}, "internet" pos{2,7,11}, distance 1 → {2,7}
      assert(PositionOps.nearPositions(Seq(Seq(1, 4, 6, 9), Seq(2, 7, 11)), 1)
        == Seq(2, 7))
    }
    it("consumes each prev position at most once (greedy, affects tf)") {
      // prev {1}, next {2,3}: only one match even though both are ≤ dist
      assert(PositionOps.nearPositions(Seq(Seq(1), Seq(2, 3)), 5) == Seq(2))
    }
    it("chains across three args using last-arg positions") {
      // a{1,10} b{2,11} c{3,12}, dist 1 → c positions {3,12}
      assert(PositionOps.nearPositions(
        Seq(Seq(1, 10), Seq(2, 11), Seq(3, 12)), 1) == Seq(3, 12))
    }
    it("returns empty when any link fails") {
      assert(PositionOps.nearPositions(Seq(Seq(1), Seq(5)), 1).isEmpty)
      assert(PositionOps.nearPositions(Seq(Seq(5), Seq(1)), 10).isEmpty)
    }
    it("treats equal positions as a match (next - prev = 0 ≤ dist)") {
      assert(PositionOps.nearPositions(Seq(Seq(3), Seq(3)), 1) == Seq(3))
    }
  }

  describe("windowPositions (QryopIlWindow.java:92-166)") {
    it("emits the max position and advances all pointers on a match") {
      // a{1,5} b{2,6}, window 3: {1,2} valid → emit 2; {5,6} valid → emit 6
      assert(PositionOps.windowPositions(Seq(Seq(1, 5), Seq(2, 6)), 3)
        == Seq(2, 6))
    }
    it("advances only the min pointer on a miss") {
      // a{1,100} b{99}: miss (98 > 7) → advance a → {100,99} valid at w=8
      // validation: max stays at idx 0 quirk — maxIdx=0 emits a's 100
      assert(PositionOps.windowPositions(Seq(Seq(1, 100), Seq(99)), 8)
        == Seq(100))
    }
    it("window/1 means identical positions only") {
      assert(PositionOps.windowPositions(Seq(Seq(4), Seq(4)), 1) == Seq(4))
      assert(PositionOps.windowPositions(Seq(Seq(4), Seq(5)), 1).isEmpty)
    }
    it("reproduces the maxIdx quirk: max at index 0 keeps maxIdx = 0") {
      // termPos = (9, 2): max is at idx 0, so maxIdx stays 0 → emit 9
      assert(PositionOps.windowPositions(Seq(Seq(9), Seq(2)), 8) == Seq(9))
    }
    it("unordered: args can match in any order") {
      assert(PositionOps.windowPositions(Seq(Seq(10), Seq(8)), 3) == Seq(10))
    }
    it("is permutation-invariant over its args (the df-sort is a DAAT " +
       "efficiency choice, not a correctness requirement)") {
      // Load-bearing for the block-max engine: BlockMax.evalIl matches a
      // #WINDOW's args in query order, while the exhaustive plan sorts
      // them by docFreq, so the two may order args differently. Safe
      // because the kernel's output is arg-order-independent: valid states
      // emit the max VALUE
      // and advance every cursor; an invalid state cannot become valid
      // until all cursors tied at the min advance past it, so the
      // post-tie state is reached regardless of which tied cursor (the
      // first-index one) moves first. Exercised over lists WITH shared
      // and duplicate values — #SYN children produce supersets of their
      // members' lists (ties with a sibling of the same term) and
      // duplicate-term #SYN args produce repeated positions.
      val rnd = new scala.util.Random(41)
      (0 until 400).foreach { _ =>
        val k = 2 + rnd.nextInt(3)
        val lists: Seq[Seq[Int]] = Seq.fill(k) {
          val n = 1 + rnd.nextInt(5)
          Seq.fill(n)(rnd.nextInt(10)).sorted // duplicates allowed
        }
        val dist = 1 + rnd.nextInt(5)
        val base = PositionOps.windowPositions(lists, dist)
        lists.permutations.take(24).foreach { perm =>
          assert(PositionOps.windowPositions(perm, dist) == base,
            s"lists=$lists dist=$dist perm=$perm")
        }
      }
    }
  }
}
