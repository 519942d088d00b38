package graft.exec

import scala.collection.mutable.ArrayBuffer

/** Exact transliterations of the reference's positional-match algorithms.
  * These are deliberately NOT textbook proximity predicates — the greedy
  * single-consume matching changes tf, which changes scores (SURVEY §2
  * O3/O4 "hard parts"). Pure functions kept as the test-side reference:
  * the engine runs the primitive-int [[PositionKernels]] on decoded
  * blocks, and PositionExprSpec checks them against these.
  */
object PositionOps extends Serializable {

  /** `#NEAR/n` ordered-proximity chain
    * (`QryEval/src/QryopIlNear.java:74-120`): arg i+1 position `next`
    * matches the running match-list position `prev` iff
    * `next >= prev && next - prev <= distance`; both pointers advance on a
    * match (each prev consumed once); result = matched positions of the
    * LAST argument. Empty result ⇒ the doc does not match.
    */
  def nearPositions(posLists: Seq[Seq[Int]], distance: Int): Seq[Int] = {
    var prev: Seq[Int] = posLists.head
    var j = 1
    while (j < posLists.length) {
      val pstj = posLists(j)
      var m = 0
      var n = 0
      val temp = new ArrayBuffer[Int]()
      while (m < prev.length && n < pstj.length) {
        val prevPos = prev(m)
        val nextPos = pstj(n)
        if (nextPos < prevPos) n += 1
        else if (nextPos - prevPos <= distance) { temp += nextPos; n += 1; m += 1 }
        else m += 1
      }
      if (temp.isEmpty) return Seq.empty
      prev = temp.toSeq
      j += 1
    }
    prev
  }

  /** `validation` quirk-for-quirk (`QryEval/src/QryopIlWindow.java:146-166`):
    * minIdx/maxIdx only move on STRICT comparisons starting from index 0,
    * and the max test is an `else if` of the min test.
    * @return (isValid, minIdx, maxIdx)
    */
  private def validation(termPos: Array[Int], distance: Int): (Boolean, Int, Int) = {
    var minPos = termPos(0)
    var maxPos = termPos(0)
    var minIdx = 0
    var maxIdx = 0
    var i = 1
    while (i < termPos.length) {
      if (termPos(i) < minPos) { minPos = termPos(i); minIdx = i }
      else if (termPos(i) > maxPos) { maxPos = termPos(i); maxIdx = i }
      i += 1
    }
    (maxPos - minPos <= distance - 1, minIdx, maxIdx)
  }

  /** `#WINDOW/n` unordered proximity
    * (`QryEval/src/QryopIlWindow.java:92-136`): while every list has a
    * current position — if `max-min <= n-1`, emit the MAX position and
    * advance ALL pointers; else advance only the MIN pointer. Args must
    * already be ordered by df ascending (the caller sorts, mirroring
    * `Collections.sort(daatPtrs)` at :52).
    */
  def windowPositions(posLists: Seq[Seq[Int]], distance: Int): Seq[Int] = {
    val k = posLists.length
    val posPtr = new Array[Int](k)
    val termPos = new Array[Int](k)
    val termLength = new Array[Int](k)
    var i = 0
    while (i < k) {
      termPos(i) = posLists(i).head
      termLength(i) = posLists(i).length
      i += 1
    }
    val temp = new ArrayBuffer[Int]()
    var hasMorePos = true
    while (hasMorePos) {
      val (isValid, minIdx, maxIdx) = validation(termPos, distance)
      if (isValid) {
        temp += termPos(maxIdx)
        var j = 0
        var broke = false
        while (j < k && !broke) {
          posPtr(j) += 1
          if (posPtr(j) >= termLength(j)) { hasMorePos = false; broke = true }
          else { termPos(j) = posLists(j)(posPtr(j)); j += 1 }
        }
      } else {
        posPtr(minIdx) += 1
        if (posPtr(minIdx) >= termLength(minIdx)) hasMorePos = false
        else termPos(minIdx) = posLists(minIdx)(posPtr(minIdx))
      }
    }
    temp.toSeq
  }

  /** `#SYN` per-doc merge (`QryEval/src/QryopIlSyn.java:62-94`): concat
    * then sort — already handled with `sort_array(flatten(...))` in the
    * planner; kept here for the in-repo oracle. */
  def synPositions(posLists: Seq[Seq[Int]]): Seq[Int] =
    posLists.flatten.sorted
}
