package graft.exec

/** Primitive-int kernels for the reference's greedy positional matchers,
  * over the decoded position lists of one document — one `Array[Int]` per
  * argument, no boxing. Semantics are the exact transliterations in the
  * test-only `PositionOps` (`QryEval/src/QryopIlNear.java:74-120`,
  * `QryopIlWindow.java:92-166`); a property spec asserts kernel ≡
  * PositionOps on random inputs.
  *
  * Inputs are the engine's own position lists: non-empty, ascending ints
  * (the index builder emits them sorted).
  */
object PositionKernels {
  /** `#NEAR/n` ordered chain — greedy single-consume, result = matched
    * positions of the LAST argument; empty ⇒ no match. */
  def near(ps: Array[Array[Int]], distance: Int): Array[Int] = {
    val k = ps.length
    var prev: Array[Int] = ps(0)
    var prevLen = prev.length
    var j = 1
    while (j < k) {
      val cur = ps(j)
      val curLen = cur.length
      val temp = new Array[Int](if (prevLen < curLen) prevLen else curLen)
      var t = 0
      var m = 0
      var n = 0
      while (m < prevLen && n < curLen) {
        val prevPos = prev(m)
        val nextPos = cur(n)
        if (nextPos < prevPos) n += 1
        else if (nextPos - prevPos <= distance) {
          temp(t) = nextPos; t += 1; n += 1; m += 1
        } else m += 1
      }
      if (t == 0) return Array.emptyIntArray
      prev = temp
      prevLen = t
      j += 1
    }
    if (prevLen == prev.length) prev
    else java.util.Arrays.copyOf(prev, prevLen)
  }

  /** `#WINDOW/n` unordered — if max-min <= n-1 emit MAX and advance ALL
    * pointers, else advance only MIN (strict-comparison `validation`
    * quirk preserved: minIdx/maxIdx move only on strict </>, max test is
    * an else-if of the min test). The reference sorts the args by df
    * first (`QryopIlWindow.java:52`); the result does not depend on their
    * order (property-tested in PositionOpsSpec), so callers need not.
    * Every emission advances all pointers, so the result holds at most
    * min(list lengths) entries. */
  def window(lists: Array[Array[Int]], distance: Int): Array[Int] = {
    val k = lists.length
    val posPtr = new Array[Int](k)
    val termPos = new Array[Int](k)
    val termLength = new Array[Int](k)
    var i = 0
    var minTotal = Int.MaxValue
    while (i < k) {
      termLength(i) = lists(i).length
      termPos(i) = lists(i)(0)
      if (termLength(i) < minTotal) minTotal = termLength(i)
      i += 1
    }
    val temp = new Array[Int](minTotal)
    var t = 0
    var hasMorePos = true
    while (hasMorePos) {
      var minPos = termPos(0)
      var maxPos = termPos(0)
      var minIdx = 0
      var maxIdx = 0
      var v = 1
      while (v < k) {
        if (termPos(v) < minPos) { minPos = termPos(v); minIdx = v }
        else if (termPos(v) > maxPos) { maxPos = termPos(v); maxIdx = v }
        v += 1
      }
      if (maxPos - minPos <= distance - 1) {
        temp(t) = termPos(maxIdx); t += 1
        var j = 0
        var broke = false
        while (j < k && !broke) {
          posPtr(j) += 1
          if (posPtr(j) >= termLength(j)) { hasMorePos = false; broke = true }
          else { termPos(j) = lists(j)(posPtr(j)); j += 1 }
        }
      } else {
        posPtr(minIdx) += 1
        if (posPtr(minIdx) >= termLength(minIdx)) hasMorePos = false
        else termPos(minIdx) = lists(minIdx)(posPtr(minIdx))
      }
    }
    java.util.Arrays.copyOf(temp, t)
  }
}
