package graft.functions

/** Min-heap of (score, id) keeping the k best; worst element at root. */
class TopKBuffer(val k: Int) extends Serializable {
  var size: Int = 0
  var ids: Array[Long] = new Array[Long](k)
  var scores: Array[Double] = new Array[Double](k)

  /** true if (s1,id1) ranks WORSE than (s2,id2) in the final order. */
  @inline private def worse(s1: Double, id1: Long, s2: Double, id2: Long): Boolean =
    s1 < s2 || (s1 == s2 && id1 > id2)

  def insert(id: Long, score: Double): Unit = {
    if (size < k) {
      ids(size) = id; scores(size) = score; size += 1
      siftUp(size - 1)
    } else if (k > 0 && worse(scores(0), ids(0), score, id)) {
      ids(0) = id; scores(0) = score
      siftDown(0)
    }
  }

  def absorb(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) { insert(other.ids(i), other.scores(i)); i += 1 }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
      else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var worst = i
      if (l < size && worse(scores(l), ids(l), scores(worst), ids(worst))) worst = l
      if (r < size && worse(scores(r), ids(r), scores(worst), ids(worst))) worst = r
      if (worst == i) return
      swap(i, worst); i = worst
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
  }

  def sortedDesc: Seq[(Long, Double)] =
    (0 until size).map(i => (ids(i), scores(i)))
      .sortBy { case (id, s) => (-s, id) }
}
