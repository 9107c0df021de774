package graft.streaming

/** The driver-resident copy of a [[StandingGraph]] version — the
  * payload its absorb keeps in the root's handle between batches:
  * every node's label, plus the edge keys of the label partitions in
  * `parts` (loaded when a batch first touches them). Primitive
  * open-addressing tables: a boxed `(Long, Long)` in a Scala set
  * costs ~100 B per edge, a slot here 17 B at a load of at most 1/2.
  * A partition label that merged away stays in `parts`: no node maps
  * to it again while only adds arrive, and a delete batch drops the
  * payload. */
private[streaming] final class ResidentGraph {
  val labels = new ResidentGraph.Table(pairs = false)
  val edges = new ResidentGraph.Table(pairs = true)
  val parts = new ResidentGraph.Table(pairs = false)

  /** rows this payload stands for, against `Gate.fetchMaxRows`. */
  def rows: Long = labels.size.toLong + edges.size
}

private[streaming] object ResidentGraph {

  /** the payload a graph past the resident bound keeps instead, so an
    * add-only stream does not re-probe the bound every batch. */
  case object OverBound

  /** Linear-probing table: a long → long map, or a set of long pairs
    * (`pairs`); no removal. */
  final class Table(pairs: Boolean) {
    private var cap = 16
    private var a = new Array[Long](cap)
    private var b = if (pairs) new Array[Long](cap) else null
    private var v = if (pairs) null else new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0

    def size: Int = n

    private def slot(x: Long, y: Long): Int = {
      var h = (x * 0x9E3779B97F4A7C15L) ^ (y * 0xC2B2AE3D27D4EB4FL)
      h ^= h >>> 31
      var i = h.toInt & (cap - 1)
      while (used(i) && (a(i) != x || (pairs && b(i) != y))) i = (i + 1) & (cap - 1)
      i
    }

    def contains(x: Long, y: Long = 0L): Boolean = used(slot(x, y))

    def getOrElse(x: Long, default: Long): Long = {
      val i = slot(x, 0L)
      if (used(i)) v(i) else default
    }

    def put(x: Long, y: Long = 0L, value: Long = 0L): Unit = {
      val i = slot(x, y)
      if (!pairs) v(i) = value
      if (!used(i)) {
        used(i) = true
        a(i) = x
        if (pairs) b(i) = y
        n += 1
        if (2 * n > cap) grow()
      }
    }

    /** rewrite every value in place. */
    def transformValues(f: Long => Long): Unit =
      (0 until cap).foreach(i => if (used(i)) v(i) = f(v(i)))

    /** every (key, value) of a map table. */
    def foreach(f: (Long, Long) => Unit): Unit =
      (0 until cap).foreach(i => if (used(i)) f(a(i), v(i)))

    /** every pair of a pair table. */
    def foreachPair(f: (Long, Long) => Unit): Unit =
      (0 until cap).foreach(i => if (used(i)) f(a(i), b(i)))

    private def grow(): Unit = {
      val (oa, ob, ov, ou) = (a, b, v, used)
      cap *= 2
      a = new Array[Long](cap)
      b = if (pairs) new Array[Long](cap) else null
      v = if (pairs) null else new Array[Long](cap)
      used = new Array[Boolean](cap)
      n = 0
      ou.indices.foreach(i =>
        if (ou(i)) {
          if (pairs) put(oa(i), ob(i)) else put(oa(i), value = ov(i))
        })
    }
  }
}
