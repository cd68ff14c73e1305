package linkbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** The link graph of a generated table, counted on the driver without
 * Spark, by the edge rules `EdgeBuilder.keyEdges` documents: consecutive
 * turns of a conversation, and turn → tool vertex; self-loops dropped,
 * edges deduplicated. */
final case class GraphOracle(
    vertices: Long,
    directedEdges: Long,
    symmetricEdges: Long,
    components: Long,
    triangles: Long)

object GraphOracle {

  /** `rows` in generator order: each conversation's turns consecutive. */
  def of(rows: IndexedSeq[Row]): GraphOracle = {
    val index = mutable.HashMap[String, Int]()
    def id(k: String): Int = index.getOrElseUpdate(k, index.size)
    val directed = mutable.LongMap[Unit]()
    def add(a: Int, b: Int): Unit = if (a != b) directed((a.toLong << 32) | b) = ()
    var prevConv: String = null
    var prev = -1
    for (r <- rows) {
      val conv = r.getString(0)
      val v = id(s"$conv#${r.getInt(1)}")
      if (conv == prevConv) add(prev, v)
      if (!r.isNullAt(4)) add(v, id(s"T#${r.getString(4)}"))
      prevConv = conv
      prev = v
    }
    val n = index.size
    val undirected = mutable.LongMap[Unit]()
    directed.keysIterator.foreach { e =>
      val a = (e >>> 32).toInt
      val b = e.toInt
      undirected((math.min(a, b).toLong << 32) | math.max(a, b)) = ()
    }
    val nbrs = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    undirected.keysIterator.foreach { e =>
      val a = (e >>> 32).toInt
      val b = e.toInt
      nbrs(a) += b
      nbrs(b) += a
    }
    val adj = nbrs.map(_.result())

    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    undirected.keysIterator.foreach(e => parent(find((e >>> 32).toInt)) = find(e.toInt))
    val components = (0 until n).count(v => find(v) == v)

    // degree-ordered orientation: each triangle is counted once, from
    // its lowest-ranked corner, by merging two sorted out-lists
    def before(a: Int, b: Int) =
      adj(a).length < adj(b).length || (adj(a).length == adj(b).length && a < b)
    val out = Array.tabulate(n)(v => adj(v).filter(before(v, _)).sorted)
    var triangles = 0L
    for (a <- 0 until n; b <- out(a)) {
      val x = out(a)
      val y = out(b)
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { triangles += 1; i += 1; j += 1 }
      }
    }
    GraphOracle(n, directed.size, 2L * undirected.size, components, triangles)
  }
}
