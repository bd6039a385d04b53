package graft.functions

import scala.collection.mutable

/** Deterministic HNSW graph (Malkov & Yashunin, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable Small
  * World graphs", arXiv:1603.09320) — the per-shard index of the
  * scatter-gather ANN path ([[graft.queries.EmbeddingQueries.hnswSearch]]).
  *
  * Production ANN at 100 TB is sharded graphs: each executor builds a
  * graph over ITS partition only (build is the sequential part — O(shard)
  * memory, no shuffle), queries broadcast to every shard, per-shard
  * candidates union into an exact top-k rerank. The graph-quality
  * parameters (M, efConstruction, efSearch) trade recall for work exactly
  * as in the paper.
  *
  * Determinism (so recall gates are stable run-to-run): insertion order is
  * ascending id, the level of node id derives from an md5 uniform of the
  * id (no RNG), every candidate ordering ties-breaks by (distance, id),
  * and neighbor pruning keeps the closest-M by the same total order.
  * Distance is double-precision cosine distance; exact final ranking is
  * done OUTSIDE the graph by the caller's integer-exact rerank, so ulp
  * noise here can only affect which candidates surface, never how the
  * emitted rows rank.
  */
object Hnsw {

  /** md5-derived uniform in (0,1) for node levels — reproducible from the
    * source alone (no RNG; same derivation family as [[GearChunker]]). */
  private def uniform(id: Long): Double = {
    val d = Digests.md5Utf8(s"hnsw:$id")
    var bits = 0L
    var j = 0
    while (j < 7) { bits = (bits << 8) | (d(j) & 0xffL); j += 1 }
    ((bits >>> 4).toDouble + 0.5) / (1L << 52).toDouble
  }

  def levelOf(id: Long, m: Int): Int = {
    val mL = 1.0 / math.log(m.toDouble)
    math.min(16, (-math.log(uniform(id)) * mL).toInt)
  }

  /** Cosine DISTANCE in doubles (1 - cos); zero vectors sort last. */
  def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 2.0 else 1.0 - dot / math.sqrt(na * nb)
  }

  final class Graph(val m: Int, val efConstruction: Int) {
    private val mMax0 = 2 * m
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    val levels = mutable.ArrayBuffer.empty[Int]
    // neighbors(node)(level) = sorted buffer of node indexes
    val neighbors = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    var entry: Int = -1
    var maxLevel: Int = -1

    private def dist(i: Int, q: Array[Float]): Double = cosineDist(vecs(i), q)
    private def distIJ(i: Int, j: Int): Double = cosineDist(vecs(i), vecs(j))

    /** (distance, id)-ordered: the deterministic total order everywhere. */
    private def better(d1: Double, i1: Int, d2: Double, i2: Int): Boolean =
      d1 < d2 || (d1 == d2 && ids(i1) < ids(i2))

    /** Beam search at one level: closest `ef` nodes to q from `entryPts`. */
    private def searchLayer(q: Array[Float], entryPts: Seq[Int], ef: Int,
        level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet.empty[Int]
      // candidates: min-heap by (dist, id); results: max-heap by (dist, id)
      implicit val ord: Ordering[(Double, Int)] =
        Ordering.by[(Double, Int), (Double, Long)](t => (t._1, ids(t._2)))
      val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
      val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
      entryPts.foreach { p =>
        if (visited.add(p)) { val dp = dist(p, q); cand.enqueue((dp, p)); res.enqueue((dp, p)) }
      }
      while (res.size > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        val worst = res.head._1
        if (dc > worst && res.size >= ef) { cand.clear() }
        else {
          val ns = neighbors(c)(level)
          var i = 0
          while (i < ns.length) {
            val n = ns(i)
            if (visited.add(n)) {
              val dn = dist(n, q)
              if (res.size < ef || dn < res.head._1 ||
                  (dn == res.head._1 && ids(n) < ids(res.head._2))) {
                cand.enqueue((dn, n)); res.enqueue((dn, n))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      res.foreach(out += _)
      out.sortInPlaceBy(t => (t._1, ids(t._2)))
      out
    }

    private def prune(node: Int, level: Int): Unit = {
      val cap = if (level == 0) mMax0 else m
      val ns = neighbors(node)(level)
      if (ns.length > cap) {
        val sorted = ns.toArray.sortBy(n => (distIJ(node, n), ids(n)))
        ns.clear()
        ns ++= sorted.take(cap)
      }
    }

    def insert(id: Long, vec: Array[Float]): Unit = {
      val idx = ids.length
      val level = levelOf(id, m)
      ids += id; vecs += vec; levels += level
      neighbors += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = idx; maxLevel = level; return }
      var ep = entry
      // greedy descent above the node's level
      var l = maxLevel
      while (l > level) {
        var changed = true
        while (changed) {
          changed = false
          val ns = neighbors(ep)(l)
          var i = 0
          var bestD = dist(ep, vec)
          while (i < ns.length) {
            val dn = dist(ns(i), vec)
            if (better(dn, ns(i), bestD, ep)) { bestD = dn; ep = ns(i); changed = true }
            i += 1
          }
        }
        l -= 1
      }
      // connect on each level from min(level, maxLevel) down to 0
      var eps: Seq[Int] = Seq(ep)
      l = math.min(level, maxLevel)
      while (l >= 0) {
        val found = searchLayer(vec, eps, efConstruction, l)
        val selected = found.take(m)
        selected.foreach { case (_, n) =>
          neighbors(idx)(l) += n
          neighbors(n)(l) += idx
          prune(n, l)
        }
        eps = found.map(_._2).toSeq
        l -= 1
      }
      if (level > maxLevel) { maxLevel = level; entry = idx }
    }

    /** Top-k (id, cosineDist) for a query; ef >= k. */
    def search(q: Array[Float], ef: Int, k: Int): Array[(Long, Double)] = {
      if (entry < 0) return Array.empty
      var ep = entry
      var l = maxLevel
      while (l > 0) {
        var changed = true
        while (changed) {
          changed = false
          val ns = neighbors(ep)(l)
          var i = 0
          var bestD = dist(ep, q)
          while (i < ns.length) {
            val dn = dist(ns(i), q)
            if (better(dn, ns(i), bestD, ep)) { bestD = dn; ep = ns(i); changed = true }
            i += 1
          }
        }
        l -= 1
      }
      searchLayer(q, Seq(ep), math.max(ef, k), 0)
        .take(k).map { case (d, i) => (ids(i), d) }.toArray
    }
  }

  /** Build over (id, vector) pairs — sorted by id for determinism. */
  def build(nodes: Array[(Long, Array[Float])], m: Int, efConstruction: Int): Graph = {
    val g = new Graph(m, efConstruction)
    nodes.sortBy(_._1).foreach { case (id, v) => g.insert(id, v) }
    g
  }

  // ------------------------------------------------------- persistence
  /** One row per node: everything needed to reload the graph WITHOUT
    * re-running construction — the build-once / serve-many-query-batches
    * lifecycle (per-shard graph build is the expensive sequential part;
    * a 100-TB index is built once per ingest and persisted as ordinary
    * parquet, then every query batch reloads shards in O(shard) with zero
    * insert work). Neighbor lists are flattened per level; entry/maxLevel
    * re-derive from the rows (entry = the node whose level == maxLevel
    * with the smallest insertion index — unique by construction: the
    * entry only changes when a strictly higher level appears). */
  final case class NodeRow(id: Long, vec: Array[Float], level: Int,
      neighbors: Array[Array[Long]])

  def toRows(g: Graph): Array[NodeRow] =
    Array.tabulate(g.ids.length) { i =>
      NodeRow(g.ids(i), g.vecs(i), g.levels(i),
        g.neighbors(i).map(_.map(n => g.ids(n)).toArray))
    }

  /** Rebuild a graph VERBATIM from persisted rows: same arrays, same
    * adjacency, same entry point — `search` results are bit-identical to
    * the pre-persist graph (HnswSpec pins this). */
  def fromRows(rows: Array[NodeRow], m: Int, efConstruction: Int): Graph = {
    val g = new Graph(m, efConstruction)
    // insertion order was ascending id ([[build]]); restore it so node
    // indexes (and thus tie-breaks) reproduce exactly
    val sorted = rows.sortBy(_.id)
    val idx = sorted.iterator.map(_.id).zipWithIndex.toMap
    sorted.foreach { r =>
      g.ids += r.id
      g.vecs += r.vec
      g.levels += r.level
      g.neighbors += r.neighbors.map(ns =>
        mutable.ArrayBuffer.from(ns.iterator.map(idx)))
    }
    g.maxLevel = if (sorted.isEmpty) -1 else sorted.map(_.level).max
    g.entry = if (sorted.isEmpty) -1
      else sorted.indexWhere(_.level == g.maxLevel)
    g
  }
}
