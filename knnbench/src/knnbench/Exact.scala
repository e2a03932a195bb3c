package knnbench

import scala.collection.mutable

/** The benchmark's own answers, computed without the engine's distance,
  * top-k or shingling code: brute-force cosine top 10 over the vectors
  * read back from the table, and exact 3-shingle Jaccard similarity. */
object Exact {

  /** Vectors kept sparse (hash embeddings have a few dozen non-zeros out
    * of 384), with their norms, for brute-force scans. */
  final class Corpus(val ids: Array[Long], vecs: Array[Array[Float]]) {
    require(ids.length == vecs.length)
    private val idx: Array[Array[Int]] = vecs.map(v => v.indices.filter(v(_) != 0f).toArray)
    private val vals: Array[Array[Double]] = vecs.indices.map(i => idx(i).map(j => vecs(i)(j).toDouble)).toArray
    private val norms: Array[Double] = vals.map(v => math.sqrt(v.map(x => x * x).sum))
    private val pos: Map[Long, Int] = ids.zipWithIndex.toMap

    def size: Int = ids.length
    def contains(id: Long): Boolean = pos.contains(id)

    /** Cosine distance from `q` to row `i`, in double precision. */
    def distance(q: Array[Float], qNorm: Double, i: Int): Double = {
      val ix = idx(i); val vx = vals(i)
      var dot = 0.0; var j = 0
      while (j < ix.length) { dot += vx(j) * q(ix(j)); j += 1 }
      val denom = qNorm * norms(i)
      if (denom == 0.0) Double.NaN else 1.0 - dot / denom
    }

    def distanceTo(q: Array[Float], id: Long): Double = distance(q, norm(q), pos(id))

    /** Ascending distances of the `k` nearest rows among the first `limit`
      * rows (rows are appended in insertion order, so a prefix is the table
      * as it was at an earlier point). */
    def topKDistances(q: Array[Float], k: Int, limit: Int = Int.MaxValue): Array[Double] = {
      val qn = norm(q)
      val heap = mutable.PriorityQueue.empty[Double] // max-heap of the k best
      var i = 0
      val n = math.min(limit, ids.length)
      while (i < n) {
        val d = distance(q, qn, i)
        if (!d.isNaN) {
          if (heap.size < k) heap.enqueue(d)
          else if (d < heap.head) { heap.dequeue(); heap.enqueue(d) }
        }
        i += 1
      }
      heap.toArray.sorted
    }
  }

  def norm(q: Array[Float]): Double = math.sqrt(q.map(x => x.toDouble * x).sum)

  /** Distinct whitespace-token 3-grams. */
  def shingles(text: String): Set[String] =
    text.trim.split("\\s+").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString("\u0001")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Number of documents a cluster clean-up keeps: all of them minus every
    * non-representative member of each connected component of `pairs`. */
  def keptAfterClusterDrop(nDocs: Long, pairs: Seq[(Long, Long)]): Long = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = parent.keys.toSeq
    val components = nodes.map(find).distinct.size
    nDocs - (nodes.size - components)
  }
}
