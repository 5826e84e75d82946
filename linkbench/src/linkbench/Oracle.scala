package linkbench

import graft.corpus.{PagesCorpus, Rmat}

/**
 * Single-threaded reference answers on driver arrays, with no engine
 * Spark code. Semantics follow the test suite's `RefOracles`:
 *   - PageRank: pull iteration with dangling mass folded into the
 *     teleport term, stop on L1 < tol or maxIter;
 *   - WCC: component label = minimum vertex id;
 *   - LPA: synchronous, most frequent neighbour label, ties to the
 *     smallest label, self-loops ignored, stop at a fixpoint or maxIter;
 *   - triangles: exact per vertex on the simple undirected graph.
 *
 * Vertex ids index the arrays; a vertex that is not in the graph has
 * label -1 or rank NaN.
 */
object Oracle {

  /** Directed edge list as two id arrays (duplicates and self-loops kept). */
  final case class Edges(n: Int, src: Array[Int], dst: Array[Int]) {
    def size: Int = src.length

    /** Ids that occur as an endpoint of some edge. */
    lazy val present: Array[Boolean] = {
      val p = new Array[Boolean](n)
      var i = 0
      while (i < src.length) { p(src(i)) = true; p(dst(i)) = true; i += 1 }
      p
    }

    /** Stable digest of the edge list, to tell two inputs apart. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = java.nio.ByteBuffer.allocate(8)
      var i = 0
      while (i < src.length) {
        buf.clear(); buf.putInt(src(i)).putInt(dst(i)); md.update(buf.array()); i += 1
      }
      md.digest().take(8).map("%02x".format(_)).mkString
    }
  }

  /** The generator's ground truth: edge `i` of `Rmat.edge(seed, i, scale)`. */
  def rmat(seed: Long, scale: Int, edgeFactor: Int): Edges = {
    val m = (1 << scale) * edgeFactor
    val s = new Array[Int](m)
    val d = new Array[Int](m)
    var i = 0
    while (i < m) {
      val (a, b) = Rmat.edge(seed, i.toLong, scale)
      s(i) = a.toInt; d(i) = b.toInt; i += 1
    }
    Edges(1 << scale, s, d)
  }

  /** Expected renumbering of a page corpus: dense ids over the urls that
   * occur in an edge, degree-descending (a url's degree counts every
   * occurrence as src or dst), ties by url ascending. Returns the new id
   * of each generator vertex (-1 when absent) and the edges in new ids. */
  def renumber(e: Edges): (Array[Int], Edges) = {
    val deg = new Array[Long](e.n)
    var i = 0
    while (i < e.size) { deg(e.src(i)) += 1; deg(e.dst(i)) += 1; i += 1 }
    val order = (0 until e.n).filter(deg(_) > 0)
      .map(v => (v, PagesCorpus.urlOf(v.toLong)))
      .sortWith { case ((a, ua), (b, ub)) =>
        if (deg(a) != deg(b)) deg(a) > deg(b) else ua.compareTo(ub) < 0
      }
    val id = Array.fill(e.n)(-1)
    order.iterator.zipWithIndex.foreach { case ((v, _), k) => id(v) = k }
    (id, Edges(order.size, e.src.map(v => id(v)), e.dst.map(v => id(v))))
  }

  def pagerank(e: Edges, alpha: Double = 0.85, tol: Double = 1e-6,
      maxIter: Int = 100): (Array[Double], Int) = {
    val present = e.present
    val nv = present.count(identity)
    val outw = new Array[Double](e.n)
    e.src.foreach(s => outw(s) += 1.0)
    var pr = Array.tabulate(e.n)(v => if (present(v)) 1.0 / nv else 0.0)
    var it = 0
    var done = nv == 0
    while (!done) {
      it += 1
      var dangling = 0.0
      var v = 0
      while (v < e.n) { if (present(v) && outw(v) == 0.0) dangling += pr(v); v += 1 }
      val tele = (dangling * alpha + (1.0 - alpha)) / nv
      val gather = new Array[Double](e.n)
      var i = 0
      while (i < e.size) {
        val s = e.src(i)
        gather(e.dst(i)) += pr(s) / outw(s)
        i += 1
      }
      val next = new Array[Double](e.n)
      var l1 = 0.0
      v = 0
      while (v < e.n) {
        if (present(v)) {
          next(v) = alpha * gather(v) + tele
          l1 += math.abs(next(v) - pr(v))
        }
        v += 1
      }
      pr = next
      done = l1 < tol || it >= maxIter
    }
    (Array.tabulate(e.n)(v => if (present(v)) pr(v) else Double.NaN), it)
  }

  def wcc(e: Edges): Array[Int] = {
    val parent = Array.tabulate(e.n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < e.size) {
      val a = find(e.src(i)); val b = find(e.dst(i))
      // The smaller root wins, so every root is its component's minimum id.
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    val present = e.present
    Array.tabulate(e.n)(v => if (present(v)) find(v) else -1)
  }

  /** Simple undirected adjacency (no self-loops, no duplicates), each
   * neighbour list sorted ascending. */
  final case class Adj(off: Array[Int], nbr: Array[Int]) {
    def degree(v: Int): Int = off(v + 1) - off(v)
  }

  def undirected(e: Edges): Adj = {
    val keys = new Array[Long](2 * e.size)
    var k = 0
    var i = 0
    while (i < e.size) {
      val a = e.src(i); val b = e.dst(i)
      if (a != b) {
        keys(k) = a.toLong << 32 | b; keys(k + 1) = b.toLong << 32 | a; k += 2
      }
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(keys, k)
    java.util.Arrays.sort(sorted)
    val off = new Array[Int](e.n + 1)
    val nbr = Array.newBuilder[Int]
    var prev = -1L
    i = 0
    while (i < k) {
      if (sorted(i) != prev) {
        off((sorted(i) >>> 32).toInt + 1) += 1
        nbr += sorted(i).toInt
        prev = sorted(i)
      }
      i += 1
    }
    var v = 0
    while (v < e.n) { off(v + 1) += off(v); v += 1 }
    Adj(off, nbr.result())
  }

  def lpa(e: Edges, adj: Adj, maxIter: Int): Array[Int] = {
    val present = e.present
    var lbl = Array.tabulate(e.n)(v => if (present(v)) v else -1)
    val buf = new Array[Int](math.max(1, (0 until e.n).map(adj.degree).foldLeft(0)(math.max)))
    var it = 0
    var changed = true
    while (changed && it < maxIter) {
      it += 1
      val next = lbl.clone()
      var nChanged = 0
      var v = 0
      while (v < e.n) {
        val d = adj.degree(v)
        if (d > 0) {
          var j = 0
          while (j < d) { buf(j) = lbl(adj.nbr(adj.off(v) + j)); j += 1 }
          java.util.Arrays.sort(buf, 0, d)
          var best = buf(0); var bestCnt = 0
          j = 0
          while (j < d) {
            var r = j
            while (r < d && buf(r) == buf(j)) r += 1
            // Ascending scan with a strict '>' keeps the smallest label on ties.
            if (r - j > bestCnt) { bestCnt = r - j; best = buf(j) }
            j = r
          }
          next(v) = best
          if (best != lbl(v)) nChanged += 1
        }
        v += 1
      }
      changed = nChanged > 0
      lbl = next
    }
    lbl
  }

  def triangles(e: Edges, adj: Adj): Array[Long] = {
    // Orient each edge from the lower to the higher (degree, id), so each
    // triangle is found once, from its lowest vertex.
    def before(a: Int, b: Int): Boolean =
      adj.degree(a) < adj.degree(b) || (adj.degree(a) == adj.degree(b) && a < b)
    val out = Array.tabulate(e.n) { v =>
      (adj.off(v) until adj.off(v + 1)).map(i => adj.nbr(i)).filter(before(v, _)).toArray
    }
    val cnt = new Array[Long](e.n)
    var u = 0
    while (u < e.n) {
      val nu = out(u)
      for (v <- nu) {
        val nv = out(v)
        var i = 0; var j = 0
        while (i < nu.length && j < nv.length) {
          if (nu(i) < nv(j)) i += 1
          else if (nu(i) > nv(j)) j += 1
          else { cnt(u) += 1; cnt(v) += 1; cnt(nu(i)) += 1; i += 1; j += 1 }
        }
      }
      u += 1
    }
    val present = e.present
    Array.tabulate(e.n)(v => if (present(v)) cnt(v) else -1L)
  }
}

/** Output checks: each returns a failure message, or None when the
 * engine's output matches the expected one exactly (or, for ranks,
 * within `tol` per vertex). */
object Checks {

  def labels(what: String, expected: Array[Int], got: Array[Long]): Option[String] =
    expected.indices.find(v => expected(v).toLong != got(v))
      .map(v => s"$what: vertex $v expected ${expected(v)}, got ${got(v)}")

  def counts(what: String, expected: Array[Long], got: Array[Long]): Option[String] =
    expected.indices.find(v => expected(v) != got(v))
      .map(v => s"$what: vertex $v expected ${expected(v)}, got ${got(v)}")

  def ranks(what: String, expected: Array[Double], got: Array[Double],
      tol: Double = 1e-6): Option[String] =
    expected.indices.find { v =>
      if (expected(v).isNaN) !got(v).isNaN
      else got(v).isNaN || math.abs(expected(v) - got(v)) > tol
    }.map(v => s"$what: vertex $v expected ${expected(v)}, got ${got(v)}")

  /** Same multiset of (src, dst) pairs. */
  def edges(what: String, expected: Oracle.Edges, gotSrc: Array[Int],
      gotDst: Array[Int]): Option[String] = {
    def keys(s: Array[Int], d: Array[Int]) = {
      val k = Array.tabulate(s.length)(i => s(i).toLong << 32 | (d(i) & 0xffffffffL))
      java.util.Arrays.sort(k)
      k
    }
    if (gotSrc.length != expected.size)
      Some(s"$what: expected ${expected.size} edges, got ${gotSrc.length}")
    else if (!java.util.Arrays.equals(keys(expected.src, expected.dst), keys(gotSrc, gotDst)))
      Some(s"$what: edge multiset differs from the generator's")
    else None
  }
}
