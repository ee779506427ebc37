package graftbench

/** Plain single-threaded Scala references the program's outputs are
  * checked against. None of this code calls into the program. */
object Check {

  // -------------------------------------------------------------- kmeans

  final case class Lloyd(iterations: Int, converged: Boolean,
      centroids: Array[(Double, Double)])

  /** Lloyd's loop from `init`: strict-`<` first-wins argmin over the
    * centroids in id order, empty clusters keep their centroid, and the
    * reference's `np.allclose(old, new, atol, rtol)` stopping test. */
  def lloyd(xs: Array[Double], ys: Array[Double],
      init: Array[(Double, Double)], maxIter: Int,
      atol: Double, rtol: Double): Lloyd = {
    val k = init.length
    val cx = init.map(_._1)
    val cy = init.map(_._2)
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val sx = new Array[Double](k)
      val sy = new Array[Double](k)
      val n = new Array[Long](k)
      var i = 0
      while (i < xs.length) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var j = 0
        while (j < k) {
          val dx = xs(i) - cx(j); val dy = ys(i) - cy(j)
          val d = dx * dx + dy * dy
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        sx(best) += xs(i); sy(best) += ys(i); n(best) += 1
        i += 1
      }
      var close = true
      for (j <- 0 until k if n(j) > 0) {
        val (nx, ny) = (sx(j) / n(j), sy(j) / n(j))
        close &&= math.abs(cx(j) - nx) <= atol + rtol * math.abs(nx) &&
          math.abs(cy(j) - ny) <= atol + rtol * math.abs(ny)
        cx(j) = nx; cy(j) = ny
      }
      iter += 1
      done = close
    }
    Lloyd(iter, done, cx.zip(cy))
  }

  private val Coord = """-?\d+\.\d{6}"""
  private val Cents = s"""\\d+:\\($Coord, $Coord\\)(?: \\d+:\\($Coord, $Coord\\))*"""

  /** The reference's `dump.txt` shape: init line, one line per
    * iteration, an optional convergence notice, the final line. */
  def logShapeOk(lines: Seq[String], iterations: Int, converged: Boolean): Boolean = {
    val want = 2 + iterations + (if (converged) 1 else 0)
    lines.size == want &&
      lines.head.matches(s"Initial centroids: $Cents") &&
      lines.slice(1, 1 + iterations).zipWithIndex.forall { case (l, i) =>
        l.matches(s"Iteration ${i + 1}: New centroids: $Cents")
      } &&
      (!converged ||
        lines(1 + iterations) == s"Convergence reached after $iterations iterations.") &&
      lines.last.matches(s"Final centroids: $Cents")
  }

  // --------------------------------------------------------------- dedup

  /** Distinct lowercased whitespace-token word 3-grams. */
  def grams(text: String): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Component labels (min member id) of the undirected pair graph. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  // ----------------------------------------------------------------- ann

  /** Spark's `round(x, 4)`: HALF_UP on the decimal value. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Left-to-right double fold of a float vector pair. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Exact top-`k` cosine neighbours of query `q` (excluding itself),
    * ordered by cosine descending then id, cosine rounded to 4 places. */
  def topK(vecs: Array[Array[Float]], norms: Array[Double], q: Int,
      k: Int): Seq[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (a: (Double, Int), b: (Double, Int)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
        else Integer.compare(b._2, a._2))
    var i = 0
    while (i < vecs.length) {
      if (i != q) {
        heap.add((dot(vecs(q), vecs(i)) / (norms(q) * norms(i)), i))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = Iterator.continually(heap.poll()).take(heap.size).toSeq.reverse
    out.map { case (c, id) => (id.toLong, round4(c)) }
  }
}
