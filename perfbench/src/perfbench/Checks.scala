package perfbench

import scala.collection.mutable

/** Output checkers. Each one recomputes the expected answer from the
  * generator's ledger with plain Scala collections — never with Spark or
  * the program's own operators — and compares. */
object Checks {
  /** One check's outcome; `failed` counts the bad items it found. */
  final case class Result(name: String, failed: Long, detail: String) {
    def ok: Boolean = failed == 0
  }

  /** Lower-case, split on the ASCII whitespace set `[ \t\n\x0B\f\r]`. */
  def tokens(text: String): Vector[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("[ \\t\\n\\x0B\\f\\r]+").iterator.filter(_.nonEmpty).toVector

  /** Sink output: every expected id exactly once, nothing else. */
  def sinkRows(expected: Iterable[Long], got: Array[Long]): Result = {
    val want = mutable.HashSet.empty[Long] ++= expected
    val seen = mutable.HashMap.empty[Long, Int]
    got.foreach(id => seen(id) = seen.getOrElse(id, 0) + 1)
    val missing = want.count(id => !seen.contains(id))
    val dups = seen.valuesIterator.map(c => c - 1L).sum
    val extra = seen.keysIterator.count(id => !want.contains(id))
    Result("sink_rows", missing + dups + extra,
      s"expected ${want.size} ids, got ${got.length} rows: $missing missing, " +
        s"$dups duplicated, $extra unexpected")
  }

  /** Plain BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + ½)/(df + ½)))
    * over a live document set that the caller edits as the index is. */
  final class Bm25Ref(k1: Double = 1.2, b: Double = 0.75) {
    private val tf = mutable.HashMap.empty[Long, Map[String, Int]]
    private val postings = mutable.HashMap.empty[String, mutable.HashSet[Long]]
    private var totalDl = 0L

    def add(id: Long, text: String): Unit = {
      require(!tf.contains(id), s"doc $id already live")
      val t = tokens(text)
      val counts = (if (t.isEmpty) Vector("") else t).groupBy(identity)
        .map { case (k, v) => k -> v.size }
      tf(id) = counts
      totalDl += counts.valuesIterator.sum
      counts.keysIterator.foreach(k =>
        postings.getOrElseUpdate(k, mutable.HashSet.empty) += id)
    }

    def remove(id: Long): Unit = tf.remove(id).foreach { counts =>
      totalDl -= counts.valuesIterator.sum
      counts.keysIterator.foreach(k => postings(k) -= id)
    }

    def scores(terms: Seq[String]): Map[Long, Double] = {
      val n = tf.size.toDouble
      val avgdl = totalDl.toDouble / n
      val acc = mutable.HashMap.empty[Long, Double]
      terms.distinct.foreach { t =>
        val docs = postings.getOrElse(t, mutable.HashSet.empty[Long])
        val df = docs.size.toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        docs.foreach { d =>
          val c = tf(d)(t).toDouble
          val dl = tf(d).valuesIterator.sum.toDouble
          acc(d) = acc.getOrElse(d, 0.0) +
            idf * c * (k1 + 1.0) / (c + k1 * (1.0 - b + b * dl / avgdl))
        }
      }
      acc.toMap
    }

    def top(terms: Seq[String], k: Int): Vector[(Long, Double)] =
      scores(terms).toVector.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** A returned top-k is right when, rank by rank, its score equals the
    * reference score at that rank and its id's reference score equals
    * it too (so ties may come in either order), all to `tol`. */
  def topK(name: String, got: Seq[(Long, Double)], ref: Vector[(Long, Double)],
      all: Map[Long, Double], tol: Double = 1e-9): Result = {
    val bad =
      if (got.size != ref.size || got.map(_._1).distinct.size != got.size) 1L
      else got.indices.count { i =>
        val (id, s) = got(i)
        math.abs(s - ref(i)._2) > tol ||
          all.get(id).forall(r => math.abs(r - s) > tol)
      }.toLong.min(1L)
    Result(name, bad, s"top-${ref.size}")
  }

  /** Independent ADC: PQ code = per-subspace argmax of c·x − |c|²/2 (ties
    * to the lower index), distance = Σ |q_s − c_s|². */
  final class AdcRef(codebooks: Array[Array[Array[Double]]]) {
    private val sub = codebooks.head.head.length
    def code(x: Array[Double]): Array[Int] = codebooks.indices.map { s =>
      var best = -1
      var bestV = Double.NegativeInfinity
      codebooks(s).indices.foreach { c =>
        val cw = codebooks(s)(c)
        var dot = 0.0
        var nn = 0.0
        var i = 0
        while (i < sub) { dot += cw(i) * x(s * sub + i); nn += cw(i) * cw(i); i += 1 }
        val v = dot - nn / 2.0
        if (v > bestV) { bestV = v; best = c }
      }
      best
    }.toArray
    def dist(q: Array[Double], code: Array[Int]): Double =
      codebooks.indices.map { s =>
        val cw = codebooks(s)(code(s))
        (0 until sub).map { i => val d = q(s * sub + i) - cw(i); d * d }.sum
      }.sum
  }

  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** IVFADC results: each list is ordered by a distance that equals the
    * independent ADC distance of its id (to 1e-9 relative), and mean
    * recall@k against brute-force exact L2 clears `recallFloor`. */
  def ann(results: Seq[(Int, Seq[(Long, Double)])], queries: Array[Array[Double]],
      vectors: Long => Array[Double], ids: Seq[Long], adc: AdcRef,
      codes: Long => Array[Int], k: Int, recallFloor: Double): Result = {
    var bad = 0L
    var recallSum = 0.0
    val exactCache = mutable.HashMap.empty[Int, Set[Long]]
    results.foreach { case (qi, got) =>
      val q = queries(qi)
      val ordered = got.sliding(2).forall(w => w.size < 2 || w(0)._2 <= w(1)._2)
      val consistent = got.forall { case (id, d) =>
        val r = adc.dist(q, codes(id))
        math.abs(r - d) <= 1e-9 * math.max(1.0, math.abs(r))
      }
      if (!ordered || !consistent || got.size != k ||
          got.map(_._1).distinct.size != got.size) bad += 1
      val exact = exactCache.getOrElseUpdate(qi,
        ids.sortBy(id => (l2(q, vectors(id)), id)).take(k).toSet)
      recallSum += got.count(g => exact.contains(g._1)).toDouble / k
    }
    val recall = if (results.isEmpty) 0.0 else recallSum / results.size
    if (recall < recallFloor) bad += 1
    Result("ann", bad, f"${results.size} query results, recall@$k $recall%.3f " +
      f"(floor $recallFloor%.2f)")
  }
}
