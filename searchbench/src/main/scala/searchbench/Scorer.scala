package searchbench

import scala.collection.mutable

/** Independent in-memory twin of the search engine's ranking, built from
  * the generator's tokens (never from the program's output).
  *
  * Score (Query.java:113-115): score(d) = Σ_{w ∈ q ∩ d} tf_d(w)·qtf(w)/df(w)²,
  * collapsed to 9 decimals with the same IEEE sequence as `Stable.stab`,
  * ranked by score descending then doc id ascending, exactly k results.
  */
final class Scorer {
  private val post = mutable.HashMap[String, mutable.ArrayBuffer[(Long, Int)]]()
  private var docCount = 0L
  private var rows = 0L

  def add(docs: Iterable[Doc]): Unit = docs.foreach { d =>
    docCount += 1
    d.tokens.groupBy(identity).foreach { case (w, ws) =>
      post.getOrElseUpdate(w, mutable.ArrayBuffer()) += ((d.id, ws.length))
      rows += 1
    }
  }

  def df(word: String): Int = post.get(word).fold(0)(_.size)
  def nDocs: Long = docCount
  def vocabSize: Long = post.size.toLong
  /** (doc, word) pairs — one postings row each. */
  def postingRows: Long = rows

  private def stab9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9

  /** Scores of every matching doc. A doc whose unrounded score lands
    * within 1e-6 of a rounding boundary also carries the neighbouring
    * rounded value: the program sums the same terms in an order of its
    * own, which can move such a score by an ulp across the boundary.
    */
  private def scores(terms: Seq[String]): Seq[(Long, Double, Option[Double])] = {
    val sums = mutable.HashMap[Long, Double]()
    terms.groupBy(identity).toSeq.sortBy(_._1).foreach { case (w, ws) =>
      post.get(w).foreach { plist =>
        val df = plist.size.toDouble
        plist.foreach { case (d, tf) =>
          sums(d) = sums.getOrElse(d, 0.0) + (tf.toLong * ws.size).toDouble / (df * df)
        }
      }
    }
    sums.toSeq.map { case (d, x) =>
      val y = x * 1e9 + 0.5
      val frac = y - math.floor(y)
      val alt =
        if (frac < 1e-6) Some((math.floor(y) - 1) / 1e9)
        else if (frac > 1 - 1e-6) Some((math.floor(y) + 1) / 1e9)
        else None
      (d, stab9(x), alt)
    }
  }

  private def rank(s: Seq[(Long, Double)], k: Int): Seq[Long] =
    s.sortBy { case (d, v) => (-v, d) }.take(k).map(_._1)

  /** The expected top-k doc ids. */
  def topK(terms: Seq[String], k: Int): Seq[Long] =
    rank(scores(terms).map { case (d, v, _) => (d, v) }, k)

  /** True iff `got` is the top-k under some rounding choice for the
    * boundary docs (at most 2^8 choices are tried).
    */
  def accepts(terms: Seq[String], k: Int, got: Seq[Long]): Boolean = {
    val s = scores(terms)
    val base = s.map { case (d, v, _) => (d, v) }
    if (rank(base, k) == got) true
    else {
      val amb = s.collect { case (d, _, Some(a)) => (d, a) }.take(8)
      (1 until (1 << amb.size)).exists { mask =>
        val alt = amb.indices.filter(i => (mask & (1 << i)) != 0).map(amb(_)).toMap
        rank(base.map { case (d, v) => (d, alt.getOrElse(d, v)) }, k) == got
      }
    }
  }
}
