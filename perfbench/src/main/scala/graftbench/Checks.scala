package graftbench

/** Output checks. Each returns None when the output passes, or the reason
  * it fails; a failing check marks the operation that produced the output
  * as failed.
  */
object Checks {

  /** One result row: (doc_id, score). */
  type Hit = (Long, Double)

  /** Rows are in the canonical order: score descending, then doc_id
    * ascending.
    */
  def canonicalOrder(hits: Seq[Hit]): Option[String] =
    hits.zip(hits.drop(1)).collectFirst {
      case (a, b) if a._2 < b._2 || (a._2 == b._2 && a._1 >= b._1) =>
        s"rows out of (score desc, doc_id asc) order at doc ${b._1}"
    }

  /** Two top-k results agree: same doc ids in the same order, scores within
    * `tol`, and both in canonical order.
    */
  def sameTopK(expected: Seq[Hit], actual: Seq[Hit], tol: Double = 1e-9): Option[String] =
    canonicalOrder(expected).orElse(canonicalOrder(actual)).orElse {
      if (expected.size != actual.size) Some(s"${actual.size} rows, expected ${expected.size}")
      else expected.zip(actual).zipWithIndex.collectFirst {
        case (((d1, s1), (d2, s2)), i) if d1 != d2 || math.abs(s1 - s2) > tol =>
          s"rank $i: ($d2, $s2), expected ($d1, $s1)"
      }
    }

  /** A query whose terms are all in the vocabulary matches something. */
  def nonEmpty(hits: Seq[Hit]): Option[String] =
    if (hits.isEmpty) Some("empty result for an in-vocabulary query") else None

  /** No removed document is returned. */
  def noneRemoved(hits: Seq[Hit], removed: collection.Set[Long]): Option[String] =
    hits.collectFirst { case (d, _) if removed.contains(d) => s"removed doc $d returned" }

  /** The index counts exactly the live documents. */
  def liveCount(indexed: Long, live: Long): Option[String] =
    if (indexed != live) Some(s"index counts $indexed live docs, expected $live") else None
}
