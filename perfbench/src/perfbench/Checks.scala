package perfbench

/** Output checks. Each returns None when the output is right and a reason
  * when it is not; they take plain values so a test can corrupt them.
  */
object Checks {
  type Hits = Seq[(Long, Double)]

  /** Same documents, same order, bit-identical scores. */
  def topKEqual(expected: Hits, actual: Hits): Option[String] =
    if (expected.isEmpty) Some("reference top-k is empty")
    else if (expected.length != actual.length)
      Some(s"${actual.length} hits, expected ${expected.length}")
    else expected.zip(actual).zipWithIndex.collectFirst {
      case (((ed, es), (ad, as)), r) if ed != ad || java.lang.Double.compare(es, as) != 0 =>
        s"rank $r: got ($ad, $as), expected ($ed, $es)"
    }

  def equal[T](what: String, expected: T, actual: T): Option[String] =
    if (expected == actual) None else Some(s"$what: got $actual, expected $expected")

  /** Every marker query found exactly its one document. */
  def markersFound(hitsPerMarker: Seq[(String, Int)]): Option[String] =
    hitsPerMarker.collectFirst { case (m, n) if n != 1 => s"marker $m: $n hits, expected 1" }

  /** `Dedup.exact` groups `(rep_id, n_docs)` keep one document per content
    * and drop exactly the planted copies (`planted`: source id -> copies).
    */
  def exactDrops(groups: Seq[(Long, Long)], totalDocs: Long, planted: Map[Long, Int]): Option[String] = {
    val dropped = groups.map(_._2 - 1).sum
    val multi = groups.filter(_._2 > 1).map { case (rep, n) => rep -> (n - 1).toInt }.toMap
    if (groups.map(_._2).sum != totalDocs) Some(s"groups cover ${groups.map(_._2).sum} docs of $totalDocs")
    else if (dropped != planted.values.sum) Some(s"dropped $dropped, planted ${planted.values.sum}")
    else if (multi != planted)
      Some(s"duplicate groups differ from the plants: ${(multi.toSet diff planted.toSet).take(3)}")
    else None
  }

  /** Every planted pair is among the reported ones. */
  def pairsReported(reported: Set[(Long, Long)], planted: Seq[(Long, Long)]): Option[String] =
    planted.find(p => !reported.contains(p)).map(p => s"planted pair $p not reported")

  /** Each reported pair's similarity equals the independent recomputation
    * bit for bit and is at least `t`.
    */
  def pairScores(reported: Seq[(Long, Long, Double)], truth: (Long, Long) => Double,
      t: Double): Option[String] =
    reported.collectFirst {
      case (a, b, j) if j < t => s"pair ($a, $b) reported at $j < $t"
      case (a, b, j) if java.lang.Double.compare(j, truth(a, b)) != 0 =>
        s"pair ($a, $b) reported at $j, recomputed ${truth(a, b)}"
    }

  /** No reported pair is truly below `t`. */
  def noneBelow(reported: Seq[(Long, Long, Double)], truth: (Long, Long) => Double,
      t: Double): Option[String] =
    reported.collectFirst {
      case (a, b, _) if truth(a, b) < t => s"pair ($a, $b) has Jaccard ${truth(a, b)} < $t"
    }

  /** Every cluster's members share one component label. */
  def clustersTogether(label: Map[Long, Long], clusters: Seq[Seq[Long]]): Option[String] =
    clusters.collectFirst {
      case c if c.map(label.get).distinct.size != 1 || label.get(c.head).isEmpty =>
        s"cluster ${c.mkString(",")} split over ${c.map(label.get).distinct.mkString(",")}"
    }

  /** A count that must be zero (errors, failed refreshes, unbounded ticks). */
  def zero(what: String, n: Long): Option[String] =
    if (n == 0) None else Some(s"$what: $n")
}
