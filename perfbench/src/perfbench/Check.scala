package perfbench

/** Output checks. Each returns None when the engine's answer is right and a
  * one-line reason when it is not.
  */
object Check {
  val ScoreTol = 1e-9

  /** Rank-identical: the same docs in the same order, scores within 1e-9. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} hits, expected ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((gd, gs), (wd, ws)), i) if gd != wd || math.abs(gs - ws) > ScoreTol =>
        s"rank $i: got doc $gd score $gs, expected doc $wd score $ws"
    }

  /** The same ranking up to the order of equal-score docs, for answers from
    * an index that numbered docs differently than the reference (ties are
    * broken by doc id). `got` is already in the reference's numbering (-1 for
    * a doc the reference does not know); `wantDeep` is the reference's
    * ranking fetched deeper than k, so a score group cut by the k boundary is
    * complete.
    */
  def sameRankingUpToTies(got: Seq[(Long, Double)], wantDeep: Seq[(Long, Double)], k: Int): Option[String] = {
    val want = wantDeep.take(k)
    if (got.length != want.length) Some(s"${got.length} hits, expected ${want.length}")
    else if (got.map(_._1).distinct.length != got.length) Some("duplicate hits")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((gd, gs), (_, ws)), i) if math.abs(gs - ws) > ScoreTol ||
          !wantDeep.exists { case (d, sc) => d == gd && math.abs(sc - gs) <= ScoreTol } =>
        s"rank $i: got doc $gd score $gs, expected score $ws"
    }
  }
}
