package perfbench

/** Output checks. Each compares a result of the program with what the
  * benchmark works out on its own from the inputs, and returns the first
  * violation it finds (None when the result holds). They are plain
  * functions over plain data so that [[SelfTest]] can feed them corrupted
  * results. */
object Checks {
  /** One answer entry: candidate id and its score. */
  type Hit = (Long, Double)

  /** Share of equal positions between two signatures. */
  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** True when the two signatures agree on every row of at least one band. */
  def shareBand(a: Array[Long], b: Array[Long], rows: Int): Boolean =
    a.indices.by(rows).exists(s => (s until s + rows).forall(i => a(i) == b(i)))

  /** A top-k answer to one query signature: k entries; every real entry's
    * score is the share of equal signature positions and its id shares a
    * full band with the query; scores do not increase down the list; ids
    * are distinct; `-1` padding (score 0) only at the tail. `padded` is
    * false for answers that carry no padding (the batch form). */
  def answer(query: Array[Long], hits: Seq[Hit], sigOf: Long => Array[Long],
             k: Int, rows: Int, padded: Boolean = true): Option[String] = {
    val real = hits.takeWhile(_._1 != -1L)
    val pad = hits.drop(real.length)
    if (padded && hits.length != k) Some(s"${hits.length} entries, want $k")
    else if (!padded && hits.length > k) Some(s"${hits.length} entries, want at most $k")
    else if (pad.exists(h => h._1 != -1L || h._2 != 0.0)) Some(s"padding not at the tail: $hits")
    else if (real.map(_._1).distinct.length != real.length) Some(s"repeated id: $hits")
    else if (real.zip(real.drop(1)).exists { case (a, b) => b._2 > a._2 })
      Some(s"scores increase: $hits")
    else real.iterator.map { case (id, score) =>
      val sig = sigOf(id)
      if (sig == null) Some(s"unknown id $id")
      else if (score != estJaccard(query, sig))
        Some(s"id $id score $score, signatures give ${estJaccard(query, sig)}")
      else if (!shareBand(query, sig, rows)) Some(s"id $id shares no band with the query")
      else None
    }.collectFirst { case Some(e) => e }
  }

  /** Top-1 of an answer against the brute-force best score over the corpus. */
  def topOne(hits: Seq[Hit], bruteBest: Double): Option[String] =
    hits.headOption.filter(_._1 != -1L).collect {
      case (id, s) if s > bruteBest => s"top-1 $id scores $s above the corpus best $bruteBest"
    }

  /** Two forms of the same answer agree (padding ignored). */
  def sameAnswer(a: Seq[Hit], b: Seq[Hit]): Option[String] = {
    val ra = a.filter(_._1 != -1L); val rb = b.filter(_._1 != -1L)
    if (ra == rb) None else Some(s"$ra differs from $rb")
  }

  /** Near-duplicate pairs (a, b, score): every pair of docs with identical
    * text is reported with score 1, and every pair has a < b and a score
    * between the threshold and 1. */
  def dedupPairs(pairs: Seq[(Long, Long, Double)], exactPairs: Iterable[(Long, Long)],
                 threshold: Double): Option[String] = {
    val bad = pairs.find { case (a, b, s) => !(a < b) || s < threshold || s > 1.0 }
    if (bad.isDefined) Some(s"bad pair ${bad.get}")
    else {
      val byPair = pairs.iterator.map { case (a, b, s) => (a, b) -> s }.toMap
      exactPairs.find(p => !byPair.get(p).contains(1.0))
        .map(p => s"identical texts $p reported as ${byPair.get(p)}")
    }
  }

  /** A /dedup response: one status per posted doc, in request order. */
  def statusOrder(posted: Seq[Long], got: Seq[(Long, String)]): Option[String] =
    if (got.map(_._1) != posted) Some(s"ids ${got.map(_._1).take(5)}... differ from posted ${posted.take(5)}...")
    else got.find(g => !Set("exact", "near", "new").contains(g._2)).map(g => s"status $g")

  /** `exact` exactly when the doc's text is one the corpus already holds. */
  def exactIff(docs: Seq[(Long, String)], statuses: Seq[(Long, String)],
               known: String => Boolean): Option[String] =
    docs.zip(statuses).collectFirst {
      case ((id, text), (_, st)) if (st == "exact") != known(text) =>
        s"doc $id is $st but its text is ${if (known(text)) "" else "not "}in the corpus"
    }

  /** Every `near` verdict has a corpus doc at or above the threshold. */
  def nearJustified(near: Seq[Long], bestScore: Long => Double,
                    threshold: Double): Option[String] =
    near.find(id => bestScore(id) < threshold)
      .map(id => s"doc $id is near but its best corpus score is ${bestScore(id)}")
}
