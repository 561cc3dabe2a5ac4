package perfbench

/** Shows that each output check can fail: every check must accept a
  * correct result and reject the same result with one planted fault.
  * Runs without Spark, at the start of every benchmark run and alone
  * through `run.py --selftest`; throws on the first check that accepts a
  * corrupted result or rejects a correct one. */
object SelfTest {
  private def expect(name: String, ok: Option[String], bad: Option[String]): Unit = {
    if (ok.isDefined) throw new IllegalStateException(s"self-test $name: correct result rejected: ${ok.get}")
    if (bad.isEmpty) throw new IllegalStateException(s"self-test $name: corrupted result accepted")
  }

  def run(): Unit = {
    val rows = 4; val k = 5
    val rnd = new scala.util.Random(7)
    // signatures over a small alphabet, so that many share a band
    val corpus = (0 until 200).map(i => i.toLong -> Array.fill(128)(rnd.nextInt(3).toLong)).toMap
    val query = Array.fill(128)(rnd.nextInt(3).toLong)
    val cands = corpus.filter { case (_, s) => Checks.shareBand(query, s, rows) }
    val hits = cands.toSeq.map { case (id, s) => (id, Checks.estJaccard(query, s)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
    require(hits.length == k && hits.last._2 < hits.head._2, "self-test corpus too uniform")
    val correct = hits.padTo(k, (-1L, 0.0))

    // a score changed by 1/128
    expect("score", Checks.answer(query, correct, corpus.apply, k, rows),
      Checks.answer(query, correct.updated(0, (hits.head._1, hits.head._2 + 1.0 / 128)),
        corpus.apply, k, rows))
    // a returned id that shares no band with its query, at its true score
    val (far, farSig) = corpus.find { case (_, s) => !Checks.shareBand(query, s, rows) }.get
    val lone = Seq((far, Checks.estJaccard(query, farSig))).padTo(k, (-1L, 0.0))
    val loneOk = Seq(hits.head).padTo(k, (-1L, 0.0))
    expect("band", Checks.answer(query, loneOk, corpus.apply, k, rows),
      Checks.answer(query, lone, corpus.apply, k, rows))
    // scores that increase, a repeated id, padding before a real entry
    expect("order", None, Checks.answer(query, Seq(hits.last, hits.head), corpus.apply, k, rows,
      padded = false))
    expect("padding", None, Checks.answer(query, correct.reverse, corpus.apply, k, rows))
    expect("distinct", None, Checks.answer(query, correct.updated(1, correct.head), corpus.apply, k, rows))
    // top-1 above the brute-force best, two forms of one answer that differ
    expect("top-1", Checks.topOne(correct, hits.head._2), Checks.topOne(correct, hits.head._2 - 1.0 / 128))
    expect("same", Checks.sameAnswer(correct, hits), Checks.sameAnswer(correct, hits.reverse))

    // a planted exact copy reported as new
    val docs = Seq(1L -> "w1 w2 w3", 2L -> "w4 w5", 3L -> "w1 w2 w3")
    val known = Set("w1 w2 w3")
    val statuses = Seq(1L -> "exact", 2L -> "new", 3L -> "exact")
    expect("exact", Checks.exactIff(docs, statuses, known),
      Checks.exactIff(docs, statuses.updated(2, 3L -> "new"), known))
    expect("order of statuses", Checks.statusOrder(docs.map(_._1), statuses),
      Checks.statusOrder(docs.map(_._1), statuses.reverse))
    expect("near", Checks.nearJustified(Seq(5L), Map(5L -> 0.5), 0.5),
      Checks.nearJustified(Seq(5L), Map(5L -> (0.5 - 1.0 / 128)), 0.5))

    // an exact-duplicate pair dropped from the dedup output
    val pairs = Seq((1L, 3L, 1.0), (2L, 4L, 0.85))
    val exactPairs = Seq((1L, 3L))
    expect("exact pair", Checks.dedupPairs(pairs, exactPairs, 0.8),
      Checks.dedupPairs(pairs.tail, exactPairs, 0.8))
    expect("pair bounds", None, Checks.dedupPairs(pairs :+ ((5L, 6L, 0.75)), exactPairs, 0.8))
  }
}
