package graftbench

import scala.util.Random

/** Pseudo-words over a fixed alphabet. Every generated word has at least
  * four letters, so none collides with a stopword of any language the
  * library's language ID knows (all of those have at most three).
  */
object Words {
  private val cons = "bdfgklmnprstvz"
  private val vows = "aeiou"
  def word(r: Random, syllables: Int = 3): String =
    (0 until syllables).map(_ => s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}").mkString
  def cap(s: String): String = s.head.toUpper.toString + s.tail
  def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
}

/** One `curate` op's input: a batch of (id, text) documents, the eval
  * set they are decontaminated against, and the survivor ids that
  * `Curation.cleanCorpus` must return.
  */
final case class CurateBatch(docs: Vector[(Long, String)], eval: Vector[(Long, String)],
    survivors: Set[Long], plantedPairs: Int)

/** Curation corpus with planted truth.
  *
  * Every clean document has exactly `DocTokens` tokens and therefore
  * N = DocTokens - K + 1 distinct word K-shingles (content words are
  * random pseudo-words, so no shingle repeats). Replacing one content
  * token at least K positions from either edge destroys exactly K
  * shingles and creates K new ones, so one replacement gives Jaccard
  * (N-K)/(N+K) = 0.846 and two replacements at least K apart give
  * (N-2K)/(N+2K) = 0.730. With `MinJaccard` 0.8 between the two:
  *  - a star (centre plus leaves, each leaf one replacement away) has
  *    exactly the centre-leaf pairs as near-dups;
  *  - a chain (each member one replacement from the previous, at a new
  *    position) has exactly the neighbour pairs, so its diameter is
  *    its length minus one and min-label components needs that many
  *    rounds. Chain ids ascend along the chain.
  * Boilerplate phrases (PhraseTokens long) are shared by Zipf quotas, so
  * the popular ones cross `MaxDf` and the tail ones stay rare and make
  * low-Jaccard candidate pairs for the verify to reject. Eval docs share
  * no shingle with any train doc except the planted 8-token passages.
  */
object CurateGen {
  val ShingleK = 5
  val MinJaccard = 0.8
  val MaxDf = 64
  val MinCommon = 3L
  val DocTokens = 64
  val PhraseTokens = 7
  val PhraseSlot = 8
  val Phrases = 100
  val ZipfS = 1.1
  val StarLeaves = 4
  val ChainLength = 5
  val EvalTokens = 40
  val PassageTokens = 8

  private val enStop = Vector("the", "and", "of", "to", "in", "a", "is")
  private val foreignStop = Vector(
    Vector("el", "que", "y", "los", "es"),
    Vector("le", "et", "les", "des", "est"),
    Vector("der", "die", "und", "das", "ist", "von", "ein"))

  /** Shared by every batch of one seed, so phrase popularity is a
    * property of the corpus, not of the batch.
    */
  private def phrases(seed: Long): Vector[Vector[String]] = {
    val r = new Random(seed * 7919L + 17L)
    Vector.fill(Phrases)(Vector.fill(PhraseTokens)(Words.word(r, 4)))
  }

  private def render(toks: IndexedSeq[String]): String =
    toks.grouped(8).map(_.mkString(" ") + ".").mkString(" ")

  /** A clean document: stopword every fourth token, one boilerplate
    * phrase in slot [8, 15), the rest content words. Returns the tokens
    * and the positions free for a near-dup replacement.
    */
  private def cleanDoc(r: Random, phrase: Vector[String]): (Vector[String], Vector[Int]) = {
    val toks = Array.tabulate(DocTokens)(i =>
      if (i % 4 == 3) Words.pick(r, enStop) else Words.word(r))
    for (j <- 0 until PhraseTokens) toks(PhraseSlot + j) = phrase(j)
    val free = (ShingleK - 1 to DocTokens - ShingleK)
      .filter(i => i % 4 != 3 && (i < PhraseSlot || i >= PhraseSlot + PhraseTokens)).toVector
    (toks.toVector, free)
  }

  /** Phrase ids for `n` clean documents: phrase p gets a share of the
    * docs proportional to 1/p^ZipfS (largest remainders), in random
    * order. Fixed quotas keep the pair-verify work the same for every
    * seed; only which docs share a phrase varies.
    */
  private def phraseDraws(r: Random, n: Int): Iterator[Int] = {
    val w = (1 to Phrases).map(i => 1.0 / math.pow(i.toDouble, ZipfS))
    val exact = w.map(_ / w.sum * n)
    val floor = exact.map(_.toInt)
    val extra = exact.zipWithIndex.sortBy { case (x, i) => (-(x - x.toInt), i) }
      .take(n - floor.sum).map(_._2).toSet
    val quota = floor.zipWithIndex.map { case (f, i) => if (extra(i)) f + 1 else f }
    r.shuffle(quota.zipWithIndex.flatMap { case (q, p) => Seq.fill(q)(p) }).iterator
  }

  /** n positions pairwise at least ShingleK apart: greedy over a random
    * order, falling back to the sorted order, which packs tightest.
    */
  private def spreadPositions(r: Random, free: Vector[Int], n: Int): Vector[Int] = {
    def greedy(order: Vector[Int]) = order.foldLeft(Vector.empty[Int]) { (out, p) =>
      if (out.size < n && out.forall(q => math.abs(q - p) >= ShingleK)) out :+ p else out
    }
    val shuffled = greedy(r.shuffle(free))
    val out = if (shuffled.size == n) shuffled else r.shuffle(greedy(free.sorted))
    require(out.size == n, s"cannot place $n replacements")
    out
  }

  def batch(seed: Long, index: Int, size: Int): CurateBatch = {
    val r = new Random(seed * 1000003L + index)
    val ph = phrases(seed)
    // composition, scaled to `size`
    val nEval = math.max(8, size / 25)
    val nShort, nNoisy, nUnnatural = math.max(2, size / 64)
    val nForeign = math.max(3, size / 32)
    val nStars = math.max(2, size / 100)
    val nChains = math.max(2, size / 100)
    val nExact = math.max(2, size / 100)
    val nContam = math.max(2, size / 32)
    val nLow = nShort + nNoisy + nUnnatural + nForeign
    val nClustered = nStars * (StarLeaves + 1) + nChains * ChainLength
    val nSingle = size - nLow - nClustered - nExact - nContam
    require(nSingle >= nExact, s"batch size $size too small")
    // one phrase per clean original (cluster members and exact copies
    // repeat their original's)
    val draws = phraseDraws(r, nStars + nChains + nContam + nSingle)
    def clean() = cleanDoc(r, ph(draws.next()))

    val idBase = (index.toLong + 1) * 10000000L
    val ids = r.shuffle((1 to size).map(_ + idBase).toVector)
    var next = 0
    def take(n: Int): Vector[Long] = { val s = ids.slice(next, next + n); next += n; s }

    val docs = Vector.newBuilder[(Long, String)]
    val survivors = Set.newBuilder[Long]

    val eval = Vector.tabulate(nEval) { i =>
      val toks = Vector.tabulate(EvalTokens)(j =>
        if (j % 4 == 3) Words.pick(r, enStop) else Words.word(r))
      (idBase + 5000000L + i, toks)
    }

    // low-quality and non-English docs: never survive
    for (id <- take(nShort)) docs += id -> (Vector.fill(6)(Words.word(r)) :+ "the").mkString(" ")
    for (id <- take(nNoisy)) docs += id -> Vector.tabulate(20)(j =>
      (if (j % 4 == 3) Words.pick(r, enStop) else Words.word(r)) + "!?").mkString(" ")
    for (id <- take(nUnnatural)) docs += id -> render(Vector.fill(40)(Words.word(r)))
    for (id <- take(nForeign)) {
      val stop = Words.pick(r, foreignStop)
      val toks = Vector.tabulate(DocTokens)(j =>
        if (j == 3 || j == 35) "the" else if (j % 4 == 3) Words.pick(r, stop) else Words.word(r))
      docs += id -> render(toks)
    }

    // stars: centre plus leaves one replacement away, at spread positions
    for (_ <- 0 until nStars) {
      val (c, free) = clean()
      val members = c +: spreadPositions(r, free, StarLeaves).map(p => c.updated(p, Words.word(r, 4)))
      val mids = take(members.size)
      members.zip(mids).foreach { case (t, id) => docs += id -> render(t) }
      survivors += mids.min
    }
    // chains: each member one replacement from the previous; ids ascend
    for (_ <- 0 until nChains) {
      val (c, free) = clean()
      val pos = spreadPositions(r, free, ChainLength - 1)
      val members = pos.scanLeft(c)((t, p) => t.updated(p, Words.word(r, 4)))
      val mids = take(members.size).sorted
      members.zip(mids).foreach { case (t, id) => docs += id -> render(t) }
      survivors += mids.head
    }
    // contaminated singletons: an 8-token eval passage over content slots
    for (id <- take(nContam)) {
      val (t, _) = clean()
      val (_, ev) = Words.pick(r, eval)
      val from = r.nextInt(EvalTokens - PassageTokens + 1)
      val at = 24 + r.nextInt(DocTokens - 24 - PassageTokens + 1) // clear of the phrase slot
      docs += id -> render(t.patch(at, ev.slice(from, from + PassageTokens), PassageTokens))
    }
    // singletons, the first nExact of them with an exact copy that
    // differs only in case and inner whitespace
    val singles = take(nSingle)
    val copies = take(nExact)
    for ((id, i) <- singles.zipWithIndex) {
      val text = render(clean()._1)
      docs += id -> text
      if (i < nExact) {
        val cid = copies(i)
        docs += cid -> text.toUpperCase.replace(". ", ".  ")
        survivors += math.min(id, cid)
      } else survivors += id
    }
    require(next == size)
    CurateBatch(r.shuffle(docs.result()), eval.map { case (id, t) => id -> render(t) },
      survivors.result(), nStars * StarLeaves + nChains * (ChainLength - 1))
  }
}
