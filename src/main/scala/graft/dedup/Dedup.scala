package graft.dedup

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.text.TextFunctions

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design:
  *  - every signature (content key, minhash, simhash, int-vector) is a
  *    pure per-row expression — map-side only, no shuffle to compute;
  *  - pair generation never does an unblocked self-join: candidates
  *    come from shared shingles (Jaccard), shared LSH bands (MinHash),
  *    equal signatures (SimHash), or a blocking key (embeddings) — the
  *    joins shuffle on those keys and AQE handles skew;
  *  - hashes are md5 hex strings (min-wise over strings ≡ min-wise
  *    over the 128-bit values, since the hex is fixed-width), so the
  *    DuckDB oracle computes bit-identical signatures.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct normalized content,
    * representative = min id. `docs ⟶ (content_key, rep_id, n_docs)`.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.contentKey(col(textCol)).as("content_key"))
      .groupBy("content_key")
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_docs"))

  /** Distinct word k-gram shingles of a document. Docs shorter than k
    * tokens yield one partial shingle (slice clamps). The floor of 1
    * matters: Spark's sequence(1, 0) is DESCENDING [1,0], not empty.
    */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = TextFunctions.tokens(text)
    val idx = sequence(lit(1), greatest(size(toks) - (k - 1), lit(1)))
    array_distinct(transform(idx, i => array_join(slice(toks, i, lit(k)), " ")))
  }

  /** Eagerly materialize a compact result and release the fat
    * intermediates. The dedup operators are terminal analytics — the
    * output (candidate pairs) is orders of magnitude smaller than the
    * posting lists that produced it, so checkpointing the result and
    * unpersisting the intermediates bounds the session's cache
    * footprint at "current query" instead of "every query ever run"
    * (round-3 lesson: dozens of dead MEMORY_AND_DISK frames from prior
    * queries competed with execution memory and slowed the whole
    * bench). The localCheckpoint blocks themselves are tiny and are
    * freed by the ContextCleaner when the result is GC'd.
    *
    * Cluster caveat: localCheckpoint blocks live on executors — they
    * are UNRECOVERABLE on executor loss and unsafe under dynamic
    * allocation. Right for the single-JVM bench; on a cluster either
    * set a checkpoint dir and use reliable `df.checkpoint(true)`, or
    * write the compact result to storage and read it back (the same
    * lineage truncation, durably).
    */
  private def finalized(label: String, result: DataFrame,
      intermediates: Seq[DataFrame]): DataFrame = {
    // job label (opt guide §1.5): the checkpoint is the operator's one
    // big eager job — name it so profiles/UI attribute it correctly
    val sc = result.sparkSession.sparkContext
    sc.setJobDescription(label)
    val out = try result.localCheckpoint(true) finally sc.setJobDescription(null)
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Distinct-shingle postings (id, shingle) — semantically
    * `explode(wordShingles(...))`, but built WITHOUT higher-order
    * functions so the whole pipeline stays in whole-stage codegen
    * (HOF lambdas evaluate interpreted; measured 5× on sf0.1):
    * explode a position sequence, then slice/array_join are ordinary
    * codegen'd expressions. The trailing per-doc dedup is a hash
    * aggregate whose clustering requirement is already satisfied by
    * the id repartition — no second exchange. The repartition also
    * spreads small single-split inputs across the cluster.
    */
  private[graft] def postings(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    // EXPLICIT width (r19): tokenize+explode is the chain's heaviest
    // per-row work, and its input exchange carries COMPRESSED text —
    // at bench scale under 1 MB, so byte-based AQE coalescing ran the
    // whole tokenization on ONE task (measured: a 1.0 s single-task
    // postings materialization inside d2). Compressed bytes
    // under-estimate CPU here (opt guide §2.5's size≠cost trap), so
    // the width is pinned to the session's defaultParallelism — the
    // scale-adaptive "all cores" value on any deployment, never a
    // local constant.
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"),
        explode(sequence(lit(1), greatest(size(col("toks")) - (k - 1), lit(1)))).as("pos"))
      .select(col("id"),
        array_join(slice(col("toks"), col("pos"), lit(k)), " ").as("shingle"))
      .dropDuplicates("id", "shingle")
  }

  /** jaccard = |A∩B| / (|A| + |B| − |A∩B|) from a common-shingle COUNT
    * plus the two set sizes — three longs per pair, never the shingle
    * arrays themselves. Same double division as the array form, so the
    * value is bit-identical to the oracle's len(intersect)/len(union).
    */
  private def countJaccard(pairCounts: DataFrame, sizes: DataFrame): DataFrame =
    pairCounts
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double")).as("jaccard"))

  /** Two 32-bit min-wise hash inputs per shingle, from ONE md5 digest:
    * h1 = first 8 hex chars, h2 = next 8, both as longs. The k minhash
    * functions are Kirsch-Mitzenmacher combinations h1 + i·h2 — one
    * digest per shingle instead of k, and the combine/min runs inside
    * codegen (conv/substring are ordinary expressions, not HOFs).
    *
    * Recall caveat: the k functions are linear in (h1, h2), so band
    * rows are correlated and per-band collision probability deviates
    * from the independent-permutation s^r model — recall differs
    * slightly from k independent hashes. Precision is unaffected
    * (candidates are exact-Jaccard verified). If recall regressions
    * show up on a real corpus, derive h2 from a second digest of a
    * salted shingle.
    */
  private def hashHalves(shingle: Column): (Column, Column) = {
    val digest = md5(shingle.cast("binary"))
    (conv(substring(digest, 1, 8), 16, 10).cast(LongType),
      conv(substring(digest, 9, 8), 16, 10).cast(LongType))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band, verified
    * with exact Jaccard; `minJaccard` (> 0) filters. Signature =
    * nBands·rowsPerBand min-wise hashes, banded rowsPerBand at a
    * time. Returns (id_a, id_b, jaccard).
    *
    * Plan shape matters at scale:
    *  - the signature is computed by ONE codegen'd hash aggregate over
    *    exploded (id, shingle) rows — min(h1 + i·h2) per hash function
    *    — with map-side partial aggregation, so the only md5 per
    *    shingle happens at scan speed and the shuffle carries id + k
    *    longs;
    *  - the band self-join is SKINNY — (id, band) only — and pairs
    *    dedup before verification;
    *  - verification is COUNT-based: re-join the deduped pairs to the
    *    postings on (id, shingle) and count matches, then combine with
    *    the two set sizes (countJaccard). No shingle ARRAY ever
    *    crosses a shuffle and no per-pair array_intersect runs — the
    *    array re-join this replaced was 88% of the round-3 bench.
    *
    * A band-collision pair with zero common shingles (only possible
    * via md5 collision) drops at the count join; its jaccard would be
    * 0 < minJaccard, so the output is unchanged.
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, nHashes: Int, nBands: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = graft.core.Tuning.withCachedPlanAqe(docs.sparkSession) {
    require(nHashes == nBands * rowsPerBand)
    require(minJaccard > 0, "count-based verification drops zero-overlap pairs")
    // persist the postings (they feed the signature aggregate, the
    // count-verify join ×2, and the set sizes) and materialize eagerly
    // so concurrent consumers hit a populated cache.
    val post = postings(docs, idCol, textCol, shingleK)
      .persist(StorageLevel.MEMORY_AND_DISK)
    post.count()
    val sizes = post.groupBy("id").agg(count(lit(1)).as("sz"))
    val (h1, h2) = hashHalves(col("shingle"))
    val hashed = post.select(col("id"), h1.as("h1"), h2.as("h2"))
    val minExprs = (0 until nHashes)
      .map(i => min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    val sig = hashed.groupBy("id").agg(minExprs.head, minExprs.tail: _*)
    val bandExprs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      concat_ws("-", lit(b.toString) +: parts: _*)
    }
    val banded = sig
      .select(col("id"), explode(array(bandExprs: _*)).as("band"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    banded.count()
    val cands = banded.as("x")
      .join(banded.as("y"), col("x.band") === col("y.band") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val pairCounts = cands
      .join(post.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .join(post.withColumnRenamed("id", "id_b"), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    finalized("dedup: minhash-LSH verify",
      countJaccard(pairCounts, sizes).filter(col("jaccard") >= minJaccard),
      Seq(post, banded))
  }

  /** All-pairs n-gram Jaccard via shared-shingle blocking: only pairs
    * that share ≥1 BLOCKING shingle are materialized, never a cross
    * product. Blocking shingles are those with document frequency ≤
    * `maxDf` — the stop-shingle cap that bounds the pair blowup from
    * hot shingles (a shingle in f docs spawns f·(f-1)/2 pairs; on a
    * repetitive corpus that is quadratic death). The Jaccard itself
    * is computed over the FULL common-shingle counts of the blocked
    * pairs, so only pairs whose entire overlap is hot shingles are
    * missed — at any useful threshold those are not near-dups.
    * Returns (id_a, id_b, jaccard).
    */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minJaccard: Double,
      maxDf: Int = 64): DataFrame = {
    val pc = graft.core.Tuning.withCachedPlanAqe(docs.sparkSession) {
    val post = postings(docs, idCol, textCol, shingleK)
      .persist(StorageLevel.MEMORY_AND_DISK)
    post.count()
    (jaccardVerifyPlan(post, minJaccard, maxDf), post)
    }
    // the VERIFY checkpoint runs OUTSIDE the cached-plan-AQE scope
    // (r19): its per-pair work (hot-set array_intersect + the jaccard
    // arithmetic) is tiny-bytes/heavy-compute, and byte-based
    // re-planning of the cached inputs coalesced the whole verify
    // onto one task (measured: a 1.36 s single-task final job inside
    // d12) — the d8/d9 lesson again: partition width must track row
    // COST here, not bytes
    finalized("dedup: jaccard verify", pc._1, Seq(pc._2))
  }

  /** The jaccardPairs verification plan over an ALREADY-PERSISTED
    * postings frame (id, shingle) — split out (r19) so composed
    * pipelines can thread ONE postings build through both the dedup
    * and decontamination stages instead of re-tokenizing the corpus.
    *
    * Count-based plan (round-4 rewrite; the array-verify version this
    * replaced was 88% of the round-3 bench):
    *  1. the rare-shingle self-join feeds groupBy(id_a, id_b).count()
    *     directly — ONE shuffle yields both the candidate pairs and
    *     their common-RARE-shingle counts, with map-side partial
    *     aggregation collapsing the pair blowup before it moves
    *     (the old plan materialized + dropDuplicates'd every
    *     co-shingle pair, then re-joined full arrays);
    *  2. hot shingles (df > maxDf) are FEW by definition — at most
    *     |postings|/maxDf distinct values — so each doc's hot set is
    *     a tiny array; joining those per pair and intersecting adds
    *     the common-HOT count;
    *  3. jaccard from counts (countJaccard) — same double division
    *     over the same integers as the oracle's len(intersect)/
    *     len(union), so values are bit-identical.
    */
  private[graft] def jaccardVerifyPlan(post: DataFrame, minJaccard: Double,
      maxDf: Int): DataFrame = {
    val sizes = post.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfreq = post.groupBy("shingle").agg(count(lit(1)).as("df"))
    val blocked = post.join(dfreq.filter(col("df") <= maxDf).select("shingle"), "shingle")
    val rareCounts = blocked.as("x")
      .join(blocked.as("y"), col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("common_rare"))
    val hotSets = post.join(dfreq.filter(col("df") > maxDf).select("shingle"), "shingle")
      .groupBy("id").agg(collect_set("shingle").as("hot"))
    val noHot = array().cast("array<string>")
    val pairCounts = rareCounts
      .join(hotSets.select(col("id").as("id_a"), col("hot").as("hot_a")), Seq("id_a"), "left")
      .join(hotSets.select(col("id").as("id_b"), col("hot").as("hot_b")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (col("common_rare") + size(array_intersect(
          coalesce(col("hot_a"), noHot), coalesce(col("hot_b"), noHot)))).as("common"))
    countJaccard(pairCounts, sizes).filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over an undirected pair set (id_a, id_b) —
    * the step that turns near-dup PAIRS into dedup GROUPS: every id
    * gets its component representative `rep` = min id reachable
    * through the pair graph, so "keep one per group" is
    * `filter(id === rep)` and "drop dups" is the complement.
    *
    * Iterative min-label propagation (the standard distributed CC):
    * each round takes, per id, the min label over {self} ∪ neighbors,
    * until a fixpoint — O(component diameter) rounds; near-dup groups
    * are near-cliques, so 2-3 rounds are typical. Each round is one
    * shuffle keyed on id plus one fixpoint probe over the (compact,
    * checkpointed) label frame; the edge set is symmetrized once and
    * persisted. maxIters bounds pathological chains — a 100 TB corpus
    * with a diameter-50 duplicate chain is data corruption, not dedup.
    * Returns (id, rep) for ids appearing in ≥ 1 pair.
    */
  def components(pairs: DataFrame,
      maxIters: Int = 20): DataFrame = walkerScope(pairs) { sc0 =>
    // pre-partitioned on the join key (r19): every round joins sym on
    // dst, and a cached frame carries its partitioning into the join's
    // distribution requirement — hash-clustering sym by dst ONCE saves
    // the per-round re-exchange of the (static) edge frame (opt guide
    // §2.4 "two operations keyed the same way can share one exchange")
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      sc0.setJobDescription("dedup: components init")
      var labels = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("rep"))
        .localCheckpoint(true)
      var iters = 0
      var done = false
      while (!done && iters < maxIters) {
        sc0.setJobDescription(s"dedup: components round $iters")
        val nbrMin = sym.join(labels, sym("dst") === labels("id"))
          .select(sym("src").as("id"), col("rep"))
        // the previous label rides the aggregation as a tagged row
        // (each id contributes its own label exactly once), so the
        // fixpoint probe IS the round's materializing action (r20): the
        // LAZY localCheckpoint truncates the plan to a LogicalRDD leaf
        // at build time (same lineage discipline as before — a persist
        // here instead grows the logical tree EXPONENTIALLY, each round
        // referencing the previous frame several times; measured: the
        // driver hung stringifying the plan) but defers the final-stage
        // work into the changed-row count below, which fills the
        // checkpoint blocks and decides convergence in ONE job where
        // the r19 shape paid an eager checkpoint job PLUS a probe job
        // (the rounds are job-launch-bound at bench scale).
        val next = labels.select(col("id"), col("rep"), lit(true).as("own"))
          .unionAll(nbrMin.select(col("id"), col("rep"), lit(false).as("own")))
          .groupBy("id")
          .agg(min("rep").as("rep"), min(when(col("own"), col("rep"))).as("prev"))
          .localCheckpoint(false)
        done = next.filter(col("rep") =!= col("prev")).count() == 0L
        labels = next.select("id", "rep")
        iters += 1
      }
      require(done, s"components did not converge in $maxIters iterations")
      labels
    } finally sym.unpersist(false)
  }

  /** A components walker's scope: cached-plan AQE on, and the job
    * label the walker sets released on every path, the throw path
    * included (its first label goes up before its first action).
    */
  private def walkerScope(pairs: DataFrame)(body: SparkContext => DataFrame): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    graft.core.Tuning.withCachedPlanAqe(pairs.sparkSession) {
      try body(sc) finally sc.setJobDescription(null)
    }
  }

  /** Connected components by ALTERNATING large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the HIGH-DIAMETER scale path beside
    * [[components]]. Min-label propagation is O(diameter) rounds: the
    * right default for near-clique dedup groups, a loud failure on a
    * diameter-200 chain (line graphs, road networks, linked-list-ish
    * event chains). Star contraction converges in O(log² n) rounds
    * REGARDLESS of diameter by rewriting the edge set itself each
    * round instead of flowing labels along fixed edges:
    *
    *  - large-star: every node links its LARGER neighbors to its
    *    minimum neighborhood member (min over neighbors and self) —
    *    hangs high nodes directly under local minima;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    and itself to its minimum neighbor — collapses the remaining
    *    short chains into stars.
    *
    * Both halves preserve connectivity exactly (each rewritten edge
    * is witnessed by a 2-path through the center), so the fixpoint —
    * the edge set stable under both — is a star forest rooted at each
    * component's minimum id, read out directly as (id, rep). Same
    * contract as [[components]]: undirected (id_a, id_b) pairs in,
    * (id, rep = component min) out for every id with ≥ 1 edge,
    * isolated ids absent, loud `require` on non-convergence.
    *
    * Cost shape per round: two groupBy-min + two joins, all shuffled
    * on node id (the [[components]] round shape, twice), edge frame
    * checkpointed per round. Rounds: ≤ 2·log²(n) in theory, single
    * digits in practice even on chains (a 400-node path converges in
    * ~6 alternations). Use when component diameter is unknown or
    * unbounded; keep [[components]] for the near-clique dedup case
    * where 2-3 min-label rounds beat 2 shuffles × log² rounds.
    */
  def componentsStar(pairs: DataFrame,
      maxIters: Int = 25): DataFrame = walkerScope(pairs) { sc0 =>
    // canonical undirected edge: (u < v), self-loops dropped. All
    // rewriting below emits (min, other) pairs, so canonical order is
    // re-established by construction each round.
    sc0.setJobDescription("dedup: components* init")
    var e = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var iters = 0
    var done = e.isEmpty
    while (!done && iters < maxIters) {
      sc0.setJobDescription(s"dedup: components* round $iters")
      // large-star: center c over its FULL neighborhood. m_c =
      // min(neighbors ∪ self) ≤ c, and every neighbor n > c re-hangs
      // as (m_c, n) — already canonical since m_c ≤ c < n. Edges
      // toward smaller neighbors are re-emitted when the smaller
      // endpoint is the center, so no edge is lost.
      //
      // WINDOW form (r20): m_c attaches to each neighborhood row as a
      // partition-min WINDOW over c — one exchange where the r19
      // groupBy-min + re-join paid two (plus a persisted/checkpointed
      // intermediate, since the join split the round into two
      // consumers). Row-identical: the window min over the full
      // partition is the same exact long/string min, every (c, n) row
      // keeps exactly one m. The whole round is now ONE linear
      // pipeline — sym → window → small-star window → tagged probe —
      // so the single probing action below materializes it with 3
      // exchange stages per round instead of 5 plus two checkpoint
      // jobs (measured r20: the rounds are job-launch-bound at bench
      // scale — 10-12 tiny-stage jobs per round before, 4-5 after).
      val sym = e.select(col("u").as("c"), col("v").as("n"))
        .unionAll(e.select(col("v").as("c"), col("u").as("n")))
      val wC = org.apache.spark.sql.expressions.Window.partitionBy("c")
      // NOT distinct'd (r19): distinct (c, n) rows can project to the
      // same (m, n) edge, but the small-star window-min is
      // multiplicity-blind and the tagged aggregate below is the one
      // true dedup — dropping the exchange here removes one full
      // shuffle of the edge frame per round (opt guide §2.4).
      val ls = sym
        .withColumn("m", least(min("n").over(wC), col("c")))
        .where(col("n") > col("c"))
        .select(col("m").as("u"), col("n").as("v"))
      // small-star: center = the LARGER endpoint (canonical v), its
      // neighbor set all smaller. m_c = min of that set (< c); the
      // center and every non-min neighbor re-hang under m_c. The
      // center's own re-hang (m_c, c) rides the SAME projection: the
      // unique row carrying the min (n = m_c; sym rows are distinct
      // per (c, n)) emits it — row-identical to the r19 groupBy+join
      // union, with no second consumer of the window frame.
      val ssRaw = ls.select(col("v").as("c"), col("u").as("n"))
        .withColumn("m", min("n").over(wC))
        .select(col("m").as("u"),
          when(col("n") =!= col("m"), col("n")).otherwise(col("c")).as("v"))
      // ONE tagged exchange is both the small-star DISTINCT and the
      // fixpoint probe (r19 — replaces ss.distinct + a separate
      // union-groupBy probe job, i.e. 3|e| shuffled bytes per round
      // with 2|e| and one action with a shuffle-free cached scan):
      // group the tagged union of ssRaw (s=1) and the previous
      // distinct e (s=0) on the edge — max(s)=1 ⇔ in the new set,
      // min(s)=0 ⇔ in the old one; the alternation is stable exactly
      // when every edge is in both. (One-sided containment alone
      // would miss a strict shrink ss ⊂ e.) The probing count IS the
      // round's materializing action (r20): the LAZY localCheckpoint
      // truncates the plan to a LogicalRDD leaf at build time (the
      // lineage discipline the r19 eager form had — a persist here
      // instead grows the logical tree EXPONENTIALLY, each round
      // referencing the previous frame several times; measured: the
      // driver hung stringifying the plan) while the unstable-row
      // count fills the checkpoint blocks and decides the fixpoint in
      // ONE job where the r19 shape paid an eager checkpoint job plus
      // a probe job (the rounds are job-launch-bound at bench scale).
      val tagged = ssRaw.select(col("u"), col("v"), lit(1).as("s"))
        .unionAll(e.select(col("u"), col("v"), lit(0).as("s")))
        .groupBy("u", "v")
        .agg(max("s").as("in_ss"), min("s").as("in_e"))
        .localCheckpoint(false)
      done = tagged
        .where(col("in_ss") =!= lit(1) || col("in_e") =!= lit(0))
        .count() == 0L
      e = tagged.where(col("in_ss") === lit(1)).select("u", "v")
      iters += 1
    }
    require(done, s"componentsStar did not converge in $maxIters iterations")
    // the stable edge set is a star forest rooted at component
    // minima: non-roots appear exactly once as v, roots label
    // themselves.
    e.select(col("v").as("id"), col("u").as("rep"))
      .unionAll(e.select(col("u").as("id"), col("u").as("rep")).distinct())
  }

  /** Train/test contamination pairs — the DECONTAMINATION stage of an
    * LLM data pipeline: which training documents share enough k-gram
    * shingles with an evaluation document to leak the benchmark.
    * Returns (train_id, test_id, common) with `common` = number of
    * distinct shared shingles, for pairs with common ≥ minCommon.
    *
    * Same blocking discipline as [[jaccardPairs]]: the join keys on
    * the shingle, and shingles with document frequency > `maxDf`
    * across BOTH corpora are excluded — a shingle appearing in
    * hundreds of documents is boilerplate, not leaked benchmark
    * content, and it is exactly the key that makes the train×test
    * join quadratic. The common count is therefore over rare shingles
    * only; raise maxDf if the eval set itself is repetitive. The
    * train side never self-joins — the pair space is train×test
    * restricted to co-shingles, with map-side partial counts
    * collapsing it before the (train_id, test_id) shuffle.
    */
  def contaminationPairs(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int, minCommon: Long,
      maxDf: Int = 64): DataFrame = {
    val tp = postings(train, idCol, textCol, shingleK)
      .withColumnRenamed("id", "train_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    contaminationFromTrainPostings(tp, test, idCol, textCol, shingleK,
      minCommon, maxDf, release = Seq(tp))
  }

  /** [[contaminationPairs]] over a PRE-BUILT train postings frame
    * (train_id, shingle) — split out (r19) so the composed curation
    * pipeline can reuse the dedup stage's postings instead of
    * re-tokenizing the (already deduped) corpus: one full-corpus
    * tokenize scan saved per run at any scale. `release` is
    * unpersisted once the result is checkpointed (the caller decides
    * whether `tp`'s backing cache outlives this stage).
    */
  // NOT wrapped in Tuning.withCachedPlanAqe (r20): the body has no
  // eager jobs of its own — the cached postings frames materialize
  // INSIDE the one contamination-checkpoint job, so the scope's only
  // effect was re-planning that checkpoint over cached inputs (the
  // same byte-coalescing hazard the jaccard verify hit; the posting
  // joins are byte-proportional, but the width pin belongs to
  // `postings`' explicit repartition, not to a scope over the verify).
  private[graft] def contaminationFromTrainPostings(tp: DataFrame,
      test: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minCommon: Long, maxDf: Int,
      release: Seq[DataFrame]): DataFrame = {
    val sp = postings(test, idCol, textCol, shingleK)
      .withColumnRenamed("id", "test_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfreq = tp.select(col("shingle")).unionAll(sp.select(col("shingle")))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    val rare = dfreq.filter(col("df") <= maxDf).select("shingle")
    val result = tp.join(rare, Seq("shingle"))
      .join(sp, Seq("shingle"))
      .groupBy("train_id", "test_id").agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    finalized("dedup: contamination pairs", result, release :+ sp)
  }

  /** End-to-end corpus dedup — the composed pipeline stage: exact
    * pass first (keep each exact group's min-id representative —
    * shrinks the corpus before anything quadratic-ish runs), then
    * near-dup pairs over the survivors ([[jaccardPairs]]), transitive
    * closure ([[components]]), and keep each near-dup group's min-id
    * representative. Returns the SURVIVING rows of `docs`, schema
    * unchanged — the frame a tokenizer stage consumes.
    *
    * Only the survivor ID SET is checkpointed (compact — one id per
    * surviving doc); the returned frame is a lazy semi-join of `docs`
    * against it, so the corpus itself never materializes into cache —
    * at 100 TB the result streams scan→sink with the id set as the
    * only resident state.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minJaccard: Double,
      maxDf: Int = 64): DataFrame = {
    // keepPostings = false: this caller never reads the postings again,
    // so they are released right after the pair verify instead of
    // riding (as dead cache weight) through the whole components loop
    val (out, _, _) = dedupCorpusAndPostings(docs, idCol, textCol,
      shingleK, minJaccard, maxDf, keepPostings = false)
    out
  }

  /** [[dedupCorpus]] plus the checkpointed survivor-ID frame and the
    * PERSISTED postings of the exact-dedup survivors — the threading
    * surface for composed pipelines (r19): decontamination downstream
    * consumes the SAME shingle postings restricted to the near-dup
    * survivors, so handing this frame on saves a second full-corpus
    * tokenize+shingle scan per run. With `keepPostings` (the default)
    * the caller owns unpersisting `post`; rows for ids that LOST the
    * near-dup vote are still in it (filter with the survivor ids).
    * `keepPostings = false` releases it right after the pair verify —
    * before the components loop — for callers that never read it.
    */
  private[graft] def dedupCorpusAndPostings(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, minJaccard: Double,
      maxDf: Int, keepPostings: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    // the cached-plan-AQE scope covers ONLY the eager cache
    // materializations (exact survivors + postings — byte-proportional
    // shuffle work); the jaccard-verify checkpoint runs OUTSIDE it,
    // exactly as in jaccardPairs: the verify's per-pair work
    // (hot-set array_intersect + jaccard arithmetic) is
    // tiny-bytes/heavy-compute, and byte-based re-planning of the
    // cached inputs coalesced it onto ONE task (r19's one
    // driver-confirmed regression: d11 4.49 → 5.76 s — at 100 TB a
    // serialized pair verify, not a 1 s annoyance). components() and
    // the survivor checkpoint scope themselves as needed.
    val (exact, post) = graft.core.Tuning.withCachedPlanAqe(docs.sparkSession) {
      val exact = docs.join(
        exactGroups(docs, idCol, textCol).select(col("rep_id").as(idCol)),
        Seq(idCol), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val post = postings(exact, idCol, textCol, shingleK)
        .persist(StorageLevel.MEMORY_AND_DISK)
      post.count()
      (exact, post)
    }
    val pairs = finalized("dedup: jaccard verify",
      jaccardVerifyPlan(post, minJaccard, maxDf), Seq.empty)
      .select("id_a", "id_b")
    // a caller that will not consume the postings releases them HERE —
    // before the components loop — instead of carrying a dead cached
    // frame through every CC round's memory budget
    if (!keepPostings) post.unpersist(false)
    val dups = components(pairs)
      .filter(col("id") =!= col("rep")).select(col("id").as(idCol))
    val survivorIds = finalized("dedup: survivor ids",
      exact.select(idCol).join(dups, Seq(idCol), "left_anti"),
      Seq(exact))
    (docs.join(survivorIds, Seq(idCol), "left_semi"), survivorIds, post)
  }

  /** Edit-distance-1 pairs over a string column — the SymSpell
    * deletion-neighborhood join (the fuzzy-match stage of entity
    * resolution / near-dup detection on short strings). Two strings
    * at edit distance ≤ 1 ALWAYS share a key in {s} ∪ {s minus one
    * char}: a substitution at i → both yield the same i-deletion; an
    * insert/delete → the longer's deletion equals the shorter
    * itself. So blocking on those keys is exact — never an
    * all-pairs, never a length-only block: candidates are bounded by
    * real key collisions (|s|+1 keys per string), then verified with
    * one codegen'd `levenshtein`. Returns (s_a, s_b), s_a < s_b,
    * over the DISTINCT strings.
    */
  // NOT wrapped in Tuning.withCachedPlanAqe: the deletion-key self-join
  // verifies candidates with per-pair `levenshtein` — heavy compute on
  // tiny bytes, so byte-based coalescing of the cached `keys` frame
  // serializes the verify (measured 1.3 s → 4.3 s on d9 when wrapped).
  def editDistance1Pairs(df: DataFrame, strCol: String): DataFrame = {
    val base = df.select(col(strCol).as("s"))
      .filter(col("s").isNotNull && length(col("s")) > 0).distinct()
    // repartition: the source is typically a single parquet split at
    // dimension size, and the key explosion + self-join downstream
    // want the cluster; persist: BOTH join sides consume this subtree
    // (the round-3 lesson — an unpersisted reused subtree recomputes
    // scan+distinct+explode per consumer)
    val keys = base.repartition(col("s")).select(col("s"),
      explode(array_union(
        array(col("s")),
        transform(sequence(lit(0), length(col("s")) - 1),
          i => concat(col("s").substr(lit(1), i),
            col("s").substr(i + lit(2), length(col("s"))))))).as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    finalized("dedup: edit-distance-1 verify",
      keys.select(col("s").as("s_a"), col("key"))
        .join(keys.select(col("s").as("s_b"), col("key")), Seq("key"))
        .filter(col("s_a") < col("s_b") &&
          levenshtein(col("s_a"), col("s_b")) <= 1)
        .select("s_a", "s_b").dropDuplicates("s_a", "s_b"),
      Seq(keys))
  }

  /** Hex char → 0..15 (portable: same instr trick as the oracle SQL). */
  private def hexVal(c: Column): Column =
    instr(lit("0123456789abcdef"), c).cast(LongType) - 1

  /** `nBits`-bit SimHash over the token multiset: bit j is the sign of
    * Σ_tokens (±1) where +1 iff bit j of md5(token) is set. Computed
    * from the first nBits/4 hex chars of each token hash.
    *
    * This is the portable Column-composition form (oracle semantics
    * reference). The 100-TB hot path is the native expression
    * `graft.functions.SimHashSig` (`simhash_sig(tokens, nBits)`) —
    * one fused pass inside codegen, bit-identical (d6 oracle +
    * SimHashExprSpec prove it).
    */
  def simhash(text: Column, nBits: Int = 16): Column = {
    require(nBits % 4 == 0 && nBits <= 64)
    val hashes = transform(TextFunctions.tokens(text), t => md5(t.cast("binary")))
    val bits = (0 until nBits).map { j =>
      val hc = j / 4; val sub = 3 - (j % 4) // hex char index, bit within
      val ones = size(filter(hashes, h =>
        (hexVal(substring(h, hc + 1, 1)) / lit(1L << sub)).cast(LongType) % 2 === 1))
      // majority: ones*2 >= total  ⇒ bit set
      when(ones * 2 >= size(hashes), lit(1L << (nBits - 1 - j))).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Embedding near-dup with exact integer arithmetic: floats scaled
    * to 1e7 longs; cos(a,b) > τ  ⇔  dot>0 ∧ dot²·SCALE² > τ²·SCALE²·|a|²·|b|²
    * evaluated in DECIMAL(38,0) — no float rounding anywhere, so the
    * DuckDB oracle agrees exactly. Pairs are blocked on `blockCol`
    * (cluster/label id — the IVF-style scale path; at 100 TB the block
    * key comes from LSH or a coarse quantizer).
    * Returns (id_a, id_b).
    */
  // NOT wrapped in Tuning.withCachedPlanAqe: the pair verify is
  // tiny-bytes/heavy-compute (a DECIMAL(38) threshold test over full
  // vector zip_with per candidate pair), so byte-based AQE coalescing
  // of the cached `iv` frame serializes the verify onto one task —
  // measured 2.3 s → 8.4 s on d8 when wrapped. Partition width must
  // track row COST here, not bytes.
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String, blockCol: String,
      tauNumSq: Long, tauDenSq: Long): DataFrame = {
    // native int_vector / int_dot (r19): the scaling transform and the
    // per-pair dot/norm folds previously ran as INTERPRETED lambdas on
    // the verify hot path; the fused codegen expressions are pinned
    // bit-identical (IntVectorExprSpec) and already carry the KNN scan
    val iv = emb.repartition(col(idCol)).select(
      col(idCol).as("id"), col(blockCol).as("blk"),
      graft.search.Vectors.intVector(col(vecCol)).as("iv"))
      .withColumn("nrm2", graft.search.Vectors.intDot(col("iv"), col("iv")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    iv.count()
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val result = iv.as("a").join(iv.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("dot", graft.search.Vectors.intDot(col("a.iv"), col("b.iv")))
      .filter(col("dot") > 0 &&
        dec(col("dot")) * dec(col("dot")) * tauDenSq >
          dec(lit(tauNumSq)) * dec(col("a.nrm2")) * dec(col("b.nrm2")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    finalized("dedup: embedding near-dup verify", result, Seq(iv))
  }

  /** Embedding near-dup blocked by banded signed-random-projection
    * LSH — the second no-natural-block-column scale path (alongside
    * the learned-quantizer [[embeddingNearDupPairsAuto]]): nPlanes
    * deterministic hyperplanes (engine-portable md5 weights,
    * graft.search.Vectors.lshPlanes) split into nBands sign-bit
    * bands; a pair is a candidate iff ANY band key collides, then
    * the same exact integer/DECIMAL threshold verifies. No training
    * pass and no model state — the trade vs IVF blocking: data-
    * independent recall (the s^r banding curve) instead of learned
    * cells. Output = threshold pairs sharing ≥ 1 band. A vector
    * whose length differs from `dim` fails the task loudly —
    * zip_with against a mismatched plane would otherwise null the
    * dots and silently collapse every row into one bucket per band.
    */
  def embeddingNearDupPairsLsh(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      tauNumSq: Long, tauDenSq: Long,
      nPlanes: Int = 16, nBands: Int = 4): DataFrame = {
    require(nPlanes % nBands == 0)
    val planes = graft.search.Vectors.lshPlanes(nPlanes, dim)
    // dimension guard INSIDE the data path (a side-column assert
    // would be pruned away): wrong-length vectors raise, never bucket
    val guarded = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"lsh near-dup: expected dim $dim, got "),
        size(col(vecCol)).cast("string"))))
    // band keys compute at scan: at real scale the table has many
    // splits (scan parallelism covers the interpreted HOF dots), and
    // an extra pre-banding repartition would shuffle full vector
    // arrays for nothing (measured: no win even on the single-split
    // local bench — the candidate verify dominates, not the dots)
    val banded = emb.select(col(idCol), guarded.as(vecCol),
      explode(graft.search.Vectors.lshBandKeys(
        graft.search.Vectors.intVector(guarded), planes, nBands)).as("lsh_band"))
    val pairs = embeddingNearDupPairs(banded, idCol, vecCol, "lsh_band",
      tauNumSq, tauDenSq)
    // a pair colliding in several bands appears once per band — dedup
    if (nBands > 1) pairs.dropDuplicates("id_a", "id_b") else pairs
  }

  /** Embedding near-dup when NO natural blocking column exists: learn
    * the block key with the IVF coarse quantizer (graft.search.Ivf —
    * distributed k-means, fixed seed), assign cells map-side, then
    * run the same exact-arithmetic threshold test within cells.
    * Output = exactly {pairs over τ whose endpoints share a cell} —
    * cross-cell near-dups are the standard IVF-blocking miss (shrink
    * it with more cells probed at assignment or a finer/looser
    * quantizer); at 100 TB this is the practical shape, since
    * unblocked all-pairs is quadratic.
    */
  def embeddingNearDupPairsAuto(
      emb: DataFrame, idCol: String, vecCol: String,
      tauNumSq: Long, tauDenSq: Long,
      nCells: Int, seed: Long = 42L, nProbes: Int = 1): DataFrame = {
    require(nProbes >= 1 && nProbes <= nCells)
    val model = graft.search.Ivf.fit(emb, vecCol, nCells, seed)
    val celled = emb.select(col(idCol), col(vecCol),
      explode(graft.search.Ivf.cellsOf(col(vecCol), model, nProbes)).as("ivf_cell"))
    val pairs = embeddingNearDupPairs(celled, idCol, vecCol, "ivf_cell",
      tauNumSq, tauDenSq)
    // multi-probe lands a pair in every shared cell — dedup the copies
    if (nProbes > 1) pairs.dropDuplicates("id_a", "id_b") else pairs
  }
}
