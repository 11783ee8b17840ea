package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.search.Vectors

class DedupSpec extends SparkSpec {
  import TestSession.spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "THE  quick   Brown fox JUMPS over the lazy dog") // case/ws dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups collapses case/whitespace-normalized duplicates") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length === 3) // {1,2,5}, {3}, {4}
    val big = g.find(_.getAs[Long]("n_docs") === 3).get
    assert(big.getAs[Long]("rep_id") === 1L)
  }

  test("jaccardPairs finds near-dups and skips unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(pairs.contains((1L, 3L)), "one-word edit at jaccard>=0.5 must be caught")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("components: transitive closure over pairs, min-id representative") {
    // chain 1-2-3 (diameter 2 forces >1 propagation round) + island 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("components converges on a long chain and bounds iterations") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(chain).as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(1L), "one component, rep = min id")
    intercept[IllegalArgumentException] {
      Dedup.components(chain, maxIters = 2)
    }
  }

  test("componentsStar matches components on mixed small graphs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 12L), (12L, 11L),
      (11L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val star = Dedup.componentsStar(pairs).as[(Long, Long)].collect().toMap
    val minLabel = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(star === minLabel)
  }

  test("componentsStar handles a diameter-200 chain where min-label loud-fails") {
    // a 201-node path: diameter 200 >> the min-label default of 20
    // rounds. Star contraction's round count is O(log² n), not
    // O(diameter) — the default budget of 25 must be ample.
    val chain = (1L to 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.components(chain) // O(diameter) rounds: exceeds maxIters=20
    }
    val got = Dedup.componentsStar(chain).as[(Long, Long)].collect().toMap
    assert(got.size === 201 && got.values.toSet === Set(1L))
  }

  test("componentsStar window form: duplicate star projections collapse (r20)") {
    // r20 rewrote both star halves as partition-min WINDOWS with a
    // single conditional projection. The shapes that distinguish the
    // window form from the old groupBy+join: (a) distinct (c, n) rows
    // projecting to the SAME (m, n) large-star edge (centers 2 and 3
    // both hang 4 under 1), (b) the small-star center re-hang riding
    // the min row itself — duplicates differ only in multiplicity and
    // the tagged aggregate must collapse them.
    val dense = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (6L, 5L), (5L, 7L), (7L, 6L)).toDF("id_a", "id_b")
    val star = Dedup.componentsStar(dense).as[(Long, Long)].collect().toMap
    val minLabel = Dedup.components(dense).as[(Long, Long)].collect().toMap
    assert(star === minLabel)
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("componentsStar: duplicate/reversed pairs, self-loops, empty input") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.componentsStar(messy).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.componentsStar(empty).isEmpty)
  }

  test("component walkers release their job label and cache when evaluation throws") {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    // over a range, not a local relation: the optimizer would fold
    // the projection, and throw, before the walker acquired anything
    val bad = spark.range(1, 3).select(col("id").as("id_a"),
      when(col("id") > 1L, raise_error(lit("bad pair"))).otherwise(col("id") + 1).as("id_b"))
    val walkers = Seq[(String, DataFrame => DataFrame)](
      "components" -> (Dedup.components(_)), "componentsStar" -> (Dedup.componentsStar(_)))
    for ((name, walk) <- walkers) {
      cm.clearCache()
      val persisted = sc.getPersistentRDDs.keySet
      intercept[Exception](walk(bad))
      assert(sc.getLocalProperty("spark.job.description") === null, name)
      assert(cm.isEmpty, s"$name left a cached frame")
      assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty, s"$name left a persistent RDD")
    }
  }

  test("keep-one-per-group composes from components") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b")
    val comp = Dedup.components(pairs)
    val survivorsInGroups = comp.filter(col("id") === col("rep"))
      .select("id").as[Long].collect().toSet
    // {1,2,3,5} is one near-dup group (1-3 via one-word edit), 4 never pairs
    assert(survivorsInGroups === Set(1L))
    assert(comp.count() === 4, "doc 4 appears in no pair, so no group row")
  }

  test("count-based jaccard equals array-intersect jaccard on random docs") {
    // independent semantic reference: wordShingles arrays +
    // array_intersect/array_union, all pairs. With maxDf >= nDocs no
    // shingle is "hot", so jaccardPairs' blocking admits every pair
    // with >=1 common shingle — exactly the pairs with jaccard > 0.
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps")
    val rdocs = (1L to 40L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(rdocs, "doc_id", "text", 2, 0.1, maxDf = 40)
      .as[(Long, Long, Double)].collect().toSet
    val sh = rdocs.select(col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 2).as("s"))
    val ref = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(array_union(col("a.s"), col("b.s"))).cast("double")).as("j"))
      .filter(col("j") >= 0.1)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === ref, "count-based and array-based jaccard must agree bit-for-bit")
    assert(got.nonEmpty, "small vocab must collide")
  }

  test("minhashLshPairs candidates are verified and subset of exact jaccard") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      3, 12, 4, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L)), "identical docs always share every band")
  }

  test("pair ops unpersist their posting intermediates before returning") {
    // round-3 regression root cause: persisted frames outliving their
    // query pinned MEMORY_AND_DISK blocks for the session's lifetime.
    // The contract now: a dedup call returns with the cache as empty
    // as it found it (its compact result is a checkpoint, not a cache
    // entry).
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).count()
    assert(cm.isEmpty, "jaccardPairs left cached frames behind")
    Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 12, 4, 3, 0.5).count()
    assert(cm.isEmpty, "minhashLshPairs left cached frames behind")
  }

  test("simhash: identical texts agree, signature fits in nBits") {
    val sig = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) === sig(2L))
    assert(sig.values.forall(s => s >= 0 && s < (1L << 16)))
    // near-dup differs in few bits from its original
    val hamming = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(hamming <= 4, s"near-dup hamming=$hamming")
  }

  test("embeddingNearDupPairs: parallel vectors pair, orthogonal don't") {
    val emb = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, 0, Seq(0.99f, 0.1f, 0.0f, 0.0f)), // cos≈0.995 with v1
      (3L, 0, Seq(0.0f, 0.0f, 1.0f, 0.0f)),  // orthogonal
      (4L, 1, Seq(1.0f, 0.0f, 0.0f, 0.0f))   // parallel to v1 but other block
    ).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", "label",
      9025L, 10000L).as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("LSH banding: identical vectors share every band and pair; orthogonal don't") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // identical to 1
      (3L, Seq(0.0f, 0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "embedding")
    val planes = Vectors.lshPlanes(8, 4)
    val keys = emb.select(col("vec_id"),
      Vectors.lshBandKeys(Vectors.intVector(col("embedding")), planes, 4).as("k"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(1L) === keys(2L), "identical vectors get identical band keys")
    assert(keys(1L).length === 4)
    // pair via the full LSH near-dup path: τ=0.9 → only the identical pair
    val pairs = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding",
      dim = 4, tauNumSq = 81L, tauDenSq = 100L, nPlanes = 8, nBands = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("LSH near-dup fails loudly on a dim mismatch instead of mis-bucketing") {
    val emb = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding",
        dim = 4, tauNumSq = 81L, tauDenSq = 100L, nPlanes = 8, nBands = 4).count()
    }
    assert(err.getMessage.contains("expected dim 4"))
  }

  test("lshPlanes is deterministic and engine-portable (md5-derived)") {
    val a = Vectors.lshPlanes(4, 8)
    val b = Vectors.lshPlanes(4, 8)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // spot-pin one value against the definition: first 8 hex of
    // md5("pl_0_1") minus 2^31
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("pl_0_1".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    assert(a(0)(0) === java.lang.Long.parseLong(hex, 16) - 2147483648L)
  }

  test("embeddingNearDupPairsAuto = threshold matches restricted to learned cells") {
    // clustered corpus: the quantizer discovers the blocks; the output
    // must be EXACTLY the over-threshold pairs whose endpoints land in
    // the same learned cell (deterministic with the fixed seed).
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq
    val c1 = Array(1f, 0f, 0f, 0f); val c2 = Array(0f, 1f, 0f, 0f)
    val emb = ((1L to 6L).map(i => (i, jitter(c1))) ++
      (7L to 12L).map(i => (i, jitter(c2))))
      .toDF("vec_id", "embedding")
    val tauN = 9025L; val tauD = 10000L // tau^2 = 0.9025 (tau = 0.95)
    val got = Dedup.embeddingNearDupPairsAuto(
      emb, "vec_id", "embedding", tauN, tauD, nCells = 2)
      .as[(Long, Long)].collect().toSet
    // independent reference: all-pairs exact threshold ∩ same learned cell
    val model = graft.search.Ivf.fit(emb, "embedding", 2)
    val celled = emb.select(col("vec_id"),
      graft.search.Ivf.cellOf(col("embedding"), model).as("c"))
    val allPairs = Dedup.embeddingNearDupPairs(
      emb.withColumn("one", lit(1)), "vec_id", "embedding", "one", tauN, tauD)
      .as[(Long, Long)].collect().toSet
    val cellOfId = celled.as[(Long, Int)].collect().toMap
    val expected = allPairs.filter { case (a, b) => cellOfId(a) == cellOfId(b) }
    assert(got === expected)
    assert(got.nonEmpty, "tight clusters over tau=0.95 must pair")
    // multi-probe soft blocking recovers boundary pairs: superset of
    // single-probe, never beyond the true threshold matches; probing
    // every cell degrades to exact all-pairs
    val got2 = Dedup.embeddingNearDupPairsAuto(
      emb, "vec_id", "embedding", tauN, tauD, nCells = 2, nProbes = 2)
      .as[(Long, Long)].collect().toSet
    assert(got.subsetOf(got2) && got2.subsetOf(allPairs))
    assert(got2 === allPairs, "nProbes = nCells must equal all-pairs matches")
  }

  test("editDistance1Pairs finds sub/ins/del neighbors and nothing farther") {
    val words = Seq("kitten", "mitten", "kitte", "kittens", "mutton", "kitten")
      .toDF("w")
    val pairs = Dedup.editDistance1Pairs(words, "w")
      .as[(String, String)].collect().toSet
    assert(pairs === Set(
      ("kitte", "kitten"),   // deletion
      ("kitten", "kittens"), // insertion
      ("kitten", "mitten")), // substitution
      "distance-2 pairs (kitte/kittens, mitten/mutton) must be excluded")
  }

  test("Vectors.cosine computes exact known values") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), "same"),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), "orth"),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f), "anti"))
      .toDF("a", "b", "tag")
    val got = df.select(col("tag"), Vectors.cosine(col("a"), col("b")).as("c"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(got("same") - 1.0) < 1e-12)
    assert(math.abs(got("orth")) < 1e-12)
    assert(math.abs(got("anti") + 1.0) < 1e-12)
  }

  test("contaminationPairs flags train docs sharing rare shingles with eval docs") {
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),       // leaks test 20
      (11L, "totally unrelated training material here"),
      (12L, "common boiler plate common boiler plate")    // boilerplate overlap
    ).toDF("doc_id", "text")
    val test = Seq(
      (20L, "alpha beta gamma delta epsilon eta"),
      (21L, "common boiler plate common boiler plate")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationPairs(train, test, "doc_id", "text",
        shingleK = 3, minCommon = 2)
      .as[(Long, Long, Long)].collect().toSet
    // shingles of 10 ∩ 20: "alpha beta gamma", "beta gamma delta",
    // "gamma delta epsilon" = 3 common; 12 ∩ 21 share their 3
    // boilerplate shingles (df=2, under the cap)
    assert(got === Set((10L, 20L, 3L), (12L, 21L, 3L)))
    // df cap: with maxDf=1 every shared shingle (df=2) is excluded
    assert(Dedup.contaminationPairs(train, test, "doc_id", "text",
      shingleK = 3, minCommon = 1, maxDf = 1).isEmpty)
  }

  test("dedupCorpus keeps one representative per exact and near-dup group") {
    val out = Dedup.dedupCorpus(docs, "doc_id", "text",
        shingleK = 3, minJaccard = 0.5)
    assert(out.columns.toSeq === docs.columns.toSeq, "schema unchanged")
    // exact group {1,2,5} → 1 survives; near-dup (1,3) → 3 drops; 4 unique
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 4L))
  }

  test("knnQuantized at full rerank equals exact knnDot; q8 stays in int8 range") {
    val e = graft.core.Tables.embeddings(spark, sf)
    val n = e.count().toInt
    val q8 = e.select(col("vec_id"), col("embedding"),
        Vectors.q8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"),
        Vectors.q8Vector(col("embedding"), col("scale")).as("q8"), col("scale"))
    assert(q8.schema("q8").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    assert(q8.filter(exists(col("q8"), v => abs(v) > 127)).isEmpty)
    val full = e.select(col("vec_id"), Vectors.intVector(col("embedding")).as("iv"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding"), Vectors.q8Scale(col("embedding")).as("qscale"),
        Vectors.intVector(col("embedding")).as("qv"))
      .select(Vectors.q8Vector(col("embedding"), col("qscale"))
        .cast("array<bigint>").as("qq8"), col("qscale"), col("qv"))
    val quant = Vectors.knnQuantized(q8, full, "vec_id", q, 5, rerankK = n)
      .as[(Long, Long)].collect().toSeq
    val exact = Vectors.knnDot(full,
      "vec_id", q.select(col("qv")), 5).as[(Long, Long)].collect().toSeq
    assert(quant === exact, "rerankK = corpus size makes quantized KNN exact")
  }

  test("knnQuantizedMany at full rerank equals exact knnDotMany per query") {
    val e = graft.core.Tables.embeddings(spark, sf)
    val n = e.count().toInt
    val q8 = e.select(col("vec_id"), col("embedding"),
        Vectors.q8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"),
        Vectors.q8Vector(col("embedding"), col("scale")).as("q8"), col("scale"))
    val full = e.select(col("vec_id"), Vectors.intVector(col("embedding")).as("iv"))
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"),
        Vectors.q8Scale(col("embedding")).as("qscale"),
        Vectors.intVector(col("embedding")).as("qv"))
      .select(col("vec_id").as("qid"),
        Vectors.q8Vector(col("embedding"), col("qscale"))
          .cast("array<bigint>").as("qq8"),
        col("qscale"), col("qv"))
    val quant = Vectors.knnQuantizedMany(q8, full, "vec_id", qs, 5, rerankK = n)
      .select("qid", "vec_id", "dot", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val exact = Vectors.knnDotMany(full, "vec_id",
        qs.select(col("qid"), col("qv")), 5)
      .select("qid", "vec_id", "dot", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(quant === exact)
  }

  test("q8Vector quantizes a zero vector to zeros, not NaN casts") {
    val z = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, -2f, 0.5f)))
      .toDF("id", "v")
      .select(col("id"), col("v"), Vectors.q8Scale(col("v")).as("s"))
      .select(col("id"), Vectors.q8Vector(col("v"), col("s")).as("q8"))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(z(1L).toSeq === Seq[Byte](0, 0, 0))
    assert(z(2L).toSeq === Seq[Byte](63, -127, 31)) // floor(x/2*127)
  }

  test("knnDot returns k rows, highest dot first, self ranked top") {
    val iv = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), Vectors.intVector(col("embedding")).as("iv"))
    val q = iv.filter(col("vec_id") === 0).select(col("iv").as("qv"))
    val rows = Vectors.knnDot(iv, "vec_id", q, 5).collect()
    assert(rows.length === 5)
    assert(rows.head.getAs[Long]("vec_id") === 0L, "query matches itself best")
    val dots = rows.map(_.getAs[Long]("dot"))
    assert(dots.sliding(2).forall(p => p(0) >= p(1)))
  }
}
