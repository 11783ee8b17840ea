package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.fhir.{FhirPipeline, GoldenQueries}
import graft.pipeline.Curation

/** The generator is a pure function of the seed, and its planted truth
  * is what the library computes on a small instance.
  */
class GenSpec extends AnyFunSuite {

  private def inputs(seed: Long): Seq[String] = {
    val base = FhirGen.base(seed, 120)
    val delta = IngestGen.delta(seed, 0, base, 30)
    Seq(CurateGen.batch(seed, 0, 300).toString, FhirGen.jsonArray(base),
      FhirGen.jsonArray(delta.records), RagGen.batch(seed, 0, base, delta.graph, 1).toString)
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val a = inputs(7L)
    assert(a === inputs(7L))
    a.zip(inputs(8L)).foreach { case (x, y) => assert(x !== y) }
  }

  private lazy val spark = {
    val s = graft.core.GraftSession.local("2")
    sys.addShutdownHook(s.stop())
    s
  }

  test("cleanCorpus returns exactly the planted survivors") {
    import spark.implicits._
    val b = CurateGen.batch(3L, 0, 300)
    val out = Curation.cleanCorpus(b.docs.toDF("id", "text"), "id", "text", Seq("en"),
      CurateGen.ShingleK, CurateGen.MinJaccard, CurateGen.MaxDf,
      Some(b.eval.toDF("id", "text")), CurateGen.MinCommon)
    assert(out.select("id").as[Long].collect().toSet === b.survivors)
  }

  test("upserted graph, golden answers and Cypher templates match the model") {
    val dir = java.nio.file.Files.createTempDirectory("graftbench_spec").toString
    val base = FhirGen.base(5L, 120)
    val delta = IngestGen.delta(5L, 0, base, 30)
    Files.write(s"$dir/base.json", FhirGen.jsonArray(base))
    Files.write(s"$dir/delta.json", FhirGen.jsonArray(delta.records))
    val g = FhirPipeline.upsertGraph(
      FhirPipeline.buildGraph(FhirPipeline.load(spark, s"$dir/base.json")),
      FhirPipeline.buildGraph(FhirPipeline.load(spark, s"$dir/delta.json")))
    val counts = (g.nodes.map { case (l, df) => s"nodes_$l" -> df.count() } ++
      g.edges.map { case (r, (_, _, df)) => s"edges_$r" -> df.count() }).toMap
    assert(counts === delta.graph.counts)
    import GoldenQueries._
    assert(Golden(q1RosenbaumMultiImmunization(g), q2TreatedByJosefKlein(g), q3ArlaFritschMultiple(g),
      q4AllergyCategories(g), q5Born1990To2000(g), q6ImmunizedAfter2022(g), q7TopPractitioner(g),
      q8Patient45Shellfish(g), q9InfluenzaImmunized(g), q10FoodSubstances(g)) === delta.graph.golden)
    for (q <- RagGen.batch(5L, 0, base, delta.graph, 1)) {
      val kws = graft.rag.Rag.DeterministicLlm.entityKeywords(q.text, "")
      val rows = graft.graph.CypherLite.query(g, RagGen.toCypher(kws)).limit(10).collect()
        .map(_.toSeq.mkString(", ")).toSeq
      assert(rows === delta.graph.templateRows(q.shape, q.pid, q.year).map(_.mkString(", ")), q.text)
    }
  }
}
