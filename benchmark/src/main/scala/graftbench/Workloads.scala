package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.fhir.{FhirPipeline, GoldenQueries}
import graft.graph.PropertyGraph
import graft.pipeline.Curation
import graft.rag.Rag
import graft.search.HashEmbedder

/** One closed-loop workload: `prepare` builds every input from the
  * seed, `run` is the timed op, `check` compares its output with the
  * planted truth outside the timed interval, and `layers` turns an
  * op's trace into per-layer metrics.
  */
trait Workload {
  type Out
  def itemsPerOp: Int
  def item: String
  def sizes: String
  def questions: Int = 0
  /** Untimed ops before timing starts. The first op in a fresh JVM is
    * the cold one; ops keep settling for several more, and the run
    * budget allows only a few (`bench.drift_pct` shows what is left).
    */
  def warmupOps: Int
  /** Timed ops per run at least; sized so that it, not the clock,
    * decides the count, and every run times the same ops.
    */
  def minOps: Int
  def prepare(): Unit
  def run(i: Int, tr: Trace): Out
  def check(i: Int, out: Out): Option[String]
  def layers(i: Int, t: OpTrace): Map[String, Double]
  /** Each job of a traced op with the span it is charged to. */
  def phases(t: OpTrace): Seq[(JobRec, String)] = t.jobs.map(j => j -> j.span)
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "curate" => new CurateWorkload(spark, seed, s"$dir/curate")
    case "graph"  => new GraphWorkload(spark, seed, s"$dir/graph")
  }

  def jobsIn(t: OpTrace, spans: String*): Seq[JobRec] = t.jobs.filter(j => spans.contains(j.span))
  def stagesOf(t: OpTrace, jobs: Seq[JobRec]): Seq[StageRec] = jobs.flatMap(j => t.stages.getOrElse(j.id, Nil))

  def edgeMeta(g: PropertyGraph): Map[String, (String, String)] =
    g.edges.map { case (r, (s, d, _)) => r -> ((s, d)) }
}

/** `Curation.cleanCorpus` (with eval) over one batch of docs, then the
  * collect of the survivor ids.
  */
final class CurateWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  type Out = Array[Long]
  // the sf0.01 `documents` table the correctness oracle runs d11/d12 on;
  // the README gives the measured reason for not going larger
  val DocsPerOp = 500
  val Batches = 2
  val itemsPerOp: Int = DocsPerOp
  val warmupOps = 2
  val minOps = 3
  val item = "input docs"
  val sizes = s"$DocsPerOp docs per op (4 parquet files), ${Batches} batches in rotation, eval set ${DocsPerOp / 25} docs"

  private var batches = Vector.empty[CurateBatch]
  private var frames = Vector.empty[(DataFrame, DataFrame)]

  def prepare(): Unit = {
    import spark.implicits._
    batches = (0 until Batches).toVector.map(i => CurateGen.batch(seed, i, DocsPerOp))
    frames = batches.zipWithIndex.map { case (b, i) =>
      val p = s"$dir/batch$i"
      b.docs.toDF("id", "text").repartition(4).write.mode("overwrite").parquet(s"$p/docs")
      b.eval.toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(s"$p/eval")
      (spark.read.parquet(s"$p/docs"), spark.read.parquet(s"$p/eval"))
    }
  }

  def run(i: Int, tr: Trace): Array[Long] = {
    val (docs, eval) = frames(i % Batches)
    val out = tr.span("pipeline.clean") {
      Curation.cleanCorpus(docs, "id", "text", Seq("en"), CurateGen.ShingleK,
        CurateGen.MinJaccard, CurateGen.MaxDf, Some(eval), CurateGen.MinCommon)
    }
    tr.span("pipeline.sink")(out.select("id").collect().map(_.getLong(0)))
  }

  def check(i: Int, out: Array[Long]): Option[String] = {
    val want = batches(i % Batches).survivors
    val got = out.toSet
    if (got == want && out.length == want.size) None
    else Some(s"survivors: ${out.length} rows, ${(got -- want).size} unexpected, ${(want -- got).size} missing")
  }

  /** Splits the `cleanCorpus` span by the library's job labels. A job
    * labelled `dedup: <stage>` belongs to that stage. An unlabelled job
    * belongs to: the text gate if it is the first job; shingling if it
    * runs before the first labelled job; the stage of the next labelled
    * job if it runs between labelled jobs (set-up work for that stage,
    * such as the components seed labels); the pipeline itself if it
    * runs after the last labelled job (the survivor-id checkpoint).
    * Each job is charged from the end of the previous job (or the span
    * start) to its own end, so the planning before a job goes with it;
    * the rest of the span is `pipeline.clean` self time.
    */
  override def phases(t: OpTrace): Seq[(JobRec, String)] = {
    val jobs = Workload.jobsIn(t, "pipeline.clean").sortBy(_.startMs)
    def labelled(d: String): Option[String] =
      if (d.startsWith("dedup: jaccard verify")) Some("dedup.verify")
      else if (d.startsWith("dedup: components")) Some("dedup.components")
      else if (d.startsWith("dedup: survivor ids")) Some("dedup.survivors")
      else if (d.startsWith("dedup: contamination")) Some("dedup.contamination")
      else None
    val labels = jobs.map(j => labelled(j.description))
    val phase = jobs.indices.map { k =>
      labels(k).getOrElse {
        if (k == 0) "text.gate"
        else if (!labels.take(k).exists(_.isDefined)) "dedup.shingle"
        else labels.drop(k + 1).flatten.headOption.getOrElse("pipeline.clean")
      }
    }
    jobs.zip(phase) ++ t.jobs.filter(_.span != "pipeline.clean").map(j => j -> j.span)
  }

  def layers(i: Int, t: OpTrace): Map[String, Double] = {
    val clean = phases(t).filter(_._1.span == "pipeline.clean")
    var prevEnd = t.intervals.collectFirst { case ("pipeline.clean", s, _) => s }.get
    val ms = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for ((j, p) <- clean) {
      ms(p) += (j.endMs - prevEnd).max(0L)
      prevEnd = j.endMs
    }
    val phaseJobs = clean.groupBy(_._2).map { case (p, js) => p -> js.map(_._1) }
    val verifyRecords = Workload.stagesOf(t, phaseJobs.getOrElse("dedup.verify", Nil))
      .map(_.shuffleReadRecords).sum.toDouble
    val split = Seq("text.gate", "dedup.shingle", "dedup.verify", "dedup.components",
      "dedup.survivors", "dedup.contamination").map(p => s"${p}_ms" -> ms(p)).toMap
    split ++ Map(
      "pipeline.clean_ms" -> (t.spanMs.getOrElse("pipeline.clean", 0.0) - split.values.sum),
      "pipeline.sink_ms" -> t.spanMs.getOrElse("pipeline.sink", 0.0),
      "dedup.verify_records" -> verifyRecords,
      "dedup.verify_yield" -> (if (verifyRecords > 0) batches(i % Batches).plantedPairs / verifyRecords else 0.0),
      "dedup.components_rounds" -> clean.map(_._1.description)
        .filter(_.startsWith("dedup: components round")).distinct.size.toDouble)
  }
}

/** FHIR delta → load → buildGraph → upsertGraph over the base graph →
  * writeGraph → readGraph → the ten golden queries → `Rag.answerMany`
  * over the re-read graph, against a saved and reloaded corpus index of
  * the base records' notes.
  *
  * The base graph is ingested the way the paper's pipeline ingests its
  * corpus, in batches: setup builds and writes all base records but the
  * last batch of 100, cold, and the warm-up op is an ordinary op whose
  * delta is that last batch, written to the base directory. So every
  * stage of the op has run before timing starts, and the timed ops
  * upsert their deltas into the full 2,726-record base.
  */
final class GraphWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  type Out = (PropertyGraph, Golden, Seq[Rag.RagResult])
  // the paper's corpus (2,726 records) and its extraction batch (100)
  val BaseRecords = 2726
  val DeltaRecords = 100
  val Dim = 256
  val itemsPerOp: Int = DeltaRecords
  val warmupOps = 1
  val minOps = 3
  /** One delta per timed op, so setup builds none that goes unused. */
  val Deltas: Int = minOps
  override def questions: Int = 5
  val item = "FHIR records upserted"
  val sizes = s"$DeltaRecords records per delta (60% new keys, 30% re-sent keys, 10% in-batch duplicates) " +
    s"over a base graph of $BaseRecords records; $questions questions per op (one per template shape, " +
    "the two halves of the ten shapes alternating) " +
    s"over a corpus of $BaseRecords notes, hash embedding dim $Dim; $Deltas deltas, one per timed op"

  // the graph the next op upserts into: the first base batches until
  // the warm-up op has written the full base
  private var base: PropertyGraph = _
  private var meta = Map.empty[String, (String, String)]
  private var index: Rag.CorpusIndex = _
  // case 0 is the warm-up op (the base's last batch over the rest of the
  // base), case k >= 1 a timed op (delta k over the full base)
  private var truths = Vector.empty[GGraph]
  private var batches = Vector.empty[Vector[Question]]
  private var expected = Vector.empty[Vector[String]]

  private def caseOf(i: Int): Int = if (i < warmupOps) 0 else 1 + (i - warmupOps) % Deltas

  /** Half the template shapes per op, the halves alternating, so every
    * template is timed in a run and the question batch costs less than
    * the rest of the op.
    */
  private def shapesOf(c: Int): Seq[Int] = if (c % 2 == 1) 1 to 5 else 6 to 10

  def prepare(): Unit = {
    import spark.implicits._
    val recs = FhirGen.base(seed, BaseRecords)
    val (head, last) = recs.splitAt(BaseRecords - DeltaRecords)
    Files.write(s"$dir/head.json", FhirGen.jsonArray(head))
    Files.write(s"$dir/delta0.json", FhirGen.jsonArray(last))
    val built = FhirPipeline.buildGraph(FhirPipeline.load(spark, s"$dir/head.json"))
    FhirPipeline.writeGraph(built, s"$dir/head")
    meta = Workload.edgeMeta(built)
    base = FhirPipeline.readGraph(spark, s"$dir/head", meta)
    val notes = recs.map(r => (r.id, RagGen.note(r))).toDF("doc_id", "text")
    Rag.CorpusIndex.save(Rag.CorpusIndex.build(spark, notes, HashEmbedder(Dim)), s"$dir/index")
    index = Rag.CorpusIndex.load(spark, s"$dir/index")
    val full = GGraph.build(head).upsert(GGraph.build(last))
    val deltas = (1 to Deltas).toVector.map { k =>
      val d = IngestGen.delta(seed, k, recs, DeltaRecords, full)
      Files.write(s"$dir/delta$k.json", FhirGen.jsonArray(d.records))
      d
    }
    truths = full +: deltas.map(_.graph)
    batches = truths.zipWithIndex.map { case (g, c) => RagGen.batch(seed, c, recs, g, 1, shapesOf(c)) }
    expected = batches.zip(truths).map { case (qs, g) => qs.map { q =>
      val rows = g.templateRows(q.shape, q.pid, q.year)
      if (rows.isEmpty) "no results" else rows.map(_.mkString(", ")).mkString("\n")
    } }
  }

  def run(i: Int, tr: Trace): Out = {
    val c = caseOf(i)
    val d = tr.span("fhir.load")(FhirPipeline.load(spark, s"$dir/delta$c.json"))
    val dg = tr.span("fhir.build")(FhirPipeline.buildGraph(d))
    val merged = tr.span("graph.upsert")(FhirPipeline.upsertGraph(base, dg))
    val out = if (c == 0) s"$dir/base" else s"$dir/out${i % 2}"
    tr.span("fhir.write")(FhirPipeline.writeGraph(merged, out))
    val g = tr.span("fhir.read")(FhirPipeline.readGraph(spark, out, meta))
    if (c == 0) base = g
    import GoldenQueries._
    val golden = Golden(
      tr.span("graph.golden_q1")(q1RosenbaumMultiImmunization(g)),
      tr.span("graph.golden_q2")(q2TreatedByJosefKlein(g)),
      tr.span("graph.golden_q3")(q3ArlaFritschMultiple(g)),
      tr.span("graph.golden_q4")(q4AllergyCategories(g)),
      tr.span("graph.golden_q5")(q5Born1990To2000(g)),
      tr.span("graph.golden_q6")(q6ImmunizedAfter2022(g)),
      tr.span("graph.golden_q7")(q7TopPractitioner(g)),
      tr.span("graph.golden_q8")(q8Patient45Shellfish(g)),
      tr.span("graph.golden_q9")(q9InfluenzaImmunized(g)),
      tr.span("graph.golden_q10")(q10FoodSubstances(g)))
    val answers = Rag.answerMany(spark, batches(c).map(_.text), g, index,
      tr.embedder(HashEmbedder(Dim)), tr.retriever(Rag.cypherRetriever(RagGen.toCypher)),
      tr.llm(Rag.DeterministicLlm))
    (g, golden, answers)
  }

  def check(i: Int, out: Out): Option[String] = {
    val (g, golden, answers) = out
    val c = caseOf(i)
    val want = truths(c)
    // every table's row count in one job
    val tables = g.nodes.toSeq.map { case (l, df) => s"nodes_$l" -> df } ++
      g.edges.toSeq.map { case (r, (_, _, df)) => s"edges_$r" -> df }
    val counts = tables.map { case (n, df) => df.groupBy().count().select(lit(n), col("count")) }
      .reduce(_ union _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qs = batches(c)
    val bad = (if (counts == want.counts) Nil else Seq(s"row counts $counts != ${want.counts}")) ++
      golden.productIterator.zip(want.golden.productIterator).zipWithIndex.collect {
        case ((a, b), k) if a != b => s"golden q${k + 1}: $a != $b"
      } ++
      (if (answers.size == qs.size) Nil else Seq(s"${answers.size} answers for ${qs.size} questions")) ++
      qs.indices.filter(_ < answers.size).flatMap { k =>
        val res = answers(k)
        (if (res.vectorAnswer.contains(qs(k).note)) Nil
         else Seq(s"question ${k + 1}: vector context misses pid${qs(k).pid}")) ++
          (if (res.graphAnswer == expected(c)(k)) Nil
           else Seq(s"question ${k + 1}: graph rows [${res.graphAnswer}] != [${expected(c)(k)}]"))
      }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def layers(i: Int, t: OpTrace): Map[String, Double] = {
    val golden = (1 to 10).map(k => s"graph.golden_q$k")
    val fused = Workload.jobsIn(t, "search.fused")
    Seq("fhir.load", "fhir.build", "graph.upsert", "fhir.write", "fhir.read",
      "rag.prune", "rag.keywords", "rag.answer", "rag.synthesize", "search.embed",
      "search.fused", "graph.cypher_compile", "graph.cypher_exec")
      .map(s => s"${s}_ms" -> t.spanMs.getOrElse(s, 0.0)).toMap ++
      golden.map(s => s"${s}_ms" -> t.spanMs.getOrElse(s, 0.0)) ++ Map(
      "graph.golden_ms" -> golden.map(t.spanMs.getOrElse(_, 0.0)).sum,
      "graph.golden_jobs" -> Workload.jobsIn(t, golden: _*).size.toDouble,
      "fhir.rows_written" -> Workload.stagesOf(t, Workload.jobsIn(t, "fhir.write"))
        .map(_.outputRecords).sum.toDouble,
      "search.embed_calls" -> t.embedCalls.toDouble,
      "search.fused_jobs" -> fused.size.toDouble,
      "search.rows_scanned" -> Workload.stagesOf(t, fused).map(_.inputRecords).sum.toDouble / questions,
      "graph.cypher_jobs" -> Workload.jobsIn(t, "graph.cypher_compile", "graph.cypher_exec").size.toDouble)
  }
}

object Files {
  def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
