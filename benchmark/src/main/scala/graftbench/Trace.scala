package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.rag.Rag
import graft.search.Embedder

/** Spark counters of one executed stage. */
final class StageRec(val id: Int) {
  var tasks = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var inputBytes, inputRecords, shuffleReadBytes, shuffleReadRecords = 0L
  var shuffleWriteBytes, spillBytes, outputBytes, outputRecords = 0L
}

/** A job as the listener saw it: the benchmark span open when it was
  * submitted, the library's job description, and wall-clock bounds.
  */
final case class JobRec(id: Int, span: String, description: String,
    startMs: Long, endMs: Long)

/** The one listener the benchmark registers. It tags every job with
  * the span in the `graftbench.span` local property, which the
  * benchmark owns (the library sets and clears `spark.job.description`
  * itself). Events are kept in memory until `harvest`.
  */
final class BenchListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty(Trace.SpanKey))).getOrElse(Trace.Untraced),
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
      e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Jobs (in start order) and their stages seen since the last call. */
  def harvest(): (Vector[JobRec], Map[Int, Seq[StageRec]]) = synchronized {
    val js = jobs.values.toVector
    val byJob = stages.values.toSeq.groupBy(s => stageJob.getOrElse(s.id, -1))
    jobs.clear(); stageJob.clear(); stages.clear()
    (js, byJob)
  }
}

/** What a traced op recorded: time per span (ms), embed calls, the
  * jobs the listener saw, and the wall-clock interval of every span.
  */
final case class OpTrace(spanMs: Map[String, Double], embedCalls: Int,
    jobs: Vector[JobRec], stages: Map[Int, Seq[StageRec]],
    intervals: Vector[(String, Long, Long)])

/** Spans for one op. `Trace.Off` is used in untraced runs: its spans
  * are plain calls and its seams are the unwrapped objects.
  *
  * Spans form a phase clock: entering a span charges the time since
  * the last switch to the span that was open, so sibling spans tile
  * the op and whatever no span covers is the untraced remainder.
  */
class Trace private (sc: SparkContext, questions: Int) {
  private val ms = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var open: String = Trace.Untraced
  private var since = System.nanoTime()
  private var sinceMs = System.currentTimeMillis()
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var embeds = 0

  protected def switch(next: String): Unit = {
    val now = System.nanoTime()
    val nowMs = System.currentTimeMillis()
    ms(open) += (now - since) / 1e6
    intervals += ((open, sinceMs, nowMs))
    open = next
    since = now
    sinceMs = nowMs
    sc.setLocalProperty(Trace.SpanKey, if (next == Trace.Untraced) null else next)
  }

  def span[T](name: String)(body: => T): T = {
    val outer = open
    switch(name)
    try body finally switch(outer)
  }

  def llm(inner: Rag.LlmClient): Rag.LlmClient = new Rag.LlmClient {
    def pruneSchema(schemaXml: String, question: String): String =
      span("rag.prune")(inner.pruneSchema(schemaXml, question))
    def entityKeywords(question: String, schemaXml: String): Seq[String] =
      span("rag.keywords")(inner.entityKeywords(question, schemaXml))
    // the corpus-arm collect ends at the first answer, and each graph
    // collect ends at the answer that follows it
    def answer(question: String, context: String): String = {
      switch("rag.answer")
      try inner.answer(question, context) finally switch(Trace.Untraced)
    }
    def synthesize(question: String, vectorAnswer: String, graphAnswer: String): String =
      span("rag.synthesize")(inner.synthesize(question, vectorAnswer, graphAnswer))
  }

  def embedder(inner: Embedder): Embedder = new Embedder {
    def dim: Int = inner.dim
    def embed(text: String): Array[Float] = {
      switch("search.embed")
      embeds += 1
      // after the last question's embed the fused corpus-arm plan runs
      try inner.embed(text)
      finally switch(if (embeds == questions) "search.fused" else Trace.Untraced)
    }
  }

  def retriever(inner: (graft.graph.PropertyGraph, Seq[String]) => org.apache.spark.sql.DataFrame)
      : (graft.graph.PropertyGraph, Seq[String]) => org.apache.spark.sql.DataFrame =
    (g, kws) => {
      switch("graph.cypher_compile")
      try inner(g, kws) finally switch("graph.cypher_exec")
    }

  def finish(listener: BenchListener): OpTrace = {
    switch(Trace.Untraced)
    org.apache.spark.BenchBus.drain(sc)
    val (jobs, stages) = listener.harvest()
    OpTrace(ms.toMap - Trace.Untraced, embeds, jobs, stages, intervals.toVector)
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  val Untraced = "untraced"

  def apply(sc: SparkContext, questions: Int): Trace = new Trace(sc, questions)

  /** No spans, no wrappers: the untraced run calls the library directly. */
  object Off extends Trace(null, 0) {
    override protected def switch(next: String): Unit = ()
    override def span[T](name: String)(body: => T): T = body
    override def llm(inner: Rag.LlmClient): Rag.LlmClient = inner
    override def embedder(inner: Embedder): Embedder = inner
    override def retriever(inner: (graft.graph.PropertyGraph, Seq[String]) => org.apache.spark.sql.DataFrame)
        : (graft.graph.PropertyGraph, Seq[String]) => org.apache.spark.sql.DataFrame = inner
  }
}
