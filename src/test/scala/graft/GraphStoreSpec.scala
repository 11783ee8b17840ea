package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.fhir.FhirPipeline
import graft.graph.PropertyGraph

/** The graph store's write and read paths: the per-table jobs run
  * concurrently on a pool made per call, under the caller's Spark
  * local properties; the swap is crash-safe; a failed write swaps
  * nothing and leaves no thread behind.
  */
class GraphStoreSpec extends SparkSpec {
  import TestSession.spark.implicits._

  private val edgeMeta = Map("KNOWS" -> (("Person", "Person")))

  private def graphOf(people: Seq[(String, String)],
      knows: Seq[(String, String)]): PropertyGraph =
    PropertyGraph(
      nodes = Map("Person" -> people.toDF("id", "name"),
        "City" -> Seq("c1" -> "Basel").toDF("id", "name")),
      edges = Map("KNOWS" -> (("Person", "Person", knows.toDF("src", "dst")))))

  private def people(g: PropertyGraph): Seq[(String, String)] =
    g.nodes("Person").orderBy("id").as[(String, String)].collect().toSeq

  private def knows(g: PropertyGraph): Seq[(String, String)] =
    g.edges("KNOWS")._3.orderBy("src", "dst").as[(String, String)].collect().toSeq

  private def poolThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("graft-graph-io") && t.isAlive)

  private def exists(p: String): Boolean = new java.io.File(p).exists()

  /** Leave `dir` as a crash between retiring `nodes_Person` to `.prev`
    * and promoting its staged replacement would: the live table gone,
    * its old copy in `.prev`, a partial `.staging`.
    */
  private def crashMidSwap(dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(s"$dir/.prev"))
    assert(fs.rename(new Path(s"$dir/nodes_Person"), new Path(s"$dir/.prev/nodes_Person")))
    Seq("p9" -> "Partial").toDF("id", "name").write.parquet(s"$dir/.staging/nodes_Person")
  }

  test("a crash mid-swap loses no table: readGraph reads the retired copy, the next writeGraph restores it") {
    val dir = Files.createTempDirectory("graft_store_swap").toString
    FhirPipeline.writeGraph(graphOf(Seq("p1" -> "Ann", "p2" -> "Bo"), Seq("p1" -> "p2")), dir)
    crashMidSwap(dir)
    assert(!exists(s"$dir/nodes_Person"))
    val mid = FhirPipeline.readGraph(spark, dir, edgeMeta)
    assert(mid.nodes.keySet === Set("Person", "City"))
    assert(people(mid) === Seq("p1" -> "Ann", "p2" -> "Bo"))
    // a graph that writes only the edges: the restored Person table
    // must come back from .prev, not from the stale staging
    FhirPipeline.writeGraph(PropertyGraph(Map.empty,
      Map("KNOWS" -> (("Person", "Person", Seq("p2" -> "p1").toDF("src", "dst"))))), dir)
    assert(exists(s"$dir/nodes_Person"))
    assert(!exists(s"$dir/.prev") && !exists(s"$dir/.staging"))
    val after = FhirPipeline.readGraph(spark, dir, edgeMeta)
    assert(after.nodes.keySet === Set("Person", "City"))
    assert(people(after) === Seq("p1" -> "Ann", "p2" -> "Bo"))
    assert(knows(after) === Seq("p2" -> "p1"))
  }

  test("replaying an upsert over a dir left mid-swap reads the retired copy while it writes") {
    val dir = Files.createTempDirectory("graft_store_replay").toString
    FhirPipeline.writeGraph(graphOf(Seq("p1" -> "Ann"), Seq.empty), dir)
    crashMidSwap(dir)
    val stored = FhirPipeline.readGraph(spark, dir, edgeMeta)
    val delta = graphOf(Seq("p1" -> "Other", "p2" -> "Bo"), Seq("p1" -> "p2"))
    FhirPipeline.writeGraph(FhirPipeline.upsertGraph(stored, delta), dir)
    val after = FhirPipeline.readGraph(spark, dir, edgeMeta)
    assert(people(after) === Seq("p1" -> "Ann", "p2" -> "Bo"))
    assert(knows(after) === Seq("p1" -> "p2"))
    assert(!exists(s"$dir/.prev") && !exists(s"$dir/.staging"))
  }

  test("one failing table: its error is rethrown, nothing swaps, staging is gone, no pool thread lives") {
    val dir = Files.createTempDirectory("graft_store_fail").toString
    FhirPipeline.writeGraph(graphOf(Seq("p1" -> "Ann"), Seq("p1" -> "p1")), dir)
    val good = graphOf(Seq("p1" -> "Ann", "p2" -> "Bo"), Seq("p1" -> "p2"))
    val bad = good.copy(nodes = good.nodes.updated("Person",
      good.nodes("Person").withColumn("name",
        when($"id" === "p2", raise_error(lit("graph-store-boom"))).otherwise($"name"))))
    val e = intercept[Throwable](FhirPipeline.writeGraph(bad, dir))
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("graph-store-boom"), chain)
    assert(!exists(s"$dir/.staging") && !exists(s"$dir/.prev"))
    val live = FhirPipeline.readGraph(spark, dir, edgeMeta)
    assert(people(live) === Seq("p1" -> "Ann"))
    assert(knows(live) === Seq("p1" -> "p1"))
    assert(poolThreads().isEmpty, poolThreads().map(_.getName))
  }

  test("every job of writeGraph and readGraph carries the caller's job description and local properties") {
    val dir = Files.createTempDirectory("graft_store_props").toString
    val g = graphOf(Seq("p1" -> "Ann", "p2" -> "Bo"), Seq("p1" -> "p2"))
    val sc = spark.sparkContext
    val jobs = ArrayBuffer.empty[java.util.Properties]
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        if (e.properties != null && e.properties.getProperty("graft.spec.sentinel") != null)
          sentinel.countDown()
        else jobs += e.properties
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("graph store spec")
      sc.setLocalProperty("graft.spec.span", "io")
      FhirPipeline.writeGraph(g, dir)
      FhirPipeline.readGraph(spark, dir, edgeMeta)
      // listener events arrive in order: once the sentinel job shows,
      // every job before it has been seen
      sc.setLocalProperty("graft.spec.sentinel", "1")
      spark.range(1).collect()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.spec.span", null)
      sc.setLocalProperty("graft.spec.sentinel", null)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.synchronized(jobs.toList)
    // three table writes and three schema reads at least
    assert(seen.size >= 6, s"only ${seen.size} jobs")
    seen.foreach { p =>
      assert(p.getProperty("spark.job.description") === "graph store spec")
      assert(p.getProperty("graft.spec.span") === "io")
    }
  }

  test("the per-call pool runs daemon threads under the caller's properties and joins them") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.span", "pool")
    val seen =
      try FhirPipeline.concurrently(1 to 20) { i =>
        val t = Thread.currentThread()
        (i * 2, t, t.isDaemon, sc.getLocalProperty("graft.spec.span"))
      } finally sc.setLocalProperty("graft.spec.span", null)
    assert(seen.map(_._1) === (1 to 20).map(_ * 2), "results keep item order")
    assert(seen.forall(_._3), "pool threads are daemon")
    assert(seen.forall(_._4 == "pool"))
    assert(seen.map(_._2).distinct.size <= FhirPipeline.IoThreads)
    assert(seen.forall(!_._2.isAlive), "pool threads are joined")
    val e = intercept[IllegalStateException](
      FhirPipeline.concurrently(1 to 5) { i => if (i == 3) throw new IllegalStateException("third") else i })
    assert(e.getMessage === "third")
    assert(poolThreads().isEmpty)
  }
}
