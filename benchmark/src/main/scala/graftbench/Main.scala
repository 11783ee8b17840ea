package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one workload, one client thread, one JVM.
  *
  * `--trace 0` measures the end-to-end metrics with no listener and no
  * seam wrappers. `--trace 1` alternates traced and untraced ops,
  * starting and ending with a traced one; the traced ones give the
  * per-layer metrics, and the two kinds give `bench.trace_overhead_pct`.
  *
  * Usage: graftbench.Main --workload curate|graph --seed N
  *   --seconds S --trace 0|1   (system property graftbench.work names
  *   the scratch directory for generated inputs and trace tables)
  */
object Main {
  val Workloads = Seq("curate", "graph")
  final case class Op(ms: Double, ok: Boolean, traced: Boolean, layers: Map[String, Double],
      spans: Map[String, Map[String, Double]])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = sys.props.getOrElse("graftbench.work", "target/work")

    // Two task threads: the ops are bound by per-job driver work, so they
    // run as fast as on four, and the spare cores take the JIT, the GC
    // and other tenants' load that otherwise shifts whole runs.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val stampStart = stamp(cores)
    val spark = graft.core.GraftSession.build(s"local[$cores]", cores.toString)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val wl = Workload(workload, spark, seed, s"$work/$workload-$seed")
      val listener = new BenchListener
      val sc = spark.sparkContext

      // one op, checked and released outside its timed interval
      def once(i: Int, withTrace: Boolean): Op = {
        val tr = if (withTrace) Trace(sc, wl.questions) else Trace.Off
        if (withTrace) sc.addSparkListener(listener)
        val gc0 = gcMs(); val cpu0 = cpuMs(); val jit0 = jitMs(); val cg0 = codegenCompiles()
        val t0 = System.nanoTime()
        val out = scala.util.Try(wl.run(i, tr))
        val ms = (System.nanoTime() - t0) / 1e6
        val gc = gcMs() - gc0; val cpu = cpuMs() - cpu0
        val jit = jitMs() - jit0; val cg = codegenCompiles() - cg0
        val none = (Map.empty[String, Double], Map.empty[String, Map[String, Double]])
        val (layers, spans) = if (withTrace) {
          val t = tr.finish(listener)
          sc.removeSparkListener(listener)
          if (out.isSuccess) (wl.layers(i, t) ++ sparkCounters(t.jobs, t) ++ Map(
            "jvm.gc_ms" -> gc, "jvm.cpu_ms" -> cpu, "jvm.jit_ms" -> jit,
            "spark.codegen_compiles" -> cg,
            "bench.untraced_ms" -> (ms - t.spanMs.values.sum)),
            wl.phases(t).groupBy(_._2).map { case (p, js) => p -> sparkCounters(js.map(_._1), t) })
          else none
        } else none
        val verdict = out.toEither.left.map(e => s"threw $e").flatMap(o => wl.check(i, o).toLeft(()))
        verdict.left.foreach(why => System.err.println(s"[graftbench] $workload op $i FAILED: $why"))
        val leaked = release(spark)
        Op(ms, verdict.isRight, withTrace, layers + ("core.leaked_rdds" -> leaked), spans)
      }

      val prep0 = System.nanoTime()
      wl.prepare()
      release(spark)
      val prepS = (System.nanoTime() - prep0) / 1e9
      // a traced run warms up one op more, so its first traced op is as
      // settled as the untraced one after it
      val warm = (0 until wl.warmupOps + (if (traced) 1 else 0)).map(k => once(k, traced))
      val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

      // a traced run times an odd number of ops, at least three: traced
      // ops bracket the untraced ones, so drift between neighbours cancels
      // out of the overhead, and drift is taken over traced ops alone
      val minOps = if (traced) math.max(3, wl.minOps | 1) else wl.minOps
      val ops = mutable.ArrayBuffer.empty[Op]
      val loop0 = System.nanoTime()
      while (ops.size < minOps || (System.nanoTime() - loop0) / 1e9 < seconds)
        ops += once(warm.size + ops.size, traced && ops.size % 2 == 0)
      // warm-up ops are checked too: every op counts as attempted
      val all = warm ++ ops
      release(spark)
      val heapMb = liveHeapMb()

      val timed = if (traced) ops.filterNot(_.traced) else ops
      val good = timed.filter(_.ok)
      // a failed op misses every latency limit
      val lat = timed.map(o => if (o.ok) o.ms else Double.PositiveInfinity).sorted.toSeq
      val e2e = Seq(
        ("throughput_per_s", good.size * wl.itemsPerOp / (timed.map(_.ms).sum / 1e3), "1/s"),
        ("latency_p50_ms", median(lat), "ms"),
        ("setup_s", setupS, "s"),
        ("heap_live_mb", heapMb, "MB"))
      val errorRate = all.count(!_.ok).toDouble / all.size
      val p90 = if (lat.size >= 100) f"${percentile(lat, 0.9)}%.3f ms" else s"n/a (${lat.size} ops < 100)"
      println(s"[graftbench] $workload seed=$seed ops=${ops.size} (${wl.itemsPerOp} ${wl.item} per op; ${wl.sizes})")
      for ((k, v, u) <- e2e) println(f"[graftbench]   $k%-18s $v%.4f $u")
      println(f"[graftbench]   ${"latency_p90_ms"}%-18s $p90")
      println(f"[graftbench]   ${"error_rate"}%-18s $errorRate%.4f (${all.count(!_.ok)} of ${all.size}, warm-up included)")
      println(f"[graftbench]   session_s $sessionS%.3f; prepare_s $prepS%.3f; " +
        s"warmup ops ${warm.size}: ${warm.map(o => f"${o.ms}%.0f").mkString(" ")} ms")
      println(s"[graftbench]   op_ms ${ops.map(o => f"${o.ms}%.0f").mkString(" ")}")

      val stampEnd = stamp(cores)
      val metrics: Seq[(String, Double, String)] = if (!traced) e2e
      else {
        val tr = ops.filter(o => o.traced && o.ok)
        val names = PerLayer.names
        val mean = names.map(n => n -> (if (tr.isEmpty) 0.0 else tr.map(_.layers.getOrElse(n, 0.0)).sum / tr.size)).toMap
        val untracedMean = timed.map(_.ms).sum / math.max(1, timed.size)
        val tracedMean = ops.filter(_.traced).map(_.ms).sum / math.max(1, ops.count(_.traced))
        // over traced ops only, so trace overhead does not read as drift
        val kind = ops.filter(_.traced)
        val tenth = math.max(1, kind.size / 10)
        val drift = (kind.takeRight(tenth).map(_.ms).sum / kind.take(tenth).map(_.ms).sum - 1) * 100
        val extra = Map(
          "bench.trace_overhead_pct" -> (1 - untracedMean / tracedMean) * 100,
          "bench.drift_pct" -> drift)
        val values = mean ++ extra
        val spans = tr.flatMap(_.spans.keys).distinct.map(sp => sp -> PerLayer.spark.map(c =>
          c -> tr.map(_.spans.get(sp).fold(0.0)(_.getOrElse(c, 0.0))).sum / tr.size).toMap).toMap
        Files.write(s"$work/trace-$workload-$seed.json",
          traceTable(workload, seed, tr.size, values, spans, stampStart, stampEnd))
        println(s"[graftbench] trace table: $work/trace-$workload-$seed.json")
        names.map(n => (n, values(n), PerLayer.unit(n)))
      }
      println(s"""[graftbench] stamp {"start":$stampStart,"end":$stampEnd}""")
      val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      println(s"""{"correct":${all.forall(_.ok)},"attempted":${all.size},"failed":${all.count(!_.ok)},"metrics":{${ms.mkString(",")}}}""")
    } finally spark.stop()
  }

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile of sorted values. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))

  /** Unpersists every cached frame and persistent RDD an op left, as
    * `graft.Bench` does between queries; returns how many RDDs were
    * still persistent.
    */
  def release(spark: SparkSession): Double = {
    val rdds = spark.sparkContext.getPersistentRDDs
    val n = rdds.size
    spark.sharedState.cacheManager.clearCache()
    rdds.values.foreach(_.unpersist(blocking = true))
    n.toDouble
  }

  /** Heap in use after full GCs, repeated until the reading holds:
    * Spark's ContextCleaner frees broadcast, shuffle and checkpoint
    * blocks asynchronously once a GC has found their owners dead.
    */
  private def liveHeapMb(): Double = {
    def used() = { System.gc(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 10) { prev = cur; cur = used(); n += 1 }
    cur
  }

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Time the JIT compiler threads spent, summed over threads. */
  private def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Classes Spark's code generator compiled: each is a miss in its
    * cache of compiled classes.
    */
  private def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  private def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  /** Spark counters over the given jobs of an op. The skew is max ÷
    * median task time in the stage whose slowest task was the longest.
    */
  def sparkCounters(jobs: Seq[JobRec], t: OpTrace): Map[String, Double] = {
    val st = Workload.stagesOf(t, jobs)
    val worst = st.filter(_.taskMs.nonEmpty).sortBy(s => -s.taskMs.max).headOption
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> st.flatMap(_.taskMs).sum.toDouble,
      "spark.task_skew" -> worst.fold(0.0) { s =>
        val m = median(s.taskMs.map(_.toDouble).toSeq); if (m > 0) s.taskMs.max / m else s.taskMs.max.toDouble
      },
      "spark.input_bytes" -> st.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "spark.output_bytes" -> st.map(_.outputBytes).sum.toDouble)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "1.0E300" else java.lang.Double.toString(v)

  private def stamp(cores: Int): String = {
    val load = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse("")
    val heap = Runtime.getRuntime.maxMemory / 1048576
    s"""{"cores":$cores,"nproc":${Runtime.getRuntime.availableProcessors()},"heap_mb":$heap,""" +
      s""""jdk":"${System.getProperty("java.version")}","spark":"${org.apache.spark.SPARK_VERSION}",""" +
      s""""loadavg":"$load"}"""
  }

  /** The per-layer metrics, and the Spark counters of every span, each
    * a mean per traced op.
    */
  private def traceTable(workload: String, seed: Long, ops: Int, values: Map[String, Double],
      spans: Map[String, Map[String, Double]], start: String, end: String): String = {
    val spanRows = spans.toSeq.sortBy(_._1).map { case (sp, cs) =>
      val fields = PerLayer.spark.map(c => "\"" + c + "\": " + num(cs(c))).mkString(", ")
      "    \"" + sp + "\": {" + fields + "}"
    }
    val rows = PerLayer.names.map(n => s"""    "$n": {"value": ${num(values(n))}, "unit": "${PerLayer.unit(n)}"}""")
    s"""{
       |  "workload": "$workload", "seed": $seed, "traced_ops": $ops,
       |  "stamp": {"start": $start, "end": $end},
       |  "per_layer": {
       |${rows.mkString(",\n")}
       |  },
       |  "spark_per_span": {
       |${spanRows.mkString(",\n")}
       |  }
       |}
       |""".stripMargin
  }
}

/** Every per-layer metric, in BENCHMARK.json order. Each is a mean per
  * traced op; a layer a workload does not call reads 0.
  */
object PerLayer {
  val spark: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms", "spark.task_skew",
    "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.output_bytes")

  val names: Seq[String] = Seq(
    "pipeline.clean_ms", "pipeline.sink_ms", "text.gate_ms",
    "dedup.shingle_ms", "dedup.verify_ms", "dedup.verify_records", "dedup.verify_yield",
    "dedup.components_ms", "dedup.components_rounds", "dedup.survivors_ms", "dedup.contamination_ms",
    "rag.prune_ms", "rag.keywords_ms", "rag.answer_ms", "rag.synthesize_ms",
    "search.embed_ms", "search.embed_calls", "search.fused_ms", "search.fused_jobs", "search.rows_scanned",
    "graph.cypher_compile_ms", "graph.cypher_exec_ms", "graph.cypher_jobs",
    "graph.upsert_ms", "graph.golden_ms") ++ (1 to 10).map(k => s"graph.golden_q${k}_ms") ++ Seq(
    "graph.golden_jobs",
    "fhir.load_ms", "fhir.build_ms", "fhir.write_ms", "fhir.read_ms", "fhir.rows_written",
    "core.leaked_rdds",
  ) ++ spark ++ Seq(
    "spark.codegen_compiles", "jvm.gc_ms", "jvm.cpu_ms", "jvm.jit_ms", "bench.drift_pct", "bench.trace_overhead_pct", "bench.untraced_ms")

  def unit(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_bytes")) "bytes"
    else if (n.endsWith("_pct")) "%"
    else if (n.endsWith("_skew") || n.endsWith("_yield")) "ratio"
    else "count"
}
