package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Single place where every entrypoint (Verify / Bench / Smoke / tests)
  * builds its SparkSession, so session-level flags are set once at build
  * time instead of being mutated as side effects of loaders.
  *
  * Flags:
  *   - shuffle.partitions sized to the local core count (not the 200
  *     default) — at cluster scale this is AQE-advised instead;
  *   - session timezone UTC (reference normalizes all timestamps to
  *     UTC, build_graph.py:181-187);
  *   - legacy.parquet.nanosAsLong: the driver-generated events table is
  *     physically TIMESTAMP(NANOS), which Spark's reader otherwise
  *     rejects; reading nanos as LONG lets Tables.events convert
  *     explicitly (integer division) without corrupting precision;
  *   - codegen.cache.maxEntries = [[CodegenCacheEntries]] (512, Spark's
  *     default is 100), unless the caller's SparkConf (a `-Dspark.…`
  *     system property) already sets it. The cache of compiled
  *     generated classes is JVM-wide and sized once, at the first
  *     compile, so the value only takes effect when set here.
  *
  * Why 512. Spark keys the cache on (context classloader, source), and
  * in local mode it compiles every whole-stage class twice: once in
  * `WholeStageCodegenExec`'s driver-side compile check (driver's
  * AppClassLoader) and once in the task (the executors' session
  * classloader). A census of every compile (`spark.sql.codegen.logLevel`,
  * benchmark seed 1) sizes the two workloads' warm working sets:
  *   - `Curation.cleanCorpus`: 150–158 entries per whole run (85
  *     executor-side, 65 driver-side). Under the default a warm curate
  *     op recompiled 109 classes; at 256 or more it compiles about 1.
  *   - FHIR → graph → RAG: one warm op compiles about 370 classes —
  *     `FhirPipeline.writeGraph` 162 (106 distinct sources),
  *     `Rag.answerMany`'s fused search 79, Cypher execution 51, the ten
  *     golden queries about 78 — 151 of them driver-side and 220
  *     task-side. The benchmark's per-op correctness check adds 45, so
  *     about 415 entries cycle through the cache per op. Only 1–13 per
  *     op are new sources (literals the plans inline, e.g. Text2Cypher's
  *     `$pid`), so no plan rewrite brings the set under 256: at 256
  *     nearly every use missed, 368 compiles per warm op.
  *   - The cap is not one LRU: Guava splits it over 4 segments by key
  *     hash, each holding a quarter, so a working set that fits the
  *     total can still overflow one segment. At 448 a warm graph op
  *     still compiled 113.5 classes. At 512 it compiled 13–106 (median
  *     24 over five traced runs): the key hashes, and so each
  *     segment's share, change from run to run with the classloaders'
  *     identity hashes, and the fullest segment sits near its 128.
  * Each entry holds about 29 KB of live heap (the class bytes and its
  * loader): over ten benchmark pairs graph's `heap_live_mb` read
  * +7.7 % against 256 (95.0 → 102.3 MB, 7.3 MB for 256 more entries),
  * under the benchmark's 0.10 bound; at that rate a cap of 640 would
  * cross it. Curate's set never fills 256.
  */
object GraftSession {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 512

  def build(master: String, shufflePartitions: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // static conf; a temp dir keeps bucketed-table tests (managed
      // tables) out of the repo working tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // static conf: new SparkConf() reads the caller's spark.* system
    // properties, which the session would pick up anyway
    if (!new SparkConf().contains(CodegenCacheKey))
      builder.config(CodegenCacheKey, CodegenCacheEntries.toLong)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(cpus: String): SparkSession = build(s"local[$cpus]", cpus)
}
