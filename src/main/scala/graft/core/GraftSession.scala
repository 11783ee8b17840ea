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
  *   - codegen.cache.maxEntries = [[CodegenCacheEntries]] (256, Spark's
  *     default is 100), unless the caller's SparkConf (a `-Dspark.…`
  *     system property) already sets it. The cache of compiled
  *     generated classes is JVM-wide and sized once, at the first
  *     compile, so the value only takes effect when set here.
  *
  * Why 256. Spark keys the cache on (context classloader, source), and
  * in local mode it compiles every whole-stage class twice: once in
  * `WholeStageCodegenExec`'s driver-side compile check (driver's
  * AppClassLoader) and once in the task (the executors' session
  * classloader). A census of the cache at cap 1000 over a whole
  * benchmark run found 150–158 live entries for `Curation.cleanCorpus`
  * (85 executor-side, 65 driver-side), so under the default each warm
  * curate op evicted and recompiled its own classes: 109 compiles per
  * op, then JIT work on each. At 256 a warm op compiles about 5. The
  * FHIR → graph → RAG op holds 557 entries (mean source 5,960 chars;
  * 40 % are byte-identical driver/executor twins, and Text2Cypher
  * mints about 12 per op by inlining `$pid` as a long literal). It is
  * NOT sized for here: each entry holds about 26 KB of live heap, and
  * caps of 512 and 1000 cost graph +11.5 % and +13.5 % live heap where
  * 256 costs +4.0 % (curate +4.5 %). Shrinking graph's compiled
  * working set is the way to lift graph's hit rate, not a larger cap.
  */
object GraftSession {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 256

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
