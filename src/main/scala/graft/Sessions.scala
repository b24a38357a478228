package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration so Verify, Bench and
  * the test suites run identical settings (SURVEY.md §4.2).
  *
  *  - `events.ts` unit handling lives in Tables.read (footer probe; the
  *    legacy nanosAsLong flag is set per-read only when the file really is
  *    int64-nanos) — NOT here, so a µs fixture reads natively.
  *  - AQE + skew-join: explicit, because skewed `user_id`/`concept_cd`-style
  *    keys are the expected hot spot at 100 TB (SURVEY.md §4.2).
  *  - shuffle.partitions = cores: local-mode right-sizing; a real cluster
  *    deployment would raise this (or rely on AQE coalescing, enabled).
  *  - codegen cache sized to the working set ([[CodegenCacheEntries]]):
  *    a 4CE site run compiles more distinct whole-stage classes than
  *    Spark's default cap of 100 keeps, so every refresh re-ran Janino
  *    for nearly all of them. The cap is a static conf, read once per JVM
  *    when the first class compiles, so it must be on the builder.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** [[cpus]] as a validated Int for ARITHMETIC consumers (repartition
    * counts, file-count gates). The master URL consumes the raw string
    * (so `local[*]` still works), but arithmetic on an unvalidated env
    * value would throw NumberFormatException inside a query (ADVICE r7
    * item 4) — a non-numeric setting falls back to the host's core
    * count, the same value `local[*]` resolves to. */
  def cpuCount: Int = scala.util.Try(cpus.trim.toInt).toOption
    .filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `spark.sql.codegen.cache.maxEntries`. One 4CE site run at sf0.1
    * compiles ~270 generated classes: the cache keys a source by class
    * loader too, so a whole-stage source compiles once for the driver
    * thread and once for the task threads. At Spark's default cap of 100
    * a warm pass recompiled ~275 of them; at this cap ~25, the sources
    * that differ between plannings. 1000 is ~3.5 site runs, so the
    * entries each refresh adds age out before the working set does. A
    * full cache holds ~28 MB of heap (~28 KB an entry). */
  val CodegenCacheEntries = 1000

  def local(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(graft.functions.GraftExtensions.register)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // each fixture table is ONE small parquet file; without a minimum
      // split count every scan is a single partition and the whole
      // pre-shuffle pipeline runs on one core (measured 1.5-5× slower).
      // On a real cluster with many files/row-groups this is a no-op.
      .config("spark.sql.files.minPartitionNum", cpus)
      // keep managed tables (bucketed-layout tests) out of the repo root
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
