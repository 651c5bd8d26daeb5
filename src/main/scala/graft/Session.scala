package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every entry point runs under: Bench, Verify, the
  * test harness and the `tools/` mains all call [[local]], so the plans the
  * tests check are the plans the benchmark times. */
object Session {
  /** Not set: spark.sql.join.preferSortMergeJoin=false was A/B'd over the
    * 60 heaviest queries (OPTIMIZATION_r12.md) — net zero at this scale,
    * and sort-merge is the safer default for 100 TB build sides. */
  val confs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // reference semantics: Spark-3/Databricks non-ANSI (bad cast → NULL)
    "spark.sql.ansi.enabled" -> "false",
    // older testdata stores events.ts as TIMESTAMP(NANOS): read it as the
    // raw long Tables.events normalizes
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the testdata stores timestamps as MICROS with isAdjustedToUTC=false:
    // read them as plain TimestampType, not TIMESTAMP_NTZ, so every plan,
    // pushdown and oracle comparison keeps the same types
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // the generated-class cache (static conf, default 100 entries) thrashes
    // on a 300+-query surface: every pass re-runs Janino on every stage.
    // It is keyed by generated source, so correctness is unaffected.
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    // whole-stage codegen silently disables for plans wider than 100 fields
    // (the default), dropping the wide moment/correlation aggregates (q17:
    // 144 sums, r76: 136) to the interpreted path. Janino's per-method
    // bytecode limit (hugeMethodLimit) still bails out gracefully if a
    // generated method gets too big.
    "spark.sql.codegen.maxFields" -> "1024",
    "spark.ui.enabled" -> "false")

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core and a
    * fresh temp warehouse, so bucketed `saveAsTable` never lands in the
    * working directory nor collides with a previous run's in-memory-catalog
    * leftovers. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(confs)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
