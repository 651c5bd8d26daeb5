package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables / object-store paths; the
  * single-directory layout here mirrors `/root/testdata/sf*`. Reads go through
  * `spark.read.parquet` so Catalyst gets full pushdown (filters, column
  * pruning, partition pruning) into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a scan across all cores for CPU-bound per-row work. A single
    * small parquet file arrives as ONE input split, serializing e.g. a
    * 64-hash MinHash signature pass onto one thread; at real scale inputs
    * come pre-split, but compute-heavy stages must never inherit accidental
    * single-partition layouts. The shuffle this inserts moves only the
    * scanned columns and is amortized by the downstream per-row work. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Partition count `df` would execute with. For a NARROW chain of
    * Project/Filter over ONE file-source relation — the shape of every
    * spread-helper call site — that count is the scan's split count, a
    * pure function of (files, split confs, parallelism), so it is probed
    * ONCE per distinct (session, paths, confs) and cached. The old
    * per-call `df.rdd.getNumPartitions` planned AND code-generated the
    * whole projection on every call (~70 ms warm), a pure planning tax
    * paid ~10 call sites × (warmup + 3 timed passes) per bench run.
    * Anything not scan-rooted falls back to the exact probe — which also
    * keeps the documented precondition honest (ADVICE r12): under AQE, a
    * probe on an exchange-containing plan executes the upstream stages;
    * the narrow-chain check guarantees the cached path is scan-only, and
    * callers passing non-scan inputs simply keep the old behavior. A
    * partitioned table is never cached: partition pruning makes the split
    * count depend on the filter, not only on the root paths. The key holds
    * the session's UUID, not the session, so the cache pins no session. */
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]
  private def inputPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case pr: Project => narrow(pr.child)
      case f: Filter => narrow(f.child)
      case a: SubqueryAlias => narrow(a.child)
      case _ => false
    }
    val plan = df.queryExecution.logical
    val cached: Option[Int] =
      if (narrow(plan)) plan.collectLeaves() match {
        case Seq(l: LogicalRelation) => l.relation match {
          case h: HadoopFsRelation if h.partitionSchema.isEmpty =>
            val conf = df.sparkSession.sessionState.conf
            val key = (
              org.apache.spark.sql.graftbridge.Bridge.sessionUUID(df.sparkSession),
              h.location.rootPaths.mkString(",") +
                s"|${conf.filesMaxPartitionBytes}|${conf.filesOpenCostInBytes}" +
                s"|${conf.filesMinPartitionNum}" +
                s"|${df.sparkSession.sparkContext.defaultParallelism}")
            Some(scanParts.computeIfAbsent(key,
              _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue())
          case _ => None
        }
        case _ => None
      } else None
    cached.getOrElse(df.rdd.getNumPartitions)
  }

  /** [[spread]] only when the plan would otherwise run on materially fewer
    * partitions than the session parallelism — the scale-adaptive form: a
    * single-file local scan (1 split) gets fanned out, while a pre-split
    * production input (partitions ≥ cores) passes through untouched, so
    * the repartition can never become a pointless full-data shuffle at
    * scale. Use on a NARROW projection so the inserted shuffle moves only
    * the columns the downstream aggregate needs (guide: project before
    * the exchange). PRECONDITION: the input should be scan-rooted
    * (Project/Filter over one table) — that is what makes the partition
    * probe cacheable and cheap; see [[inputPartitions]]. */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputPartitions(df) * 2 < target) df.repartition(target) else df
  }

  /** Scale-adaptive fan-out for a `groupBy(keys)` whose key space barely
    * collapses (value-level cells ≈ input rows, so map-side partial
    * aggregation buys nothing): when the input arrived as a single local
    * split, hash-repartition it on the GROUP KEYS at the session shuffle
    * partition count — `EnsureRequirements` then recognises the
    * partitioning and the aggregate runs 32-way behind ONE exchange with
    * no single-core partial-agg hash build. On a pre-split production
    * input this is a no-op and the groupBy keeps its normal partial-agg
    * plan (the safe default when keys DO collapse). */
  def spreadForGroupBy(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (inputPartitions(df) * 2 < target)
      df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
    else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** Normalize the events `ts` column to plain TimestampType whatever the
    * parquet generation stored:
    *  - TIMESTAMP(NANOS) reads as a raw long under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` → integer DIV to µs
    *    (not double division: ns epochs ~1.7e18 exceed double's mantissa);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ in
    *    a session that infers NTZ (our sessions set
    *    `spark.sql.parquet.inferTimestampNTZ.enabled=false`, so this branch
    *    only fires under a FOREIGN session, e.g. the driver's smoke check)
    *    → cast, which under the UTC session timezone preserves the wall
    *    clock as the same instant unix_micros/epoch_us agree on. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Run INDEPENDENT eager driver-side protocols as concurrent Spark jobs
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially). Results return in INPUT order, so thunk
    * completion order cannot change anything. Each thunk must be
    * deterministic in isolation — overlap changes only WHEN tasks run,
    * never any job's input partitioning or per-partition row order, so
    * every result is bit-identical to the sequential run. */
  private[graft] def concurrently[A](thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, thunks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.sequence(thunks.toList.map(th => Future(th()))), Duration.Inf)
    finally pool.shutdown()
  }
}
