package perfbench

import graft.SparkEntry
import org.apache.spark.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The benchmark's JVM side. Runs one workload in one process:
  *
  *  1. session start and the action self-test;
  *  2. the untimed verification pass (pass 0), which also warms the JVM,
  *     codegen and the engine's caches;
  *  3. the timed passes, closed loop with one client. With tracing, the
  *     middle of three passes runs under the listeners, so the tracing
  *     overhead is measured in the same process;
  *  4. a fixed CPU-bound probe job, recorded for host comparison only.
  *
  * It writes `run.json` (and, traced, `spans.jsonl`) into `--work`;
  * `perfbench/run.py` turns those into the reported metrics.
  *
  * Usage: `Harness --workload W --seconds S --trace 0|1 --cores N
  *   --inputs DIR --work DIR [--keys study=N,control=N,two_point=N]`
  */
object Harness {

  /** The timed action: materializes every output column of `df` through
    * Spark's built-in `noop` sink. Never `count()`, which Catalyst prunes
    * down to the columns the count needs. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Proves the timed action evaluates every column: a projected
    * `raise_error` column must fail under `noop` while `count()` passes. */
  def selfTest(spark: SparkSession): Boolean = {
    val df = spark.range(4).select(col("id"),
      when(col("id") >= 0, raise_error(lit("perfbench self-test"))).as("boom"))
    Try(df.count() == 4L).getOrElse(false) && Try(noop(df)).isFailure
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session confs graft.Bench uses
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.codegen.maxFields", "1024")
      .config("spark.ui.enabled", "false")
      // in-memory catalog and a fresh warehouse per run: under a Hive
      // catalog a second createTableWithMeta in one session fails with
      // LOCATION_ALREADY_EXISTS
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def procField(file: String, pick: String => Option[String]): Option[String] =
    Try(pick(new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8)))
      .toOption.flatten

  private def loadavg(): Double =
    procField("/proc/loadavg", s => s.split("\\s+").headOption).map(_.toDouble).getOrElse(-1.0)

  private def peakRssMb(): Double =
    procField("/proc/self/status", _.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Largest heap occupancy right after a garbage collection, in MB, over
    * the collections that end while `armed` is set: the memory the run
    * holds (pins included), independent of how far the collector has grown
    * the heap. The peak RSS, which includes that growth, differed by up to
    * 30% between identical runs. */
  private object HeapAfterGc {
    @volatile var armed = false
    private val maxBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    def mb: Double = maxBytes.get / (1024.0 * 1024.0)
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (armed && n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            maxBytes.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
          }, null, null)
      case _ =>
    }
  }

  /** One fixed CPU-bound Spark job: hashes 2·10^7 longs on every core. */
  private def probe(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, cores).selectExpr("sum(hash(id) % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val traceMode = opt("trace") == "1"
    val cores = opt("cores").toInt
    val inputs = Paths.get(opt("inputs"))
    val work = Paths.get(opt("work"))
    val spec = Workloads.byName.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    // A traced run times three passes: untraced, traced, untraced. The mean
    // of the two untraced passes brackets the traced one, so the JVM's
    // pass-over-pass warm-up cancels out of the tracing overhead.
    val passes =
      if (traceMode) 3
      else math.max(1L, math.round(opt("seconds").toDouble / spec.nominalPassS)).toInt
    val loadStart = loadavg()

    val spark = session(cores, work)
    val sessionReadyMs = System.currentTimeMillis()
    val selfTestOk = selfTest(spark)
    val rec = new Recorder(spark, workload)
    val verifyDir = work.resolve("verify")

    // runPass(p, traced, verifying) runs one pass and returns the runner's
    // wall ns; afterVerify() runs once after pass 0 and returns the checks
    val (runPass, afterVerify, tsvBytes) = spec match {
      case Workloads.Dag(_, _) =>
        val med = new Medical(spark, inputs.resolve("cohorts"), work)
        val keys = opt("keys").split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong).toMap
        ((p: Int, t: Boolean, _: Boolean) => med.pass(rec, p, t),
          () => med.checks(keys), med.tsvBytes)
      case Workloads.Mix(_, _, queries) =>
        val dir = inputs.resolve("tables").toString
        val pass = (p: Int, t: Boolean, verifying: Boolean) => {
          val t0 = System.nanoTime()
          queries.foreach { q =>
            rec.run(p, t, q, Workloads.module(q)) { c =>
              val df = c.build(SparkEntry.queries(q)(spark, dir))
              if (verifying)
                c.act(df.coalesce(1).write.mode("overwrite").parquet(verifyDir.resolve(q).toString))
              else c.act(noop(df))
            }
          }
          System.nanoTime() - t0
        }
        // written after pass 0: some oracles are generated by the query run
        val dumpOracles = () => {
          val oracles = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
          Files.createDirectories(verifyDir)
          Files.write(verifyDir.resolve("oracle_sql.json"),
            Json.render(oracles).getBytes(StandardCharsets.UTF_8))
          Seq.empty[(String, String, Boolean)]
        }
        (pass, dumpOracles, 0L)
    }

    runPass(0, false, true)
    val checkResults = afterVerify()
    val setupDoneMs = System.currentTimeMillis()

    val trace = if (traceMode) Some(new Trace(spark, workload, cores)) else None
    HeapAfterGc.install()
    HeapAfterGc.armed = true
    val passRecords = (1 to passes).map { p =>
      val traced = trace.isDefined && p == 2
      if (traced) trace.get.attach()
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val runnerNs = runPass(p, traced, false)
      val wallNs = System.nanoTime() - t0
      val gcS = gcSeconds() - gc0
      val ops = rec.ops.filter(_.pass == p).toSeq
      val layer = if (traced) trace.get.closePass(ops, gcS, tsvBytes) else Map.empty
      Map("pass" -> p, "traced" -> traced, "wall_s" -> wallNs / 1e9, "gc_s" -> gcS,
        "runner_overhead_s" -> (runnerNs - ops.map(_.wallNs).sum) / 1e9,
        "layer" -> layer)
    }
    HeapAfterGc.armed = false
    // no collection during the timed passes: the heap in use at their end
    val peakHeapMb = if (HeapAfterGc.mb > 0) HeapAfterGc.mb
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val probeS = probe(spark, cores)
    val (compiles, compileS) = SparkInternals.codegenCompiles()
    val loadEnd = loadavg()
    trace.foreach(t => Files.write(work.resolve("spans.jsonl"),
      t.spans.toString.getBytes(StandardCharsets.UTF_8)))
    spark.stop()

    val result = Map(
      "workload" -> workload, "passes" -> passes, "cores" -> cores,
      "trace" -> traceMode,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs, "setup_done_ms" -> setupDoneMs,
      "self_test_ok" -> selfTestOk,
      "ops" -> rec.ops.map(_.record),
      "pass_records" -> passRecords,
      "checks" -> checkResults.map { case (op, what, ok) =>
        Map("op" -> op, "check" -> what, "ok" -> ok)
      },
      "queries" -> (spec match {
        case Workloads.Mix(_, _, qs) => qs
        case _ => Nil
      }),
      "tsv_bytes" -> tsvBytes,
      "probe_s" -> probeS, "codegen_compiles" -> compiles,
      "codegen_compile_s" -> compileS,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "peak_heap_mb" -> peakHeapMb, "peak_rss_mb" -> peakRssMb())
    Files.write(work.resolve("run.json"), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }
}
