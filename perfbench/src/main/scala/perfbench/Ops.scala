package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One execution of one op (a query, or a pipeline stage) in one pass.
  *
  * The op body runs its work inside `build`, `act` and `catalog` so the
  * clock can split the op's wall time: `build` is the call into the engine
  * (DataFrame construction plus any eager pins and bounded collects),
  * `act` materializes every output column, and `catalog` is an `act` that
  * goes through `Catalog.createTableWithMeta`. Each call leaves a segment
  * (kind, start, end in epoch ms) that the trace uses to attribute Spark
  * jobs and query executions to the phase that launched them.
  */
final class OpClock(val pass: Int, val traced: Boolean, val index: Int,
    val name: String, val module: String) {
  val id: String = s"p$pass.o$index"
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  var endMs: Long = 0L
  var wallNs: Long = 0L
  var buildNs: Long = 0L
  var actNs: Long = 0L
  var catalogNs: Long = 0L
  var ok: Boolean = true
  var error: String = ""
  val segments: ArrayBuffer[(String, Long, Long)] = ArrayBuffer.empty

  private def timed[A](kind: String)(f: => A): (A, Long) = {
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val r = f
      (r, System.nanoTime() - n0)
    } finally segments += ((kind, s, System.currentTimeMillis()))
  }

  def build[A](f: => A): A = { val (r, ns) = timed("build")(f); buildNs += ns; r }
  def act[A](f: => A): A = { val (r, ns) = timed("act")(f); actNs += ns; r }
  def catalog(f: => Unit): Unit = {
    val (_, ns) = timed("catalog")(f)
    actNs += ns; catalogNs += ns
  }

  def finish(): Unit = {
    wallNs = System.nanoTime() - t0
    endMs = System.currentTimeMillis()
  }

  def fail(t: Throwable): Unit = {
    ok = false
    error = s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
  }

  def record: Map[String, Any] = Map(
    "id" -> id, "pass" -> pass, "traced" -> traced, "name" -> name,
    "module" -> module, "wall_s" -> wallNs / 1e9, "build_s" -> buildNs / 1e9,
    "act_s" -> actNs / 1e9, "catalog_s" -> catalogNs / 1e9, "ok" -> ok,
    "error" -> error)
}

/** Closed loop, one client: ops run one at a time on the calling thread,
  * each under its own Spark job group so the trace can key jobs to it. */
final class Recorder(spark: SparkSession, workload: String) {
  val ops: ArrayBuffer[OpClock] = ArrayBuffer.empty

  /** Runs one op; a failure is recorded on the clock and, with `rethrow`,
    * also propagated (so `pipeline.Runner` skips the stage's dependents). */
  def run(pass: Int, traced: Boolean, name: String, module: String,
      rethrow: Boolean = false)(body: OpClock => Unit): OpClock = {
    val clock = begin(pass, traced, name, module)
    try body(clock)
    catch { case t: Throwable => clock.fail(t); if (rethrow) throw t }
    finally end(clock)
    clock
  }

  private def begin(pass: Int, traced: Boolean, name: String, module: String): OpClock = {
    val clock = new OpClock(pass, traced, ops.count(_.pass == pass), name, module)
    spark.sparkContext.setJobGroup(s"$workload/${clock.id}", name,
      interruptOnCancel = false)
    clock
  }

  private def end(clock: OpClock): Unit = {
    clock.finish()
    spark.sparkContext.clearJobGroup()
    ops += clock
  }
}
