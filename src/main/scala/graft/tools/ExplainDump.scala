package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` for named `SparkEntry` queries to files,
  * one per query, so before/after plan evidence can be committed
  * (`plans/r12/<query>_<tag>.txt`).
  *
  * Usage:
  *   sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <tag> <q>[,<q>...]"
  *
  * The session is `graft.Session`'s, so the captured plan is the one the
  * bench actually runs.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r12")
    val tag = args.lift(2).getOrElse("before")
    val names = args.lift(3).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.Session.local(graft.Session.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    try names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
    } finally spark.stop()
  }
}
