package graft

import org.apache.spark.sql.functions._

/** The spread helpers' partition probe: the cached scan-rooted path must
  * decide exactly like the old `df.rdd.getNumPartitions` probe, and
  * non-scan inputs must keep the exact-probe behavior. */
class TablesSpec extends SparkSpec {

  private def writeTable(rows: Int, parts: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    spark.range(rows).selectExpr("id", "id % 7 AS g", "CAST(id AS DOUBLE) AS v")
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  test("spreadIfNarrow decides like the exact probe on scan-rooted input") {
    val path = writeTable(rows = 10000, parts = 1)
    val df = spark.read.parquet(path)
      .where(col("v").isNotNull).select((col("v") * 2).as("w"))
    val exact = df.rdd.getNumPartitions
    val target = spark.sparkContext.defaultParallelism
    val out = Tables.spreadIfNarrow(df)
    if (exact * 2 < target)
      assert(out.rdd.getNumPartitions == target, "should have spread")
    else
      assert(out.rdd.getNumPartitions == exact, "should pass through")
    // second call with a DIFFERENT projection of the same files must make
    // the same decision (cache hit is keyed on the files, not the plan)
    val df2 = spark.read.parquet(path).select(col("g"))
    val out2 = Tables.spreadForGroupBy(df2, col("g"))
    if (exact * 2 < target)
      assert(out2.rdd.getNumPartitions ==
        spark.sessionState.conf.numShufflePartitions)
    else
      assert(out2.rdd.getNumPartitions == exact)
  }

  test("spreadIfNarrow decides per partition-pruned scan, not per table") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    val path = s"$dir/p.parquet"
    // one small file per partition value: the unfiltered scan has one
    // split per file, the pruned scan a single split
    spark.range(4000).selectExpr("id", "id % 4 AS part", "CAST(id AS DOUBLE) AS v")
      .repartition(1, col("part"))
      .write.partitionBy("part").parquet(path)
    val target = spark.sparkContext.defaultParallelism
    def decide(df: org.apache.spark.sql.DataFrame): Unit = {
      val exact = df.rdd.getNumPartitions
      val want = if (exact * 2 < target) target else exact
      assert(Tables.spreadIfNarrow(df).rdd.getNumPartitions == want,
        s"exact probe $exact, target $target")
    }
    val all = spark.read.parquet(path).select(col("v"))
    val pruned = spark.read.parquet(path).where(col("part") === 1).select(col("v"))
    assert(all.rdd.getNumPartitions * 2 >= target &&
      pruned.rdd.getNumPartitions * 2 < target, "fixture must straddle the gate")
    decide(all)
    decide(pruned)
  }

  test("spread helpers fall back to the exact probe on non-scan input") {
    val path = writeTable(rows = 1000, parts = 1)
    // an aggregate is NOT a narrow scan chain — the helper must still
    // work (old probe path) and decide from the aggregate's partitioning
    val agg = spark.read.parquet(path).groupBy(col("g")).agg(sum(col("v")).as("s"))
    val exact = agg.rdd.getNumPartitions
    val target = spark.sparkContext.defaultParallelism
    val out = Tables.spreadIfNarrow(agg)
    val expect =
      if (exact * 2 < target) target else exact
    assert(out.rdd.getNumPartitions == expect)
  }
}
