package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-star-schema scale-up generator: replicate EVERY fact table of a
  * source SF directory `replicas`× (default 10× ⇒ sf0.1 → sf1) with
  * consistent id offsets, so the whole query surface — not just a
  * hand-picked few — can run a BENCH-protocol pass at 10× data
  * (`BENCH_SF1_r08.json`).
  *
  * Semantics preserved:
  *  - `region`/`nation` are DIMENSIONS (5/25 rows by schema, like the date
  *    dim of a real warehouse) — copied verbatim, so dim joins stay
  *    broadcast-able and nationkey ranges stay valid.
  *  - Foreign keys replicate CONSISTENTLY: replica i of `orders` points at
  *    replica i of `customer` (same offset multiple), `lineitem` at its
  *    replica's orders/part/supplier — join fan-outs scale linearly, never
  *    quadratically.
  *  - `documents` replica i > 0 appends the suffix `" rehearsal replica i"`
  *    to the text: every source doc becomes a `replicas`-member near-dup
  *    CLIQUE — the deliberately adversarial density for LSH band buckets.
  *  - `embeddings` replica i > 0 adds deterministic per-dim noise
  *    `(((vec_id·i + j) mod 13) − 6) / 400` to dimension j, forming vector
  *    near-dup cliques.
  *  - `events.ts` is written back as the session reads it (a raw long for
  *    TIMESTAMP(NANOS) files under nanosAsLong); `Tables.events`
  *    normalizes either representation.
  *
  * Replica 0 is the identity, so the scaled dir is a superset of the
  * source. Output goes OUTSIDE the repo (default java.io.tmpdir); this is
  * a bench input generator, never a correctness input — correctness always
  * runs on the driver's own testdata.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1)
      else sys.props("java.io.tmpdir") + "/graft-sf1-full"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(graft.Session.cpus)

    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "embeddings.parquet", "_SUCCESS"))) {
      println(s"SCALEUP already generated at $out"); spark.stop(); return
    }

    def tbl(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def off(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).head.getLong(0) + 1

    // dims copy verbatim
    Seq("region", "nation").foreach { n =>
      tbl(n).write.mode("overwrite").parquet(s"$out/$n.parquet") }

    val customer = tbl("customer"); val custOff = off(customer, "c_custkey")
    val supplier = tbl("supplier"); val suppOff = off(supplier, "s_suppkey")
    val part = tbl("part"); val partOff = off(part, "p_partkey")
    val orders = tbl("orders"); val orderOff = off(orders, "o_orderkey")
    val events = tbl("events"); val eventOff = off(events, "event_id")
    val userOff = off(events, "user_id")
    val docs = tbl("documents"); val docOff = off(docs, "doc_id")
    val emb = tbl("embeddings"); val vecOff = off(emb, "vec_id")
    val lineitem = tbl("lineitem")

    def replicate(df: DataFrame, f: (DataFrame, Int) => DataFrame, name: String): Unit = {
      (0 until replicas).map(i => f(df, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SCALEUP wrote $name x$replicas")
    }

    replicate(customer, (d, i) => d.withColumn("c_custkey",
      col("c_custkey") + lit(i.toLong * custOff)), "customer")
    replicate(supplier, (d, i) => d.withColumn("s_suppkey",
      col("s_suppkey") + lit(i.toLong * suppOff)), "supplier")
    replicate(part, (d, i) => d.withColumn("p_partkey",
      col("p_partkey") + lit(i.toLong * partOff)), "part")
    replicate(orders, (d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * orderOff))
      .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * custOff)), "orders")
    replicate(lineitem, (d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * orderOff))
      .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * partOff))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i.toLong * suppOff)), "lineitem")
    replicate(events, (d, i) => d
      .withColumn("event_id", col("event_id") + lit(i.toLong * eventOff))
      .withColumn("user_id", col("user_id") + lit(i.toLong * userOff)), "events")
    replicate(docs, (d, i) => d.select(
      (col("doc_id") + lit(i.toLong * docOff)).as("doc_id"),
      (if (i == 0) col("text")
       else concat(col("text"), lit(s" rehearsal replica $i"))).as("text"),
      col("lang"), col("source"), col("n_chars")), "documents")
    replicate(emb, (d, i) => d.select(
      (col("vec_id") + lit(i.toLong * vecOff)).as("vec_id"),
      (if (i == 0) col("embedding")
       else transform(col("embedding"), (x, j) =>
         (x + ((((col("vec_id") * lit(i.toLong) + j.cast("long")) % 13) - 6)
           .cast("float") / lit(400.0f)))
           .cast("float"))).as("embedding"),
      col("label")), "embeddings")

    println(s"SCALEUP generated ${replicas}x star schema under $out")
    spark.stop()
  }
}
