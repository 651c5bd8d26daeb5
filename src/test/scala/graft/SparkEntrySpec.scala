package graft

/** Contract guards for the driver interface. */
class SparkEntrySpec extends SparkSpec {

  test("every oracleSql key has a queries entry") {
    val stray = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stray.isEmpty, s"oracle entries without queries: $stray")
  }

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run and return rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    // collect, not count: count() lets Catalyst prune every output column
    // the count does not need, so a failing output expression would pass
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, fn) =>
      fn(spark, dir).collect().isEmpty
    }.map(_._1)
    // d4/n2-style similarity thresholds may legitimately find nothing at the
    // smallest scale; everything else must produce rows
    val allowedEmpty = Set("d2_minhash_neardup", "d3_simhash_neardup",
      "d4_ngram_jaccard", "n2_ann_lsh")
    assert((empty.toSet -- allowedEmpty).isEmpty,
      s"unexpectedly empty: ${empty.toSet -- allowedEmpty}")
  }
}
