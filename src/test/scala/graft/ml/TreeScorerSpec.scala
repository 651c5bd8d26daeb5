package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.functions._

class TreeScorerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = {
    val rng = new scala.util.Random(7)
    (1 to 400).map { i =>
      val x = rng.nextGaussian() + (if (i % 2 == 0) 2.0 else -2.0)
      val y = rng.nextGaussian() * 3
      (if (i % 2 == 0) 1 else 0, x, y)
    }.toDF("label", "x", "y")
  }

  test("compile(fromModel(fitted tree)) scores identically to model.transform") {
    val features = Seq("x", "y")
    val assembled = new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features").transform(data)
    val model = new DecisionTreeClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxDepth(4).setSeed(3L).fit(assembled)
    // deep enough to have real internal structure
    assert(model.depth >= 2, s"degenerate tree depth ${model.depth}")
    val spec = TreeScorer.fromModel(model.rootNode, features)
    val got = data.withColumn("pred", TreeScorer.compile(spec))
      .select($"x", $"y", $"pred").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val want = model.transform(assembled)
      .select($"x", $"y", $"prediction").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got.size == want.size)
    want.foreach { case (k, p) =>
      assert(got(k) == p, s"row $k: compiled ${got(k)} vs model $p")
    }
  }

  test("fitTreeSpec exports a fitted tree whose SQL CASE replay scores identically") {
    val features = Seq("x", "y")
    val spec = CohortClassifier.fitTreeSpec(
      data.withColumn("label", col("label").cast("double")), features, "label",
      maxDepth = 4, seed = 3L)
    assert(TreeScorer.depth(spec) >= 2, s"degenerate export: $spec")
    // the SQL rendering parses back to the exact same scoring function
    // (Double.toString round-trips thresholds bit-exactly)
    val both = data
      .withColumn("s_col", TreeScorer.compile(spec))
      .withColumn("s_sql", expr(TreeScorer.toSql(spec)))
    assert(both.where(col("s_col") =!= col("s_sql")).count() == 0)
  }

  test("localCheckpoint pin leaves the m21 learning-curve trees unchanged") {
    // the m4/m21/m23 input pin is fit-safe only if the checkpoint keeps
    // the same partitions in the same row order: MLlib's findSplits
    // sampling is a function of (seed, partitionIndex, row order)
    val o = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders").select(
      ((col("o_totalprice") > 250000) =!= (col("o_orderpriority") === "1-URGENT"))
        .cast("double").as("label"),
      col("o_totalprice"),
      (col("o_orderpriority") === "1-URGENT").cast("double").as("is_urgent"),
      year(col("o_orderdate")).cast("double").as("order_year"),
      col("o_orderkey"))
    val pinned = o.localCheckpoint()
    val h1 = substring(md5(col("o_orderkey").cast("string")), 1, 1)
    val h2 = substring(md5(col("o_orderkey").cast("string")), 2, 1)
    val isTest = h1 < lit("5")
    val feats = Seq("o_totalprice", "is_urgent", "order_year")
    Seq(25 -> (h2 < lit("4")), 50 -> (h2 < lit("8")), 100 -> lit(true))
      .foreach { case (pct, gate) =>
        val a = CohortClassifier.fitTreeSpec(o.where(!isTest && gate),
          feats, "label", maxDepth = 4)
        val b = CohortClassifier.fitTreeSpec(pinned.where(!isTest && gate),
          feats, "label", maxDepth = 4)
        assert(a == b, s"pct=$pct unpinned $a vs pinned $b")
      }
  }

  test("literal tree compiles to the expected when-chain semantics") {
    import TreeScorer._
    val tree = SplitLE("a", 1.0, Leaf(0.1), SplitLE("b", 2.0, Leaf(0.2), Leaf(0.3)))
    val df = Seq((0.5, 9.9), (1.5, 1.9), (1.5, 2.1)).toDF("a", "b")
    val got = df.withColumn("s", compile(tree)).select($"s").as[Double].collect().toSeq
    assert(got == Seq(0.1, 0.2, 0.3), got.toString)
    // nulls fall right (documented contract)
    val withNull = Seq((Some(0.5), 1.0), (None, 1.0)).toDF("a", "b")
    val ns = withNull.withColumn("s", compile(SplitLE("a", 1.0, Leaf(1.0), Leaf(2.0))))
      .select($"s").as[Double].collect().toSeq
    assert(ns == Seq(1.0, 2.0), ns.toString)
  }
}
