package perfbench

/** The benchmark's workloads. Query lists are frozen by name; the reasons
  * for each choice are in `perfbench/README.md`. */
object Workloads {
  sealed trait Spec {
    def name: String
    /** Seconds one warm pass took on the reference host; the number of timed
      * passes is `--seconds` divided by this, so it is fixed per workload. */
    def nominalPassS: Double
  }
  final case class Dag(name: String, nominalPassS: Double) extends Spec
  final case class Mix(name: String, nominalPassS: Double, queries: Seq[String]) extends Spec

  val all: Seq[Spec] = Seq(
    Dag("medical_dag", 17.0),
    Mix("query_mix_sf001", 12.0, Seq(
      "a9_sketches", "q14_fd_discovery", "m21_learning_curve", "r21_spearman",
      "n2_ann_lsh", "d8_minhash_md5", "t10_ngram_lm", "x8_patch_grid")))

  val byName: Map[String, Spec] = all.map(s => s.name -> s).toMap

  /** Engine module a query belongs to, by its registry family letter. */
  def module(query: String): String = query.head match {
    case 'g' => "ops.summarize"
    case 'a' => "ops.sketch"
    case 'q' => "ops.quality"
    case 'r' => "stats"
    case 'm' => "ml"
    case 'n' => "text.search"
    case 'd' => "dedup"
    case 't' => "text"
    case 'x' => "multimodal"
    case other => throw new IllegalArgumentException(s"no module for family '$other'")
  }
}
