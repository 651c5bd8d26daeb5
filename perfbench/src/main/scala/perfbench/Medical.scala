package perfbench

import graft.medical.MedicalPipeline
import graft.pipeline.Runner
import graft.sources.{Catalog, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The reference's DAG as Runner stages: clean ×3 → quality ×3 → 18
  * summary tables → cohort → stats / association rules / ML. State passes
  * between stages through parquet files and `Catalog` tables, as in the
  * reference; each stage is one op.
  */
final class Medical(spark: SparkSession, cohorts: Path, work: Path) {
  private val stageDir = work.resolve("stages")
  private val catalog = new Catalog(spark, "medMeta")

  /** Filled by the stages of the latest pass, read by the checks. */
  @volatile var lastStats: Option[MedicalPipeline.StatsResults] = None
  @volatile var lastAuc: Option[Double] = None
  @volatile var summaryNames: Set[String] = Set.empty

  private def path(name: String): String = stageDir.resolve(name).toString

  private def readSheet(sheet: String): DataFrame = {
    val file = cohorts.resolve(s"$sheet.tsv")
    val header = Files.newBufferedReader(file, StandardCharsets.UTF_8)
    val names = try header.readLine().split("\t", -1) finally header.close()
    Sources.readTsv(spark, file.toString,
      Some(StructType(names.map(StructField(_, StringType)))))
  }

  private def parquet(name: String): DataFrame = spark.read.parquet(path(name))

  private def save(c: OpClock, df: DataFrame, name: String): Unit =
    c.act(df.write.mode("overwrite").parquet(path(name)))

  private def table(c: OpClock, name: String, description: String, df: DataFrame): Unit =
    c.catalog(catalog.createTableWithMeta(name, description, df))

  val sheets: Seq[String] = Seq("study", "control", "two_point")

  /** (stage, module, dependencies, body). */
  private val stages: Seq[(String, String, Seq[String], OpClock => Unit)] = Seq(
    ("clean_study", "ops.cleaning", Nil, c =>
      save(c, c.build(MedicalPipeline.cleanStudy(readSheet("study"))), "clean_study")),
    ("clean_control", "ops.cleaning", Nil, c =>
      save(c, c.build(MedicalPipeline.cleanControl(readSheet("control"))), "clean_control")),
    ("clean_two_point", "ops.cleaning", Nil, c =>
      save(c, c.build(MedicalPipeline.cleanTwoPoint(readSheet("two_point"))),
        "clean_two_point")),
    ("quality_study", "ops.quality", Seq("clean_study"), c =>
      table(c, "qualityStudy", "study-group quality report",
        c.build(MedicalPipeline.qualityStudy(parquet("clean_study"))))),
    ("quality_control", "ops.quality", Seq("clean_control"), c =>
      table(c, "qualityControl", "control-group quality report",
        c.build(MedicalPipeline.qualityControl(parquet("clean_control"))))),
    ("quality_two_point", "ops.quality", Seq("clean_two_point"), c =>
      table(c, "qualityTwoPoint", "two-point quality report",
        c.build(MedicalPipeline.qualityTwoPoint(parquet("clean_two_point"))))),
    ("summaries", "ops.summarize", Seq("clean_study", "clean_control", "clean_two_point"),
      c => {
        val sums = c.build(MedicalPipeline.summaries(parquet("clean_study"),
          parquet("clean_control"), parquet("clean_two_point")))
        summaryNames = sums.keySet
        sums.toSeq.sortBy(_._1).foreach { case (name, df) =>
          table(c, name, s"summary table $name", df)
        }
      }),
    ("cohort", "ops.cohort", Seq("clean_study", "clean_control"), c => {
      val study = parquet("clean_study")
      save(c, c.build(MedicalPipeline.imagingFrame(study)), "imaging")
      save(c, c.build(MedicalPipeline.cohortNumbsFrame(study, parquet("clean_control"))),
        "numbs")
    }),
    ("stats", "stats", Seq("cohort"), c => {
      val res = c.build(MedicalPipeline.statsStage(parquet("imaging"), parquet("numbs")))
      lastStats = Some(res)
      import spark.implicits._
      table(c, "imagingPValues", "permutation p-values per imaging sign",
        res.imagingPValues.toDF("imageCharacteristic", "SuvInFocus", "TBR"))
    }),
    ("association_rules", "stats.assoc", Seq("cohort"), c =>
      table(c, "imagingRules", "association rules over imaging signs",
        c.build(MedicalPipeline.imagingAssociationRules(parquet("imaging"))))),
    ("ml", "ml", Seq("cohort"), c => {
      val res = c.build(MedicalPipeline.mlStage(parquet("numbs")))
      lastAuc = Some(res.auc)
      import spark.implicits._
      table(c, "mlFeatureImportances", "decision-tree feature importances",
        res.featureImportances.toDF("feature", "importance"))
    }))

  /** One pass of the DAG through `Runner.run`; returns the runner's wall
    * time in ns. Stages skipped after an upstream failure are recorded as
    * failed ops. */
  def pass(rec: Recorder, pass: Int, traced: Boolean): Long = {
    val t0 = System.nanoTime()
    val results = Runner.run(spark, stages.map { case (name, module, deps, body) =>
      Runner.Stage(name, deps)(_ => rec.run(pass, traced, name, module, rethrow = true)(body))
    })
    val wall = System.nanoTime() - t0
    results.filterNot(_.ok).foreach { r =>
      if (!rec.ops.exists(o => o.pass == pass && o.name == r.name))
        rec.run(pass, traced, r.name, stages.find(_._1 == r.name).get._2)(_ =>
          throw r.error.getOrElse(new IllegalStateException("stage failed")))
    }
    wall
  }

  private val crossTables = Set("SuvStudyVsCrontrol", "TechnicalDataInStudyAndControlGroup")

  /** Output checks after the verification pass, as (op, check, ok). */
  def checks(nonNullKeys: Map[String, Long]): Seq[(String, String, Boolean)] = {
    def attempt(op: String, what: String)(ok: => Boolean) =
      (op, what, scala.util.Try(ok).getOrElse(false))
    val clean = sheets.map { s =>
      attempt(s"clean_$s", s"rows == non-null keys (${nonNullKeys(s)})")(
        parquet(s"clean_$s").count() == nonNullKeys(s))
    }
    val sums =
      if (summaryNames.size != 18) Seq(("summaries", "18 summary tables", false))
      else summaryNames.toSeq.sorted.map { t =>
        if (crossTables(t)) attempt("summaries", s"$t has one row")(spark.table(t).count() == 1)
        else attempt("summaries", s"$t has an All row")(
          spark.table(t).where(col("Division") === "All").limit(1).count() == 1)
      }
    val expectedTables = summaryNames ++ Set("qualityStudy", "qualityControl",
      "qualityTwoPoint", "imagingPValues", "imagingRules", "mlFeatureImportances")
    val meta = attempt("summaries", "one metadata row per table per pass") {
      val counts = catalog.metadata.groupBy("tableName").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counts.keySet == expectedTables && counts.values.forall(_ == 1L)
    }
    def pOk(p: Double) = (p >= 0 && p <= 1) || p == 2.0
    val stats = attempt("stats", "p-values in [0,1] or the 2.0 sentinel") {
      val r = lastStats.get
      r.imagingPValues.nonEmpty &&
        r.imagingPValues.forall { case (_, a, b) => pOk(a) && pOk(b) } &&
        Seq(r.ageTestP, r.prosthesisTypeP, r.locationP).forall(pOk)
    }
    val auc = attempt("ml", "AUC in [0,1]")(lastAuc.exists(a => a >= 0 && a <= 1))
    clean ++ sums ++ Seq(meta, stats, auc)
  }

  def tsvBytes: Long = sheets.map(s => Files.size(cohorts.resolve(s"$s.tsv"))).sum
}
