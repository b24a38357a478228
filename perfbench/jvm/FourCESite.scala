package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{FourCE, FourCEConfig}

/** One 4CE site run per pass: the cohort, built once and persisted, then
  * the ten file functions, each written with `FourCE.writeCsv`. The cohort
  * is unpersisted at pass end, because a site pays for it on every
  * refresh.
  *
  * The fixture-to-i2b2 mapping is a copy of the one `FourCEQueries` uses
  * (its helpers are private), so the files match the `q_fource_*`
  * oracles. */
object FourCESite {
  private val cfg = FourCEConfig()

  /** file name, matching registered oracle row, single CSV part */
  val files: Seq[(String, String, Boolean)] = Seq(
    ("DailyCounts", "q_fource_daily_counts", true),
    ("ClinicalCourse", "q_fource_clinical_course", true),
    ("Demographics", "q_fource_demographics", true),
    ("Labs", "q_fource_labs", true),
    ("Diagnoses", "q_fource_diagnoses", true),
    ("Medications", "q_fource_medications", true),
    ("LocalPatientClinicalCourse", "q_fource_patient_course", false),
    ("LocalPatientObservations", "q_fource_patient_obs", false),
    ("LocalPatientMapping", "q_fource_patient_mapping", false),
    ("LocalPatientSummary", "q_fource_patient_summary", false))

  val oracleNames: Map[String, String] = files.map(f => f._1 -> f._2).toMap

  @volatile private var cohortDf: DataFrame = _

  def obs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "events").select(
      $"user_id".as("patient_num"),
      (dayofyear(to_date($"ts")) * lit(100000) + $"user_id")
        .cast("long").as("encounter_num"),
      concat(lit("EVT:"), $"event_type").as("concept_cd"),
      $"ts".as("start_date"),
      when($"value".isNotNull, "N").otherwise("T").as("valtype_cd"),
      $"value".as("nval_num"))
  }

  def visits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "events")
      .select($"user_id".as("patient_num"), to_date($"ts").as("d"))
      .distinct()
      .select(
        (dayofyear($"d") * lit(100000) + $"patient_num").cast("long")
          .as("encounter_num"),
        $"patient_num", lit("I").as("inout_cd"),
        $"d".cast("timestamp").as("start_date"),
        date_add($"d", 1).cast("timestamp").as("end_date"))
  }

  def patients(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, dir, "customer").select(
      $"c_custkey".as("patient_num"),
      when($"c_custkey" % 2 === 0, "female").otherwise("male")
        .as("sex_cd"),
      ($"c_custkey" % 80 + 10).cast("int").as("age_in_years_num"),
      lit(null).cast("timestamp").as("death_date"))
  }

  def codeMap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("positive", "EVT:purchase", 1.0),
      ("severe", "EVT:error", 1.0),
      ("lab", "EVT:view", 2.0),
      ("lab", "EVT:click", 1.0),
      ("med", "EVT:click", 1.0))
      .toDF("code_category", "local_code", "scale_factor")
  }

  def outDir(scratch: Path): Path = scratch.resolve("out")

  private def fileFrame(spark: SparkSession, dir: String, file: String)
      : DataFrame = {
    val c = cohortDf
    file match {
      case "DailyCounts" => FourCE.dailyCounts(c, visits(spark, dir), cfg)
      case "ClinicalCourse" =>
        FourCE.clinicalCourse(c, visits(spark, dir), cfg)
      case "Demographics" =>
        FourCE.demographics(c, patients(spark, dir), cfg)
      case "Labs" => FourCE.labs(obs(spark, dir), c, codeMap(spark), cfg)
      case "Diagnoses" => FourCE.diagnoses(obs(spark, dir), c, cfg)
      case "Medications" =>
        FourCE.medications(obs(spark, dir), c, codeMap(spark), cfg)
      case "LocalPatientClinicalCourse" =>
        FourCE.patientClinicalCourse(c, visits(spark, dir), cfg)
      case "LocalPatientObservations" =>
        FourCE.patientObservations(obs(spark, dir), c, codeMap(spark), cfg)
      case "LocalPatientMapping" => FourCE.patientMapping(c, cfg)
      case "LocalPatientSummary" =>
        FourCE.patientSummary(c, visits(spark, dir), patients(spark, dir),
          cfg)
    }
  }

  /** The cohort op first (the runner keeps it first), then the files. */
  def ops(spark: SparkSession, dir: String, scratch: Path): Seq[Runner.Op] = {
    val cohort = Runner.Op("Cohort", () => {
      cohortDf = FourCE.cohort(obs(spark, dir), visits(spark, dir),
        patients(spark, dir), codeMap(spark), cfg).persist()
      cohortDf
    }, df => df.write.format("noop").mode("overwrite").save())
    cohort +: files.map { case (file, _, single) =>
      val path = outDir(scratch).resolve(file).toString
      Runner.Op(file, () => fileFrame(spark, dir, file),
        df => FourCE.writeCsv(df, path, single))
    }
  }

  def unpersist(): Unit =
    if (cohortDf != null) { cohortDf.unpersist(blocking = true); () }

  /** Size of the CSV files the last pass wrote. */
  def outMb(scratch: Path): Double = {
    val d = outDir(scratch)
    if (!Files.exists(d)) 0.0
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".csv"))
        .map(Files.size).sum / 1048576.0
      finally s.close()
    }
  }

  /** Read the last pass's CSV files back with the schemas of the frames
    * that were written, and store them as parquet under the oracle row's
    * name. */
  def readBack(spark: SparkSession, dir: String, scratch: Path,
      checkDir: Path): Seq[Trace.Rec] = {
    cohortDf = FourCE.cohort(obs(spark, dir), visits(spark, dir),
      patients(spark, dir), codeMap(spark), cfg)
    files.map { case (file, oracle, _) =>
      val path = checkDir.resolve(oracle).toString
      try {
        val schema = fileFrame(spark, dir, file).schema
        spark.read.schema(schema).option("header", "true")
          .csv(outDir(scratch).resolve(file).toString)
          .coalesce(1).write.mode("overwrite").parquet(path)
        Map("name" -> file, "oracle" -> oracle, "path" -> path)
      } catch { case t: Throwable =>
        Map("name" -> file, "oracle" -> oracle,
          "err" -> String.valueOf(t.getMessage).take(300))
      }
    }
  }
}
