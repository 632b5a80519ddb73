package graft

import graft.ingest.{JobRunner, SeedData}
import graft.sleep.SleepModels

/** The reference's schema-drift guard (tests/test_warehouse.py:232-259)
  * translated: every model output must conform to the canonical StructType.
  */
class SchemasSpec extends SparkSpec {

  private lazy val epochs = SeedData.dataFrame(spark, subjects = 1)
  private lazy val staged = SleepModels.staging(epochs)
  private lazy val metrics = SleepModels.sleepMetrics(staged)

  test("staging model conforms to the canonical schema") {
    Schemas.assertConforms(staged.schema, Schemas.staging)
  }

  test("sleep_metrics model conforms") {
    Schemas.assertConforms(metrics.schema, Schemas.sleepMetrics)
  }

  test("sleep_summary model conforms") {
    Schemas.assertConforms(
      SleepModels.sleepSummary(metrics).schema, Schemas.sleepSummary)
  }

  test("sleep_features model conforms") {
    Schemas.assertConforms(
      SleepModels.sleepFeatures(metrics).schema, Schemas.sleepFeatures)
  }

  test("warehouse tables conform (epochs + errors)") {
    val dir = tmpDir("schemas-wh")
    val wh = new graft.warehouse.Warehouse(spark, dir)
    wh.loadEpochs(epochs)
    Schemas.assertConforms(wh.readEpochs().schema, Schemas.sleepEpochs)
    import spark.implicits._
    wh.logErrors(Seq(graft.ingest.IngestError(1, "T", "m", "s")).toDF())
    Schemas.assertConforms(wh.readErrors().schema, Schemas.ingestionErrors)
  }

  test("marts on disk have the declared schemas, fields in order") {
    // The dashboard reads the marts with these schemas instead of
    // inferring them, and compares whole rows, so field order matters here
    // where assertConforms ignores it.
    val dir = tmpDir("schemas-marts")
    JobRunner.transform(spark, epochs, SleepModels.DefaultGapEpochs, dir)
    def fields(t: org.apache.spark.sql.types.StructType) =
      t.fields.toSeq.map(f => (f.name, f.dataType))
    Seq("sleep_summary" -> Schemas.sleepSummary,
        "sleep_metrics" -> Schemas.sleepMetrics).foreach { case (mart, declared) =>
      val inferred = spark.read.parquet(s"$dir/$mart").schema
      assert(fields(inferred) == fields(declared), s"$mart on disk")
    }
  }

  test("drift is detected") {
    intercept[IllegalArgumentException] {
      Schemas.assertConforms(epochs.schema, Schemas.staging)
    }
  }
}
