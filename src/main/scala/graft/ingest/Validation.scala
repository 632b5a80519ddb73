package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's constraint surface as reusable violation checks
  * (SURVEY §2.10): the Pandera row contract (V1, `validators.py:6-20`), the
  * dbt schema tests (V2–V6, `models/schema.yml:4-79`), and fail-fast gating
  * (V7, `pipeline.py:169-173`).
  *
  * Each model's dbt tests form one [[Validation.Tests]] battery, and
  * `requireAll` evaluates the whole battery as one aggregate and throws on
  * its first failing test: that is how the job runner tests each model
  * right after building it, as `dbt build` does. No data rows are
  * collected, so a battery is safe at any scale.
  */
object Validation {

  val ValidStages: Seq[String] = Seq("W", "N1", "N2", "N3", "REM")
  val PowerCols: Seq[String] =
    Seq("delta_power", "theta_power", "alpha_power", "sigma_power", "beta_power")

  /** V1 — the Pandera contract on raw epoch rows: non-null ids, stage in the
    * canonical five, power values non-null and non-NaN (negative dB is
    * allowed; NaN means a failed calculation and rejects the subject —
    * `tests/test_ingest.py:41-61`). Returns the violating rows.
    */
  def epochContractViolations(df: DataFrame): DataFrame = {
    val badPower = PowerCols
      .map(c => col(c).isNull || isnan(col(c)))
      .reduce(_ || _)
    df.filter(
      col("subject_id").isNull || col("epoch_idx").isNull ||
        col("stage").isNull || !col("stage").isin(ValidStages: _*) || badPower)
  }

  /** V1 applied per subject: the whole subject is rejected if ANY of its rows
    * violates the contract (`pipeline.py:81`, SchemaErrors path). Returns
    * (validEpochs, rejectedSubjectErrors).
    */
  def validateBySubject(df: DataFrame): (DataFrame, DataFrame) = {
    val badSubjects = epochContractViolations(df)
      .groupBy("subject_id")
      .agg(count(lit(1)).as("n_violations"))
    val valid = df.join(broadcast(badSubjects), Seq("subject_id"), "left_anti")
    val errors = badSubjects.select(
      col("subject_id").cast("int").as("subject_id"),
      lit("SchemaErrors").as("error_type"),
      concat(lit("epoch contract violations: "), col("n_violations"))
        .as("error_message"),
      lit("").as("stack_trace"))
    (valid, errors)
  }

  // ---- dbt schema tests (V2–V6) as one battery per model ----

  /** One model's schema tests in declaration order, each a named aggregate
    * counting a `key` group's violations; a test's result sums all groups. */
  final case class Tests(model: DataFrame, key: String,
      tests: Seq[(String, Column)])

  /** A row test: the rows for which `violates` is true (null is not). */
  private def rowsWhere(violates: Column): Column =
    sum(when(violates, 1).otherwise(0))

  /** dbt `unique`: one violation per key group of 2+ rows (nulls are one). */
  private val duplicateKey: Column = when(count(lit(1)) > 1, 1).otherwise(0)

  /** dbt `expression_is_true`: a null outcome is a violation. */
  private def untrue(expr: Column): Column = !coalesce(expr, lit(false))

  /** schema.yml's full test battery for the staging model (V2/V3/V4). */
  def stagingChecks(staged: DataFrame): Tests = Tests(staged, "epoch_id", Seq(
    "staging_not_null" -> rowsWhere(Seq(
      "epoch_id", "subject_id", "epoch_idx", "sleep_stage",
      "delta_power_uv", "theta_power_uv", "alpha_power_uv", "sigma_power_uv",
      "beta_power_uv").map(col(_).isNull).reduce(_ || _)),
    "staging_unique_epoch_id" -> duplicateKey,
    "staging_accepted_stages" ->
      rowsWhere(!col("sleep_stage").isin(ValidStages: _*))))

  /** schema.yml's tests for the summary mart (V3/V5/V6,
    * `models/schema.yml:47-79`): unique subject, TST ≤ sleep period, stage
    * shares sum to 1 ± 1e-4 (guarded when no sleep), efficiency ∈ [0,1].
    */
  def summaryChecks(summary: DataFrame): Tests = Tests(summary, "subject_id", Seq(
    "summary_unique_subject" -> duplicateKey,
    "summary_tst_le_period" -> rowsWhere(untrue(
      col("total_sleep_minutes") <= col("sleep_period_minutes"))),
    "summary_shares_sum_to_1" -> rowsWhere(untrue(
      col("total_sleep_minutes") === 0 ||
        abs(col("deep_sleep_percentage") + col("light_sleep_percentage") +
          col("rem_sleep_percentage") - 1) < 0.0001)),
    "summary_efficiency_range" ->
      rowsWhere(!col("sleep_efficiency").between(0.0, 1.0))))

  /** V7 fail-fast gate: one grouped aggregate (per key, then summed) runs
    * the whole battery; the first failing test in declaration order throws,
    * so dependents never build on bad data. An empty model passes. */
  def requireAll(battery: Tests): Unit = {
    val names = battery.tests.map(_._1)
    val perKey = battery.tests.map { case (name, test) => test.as(name) }
    val totals = battery.model.groupBy(battery.key)
      .agg(perKey.head, perKey.tail: _*)
      .agg(sum(names.head), names.tail.map(n => sum(n)): _*).head()
    names.zipWithIndex.foreach { case (name, i) =>
      val n = if (totals.isNullAt(i)) 0L else totals.getLong(i)
      if (n > 0) throw new IllegalStateException(
        s"data test failed: $name ($n violations)")
    }
  }
}
