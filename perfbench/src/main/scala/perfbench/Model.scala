package perfbench

import scala.math.BigDecimal.RoundingMode

/** What the medallion DAG must publish for a given set of input rows,
  * computed in plain Scala from the generator's own rows — independent of
  * Spark and of the program. Mirrors the reference semantics the
  * pipeline replicates: zero sentinels are imputed with the median of
  * the non-zero values (Spark's `percentile_approx`, which is exact below
  * its compression threshold), then the silver features and the gold
  * aggregates are derived from the imputed rows. */
final case class Expected(
    rows: Int,
    cases: Int,
    highRisk: Int,
    diabetesPct: Double,
    highRiskPct: Double,
    avgAge: Double,
    avgRisk: Double,
    validGlucose: Int,
    validBmi: Int,
    /** Some (age_group, bmi_category) group has >= 2 rows and a constant
      * column among the `corr` inputs: the feature-correlation node's
      * `corr` then divides by zero (ANSI mode raises DIVIDE_BY_ZERO). */
    corrDivideByZero: Boolean)

/** The published values a check compares: the executive KPI-card rows,
  * `data_validation_summary` and the expectation pass/fail counts as
  * (table, expectation) -> (passed, failed). */
final case class Published(
    kpi: Map[String, Double],
    validation: Map[String, Long],
    expectations: Map[(String, String), (Long, Long)])

object Model {

  /** Rows up to this count keep `percentile_approx` exact (no summary
    * compression at accuracy 10000), so every KPI is compared exactly;
    * above it the median-dependent KPIs get a tolerance. */
  val ExactMedianRows = 4000

  private def halfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, RoundingMode.HALF_UP).toDouble

  /** `percentile_approx(x, 0.5)` on an exact summary: the ceil(n/2)-th
    * smallest value; None for no values. */
  def median[T](xs: Seq[T])(implicit o: Ordering[T]): Option[T] =
    if (xs.isEmpty) None
    else Some(xs.sorted.apply(math.max(0, math.ceil(0.5 * xs.size).toInt - 1)))

  /** Silver row after imputation: (glucose, bp, skin, insulin, bmi). */
  final case class Imputed(p: Patient, glucose: Int, bp: Int, skin: Int, insulin: Int, bmi: Double) {
    def riskScore: Double =
      (glucose.toDouble / 200.0) * 0.25 +
        (bmi / 50.0) * 0.20 +
        (p.age.toDouble / 100.0) * 0.15 +
        (p.pregnancies.toDouble / 20.0) * 0.10 +
        (bp.toDouble / 200.0) * 0.10 +
        (p.pedigree / 2.5) * 0.10 +
        (insulin.toDouble / 1000.0) * 0.05 +
        (skin.toDouble / 100.0) * 0.05
  }

  def impute(rows: Seq[Patient]): Seq[Imputed] = {
    def med(f: Patient => Int, fallback: Int): Int =
      median(rows.map(f).filter(_ > 0)).getOrElse(fallback)
    val g = med(_.glucose, 117); val bp = med(_.bloodPressure, 72)
    val sk = med(_.skinThickness, 23); val ins = med(_.insulin, 125)
    val bmi = median(rows.map(_.bmiTenths).filter(_ > 0)).map(_ / 10.0).getOrElse(32.3)
    rows.map(p => Imputed(p,
      if (p.glucose == 0) g else p.glucose,
      if (p.bloodPressure == 0) bp else p.bloodPressure,
      if (p.skinThickness == 0) sk else p.skinThickness,
      if (p.insulin == 0) ins else p.insulin,
      if (p.bmiTenths == 0) bmi else p.bmi))
  }

  def ageGroup(age: Int): String =
    if (age < 30) "Young (< 30)" else if (age < 40) "Adult (30-39)"
    else if (age < 50) "Middle Age (40-49)" else if (age < 60) "Mature (50-59)"
    else "Senior (60+)"

  def bmiCategory(bmi: Double): String =
    if (bmi < 18.5) "Underweight" else if (bmi < 25) "Normal"
    else if (bmi < 30) "Overweight" else "Obese"

  def expected(rows: Seq[Patient]): Expected = {
    val silver = impute(rows)
    val n = rows.size
    val cases = rows.count(_.outcome == 1)
    val risks = silver.map(_.riskScore)
    val high = risks.count(_ >= 0.6)
    // davg: exact decimal(27,12) sum, one double division
    val riskSum = risks.map(r => BigDecimal(r).setScale(12, RoundingMode.HALF_UP)).sum
    val corrFails = silver.groupBy(s => (ageGroup(s.p.age), bmiCategory(s.bmi))).values.exists { g =>
      def constant[T](f: Imputed => T) = g.map(f).distinct.size == 1
      g.size >= 2 && (constant(_.glucose) || constant(_.bmi) || constant(_.p.age) ||
        constant(_.p.pregnancies) || constant(_.bp) || constant(_.insulin))
    }
    Expected(
      rows = n, cases = cases, highRisk = high,
      diabetesPct = halfUp(cases.toDouble / n.toDouble * 100, 2),
      highRiskPct = halfUp(high.toDouble / n.toDouble * 100, 2),
      avgAge = halfUp(rows.map(_.age.toLong).sum.toDouble / n, 1),
      avgRisk = halfUp(riskSum.toDouble / n, 3),
      validGlucose = silver.count(_.glucose > 0),
      validBmi = silver.count(_.bmi > 0),
      corrDivideByZero = corrFails)
  }

  /** Every mismatch between what was published and the model; empty
    * means the check passed. */
  def check(e: Expected, got: Published): Seq[String] = {
    val exact = e.rows <= ExactMedianRows
    val out = Seq.newBuilder[String]
    def cmp(what: String, want: Double, have: Option[Double], tol: Double): Unit = have match {
      case None => out += s"$what missing"
      case Some(h) if math.abs(h - want) > tol + 1e-9 => out += s"$what = $h, expected $want"
      case _ =>
    }
    def kpi(name: String, want: Double, tol: Double = 0.0): Unit =
      cmp(s"kpi '$name'", want, got.kpi.get(name), if (exact) 0.0 else tol)
    kpi("Total Patients", e.rows)
    kpi("Diabetes Cases", e.cases)
    kpi("Diabetes Percentage", e.diabetesPct)
    kpi("Average Age", e.avgAge)
    kpi("Data Quality Score", 100.0)
    // median-dependent: the risk score reads imputed values
    kpi("High Risk Patients", e.highRisk, tol = math.max(2.0, 0.002 * e.rows))
    kpi("High Risk Percentage", e.highRiskPct, tol = 0.25)
    kpi("Average Risk Score", e.avgRisk, tol = 0.002)
    if (got.kpi.size != 8) out += s"${got.kpi.size} KPI rows, expected 8"
    def v(name: String, want: Long): Unit =
      cmp(s"data_validation_summary.$name", want.toDouble, got.validation.get(name).map(_.toDouble), 0.0)
    v("total_records", e.rows)
    v("valid_age_count", e.rows)
    v("valid_outcome_count", e.rows)
    v("valid_pregnancies_count", e.rows)
    v("valid_glucose_count", e.validGlucose)
    v("valid_bmi_count", e.validBmi)
    for ((table, exp) <- Seq("diabetes_bronze" -> "valid_file", "diabetes_silver" -> "valid_age",
        "diabetes_silver" -> "valid_outcome", "diabetes_silver" -> "valid_pregnancies"))
      got.expectations.get((table, exp)) match {
        case Some((pass, fail)) if pass == e.rows && fail == 0 =>
        case other => out += s"expectation $table.$exp = $other, expected (${e.rows}, 0)"
      }
    out.result()
  }

  // ---- keyed patient table (upsert) -----------------------------------

  final case class Keyed(p: Patient, rev: Int)

  /** Order-independent per-row checksum term, < 2^31; the same formula
    * as [[rowHashSql]], so a table sum can be compared with the model. */
  def rowHash(id: Long, k: Keyed): Long = {
    val p = k.p
    val x = id * 1000003L + p.pregnancies * 7919L + p.glucose * 104723L +
      p.bloodPressure * 1299709L + p.skinThickness * 15485863L + p.insulin * 179424673L +
      p.bmiTenths * 2038074743L + p.pedigreeThousandths * 49979687L + p.age * 67867967L +
      p.outcome * 86028121L + k.rev * 32452843L
    Math.floorMod(x, 2147483647L)
  }

  val rowHashSql: String =
    "pmod(patient_id * 1000003 + CAST(Pregnancies AS BIGINT) * 7919 + " +
      "CAST(Glucose AS BIGINT) * 104723 + CAST(BloodPressure AS BIGINT) * 1299709 + " +
      "CAST(SkinThickness AS BIGINT) * 15485863 + CAST(Insulin AS BIGINT) * 179424673 + " +
      "CAST(round(BMI * 10) AS BIGINT) * 2038074743 + " +
      "CAST(round(DiabetesPedigreeFunction * 1000) AS BIGINT) * 49979687 + " +
      "CAST(Age AS BIGINT) * 67867967 + CAST(Outcome AS BIGINT) * 86028121 + " +
      "CAST(rev AS BIGINT) * 32452843, 2147483647)"

  /** (row count, checksum) of a key -> row model. */
  def tableDigest(model: collection.Map[Long, Keyed]): (Long, Long) =
    (model.size.toLong, model.iterator.map { case (id, k) => rowHash(id, k) }.sum)
}
