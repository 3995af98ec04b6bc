package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {
  private val rows = Corpus.shards(11, 6).flatten
  private val e = Model.expected(rows)

  /** What a correct pipeline run over `rows` publishes. */
  private def published(e: Expected): Published = Published(
    kpi = Map(
      "Total Patients" -> e.rows.toDouble, "Diabetes Cases" -> e.cases.toDouble,
      "Diabetes Percentage" -> e.diabetesPct, "High Risk Patients" -> e.highRisk.toDouble,
      "High Risk Percentage" -> e.highRiskPct, "Average Age" -> e.avgAge,
      "Average Risk Score" -> e.avgRisk, "Data Quality Score" -> 100.0),
    validation = Map(
      "total_records" -> e.rows.toLong, "valid_age_count" -> e.rows.toLong,
      "valid_outcome_count" -> e.rows.toLong, "valid_pregnancies_count" -> e.rows.toLong,
      "valid_glucose_count" -> e.validGlucose.toLong, "valid_bmi_count" -> e.validBmi.toLong),
    expectations = Seq("diabetes_bronze" -> "valid_file", "diabetes_silver" -> "valid_age",
      "diabetes_silver" -> "valid_outcome", "diabetes_silver" -> "valid_pregnancies")
      .map(_ -> (e.rows.toLong, 0L)).toMap)

  test("the model's own gold passes the check") {
    assert(e.rows == 768 && e.cases == 268)
    assert(e.diabetesPct == 34.9)
    assert(Model.check(e, published(e)).isEmpty)
  }

  test("a corrupted gold row is rejected") {
    val good = published(e)
    def bad(p: Published) = assert(Model.check(e, p).nonEmpty, p)
    bad(good.copy(kpi = good.kpi.updated("Diabetes Cases", e.cases + 1.0)))
    bad(good.copy(kpi = good.kpi.updated("Total Patients", e.rows - 128.0)))
    bad(good.copy(kpi = good.kpi.updated("Diabetes Percentage", e.diabetesPct + 0.01)))
    bad(good.copy(kpi = good.kpi.updated("Average Risk Score", e.avgRisk + 0.001)))
    bad(good.copy(kpi = good.kpi - "Data Quality Score"))
    bad(good.copy(validation = good.validation.updated("total_records", e.rows - 1L)))
    bad(good.copy(expectations = good.expectations.updated(("diabetes_silver", "valid_age"), (e.rows - 1L, 1L))))
  }

  test("large corpora compare median-dependent KPIs within a tolerance only") {
    val big = Model.expected(Corpus.rows(3, 8192))
    val p = published(big)
    assert(Model.check(big, p.copy(kpi = p.kpi.updated("Average Risk Score", big.avgRisk + 0.001))).isEmpty)
    assert(Model.check(big, p.copy(kpi = p.kpi.updated("Diabetes Cases", big.cases + 1.0))).nonEmpty)
  }

  test("median follows percentile_approx: the ceil(n/2)-th smallest value") {
    assert(Model.median(Seq(5, 1, 3, 2)).contains(2))
    assert(Model.median(Seq(5, 1, 3)).contains(3))
    assert(Model.median(Seq.empty[Int]).isEmpty)
  }

  test("a two-row group with a constant corr input predicts DIVIDE_BY_ZERO") {
    val a = Patient(1, 150, 70, 30, 0, 184, 500, 65, 1)
    val b = Patient(2, 160, 80, 35, 0, 183, 600, 70, 0)
    // both Senior (60+) / Underweight, Insulin imputed to the same median
    assert(Model.expected(Seq(a, b)).corrDivideByZero)
    assert(!Model.expected(Seq(a.copy(insulin = 110), b.copy(insulin = 90, pregnancies = 3))).corrDivideByZero)
  }

  test("the table digest sees every row change") {
    val m = scala.collection.mutable.LongMap(1L -> Model.Keyed(rows(0), 0), 2L -> Model.Keyed(rows(1), 0))
    val d = Model.tableDigest(m)
    val changed = m.clone(); changed(2L) = Model.Keyed(rows(1), 1)
    assert(Model.tableDigest(changed) != d)
    val moved = m.clone(); moved.remove(2L); moved(3L) = Model.Keyed(rows(1), 0)
    assert(Model.tableDigest(moved) != d)
    assert(d._1 == 2L)
  }
}
