package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** One Pima-shaped patient row. BMI and the pedigree function are kept as
  * fixed-point integers (tenths and thousandths) so the CSV text, the
  * Spark-parsed double and the model's double are the same number. */
final case class Patient(
    pregnancies: Int, glucose: Int, bloodPressure: Int, skinThickness: Int,
    insulin: Int, bmiTenths: Int, pedigreeThousandths: Int, age: Int, outcome: Int) {
  def bmi: Double = bmiTenths / 10.0
  def pedigree: Double = pedigreeThousandths / 1000.0

  def csvLine: String =
    s"$pregnancies,$glucose,$bloodPressure,$skinThickness,$insulin," +
      s"${bmiTenths / 10}.${bmiTenths % 10}," +
      s"${pedigreeThousandths / 1000}.${"%03d".format(pedigreeThousandths % 1000)}," +
      s"$age,$outcome"
}

/** Seeded generator of the reference's diabetes corpus shape
  * (FIXTURES.md §A): the nine-column ingest schema, the value ranges,
  * 1-decimal BMI and 3-decimal pedigree, and in every 768-row block
  * exactly 5/35/227/374/11 zero sentinels in Glucose/BloodPressure/
  * SkinThickness/Insulin/BMI and exactly 268 positives (34.9 %).
  * Values are drawn with rejection inside the published ranges, so no
  * value piles up on a range edge. The same seed always gives the same
  * rows. Files are written as the reference ships them: 128-row shards
  * with a header row. */
object Corpus {
  val BlockRows = 768
  val ShardRows = 128
  val Positives = 268
  /** Zero sentinels per block: Glucose, BloodPressure, SkinThickness, Insulin, BMI. */
  val Zeros: Seq[Int] = Seq(5, 35, 227, 374, 11)
  val Header = "Pregnancies,Glucose,BloodPressure,SkinThickness,Insulin,BMI," +
    "DiabetesPedigreeFunction,Age,Outcome"

  private def exactly(rng: scala.util.Random, n: Int, k: Int): Array[Boolean] = {
    val hit = new Array[Boolean](n)
    rng.shuffle((0 until n).toVector).take(k).foreach(hit(_) = true)
    hit
  }

  private def normalIn(rng: scala.util.Random, mean: Double, sd: Double,
      lo: Double, hi: Double): Double = {
    var x = mean + sd * rng.nextGaussian()
    while (x < lo || x > hi) x = mean + sd * rng.nextGaussian()
    x
  }

  private def logNormalIn(rng: scala.util.Random, median: Double, sigma: Double,
      lo: Double, hi: Double): Double = {
    var x = median * math.exp(sigma * rng.nextGaussian())
    while (x < lo || x > hi) x = median * math.exp(sigma * rng.nextGaussian())
    x
  }

  private def poisson(rng: scala.util.Random, lambda: Double): Int = {
    val l = math.exp(-lambda)
    var k = 0
    var p = rng.nextDouble()
    while (p > l) { k += 1; p *= rng.nextDouble() }
    k
  }

  private def draw(rng: scala.util.Random, positive: Boolean): Patient = {
    var age = 0
    while (age < 21 || age > 81)
      age = 21 + (-math.log(1 - rng.nextDouble()) * (if (positive) 15.0 else 10.0)).toInt
    var preg = poisson(rng, 0.22 * (age - 17) + (if (positive) 1.0 else 0.0))
    while (preg > 17) preg = poisson(rng, 0.22 * (age - 17))
    val (g, bp, sk, ins, bmi, dpf) =
      if (positive) (141.0, 75.0, 33.0, 160.0, 35.3, 0.45)
      else (110.0, 70.0, 27.0, 110.0, 30.9, 0.34)
    Patient(
      pregnancies = preg,
      glucose = math.round(normalIn(rng, g, 28, 44, 199)).toInt,
      bloodPressure = math.round(normalIn(rng, bp, 12, 24, 122)).toInt,
      skinThickness = math.round(normalIn(rng, sk, 10, 7, 99)).toInt,
      insulin = math.round(logNormalIn(rng, ins, 0.55, 14, 846)).toInt,
      bmiTenths = math.round(normalIn(rng, bmi, 6.6, 18.2, 67.1) * 10).toInt,
      pedigreeThousandths = math.round(logNormalIn(rng, dpf, 0.6, 0.078, 2.42) * 1000).toInt,
      age = age,
      outcome = if (positive) 1 else 0)
  }

  /** One 768-row block with the exact per-block marginals. */
  private def block(rng: scala.util.Random): Vector[Patient] = {
    val pos = exactly(rng, BlockRows, Positives)
    val zero = Zeros.map(exactly(rng, BlockRows, _))
    Vector.tabulate(BlockRows) { i =>
      val p = draw(rng, pos(i))
      p.copy(
        glucose = if (zero(0)(i)) 0 else p.glucose,
        bloodPressure = if (zero(1)(i)) 0 else p.bloodPressure,
        skinThickness = if (zero(2)(i)) 0 else p.skinThickness,
        insulin = if (zero(3)(i)) 0 else p.insulin,
        bmiTenths = if (zero(4)(i)) 0 else p.bmiTenths)
    }
  }

  /** The first `n` rows of the corpus for `seed`. */
  def rows(seed: Long, n: Int): Vector[Patient] = {
    val rng = new scala.util.Random(seed)
    Iterator.continually(block(rng)).flatten.take(n).toVector
  }

  /** `count` shards of [[ShardRows]] rows each. */
  def shards(seed: Long, count: Int): Vector[Vector[Patient]] =
    rows(seed, count * ShardRows).grouped(ShardRows).toVector

  def csv(rows: Seq[Patient]): String =
    (Header +: rows.map(_.csvLine)).mkString("", "\n", "\n")

  /** Write one shard so that a watching file source sees it complete or
    * not at all: the text lands in a dot-file (ignored by Spark's file
    * sources) and is renamed into place. */
  def writeShard(dir: Path, name: String, rows: Seq[Patient]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, csv(rows).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def shardName(i: Int): String = f"diabetes_part_${i + 1}%05d.csv"

  /** Seeded unit embeddings for the ANN workload, shaped like the
    * `embeddings` test table (TESTDATA.md): `n` independent uniformly
    * random unit vectors of `dim` floats with a random label in
    * [0, `labels`). */
  def embeddings(seed: Long, n: Int, dim: Int, labels: Int): Vector[(Long, Array[Float], Int)] = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    Vector.tabulate(n) { i =>
      val v = Array.fill(dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(labels))
    }
  }
}
