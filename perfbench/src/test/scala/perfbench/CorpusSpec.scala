package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val rows = Corpus.rows(7, Corpus.BlockRows * 4)

  test("the same seed gives the same rows; another seed gives other rows") {
    assert(Corpus.rows(7, Corpus.BlockRows * 4) == rows)
    assert(Corpus.rows(8, Corpus.BlockRows * 4) != rows)
    assert(Corpus.shards(7, 12).flatten == Corpus.rows(7, 12 * Corpus.ShardRows))
    assert(Corpus.embeddings(3, 50, 8, 10).map(_._2.toSeq) == Corpus.embeddings(3, 50, 8, 10).map(_._2.toSeq))
  }

  test("every 768-row block has the reference's zero sentinels and 34.9 % positives") {
    rows.grouped(Corpus.BlockRows).foreach { b =>
      assert(b.count(_.glucose == 0) == 5)
      assert(b.count(_.bloodPressure == 0) == 35)
      assert(b.count(_.skinThickness == 0) == 227)
      assert(b.count(_.insulin == 0) == 374)
      assert(b.count(_.bmiTenths == 0) == 11)
      assert(b.count(_.outcome == 1) == 268)
    }
    assert(math.abs(rows.count(_.outcome == 1).toDouble / rows.size - 0.349) < 0.001)
  }

  test("values stay in the reference's ranges") {
    def in(x: Int, lo: Int, hi: Int) = x == 0 || (x >= lo && x <= hi)
    rows.foreach { p =>
      assert(p.pregnancies >= 0 && p.pregnancies <= 17)
      assert(in(p.glucose, 44, 199) && in(p.bloodPressure, 24, 122))
      assert(in(p.skinThickness, 7, 99) && in(p.insulin, 14, 846))
      assert(in(p.bmiTenths, 182, 671))
      assert(p.pedigreeThousandths >= 78 && p.pedigreeThousandths <= 2420)
      assert(p.age >= 21 && p.age <= 81)
      assert(p.outcome == 0 || p.outcome == 1)
    }
  }

  test("CSV shards carry the header, 1-decimal BMI and 3-decimal pedigree") {
    val shard = Corpus.shards(7, 1).head
    val lines = Corpus.csv(shard).split("\n").toSeq
    assert(lines.head == Corpus.Header)
    assert(lines.size == 1 + Corpus.ShardRows)
    val line = """\d+,\d+,\d+,\d+,\d+,\d+\.\d,\d\.\d{3},\d+,[01]""".r
    lines.tail.foreach(l => assert(line.matches(l), l))
    assert(lines(1) == shard.head.csvLine)
    assert(Patient(1, 2, 3, 4, 5, 336, 627, 50, 1).csvLine == "1,2,3,4,5,33.6,0.627,50,1")
  }

  test("embeddings are unit vectors") {
    Corpus.embeddings(5, 100, 64, 10).foreach { case (_, v, label) =>
      assert(math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
      assert(label >= 0 && label < 10)
    }
  }
}
