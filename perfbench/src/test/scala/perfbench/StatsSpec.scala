package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile refuses a percentile with fewer than ten samples beyond it") {
    val e = intercept[IllegalArgumentException](Stats.percentile((1 to 99).map(_.toDouble), 90))
    assert(e.getMessage.contains("only 9 beyond"))
    assert(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90.0))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("fingerprints ignore row order and last-bit float noise, not real changes") {
    import org.apache.spark.sql.Row
    val a = Array(Row(1, 0.1 + 0.2, "x"), Row(2, 1.5, null))
    val b = Array(Row(2, 1.5, null), Row(1, 0.3, "x"))
    assert(Fingerprint.ofRows(Seq("k", "v", "s"), a) == Fingerprint.ofRows(Seq("k", "v", "s"), b))
    val c = Array(Row(2, 1.5, null), Row(1, 0.3001, "x"))
    assert(Fingerprint.ofRows(Seq("k", "v", "s"), a) != Fingerprint.ofRows(Seq("k", "v", "s"), c))
    val p = Fingerprint.ofRows(Seq("k"), Array(Row(1)))
    assert(Fingerprint.parse(p.toString) == p)
  }
}
