package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("a throwing operation is counted as failed, by exception class, and never timed") {
    val ops = new Ops
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    ops.timed("ok")(42).foreach { case (v, s) => assert(v == 42); samples += s }
    ops.timed("boom")(throw new IllegalStateException("injected")).foreach(samples += _._2)
    ops.timed("boom", "setup")(throw new ArithmeticException("warm-up")).foreach(samples += _._2)
    assert(samples.length == 1, "only the operation that returned may yield a timing")
    assert(ops.attempted == 3)
    assert(ops.failed == 2)
    assert(math.abs(ops.failedShare - 2.0 / 3) < 1e-12)
    assert(ops.failures == Map(
      "timed:boom:java.lang.IllegalStateException" -> ((1L, "injected")),
      "setup:boom:java.lang.ArithmeticException" -> ((1L, "warm-up"))))
  }

  test("the run interruption path is not swallowed as a failure") {
    val ops = new Ops
    assertThrows[InterruptedException](ops.timed("x")(throw new InterruptedException))
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("fingerprints ignore row order and see every value") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("b", DoubleType), StructField("a", LongType)))
    val rows = Array(Row(1.5, 1L), Row(-0.0, 2L))
    val p = Fingerprint.of(schema, rows)
    assert(p == Fingerprint.of(schema, rows.reverse))
    assert(p.rows == 2)
    assert(p != Fingerprint.of(schema, Array(Row(1.5, 1L), Row(0.25, 2L))))
    assert(Fingerprint.canon(0.1f) == Fingerprint.canon(0.1f.toDouble))
    assert(Fingerprint.canon(new java.math.BigDecimal("1.50")) == "d1.5")
  }

  test("seeded draws repeat for a seed and differ across seeds") {
    val a = Gen.draws(7L, 1, 2, 40, 0.5, zipfN = 100)
    assert(a == Gen.draws(7L, 1, 2, 40, 0.5, zipfN = 100))
    assert(a != Gen.draws(8L, 1, 2, 40, 0.5, zipfN = 100))
    assert(Gen.passOrder(7L, 0).sorted == Gen.MixQueries.sorted)
    assert(Gen.passOrder(7L, 0) != Gen.passOrder(7L, 1))
  }

  test("every window of draws has the same make-up") {
    val a = Gen.draws(7L, 1, 3, 40, 0.5, zipfN = 100)
    assert(a.map(_.i) == (0 until 120))
    a.grouped(40).foreach { w =>
      assert(Gen.KindDeck.forall { case (k, n) => w.count(_.kind == k) == 4 * n })
      assert(w.count(_.novel) == 6 && w.count(_.recent) == 16)
      assert(!w.exists(d => d.kind == "ivf" && (d.novel || d.recent)))
    }
  }
}
