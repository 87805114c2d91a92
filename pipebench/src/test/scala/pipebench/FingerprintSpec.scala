package pipebench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val rows = Seq(Row("a", 1L, 0.5), Row("b", 2L, null), Row("c", 3L, 1.0 / 3))

  test("row order does not matter") {
    assert(Fingerprint.of(rows) === Fingerprint.of(rows.reverse))
    assert(Fingerprint.of(rows)._1 === 3L)
  }

  test("a changed, missing or extra row does") {
    val base = Fingerprint.of(rows)
    assert(Fingerprint.of(rows.updated(1, Row("b", 2L, 0.0))) !== base)
    assert(Fingerprint.of(rows.tail) !== base)
    assert(Fingerprint.of(rows :+ rows.head) !== base)
  }

  test("doubles compare at six significant digits") {
    val sum1 = Seq(0.1, 0.2, 0.3).sum
    val sum2 = Seq(0.3, 0.2, 0.1).sum
    assert(sum1 != sum2) // re-associated floating-point sum
    assert(Fingerprint.of(Seq(Row(sum1))) === Fingerprint.of(Seq(Row(sum2))))
    assert(Fingerprint.of(Seq(Row(0.6))) !== Fingerprint.of(Seq(Row(0.6001))))
  }

  test("nested values are rendered canonically") {
    assert(Fingerprint.canonical(Row(Seq(1, 2), Map("b" -> 2, "a" -> 1), null)) ===
      "([1,2],{a->1,b->2},∅)")
    assert(Fingerprint.canonical(Array[Byte](1, -1)) === "0x01ff")
  }

  test("doubles render the same under a decimal-comma default locale") {
    val dot = Fingerprint.canonical(Row(1.0 / 3))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try assert(Fingerprint.canonical(Row(1.0 / 3)) === dot)
    finally java.util.Locale.setDefault(saved)
    assert(dot === "(0.333333)")
  }
}
