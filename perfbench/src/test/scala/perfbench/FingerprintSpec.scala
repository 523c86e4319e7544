package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  test("floats to 6 decimals, NULL and NaN alike, booleans as selfcheck prints them") {
    assert(Fingerprint.canon(1.0 / 3) == "0.333333")
    assert(Fingerprint.canon(2.5f) == "2.500000")
    assert(Fingerprint.canon(null) == "NULL")
    assert(Fingerprint.canon(Double.NaN) == "NULL")
    assert(Fingerprint.canon(true) == "True")
    assert(Fingerprint.canon(42L) == "42")
    assert(Fingerprint.canon(new java.math.BigDecimal("1E+3")) == "1000")
  }

  test("numeric array elements to 5 decimals, other elements canonical") {
    assert(Fingerprint.canon(Seq(1, 2.5, 1.0 / 3)) == "[1.00000,2.50000,0.33333]")
    assert(Fingerprint.canon(Seq("a", null)) == "[a,NULL]")
    assert(Fingerprint.canon(Seq.empty) == "[]")
  }

  test("timestamps in UTC, fraction only when present, dates at midnight") {
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:20:30Z"))
    assert(Fingerprint.canon(t) == "2024-03-01 10:20:30")
    val f = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:20:30.000250Z"))
    assert(Fingerprint.canon(f) == "2024-03-01 10:20:30.000250")
    assert(Fingerprint.canon(java.time.LocalDate.parse("2024-03-01")) == "2024-03-01 00:00:00")
  }

  test("row order and column order do not change the print; values do") {
    val a = Fingerprint.of(Seq("x", "y"), Seq(Row(1, "a"), Row(2, "b")))
    val b = Fingerprint.of(Seq("x", "y"), Seq(Row(2, "b"), Row(1, "a")))
    val c = Fingerprint.of(Seq("y", "x"), Seq(Row("a", 1), Row("b", 2)))
    val d = Fingerprint.of(Seq("x", "y"), Seq(Row(1, "a"), Row(2, "c")))
    assert(a == b && a == c)
    assert(a.rows == 2 && a != d)
  }

  test("float noise below the 6th decimal does not change the print") {
    val a = Fingerprint.of(Seq("v"), Seq(Row(0.1 + 0.2)))
    val b = Fingerprint.of(Seq("v"), Seq(Row(0.3)))
    assert(a == b)
  }
}
