package perfbench

import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  test("doubles render as printf %.6e of the exact value, half-even") {
    // expected strings are Python's '%.6e' % v, which the DuckDB side uses
    Seq(5.2235295 -> "5.223529e+00", 0.5 -> "5.000000e-01",
      1e20 -> "1.000000e+20", -1234.5678 -> "-1.234568e+03",
      1e-300 -> "1.000000e-300", 2.5e-7 -> "2.500000e-07",
      0.1 + 0.2 -> "3.000000e-01", 123456.75 -> "1.234568e+05",
      9.9999995 -> "9.999999e+00", 9.99999999 -> "1.000000e+01",
      0.0 -> "0", -0.0 -> "0", Double.NaN -> "nan")
      .foreach { case (v, want) => assert(Fingerprint.canon(v) == want, v) }
  }

  test("values render type by type, nested values recursively") {
    assert(Fingerprint.canon(null) == "N")
    assert(Fingerprint.canon(true) == "t")
    assert(Fingerprint.canon(1799L) == "1799")
    assert(Fingerprint.canon(Seq(1, 2.5, "x")) == "[1,2.500000e+00,x]")
    assert(Fingerprint.canon(java.sql.Timestamp.valueOf("1970-01-01 00:00:01.000002")
      .toLocalDateTime) == "1000002")
  }

  test("the pinned fingerprints cover every pipeline query") {
    assert((Pipeline.Compute ++ Pipeline.Jobs).forall(q =>
      Fingerprints.pinned.get(q).exists(_.matches("[0-9]+:[0-9a-f]{16}"))))
  }
}
