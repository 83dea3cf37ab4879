package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The bench's JSON lines are parsed by machines: every formatted number
  * must keep a `.` decimal separator whatever the JVM's default locale. */
class BenchFormatSpec extends AnyFunSuite {

  test("bench JSON numbers use '.' under a comma-decimal default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      // the default-locale formatting this guards against
      assert(f"${1.5}%.3f" == "1,500")
      assert(Bench.fmtNum("%.3f", 1.5) == "1.500")
      assert(Bench.fmtNum("%.4g", 0.0123456) == "0.01235")
      assert(Bench.fmtNum("%.0f", 12345.6) == "12346")
      assert(Bench.fmtNum("%.4g", 12.3456) == "12.35")
    } finally Locale.setDefault(prev)
  }
}
