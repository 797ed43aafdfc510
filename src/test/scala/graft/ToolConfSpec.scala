package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ToolConf

/** The probe mains' shared `SPARK_GRAFT_CONF` parser. */
class ToolConfSpec extends AnyFunSuite {
  test("parseConf splits key=value pairs and names a malformed entry") {
    assert(ToolConf.parseConf("a.b=1, c=x=y,") == Seq("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](ToolConf.parseConf("a=1,oops"))
    assert(e.getMessage.contains("'oops'"))
    intercept[IllegalArgumentException](ToolConf.parseConf("=v"))
  }
}
