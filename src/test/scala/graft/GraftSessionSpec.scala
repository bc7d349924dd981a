package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session's integer knobs (`SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_LIMIT_INITIAL`) accept only positive ints, and a bad value
  * fails with a message that names the variable rather than deep inside
  * Spark or a driver-local thread pool.
  */
class GraftSessionSpec extends AnyFunSuite {
  test("positiveInt: unset takes the default, a positive int is read as is") {
    assert(GraftSession.positiveInt("SPARK_GRAFT_CPUS", None, 32) == 32)
    assert(GraftSession.positiveInt("SPARK_GRAFT_CPUS", Some("4"), 32) == 4)
    assert(GraftSession.positiveInt("SPARK_GRAFT_CPUS", Some(" 8 "), 32) == 8)
  }

  test("positiveInt: zero, negative, fractional and non-numeric values fail naming the variable") {
    Seq("0", "-2", "3.5", "four", "", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.positiveInt("SPARK_GRAFT_LIMIT_INITIAL", Some(v), 32))
      assert(e.getMessage.contains("SPARK_GRAFT_LIMIT_INITIAL"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("cpus and limitInitial are the parsed environment") {
    val expected = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)
    assert(GraftSession.cpus == expected)
    assert(GraftSession.limitInitial ==
      sys.env.get("SPARK_GRAFT_LIMIT_INITIAL").fold(expected)(_.trim.toInt))
  }
}
