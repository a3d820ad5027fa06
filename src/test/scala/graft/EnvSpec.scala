package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared `SPARK_GRAFT_*` numeric parser: defaults, bounds, and a
  * failure message that names the variable. */
class EnvSpec extends AnyFunSuite {

  private def parse(raw: Option[String], min: Long = 1L,
                    max: Long = Long.MaxValue): Long =
    Env.parse("SPARK_GRAFT_X", raw, 7L, min, max)

  test("env: unset takes the default; set values parse, trimmed") {
    assert(parse(None) === 7L)
    assert(parse(Some("42")) === 42L)
    assert(parse(Some(" 16000000 ")) === 16000000L)
    assert(parse(Some("0"), min = 0L) === 0L)
  }

  test("env: malformed or out-of-range values fail naming the variable") {
    for ((raw, min, max) <- Seq(("abc", 1L, Long.MaxValue),
        ("", 1L, Long.MaxValue), ("1.5", 1L, Long.MaxValue),
        ("0", 1L, Long.MaxValue), ("-3", 0L, Long.MaxValue),
        ("3000000000", 1L, Int.MaxValue.toLong))) {
      val e = intercept[IllegalArgumentException](
        parse(Some(raw), min, max))
      assert(e.getMessage.contains("SPARK_GRAFT_X"), e.getMessage)
      assert(e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }

  test("env: unset variables read through int/long take their defaults") {
    assert(Env.long("SPARK_GRAFT_UNSET_FOR_SPEC", 5L) === 5L)
    assert(Env.int("SPARK_GRAFT_UNSET_FOR_SPEC", 3, min = 0) === 3)
  }
}
