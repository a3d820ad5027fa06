package graft

/** The one parser for numeric `SPARK_GRAFT_*` environment knobs (size
  * bars, core counts, bench reps and budgets). An unset variable takes
  * its default; a malformed or out-of-range value fails fast with a
  * message naming the variable, instead of a bare NumberFormatException
  * or an opaque ExceptionInInitializerError out of an object's bar. */
object Env {

  /** `name` as a positive long, or `default` if unset. */
  def long(name: String, default: Long): Long =
    parse(name, sys.env.get(name), default, 1L, Long.MaxValue)

  /** `name` as an int in [min, Int.MaxValue], or `default` if unset. */
  def int(name: String, default: Int, min: Int = 1): Int =
    parse(name, sys.env.get(name), default, min, Int.MaxValue).toInt

  /** Parse `raw` (the variable's value, if set) for [[long]]/[[int]]. */
  private[graft] def parse(name: String, raw: Option[String], default: Long,
                           min: Long, max: Long): Long = raw match {
    case None => default
    case Some(v) =>
      val parsed = scala.util.Try(v.trim.toLong).toOption
      require(parsed.exists(p => p >= min && p <= max),
        s"$name must be an integer in [$min, $max], got '$v'")
      parsed.get
  }
}
