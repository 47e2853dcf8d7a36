package graft.core

/** Integer env knobs. A malformed or out-of-range value fails with an
  * error that names the knob, instead of surfacing later as an anonymous
  * `NumberFormatException` or Spark master/conf error. The env map is a
  * parameter so each knob's default and failure can be tested without
  * touching the process environment. */
object Env {

  def long(env: collection.Map[String, String], name: String, default: Long,
           min: Long = 0L, max: Long = Long.MaxValue): Long =
    env.get(name) match {
      case None => default
      case Some(raw) =>
        raw.trim.toLongOption.filter(v => v >= min && v <= max).getOrElse(
          throw new IllegalArgumentException(
            s"$name must be an integer in [$min, $max], got '$raw'"))
    }

  def int(env: collection.Map[String, String], name: String, default: Int,
          min: Int = 0): Int =
    long(env, name, default, min, Int.MaxValue).toInt
}
