package graft

import org.apache.spark.sql.SparkSession

/** The one reader for `spark.graft.*` switches and numbers, so every
  * knob parses the same way and fails loudly with its key named: a
  * switch is `true`/`false` in any case, a number a plain decimal whole
  * number in range; unset → the default (or None). A typo'd switch
  * (`pin=0`, `overlap=off`) must not silently run the other arm of an
  * A/B, and a typo'd number (`maxDeltaChain=4x`) must say which knob it
  * was. */
object Conf {

  def long(s: SparkSession, key: String): Option[Long] =
    number(s, key, _.toLongOption)

  def long(s: SparkSession, key: String, default: Long): Long =
    long(s, key).getOrElse(default)

  def int(s: SparkSession, key: String): Option[Int] =
    number(s, key, _.toIntOption)

  def int(s: SparkSession, key: String, default: Int): Int =
    int(s, key).getOrElse(default)

  private def number[A](s: SparkSession, key: String,
      parse: String => Option[A]): Option[A] =
    s.conf.getOption(key).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a whole number, got '$v'")))

  def flag(s: SparkSession, key: String, default: Boolean): Boolean =
    s.conf.getOption(key).fold(default) { v =>
      if (v.equalsIgnoreCase("true")) true
      else if (v.equalsIgnoreCase("false")) false
      else throw new IllegalArgumentException(
        s"$key must be true or false, got '$v'")
    }
}
