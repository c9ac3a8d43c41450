package graft

import org.apache.spark.sql.SparkSession

/** The one reader for boolean `spark.graft.*` switches, so every switch
  * parses the same way: `true`/`false` in any case; unset → `default`;
  * anything else fails loudly with the key named — a typo'd switch
  * (`pin=0`, `overlap=off`) must not silently run the other arm of an
  * A/B. */
object Conf {

  def flag(s: SparkSession, key: String, default: Boolean): Boolean =
    s.conf.getOption(key).fold(default) { v =>
      if (v.equalsIgnoreCase("true")) true
      else if (v.equalsIgnoreCase("false")) false
      else throw new IllegalArgumentException(
        s"$key must be true or false, got '$v'")
    }
}
