package graft

import org.apache.spark.sql.SparkSession

/** Runs `body` with `settings` on the shared session, then restores
  * each key's previous value or unsets it: all specs share one
  * session, so a setting one spec needs must not outlive its body. */
object WithConf {
  def apply[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
