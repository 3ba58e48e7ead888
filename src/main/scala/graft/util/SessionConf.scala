package graft.util

import org.apache.spark.sql.SparkSession

object SessionConf {
  /** Run `body` with each `key -> value` set on the session, then put back
    * what each key held before (unset if it held nothing). A streaming
    * query reads its confs when it starts, so `body` starts the query. */
  def scoped[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
