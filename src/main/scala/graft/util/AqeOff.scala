package graft.util

import org.apache.spark.sql.SparkSession

/** Runs `body` with adaptive query execution off in `sess`, then restores
  * the session's previous setting, also when `body` throws. For fixed
  * scan → aggregate shapes, where adaptive staging only adds per-exchange
  * job scheduling that it can never improve; each caller says why its
  * shape is one.
  */
object AqeOff {
  def apply[A](sess: SparkSession)(body: => A): A = {
    val prev = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally sess.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
