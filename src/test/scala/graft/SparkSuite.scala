package graft

import org.apache.spark.sql.SparkSession

/** The test JVM's one Spark session, shared by every suite that mixes this
  * in: the engine's own `local[4]` session, so suites run under the settings
  * the entry points run with. A suite that needs a different setting applies
  * it through [[withConf]], never through a builder — a builder on the
  * shared session would silently change it for every suite that runs after.
  */
trait SparkSuite {

  lazy val spark: SparkSession = core.Engine.session("local[4]")

  /** Apply SQL confs for the duration of `body`, restoring the previous
    * value (or unsetting) afterwards. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
