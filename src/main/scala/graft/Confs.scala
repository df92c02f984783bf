package graft

import org.apache.spark.sql.SparkSession

/** Temporary runtime-conf overrides on a shared session — the analogue
  * of a Hadoop program configuring its own `Job`, whose settings apply
  * to that job alone and never reach the next one.
  */
object Confs {

  /** The tiny-regime plumbing: one shuffle partition and no AQE
    * re-planning, for loops whose per-stage cost over single-partition
    * data is pure scheduling overhead.
    */
  val TinyRegime: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.adaptive.enabled" -> "false")

  /** Run `body` with `settings` applied to `spark`'s conf, then put
    * each key back as it was: its explicit value is set again, and a key
    * the session had no explicit value for is unset, so it falls back to
    * its default instead of pinning one. Restores on a throwing body
    * too.
    *
    * The overrides are session-wide while the body runs, so this relies
    * on queries running on the session one at a time, as every graft
    * driver does — a concurrent query on the same session would plan
    * under them.
    */
  def scoped[A](spark: SparkSession, settings: (String, String)*)(
      body: => A): A = {
    val explicit = spark.conf.getAll
    val saved = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
