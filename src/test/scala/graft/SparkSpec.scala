package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (lazy, forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Build an edge DataFrame from literal (src, dst) pairs. */
  def edgeDf(pairs: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("src", "dst")
  }

  def singleLong(df: DataFrame): Long = df.collect()(0).getLong(0)

  /** Run `body` with every small-input gate forced to `limit` (0: the
    * distributed loops; `SmallInput.Cap`: every twin), or at the
    * operators' own bounds when `limit` is `None`.
    */
  def atLimit[A](limit: Option[Long])(body: => A): A =
    limit.fold(body)(SmallInput.scoped(_)(body))
}
