package graft

/** Dev smoke runner: exercises SparkEntry.entry exactly like the driver's
  * t1 gate (rows > 0 on sf0.001). `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.sessionBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"ENTRY_ROWS=${rows.length} FIRST=${rows.headOption.getOrElse("<none>")}")
    // SQL surface: runtime function registration on an existing session
    graft.plans.GraftSql.register(spark)
    val h = spark.sql("SELECT poly_hash('abc') AS h").collect()(0).getLong(0)
    println(s"SQL_POLY_HASH=$h")
    spark.stop()
  }
}
