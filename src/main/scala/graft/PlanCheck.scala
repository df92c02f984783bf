package graft
/** Dev tool: dump formatted physical plans for the queries whose shape
  * matters at scale (pushdown, join strategy, codegen spans).
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("path2_approx_total", "triangles_rs", "triangles_rep", "dedup_minhash")
    val spark = SparkEntry.sessionBuilder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
