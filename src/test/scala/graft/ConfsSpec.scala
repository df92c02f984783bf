package graft

import graft.operators.{GraphOps, Similarity, TextOps}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** `Confs.scoped` restores a session's conf exactly: explicit values
  * come back, absent keys stay absent. Pinned for the helper itself, for
  * the operators that narrow the shuffle width inside it, and by a scan
  * that keeps new save/set/restore blocks out of `src/main`.
  */
class ConfsSpec extends SparkSpec {
  private val width = "spark.sql.shuffle.partitions"
  private val aqe = "spark.sql.adaptive.enabled"

  /** Run `body` with `key` absent from the session, then put back the
    * value it had.
    */
  private def withoutKey(key: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try body
    finally prev.foreach(spark.conf.set(key, _))
  }

  test("scoped: an explicit value is restored") {
    val prev = spark.conf.get(width)
    spark.conf.set(width, "3")
    try {
      Confs.scoped(spark, width -> "1")(())
      assert(spark.conf.getAll.get(width) === Some("3"))
    } finally spark.conf.set(width, prev)
  }

  test("scoped: a key that was absent is unset again") {
    withoutKey(aqe) {
      val before = spark.conf.getAll
      assert(!before.contains(aqe))
      Confs.scoped(spark, aqe -> "false")(())
      assert(spark.conf.getAll === before)
    }
  }

  test("scoped: the new values are visible inside the body") {
    val seen = Confs.scoped(spark, Confs.TinyRegime: _*) {
      (spark.conf.get(width), spark.conf.get(aqe),
        org.apache.spark.sql.graft.ColumnBridge.sqlConf(spark)
          .numShufflePartitions)
    }
    assert(seen === ("1", "false", 1))
  }

  test("scoped: everything is restored when the body throws") {
    withoutKey(aqe) {
      val before = spark.conf.getAll
      val err = intercept[IllegalStateException] {
        Confs.scoped(spark, width -> "1", aqe -> "false") {
          throw new IllegalStateException("boom")
        }
      }
      assert(err.getMessage === "boom")
      assert(spark.conf.getAll === before)
    }
  }

  test("tiny-regime operators leave a session without an explicit shuffle width as they found it") {
    val s = spark
    import s.implicits._
    // each input is new to this spec, so every operator's memo misses
    // and its tiny scope runs
    val chain = (500000L until 500040L).map(i => (i, i + 1L)).toDF("src", "dst")
    val emb = spark.range(300L).select(col("id").as("vec_id"),
      array((1 to 8).map(j => sin(col("id") * j).cast("float")): _*)
        .as("embedding"))
    val graph = Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val docs = spark.range(400L).select(col("id").as("doc_id"),
      concat_ws(" ", Seq(17, 5, 29).map(m =>
        concat(lit("w"), (col("id") % m).cast("string"))): _*).as("text"))
    val dir = Files.createTempDirectory("graft_confs_delta").toString
    TextOps.postingsIndex(docs.filter(col("doc_id") % 7 =!= 3))
      .write.parquet(dir + "/idx")
    val stored = spark.read.parquet(dir + "/idx")
    val batch = docs.filter(col("doc_id") % 7 === 3)
    withoutKey(width) {
      def unchanged(what: String)(run: => Long): Unit = {
        val before = spark.conf.getAll
        assert(!before.contains(width))
        assert(run > 0L, s"$what returned no rows")
        assert(spark.conf.getAll === before, s"$what changed the conf")
      }
      unchanged("hopDistances") {
        SmallInput.scoped(0L)(GraphOps.hopDistances(chain,
          Seq(500000L).toDF("v"), 20, hopStride = 4)).count()
      }
      unchanged("knnBeamShared") {
        Similarity.knnBeamShared(graph, emb, emb).count()
      }
      unchanged("postingsDelta") {
        TextOps.postingsDelta(stored, batch).count()
      }
    }
  }

  test("src/main sets or unsets conf only in Confs and Tables.events") {
    val Writes = """\.conf\.(set|unset)\(""".r
    val hits = SourceScan.mainSources.flatMap { case (file, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if Writes.findFirstIn(line).isDefined =>
          (file, i + 1, line.trim)
      }.toList
    }
    val stray = hits.filterNot { case (file, _, line) =>
      file == "Confs.scala" ||
        (file == "Tables.scala" &&
          line.contains("\"spark.sql.legacy.parquet.nanosAsLong\""))
    }
    assert(stray.isEmpty,
      "temporary conf overrides go through Confs.scoped: " +
        stray.map { case (f, n, l) => s"$f:$n $l" }.mkString("; "))
    assert(hits.exists(_._1 == "Confs.scala"))
  }
}
