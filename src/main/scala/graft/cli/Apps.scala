package graft.cli

import graft.operators.GraphOps
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Drop-in command-line equivalents of the reference's four programs —
  * same inputs (edges.csv, comma-separated, no header), same constants,
  * same outputs (tab-separated text like the reference's
  * TextOutputFormat, SNK1; the "counter" totals printed to stdout,
  * SNK3), so a user of the reference can switch by swapping
  * `hadoop jar … join.X in out` for `… graft.cli.XApp in out`.
  *
  * Each printed total is an observed metric of the program's single
  * output pass ([[CliSupport.writeObserved]]) — the Hadoop-counter
  * analogue: the reference increments its counters inside the pass that
  * writes the output, and so does this, instead of re-running the plan
  * with a second query just to print the number.
  *
  * Reference programs (see SURVEY.md §3):
  *   - ExactCardinality.java   → ExactCardinalityApp
  *   - ApproxCardinality.java  → ApproxCardinalityApp (MAX=7,812,500, <)
  *   - SocialTriangle_RS.java  → SocialTriangleRSApp (MAX=50,000, <)
  *   - ReplicatedJoinDriver.java → ReplicatedJoinApp (MAX=40,000, <=)
  */
object CliSupport {
  /** Split-size floor of a CLI input scan (`spark.sql.files.openCostInBytes`).
    * Spark cuts a file into splits of `min(maxPartitionBytes, max(openCost,
    * bytes/cores))`, so at this floor the bytes-per-core term decides for
    * any input above 64 KiB x cores. 64 KiB of CSV parses in about the
    * fixed cost of one local task; inputs past 128 MiB per core split as
    * before.
    */
  private val ScanSplitFloorBytes: Long = 64L * 1024

  /** Create (or reuse) a session, run the body, and stop the session
    * only if this call created it — `getOrCreate` inside an existing
    * JVM (tests, notebooks) must not tear down the host's session.
    *
    * The session splits a text input into one scan task per core
    * ([[ScanSplitFloorBytes]]), where Spark's 4 MiB default split floor
    * ran a file smaller than cores x 4 MiB in fewer tasks than cores.
    *
    * The runtime settings (shuffle width, split floor, AQE) apply for
    * the body only ([[graft.Confs.scoped]]), so a CLI run leaves a
    * reused host session's shuffle width and split policy as it found
    * them.
    */
  def withSession(app: String)(body: SparkSession => Unit): Unit = {
    val host = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .appName(app)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try graft.Confs.scoped(spark,
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.files.openCostInBytes" -> ScanSplitFloorBytes.toString,
        "spark.sql.adaptive.enabled" -> "true")(body(spark))
    finally if (host.isEmpty) spark.stop()
  }

  /** Text sink with a configurable separator — the reference's
    * TextOutputFormat: "\t" for the cardinality jobs
    * (ExactCardinality.java:92) and "" (key and value simply
    * concatenated) for the replicated join's output
    * (ReplicatedJoinDriver.java:128). Spark's CSV writer requires a
    * 1-char separator, so the empty-separator variant concatenates the
    * columns into one text column — byte-identical to the reference's
    * "" TextOutputFormat lines.
    */
  def writeTsv(df: DataFrame, path: String, sep: String = "\t"): Unit =
    if (sep.isEmpty)
      df.select(concat_ws("",
          df.columns.map(c => col(c).cast("string")): _*).as("value"))
        .write.mode("overwrite").text(path)
    else df.write.mode("overwrite").option("sep", sep).csv(path)

  /** Run `write` over `df` and return `metric` (an aggregate, null → 0)
    * computed over the rows that write produced — in the same pass, the
    * way the reference increments a Hadoop counter while it emits
    * output. The `Observation` is collected by the write's own result
    * stage (accumulator updates apply once per partition), so the plan
    * runs once; `get` blocks until the write's completion event
    * delivers the value.
    */
  def writeObserved(df: DataFrame, metric: Column)(
      write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, coalesce(metric, lit(0L)).as("total")))
    obs.get("total").asInstanceOf[Long]
  }
}

/** Per-vertex and global length-2 path counts, unfiltered
  * (ExactCardinality.java). Output rows: vertex \t m*n; global total on
  * stdout (the reference's Hadoop counter, E:105-109), observed during
  * the per-vertex write.
  */
object ExactCardinalityApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ExactCardinalityApp <edges.csv> <outDir>")
    CliSupport.withSession("ExactCardinality") { spark =>
      val e = Tables.edgesCsv(spark, args(0))
      // sum(paths) over the written relation is path2Total's expression
      val total = CliSupport.writeObserved(GraphOps.path2PerVertex(e),
        sum("paths"))(CliSupport.writeTsv(_, args(1)))
      println(s"CARDINALITY.COUNT:$total")
    }
  }
}

/** Same with the reference's max-id predicate (ApproxCardinality.java:
  * 24,46 — strict <, MAX=7,812,500).
  */
object ApproxCardinalityApp {
  val Max = 7812500L
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ApproxCardinalityApp <edges.csv> <outDir>")
    CliSupport.withSession("ApproxCardinality") { spark =>
      val e = GraphOps.filterMaxId(Tables.edgesCsv(spark, args(0)), Max)
      val total = CliSupport.writeObserved(GraphOps.path2PerVertex(e),
        sum("paths"))(CliSupport.writeTsv(_, args(1)))
      println(s"CARDINALITY.COUNT:$total")
    }
  }
}

/** Triangle count via the reduce-side pipeline (SocialTriangle_RS.java,
  * MAX=50,000 strict). The reference's 3-arg form materializes 2-path
  * triples to an intermediate dir between its two jobs (SNK2); Spark's
  * lazy DAG makes that unnecessary, but when the intermediate dir is
  * given we still write the triples there (as `x,y,z` CSV) for drop-in
  * parity. The answer goes to stdout as count/3 (S:241-242) and to
  * <outDir> as a 1-row relation.
  */
object SocialTriangleRSApp {
  val Max = 50000L
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: SocialTriangleRSApp <edges.csv> [<intermediateDir>] <outDir>")
    CliSupport.withSession("SocialTriangle_RS") { spark =>
      val e = Tables.edgesCsv(spark, args(0))
      if (args.length == 3) {
        GraphOps.path2Triples(GraphOps.filterMaxId(e, Max))
          .write.mode("overwrite").csv(args(1))
      }
      val triangles = CliSupport.writeObserved(GraphOps.trianglesRS(e, Max),
        sum("triangles"))(CliSupport.writeTsv(_, args.last))
      println(s"TRIANGLECOUNT.COUNT:$triangles")
      graft.Caches.clear(spark)
    }
  }
}

/** Triangle count via the replicated/broadcast strategy
  * (ReplicatedJoinDriver.java, MAX=40,000 inclusive, EXISTS-semantics
  * closing edge). Answer on stdout as count/3 (R:149-152).
  */
object ReplicatedJoinApp {
  val Max = 40000L
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ReplicatedJoinApp <edges.csv> <outDir>")
    CliSupport.withSession("ReplicatedJoin") { spark =>
      val e = Tables.edgesCsv(spark, args(0))
      // the reference sets the output separator to "" (R:128)
      val triangles = CliSupport.writeObserved(GraphOps.trianglesRep(e, Max),
        sum("triangles"))(CliSupport.writeTsv(_, args(1), sep = ""))
      println(s"CARDINALITY.finalCount:$triangles")
      graft.Caches.clear(spark)
    }
  }
}

/** Training-data pipeline entry point over a documents parquet: text
  * stats + all dedup signals + resolved duplicate clusters, one output
  * dir per relation. `runMain graft.cli.PipelineApp <documents.parquet>
  * <outDir>`.
  */
object PipelineApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PipelineApp <documents.parquet> <outDir>")
    CliSupport.withSession("graft-pipeline") { spark =>
      val docs = spark.read.parquet(args(0))
      val out = args(1)
      def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
        df.write.mode("overwrite").parquet(s"$out/$name")
      w(graft.operators.TextOps.tokenCounts(docs), "tokens")
      // quality is one row per document: its write also counts the input
      val nDocs = CliSupport.writeObserved(
        graft.operators.TextOps.quality(docs), count(lit(1)))(w(_, "quality"))
      w(graft.operators.TextOps.langId(docs), "langid")
      val exact = graft.operators.Dedup.exact(docs)
      w(exact, "dedup_exact")
      // near-dedup runs on EXACT-dedup survivors: on duplicate-heavy
      // corpora exact copies otherwise flood every LSH bucket (the
      // standard exact-then-near pipeline order)
      val exactSurvivors = docs.join(
        exact.select("doc_id"), Seq("doc_id"), "left_semi")
      val pairs = graft.operators.Dedup.minhashLsh(exactSurvivors)
      w(pairs, "neardup_pairs")
      val clusters = graft.operators.Dedup.dupClusters(pairs)
      w(clusters, "dup_clusters")
      val survivors = graft.operators.Dedup.nearDupSurvivors(exactSurvivors,
        clusters)
      val kept = CliSupport.writeObserved(survivors, count(lit(1)))(
        w(_, "survivors"))
      println(s"PIPELINE.DOCS:$nDocs PIPELINE.SURVIVORS:$kept")
      // the dedup operators persisted their internal relations (shingle
      // hashes, band tables, cluster labels) for reuse across the steps
      // above — release them all now that every output is materialized
      graft.Caches.clear(spark)
    }
  }
}
