package graft

import graft.cli._
import graft.operators.GraphOps
import graft.sources.Tables
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files

/** End-to-end runs of the four reference-equivalent CLI programs on a
  * golden edges.csv (tri3 + a duplicate edge — FIXTURES.md §4).
  */
class CliSpec extends SparkSpec {

  def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  lazy val edgesCsv: String = {
    val dir = tempDir("graft-edges")
    // reference format: src,dst — ids small enough for every MAX filter
    Files.writeString(java.nio.file.Paths.get(s"$dir/edges.csv"),
      "1,2\n2,3\n3,1\n1,2\n")
    s"$dir/edges.csv"
  }

  def readTsv(dir: String): Seq[Array[String]] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .map(_.split("\t")).toSeq
  }

  /** Run a CLI program's `main` and return what it printed to stdout —
    * its counter line.
    */
  def printed(run: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf, true))(run)
    buf.toString.trim
  }

  test("ExactCardinalityApp writes per-vertex counts and prints total") {
    spark // ensure shared session exists before app calls getOrCreate
    val out = tempDir("graft-exact")
    val line = printed(ExactCardinalityApp.main(Array(edgesCsv, out)))
    val rows = readTsv(out).map(r => r(0).toLong -> r(1).toLong).toMap
    // degrees: v1 in=1(3→1) out=2(dups), v2 in=2 out=1, v3 in=1 out=1
    assert(rows === Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    // the counter is the sum over the relation the program wrote
    assert(line === "CARDINALITY.COUNT:5")
    assert(rows.values.sum === 5L)
  }

  test("SocialTriangleRSApp with intermediate dir writes triples and count") {
    val mid = tempDir("graft-mid")
    val out = tempDir("graft-rs")
    val line = printed(SocialTriangleRSApp.main(Array(edgesCsv, mid, out)))
    assert(readTsv(out).map(_(0).toLong) === Seq(2L)) // 6/3 with dup edge
    assert(line === "TRIANGLECOUNT.COUNT:2")
    import scala.jdk.CollectionConverters._
    val triples = Files.list(java.nio.file.Paths.get(mid)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(triples.size === 5) // 2+1+2 with the duplicated 1→2
  }

  test("ReplicatedJoinApp counts with EXISTS closing-edge semantics") {
    val out = tempDir("graft-rep")
    val line = printed(ReplicatedJoinApp.main(Array(edgesCsv, out)))
    assert(readTsv(out).map(_(0).toLong) === Seq(1L)) // 5/3 = 1
    assert(line === "CARDINALITY.finalCount:1")
  }

  test("PipelineApp writes all seven relations with a consistent survivor set") {
    spark
    val out = tempDir("graft-pipeline")
    val input = "/root/testdata/sf0.001/documents.parquet"
    def run(): Unit = graft.cli.PipelineApp.main(Array(input, out))
    val line = printed(run())
    val names = Seq("tokens", "quality", "langid", "dedup_exact",
      "neardup_pairs", "dup_clusters", "survivors")
    names.foreach { n =>
      assert(spark.read.parquet(s"$out/$n").count() > 0, n)
    }
    val docs = spark.read.parquet(s"$out/tokens").count()
    val survivors = spark.read.parquet(s"$out/survivors").count()
    val clusters = spark.read.parquet(s"$out/dup_clusters")
    val losers = clusters.filter("doc_id != cluster_id").count()
    assert(survivors === docs - losers)
    // both printed counts are observed during writes (quality, survivors)
    assert(line === s"PIPELINE.DOCS:$docs PIPELINE.SURVIVORS:$survivors")
    assert(line.startsWith(s"PIPELINE.DOCS:${spark.read.parquet(input).count()} "))
    // cache discipline: the end-to-end pipeline must not leak persisted
    // blocks into the (shared, long-lived) session — beyond the
    // PlanMemo checkpoints, which are session-lived BY DESIGN and
    // release on demand (the audit drains them first)
    graft.PlanMemo.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked persistent RDDs: ${spark.sparkContext.getPersistentRDDs.size}")
  }

  test("Caches.clear releases graft caches but NEVER a host session's own") {
    val s = spark
    import s.implicits._
    val hostDf = Seq((1L, "host")).toDF("id", "tag")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hostDf.count()
    // a graft operator that persists internally (tracked)
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    graft.operators.Dedup.ngramJaccard(docs).count()
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll() // memo checkpoints are session-lived, not leaked
    // the host's cache survives; graft's tracked caches are gone
    assert(hostDf.storageLevel.useMemory, "host cache was evicted")
    assert(spark.sparkContext.getPersistentRDDs.size === 1,
      s"expected only the host cache, got ${spark.sparkContext.getPersistentRDDs.size}")
    hostDf.unpersist(blocking = false)
  }

  test("Caches.scoped isolates a lease from clear() and releases on exit") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    graft.Caches.scoped {
      graft.operators.Dedup.ngramJaccard(docs).count()
      // caches are leased to THIS scope: a concurrent consumer's
      // clear() (default lease) must not unpersist them
      graft.Caches.clear(spark)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        "scoped caches were drained by a foreign clear()")
    }
    // scope exit released everything it tracked (memo checkpoints are
    // session-lived by design — drain them before the audit)
    graft.PlanMemo.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"scoped lease leaked: ${spark.sparkContext.getPersistentRDDs.size}")
  }

  test("writeTsv with empty separator concatenates columns (R:128 parity)") {
    val s = spark
    import s.implicits._
    val out = tempDir("graft-emptysep")
    graft.cli.CliSupport.writeTsv(
      Seq((7L, 21L)).toDF("vertex", "paths"), out, sep = "")
    import scala.jdk.CollectionConverters._
    val lines = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(lines === Seq("721")) // key and value, no separator between
  }

  test("ApproxCardinalityApp filters above MAX") {
    val dir = tempDir("graft-edges-big")
    Files.writeString(java.nio.file.Paths.get(s"$dir/edges.csv"),
      "1,2\n2,1\n9999999,1\n") // third edge dropped by MAX=7,812,500
    val out = tempDir("graft-approx")
    val line = printed(ApproxCardinalityApp.main(Array(s"$dir/edges.csv", out)))
    val rows = readTsv(out).map(r => r(0).toLong -> r(1).toLong).toMap
    assert(rows === Map(1L -> 1L, 2L -> 1L))
    assert(line === "CARDINALITY.COUNT:2")
    assert(rows.values.sum === 2L)
  }

  test("every CLI program prints a 0 counter and writes its output on empty input") {
    spark
    val dir = tempDir("graft-edges-empty")
    val empty = s"$dir/edges.csv"
    Files.writeString(java.nio.file.Paths.get(empty), "")
    def ran(main: Array[String] => Unit, counter: String): Seq[Array[String]] = {
      val out = tempDir("graft-empty-out")
      // the observed total must arrive (not hang) when the relation is empty
      assert(printed(main(Array(empty, out))) === s"$counter:0")
      assert(Files.exists(java.nio.file.Paths.get(s"$out/_SUCCESS")), counter)
      readTsv(out)
    }
    assert(ran(ExactCardinalityApp.main, "CARDINALITY.COUNT").isEmpty)
    assert(ran(ApproxCardinalityApp.main, "CARDINALITY.COUNT").isEmpty)
    assert(ran(SocialTriangleRSApp.main, "TRIANGLECOUNT.COUNT")
      .map(_(0).toLong) === Seq(0L))
    assert(ran(ReplicatedJoinApp.main, "CARDINALITY.finalCount")
      .map(_(0).toLong) === Seq(0L))
  }

  test("the CLI splits its edge scan across every core, counts unchanged, host conf restored") {
    spark
    val dir = tempDir("graft-edges-split")
    val path = s"$dir/edges.csv"
    // ~100k deterministic edges, ~1.1 MB: under the 4 MiB default split
    // floor, so a host session reads it as one partition
    val rnd = new scala.util.Random(7)
    Files.writeString(java.nio.file.Paths.get(path),
      Seq.fill(100000)(s"${rnd.nextInt(20000)},${rnd.nextInt(20000)}\n").mkString)
    val bytes = Files.size(java.nio.file.Paths.get(path))
    assert(bytes > 1000000L && bytes < 4L * 1024 * 1024, bytes)
    // getOrCreate also writes the non-modifiable app name; only the
    // runtime-modifiable settings are the host's to keep
    def hostConf = spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) }
    val width = "spark.sql.shuffle.partitions"
    val hostWidth = spark.conf.get(width)
    var inside = (0, 0)
    // a host width the CLI overrides: it must come back, not the CLI's
    spark.conf.set(width, "1")
    try {
      val before = hostConf
      CliSupport.withSession("split-check") { s =>
        inside = (Tables.edgesCsv(s, path).rdd.getNumPartitions,
          s.sparkContext.defaultParallelism)
      }
      // the host's settings are as before the call (the split floor unset)
      assert(hostConf === before)
    } finally spark.conf.set(width, hostWidth)
    assert(inside === (4, 4))
    // so the host reads the file as one split
    val e = Tables.edgesCsv(spark, path)
    assert(e.rdd.getNumPartitions === 1)
    def counter(main: Array[String] => Unit): Long =
      printed(main(Array(path, tempDir("graft-split-out")))).split(":")(1).toLong
    val paths = singleLong(GraphOps.path2Total(e))
    val rs = singleLong(GraphOps.trianglesRS(e, SocialTriangleRSApp.Max))
    val rep = singleLong(GraphOps.trianglesRep(e, ReplicatedJoinApp.Max))
    assert(rs > 0 && rep > 0, s"fixture has no triangles: rs=$rs rep=$rep")
    assert(counter(ExactCardinalityApp.main) === paths)
    assert(counter(SocialTriangleRSApp.main) === rs)
    assert(counter(ReplicatedJoinApp.main) === rep)
    graft.Caches.clear(spark)
  }

  test("each CLI program runs its plan once: root SQL executions per run") {
    spark
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        runs.incrementAndGet()
    }
    def executions(main: Array[String] => Unit): Int = {
      ColumnBridge.waitListeners(spark)
      runs.set(0)
      printed(main(Array(edgesCsv, tempDir("graft-exec-out"))))
      ColumnBridge.waitListeners(spark)
      runs.get
    }
    spark.listenerManager.register(listener)
    try {
      // the output write, which also yields the printed counter
      assert(executions(ExactCardinalityApp.main) === 1)
      assert(executions(ApproxCardinalityApp.main) === 1)
      assert(executions(SocialTriangleRSApp.main) === 1)
      assert(executions(ReplicatedJoinApp.main) === 1)
    } finally spark.listenerManager.unregister(listener)
  }
}
