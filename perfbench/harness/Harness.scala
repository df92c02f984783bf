package perfbench

import graft.{Caches, SparkEntry}
import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.SparkSession

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one `local[N]` session and one driver thread
  * that issues a workload's operations back to back through the engine's
  * public API.
  *
  * {{{
  * perfbench.Harness --ops <ops.tsv> --out <dir> --cores N --seconds S
  *                   --trace 0|1 --setups K
  * }}}
  *
  * `ops.tsv` lists one operation per line, tab-separated:
  *   - `app <label> <main class> <arg>...`: a `graft.cli` program's `main`;
  *   - `gate <label> <query name> <table dir>`: `SparkEntry.queries(name)`
  *     built on the tables, then `count()`.
  *
  * The whole list is one pass. The first pass is the cold one; passes
  * repeat until S seconds have gone by, with at least two warm passes. With
  * `--trace 1` the cold pass and the odd warm passes run under the
  * tracer and the even ones without it, so the run measures its own
  * tracing overhead; a traced pass comes first, so a warm-up trend makes
  * the overhead read high, not low. Results go to `<out>/result.json` and, when
  * traced, spans and per-operation layers to `<out>/trace.json`. After
  * A pass's time is the sum of its operations' times. In the last pass
  * each gate's rows are also written, untimed, to `<out>/check/<label>`
  * for the oracle comparison.
  */
object Harness {
  final case class Op(id: Int, kind: String, label: String, args: Seq[String])

  final class OpRun(val op: Op) {
    var startMs = 0.0
    var wallS = 0.0
    var constructS = 0.0
    var ok = true
    var result = -1L
    var error = ""
    var memoBuildS = 0.0
    var memoHits = 0L
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = a("out")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala
      .filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
        val f = l.split("\t").toSeq
        Op(i, f(0), f(1), f.drop(2))
      }.toSeq

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .appName("perfbench")
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.range(1).queryExecution.analyzed
      s
    }
    // set-up: create the session several times, keep the last one
    val setups = (1 to a("setups").toInt).map { i =>
      val t0 = System.nanoTime()
      val s = session()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < a("setups").toInt) s.stop()
      dt
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val tracer = new Tracer

    def runOp(op: Op, dump: Boolean): OpRun = {
      val r = new OpRun(op)
      sc.setJobGroup(s"perfbench-${op.id}", op.label, false)
      val m0 = Memo.buildNanos()
      val h0 = Memo.hits()
      r.startMs = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      try op.kind match {
        case "gate" =>
          sc.setLocalProperty(Tracer.PhaseKey, "construct")
          val df = SparkEntry.queries(op.args(0))(spark, op.args(1))
          r.constructS = elapsed
          sc.setLocalProperty(Tracer.PhaseKey, "action")
          r.result = df.count()
          r.wallS = elapsed
          // untimed: the same rows, for the oracle comparison
          if (dump) {
            sc.setJobGroup("perfbench-check", op.label, false)
            df.coalesce(1).write.mode("overwrite")
              .parquet(s"$out/check/${op.label}")
          }
        case "app" =>
          sc.setLocalProperty(Tracer.PhaseKey, "action")
          val buf = new ByteArrayOutputStream
          Console.withOut(new PrintStream(buf, true)) {
            Class.forName(op.args(0))
              .getMethod("main", classOf[Array[String]])
              .invoke(null, op.args.drop(1).toArray)
          }
          r.wallS = elapsed
          // the programs print their answer as `NAME.COUNTER:<value>`
          r.result = buf.toString.linesIterator.toSeq
            .filter(_.contains(":")).last.split(":").last.trim.toLong
      } catch {
        case e: Throwable =>
          r.ok = false
          val c = Option(e.getCause).filter(_ => e.isInstanceOf[
            java.lang.reflect.InvocationTargetException]).getOrElse(e)
          r.error = s"${c.getClass.getName}: ${c.getMessage}"
          System.err.println(s"[perfbench] ${op.label} failed: ${r.error}")
          if (r.wallS == 0) r.wallS = elapsed
      }
      r.memoBuildS = (Memo.buildNanos() - m0) / 1e9
      r.memoHits = Memo.hits() - h0
      System.err.println(f"[perfbench] ${op.label} ${r.wallS}%.3f s")
      sc.setLocalProperty(Tracer.PhaseKey, null)
      // between operations, untimed: release the finished query's caches
      Caches.clear(spark)
      sc.clearJobGroup()
      r
    }

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    val passes = Seq.newBuilder[Json.Obj]
    val traces = Seq.newBuilder[Json.Obj]
    val t0 = System.nanoTime()
    // a cold pass and two warm ones
    val minPasses = 3
    var p = 0
    var last = false
    var prevWall = 0.0
    while (!last) {
      // the last pass is the one the time budget will not outlast; it
      // also dumps each gate's rows for the output check
      last = p + 1 >= minPasses &&
        (System.nanoTime() - t0) / 1e9 + prevWall >= seconds
      val tr = traced && (p == 0 || p % 2 == 1)
      if (tr) {
        tracer.reset()
        sc.addSparkListener(tracer)
      }
      val g0 = gcMs()
      val runs = ops.map(runOp(_, last))
      val gcS = (gcMs() - g0) / 1e3
      // a pass's time is the sum of its operations' times
      val wall = runs.map(_.wallS).sum
      if (tr) {
        PerfbenchInternals.drain(sc)
        sc.removeSparkListener(tracer)
        traces += Layers.pass(p, runs, tracer, cores, gcS)
      }
      passes += Json.Obj(
        "pass" -> p, "traced" -> tr, "wall_s" -> wall, "gc_s" -> gcS,
        "ops" -> runs.map(r => Json.Obj(
          "label" -> r.op.label, "kind" -> r.op.kind, "wall_s" -> r.wallS,
          "construct_s" -> r.constructS, "ok" -> r.ok, "result" -> r.result,
          "error" -> r.error, "memo_build_s" -> r.memoBuildS,
          "memo_hits" -> r.memoHits)))
      prevWall = wall
      p += 1
      // untimed: start every pass from a collected heap
      System.gc()
    }

    // heap still held after the run, once every query's caches are gone
    Caches.clear(spark)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0

    val gates = ops.filter(_.kind == "gate")
    val oracle = Json.Obj(gates.map(_.args(0)).distinct
      .map(n => n -> (SparkEntry.oracleSql.getOrElse(n, ""): Any)): _*)

    Json.write(s"$out/result.json", Json.Obj(
      "cores" -> cores, "setup_s" -> setups, "retained_heap_mb" -> heapMb,
      "passes" -> passes.result(), "oracle_sql" -> oracle,
      "layers" -> traces.result().map(_.get("layers"))))
    if (traced) Json.write(s"$out/trace.json",
      Json.Obj("passes" -> traces.result()))
    spark.stop()
  }
}

/** PlanMemo's process-wide counters, read reflectively so the harness
  * keeps compiling if the memo layer changes; absent counters read 0.
  */
object Memo {
  private val obj: Option[AnyRef] =
    scala.util.Try(Class.forName("graft.PlanMemo$").getField("MODULE$")
      .get(null)).toOption

  private def field(name: String): Option[AnyRef] = obj.flatMap { o =>
    scala.util.Try {
      val f = o.getClass.getDeclaredField(name)
      f.setAccessible(true)
      f.get(o)
    }.toOption
  }

  private val build = field("buildNanos")
    .collect { case a: java.util.concurrent.atomic.AtomicLong => a }
  private val instances = field("instances")
    .collect { case c: java.util.Collection[_] => c }

  val present: Boolean = build.isDefined && instances.isDefined

  def buildNanos(): Long = build.map(_.get).getOrElse(0L)

  def hits(): Long = instances.map(_.asScala.iterator.map { m =>
    m.getClass.getMethod("hits").invoke(m)
      .asInstanceOf[java.util.concurrent.atomic.AtomicLong].get
  }.sum).getOrElse(0L)
}
