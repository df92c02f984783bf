package perfbench

import scala.collection.mutable

/** Turns one traced pass into per-layer metrics, a per-operation
  * breakdown and the span list with parents and self times.
  *
  * Span levels: `op` (the public call) > `op.construct` / `op.action`
  * (before and after the action starts) > `query:<name>` (one root SQL
  * execution; for a CLI program `cli.write` or `cli.collect`) >
  * `plan.<phase>` and `spark.job`. A span's parent is the smallest span
  * of a higher level in the same operation that contains it (1 ms
  * tolerance), else the `op` span; its self time is its duration minus
  * its children's.
  */
object Layers {
  // Spark names the root execution of a file write `command`
  private val WriteFuncs = Set("command")

  private def level(name: String): Int =
    if (name == "op") 0
    else if (name.startsWith("op.")) 1
    else if (name.startsWith("query:") || name.startsWith("cli.")) 2
    else 3

  def pass(p: Int, runs: Seq[Harness.OpRun], t: Tracer, cores: Int,
      gcS: Double): Json.Obj = t.synchronized {
    val kind = runs.map(r => r.op.id -> r.op.kind).toMap
    // driver-side spans; a CLI program's construction is the time before
    // its first job or SQL execution
    runs.foreach { r =>
      val end = r.startMs + r.wallS * 1e3
      if (r.op.kind == "app") r.constructS = t.firstJob.get(r.op.id)
        .map(j => math.max(0.0, j - r.startMs) / 1e3).getOrElse(r.wallS)
      val split = r.startMs + r.constructS * 1e3
      t.spans += Span("op", r.startMs, end, r.op.id)
      t.spans += Span("op.construct", r.startMs, split, r.op.id)
      t.spans += Span("op.action", split, end, r.op.id)
    }
    val spans = t.spans.toIndexedSeq.filter(s => s.op >= 0 && !s.start.isNaN)
        .map { s =>
      val end = if (s.end.isNaN) s.start else s.end
      // a CLI program's queries are its writes and collects
      val name = if (s.name.startsWith("query:") &&
          kind.get(s.op).contains("app")) {
        val f = s.name.stripPrefix("query:")
        if (WriteFuncs(f)) "cli.write"
        else if (f == "collect") "cli.collect" else s"cli.$f"
      } else s.name
      s.copy(name = name, end = end)
    }
    val byOp = spans.indices.groupBy(i => spans(i).op)
    val childSum = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    for ((_, idx) <- byOp; i <- idx if spans(i).name != "op") {
      val s = spans(i)
      val cands = idx.filter { j =>
        val c = spans(j)
        j != i && level(c.name) >= 1 && level(c.name) < level(s.name) &&
          s.start >= c.start - 1 && s.end <= c.end + 1
      }
      if (cands.nonEmpty) {
        val par = cands.minBy(j => (spans(j).dur, -level(spans(j).name)))
        s.parent = par
        childSum(par) += s.dur
      } else idx.find(j => spans(j).name == "op").foreach { par =>
        s.parent = par; childSum(par) += s.dur
      }
    }
    val selfByName = spans.indices.groupBy(i => spans(i).name).map {
      case (n, idx) =>
        n -> idx.map(i => math.max(0.0, spans(i).dur - childSum(i))).sum / 1e3
    }

    def durS(op: Int, name: String): Double =
      byOp.getOrElse(op, Nil).filter(i => spans(i).name == name)
        .map(spans(_).dur).sum / 1e3

    // stage totals per operation and phase
    final case class Agg(var stages: Int = 0, var tasks: Long = 0,
        var cpuNs: Long = 0, var rd: Long = 0, var wr: Long = 0,
        var spill: Long = 0, var peak: Long = 0, var scanMs: Long = 0,
        var scanRows: Long = 0)
    val aggs = mutable.Map.empty[(Int, String), Agg]
    for ((sid, (op, phase, scan)) <- t.stages if op >= 0) {
      val a = aggs.getOrElseUpdate((op, phase), Agg())
      val s = t.stageAcc.getOrElse(sid, new StageAcc)
      a.stages += 1; a.tasks += s.tasks; a.cpuNs += s.cpuNs
      a.rd += s.shuffleRead; a.wr += s.shuffleWrite; a.spill += s.spill
      a.peak = math.max(a.peak, s.peakMem)
      if (scan) { a.scanMs += s.runMs; a.scanRows += s.records }
    }
    def sumAgg(f: Agg => Double, op: Option[Int] = None,
        phase: Option[String] = None): Double =
      aggs.collect { case ((o, ph), a) if op.forall(_ == o) &&
        phase.forall(_ == ph) => f(a) }.sum
    def jobs(op: Option[Int], phase: Option[String]): Int =
      t.jobCount.collect { case ((o, ph), n) if o >= 0 && op.forall(_ == o) &&
        phase.forall(_ == ph) => n }.sum
    val mb = 1048576.0

    val construct = runs.map(_.constructS).sum
    val action = runs.map(r => r.wallS - r.constructS).sum
    val actionCpu = sumAgg(_.cpuNs.toDouble, phase = Some("action")) / 1e9
    val scanS = sumAgg(_.scanMs.toDouble) / 1e3
    val hits = runs.map(_.memoHits).sum
    val builds = runs.count(_.memoBuildS > 0)
    def planS(ph: String): Double =
      spans.filter(_.name == s"plan.$ph").map(_.dur).sum / 1e3
    val layers = Json.Obj(
      "sources.csv_scan_s" -> scanS,
      "sources.rows_per_s" -> (if (scanS > 0)
        sumAgg(_.scanRows.toDouble) / scanS else 0.0),
      "cli.write_s" -> spans.filter(_.name == "cli.write").map(_.dur).sum / 1e3,
      "cli.collect_s" ->
        spans.filter(_.name == "cli.collect").map(_.dur).sum / 1e3,
      "operators.construct_s" -> construct,
      "operators.construct_jobs" -> jobs(None, Some("construct")),
      "plan.analysis_s" -> planS("analysis"),
      "plan.optimization_s" -> planS("optimization"),
      "plan.planning_s" -> planS("planning"),
      "spark.action_s" -> action,
      "spark.jobs" -> jobs(None, None),
      "spark.stages" -> sumAgg(_.stages.toDouble).toInt,
      "spark.tasks" -> sumAgg(_.tasks.toDouble).toLong,
      "spark.task_cpu_s" -> sumAgg(_.cpuNs.toDouble) / 1e9,
      "spark.core_util" -> (if (action > 0) actionCpu / (action * cores)
        else 0.0),
      "spark.shuffle_read_mb" -> sumAgg(_.rd.toDouble) / mb,
      "spark.shuffle_write_mb" -> sumAgg(_.wr.toDouble) / mb,
      "spark.spill_mb" -> sumAgg(_.spill.toDouble) / mb,
      "spark.peak_exec_mem_mb" ->
        (if (aggs.isEmpty) 0.0 else aggs.values.map(_.peak).max / mb),
      "spark.gc_s" -> gcS,
      "memo.build_s" -> runs.map(_.memoBuildS).sum,
      "memo.hits" -> hits,
      "memo.builds" -> builds,
      "memo.hit_ratio" -> (if (hits + builds > 0)
        hits.toDouble / (hits + builds) else 0.0))

    val ops = runs.map { r =>
      val o = Some(r.op.id)
      Json.Obj(
        "label" -> r.op.label, "wall_s" -> r.wallS,
        "construct_s" -> r.constructS, "action_s" -> (r.wallS - r.constructS),
        "jobs" -> jobs(o, None), "construct_jobs" -> jobs(o, Some("construct")),
        "stages" -> sumAgg(_.stages.toDouble, o).toInt,
        "tasks" -> sumAgg(_.tasks.toDouble, o).toLong,
        "task_cpu_s" -> sumAgg(_.cpuNs.toDouble, o) / 1e9,
        "shuffle_read_mb" -> sumAgg(_.rd.toDouble, o) / mb,
        "shuffle_write_mb" -> sumAgg(_.wr.toDouble, o) / mb,
        "scan_task_s" -> sumAgg(_.scanMs.toDouble, o) / 1e3,
        "plan_s" -> Seq("analysis", "optimization", "planning")
          .map(ph => durS(r.op.id, s"plan.$ph")).sum,
        "cli_write_s" -> durS(r.op.id, "cli.write"),
        "cli_collect_s" -> durS(r.op.id, "cli.collect"),
        "queries" -> byOp.getOrElse(r.op.id, Nil).map(spans(_).name)
          .filter(n => n.startsWith("query:") || n.startsWith("cli.")).size,
        // jobs per enclosing span kind, e.g. a program's write vs collect
        "jobs_by_parent" -> Json.Obj(byOp.getOrElse(r.op.id, Nil)
          .filter(i => spans(i).name == "spark.job" && spans(i).parent >= 0)
          .groupBy(i => spans(spans(i).parent).name).toSeq
          .map { case (n, js) => n -> (js.size: Any) }.sortBy(_._1): _*),
        "memo_build_s" -> r.memoBuildS, "memo_hits" -> r.memoHits)
    }
    val label = runs.map(r => r.op.id -> r.op.label).toMap
    Json.Obj(
      "pass" -> p, "layers" -> layers, "ops" -> ops,
      "self_s" -> Json.Obj(selfByName.toSeq.sortBy(_._1): _*),
      "memo_layer_found" -> Memo.present,
      "spans" -> spans.zipWithIndex.map { case (s, i) => Json.Obj(
        "id" -> i, "name" -> s.name, "op" -> label.getOrElse(s.op, ""),
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent) })
  }
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  final case class Obj(fields: (String, Any)*) {
    def get(k: String): Any = fields.find(_._1 == k).get._2
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => s"${str(k)}:${render(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
