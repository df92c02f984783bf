package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions.col

/** Golden micro-graph fixtures (FIXTURES.md §4) + brute-force
  * cross-strategy properties (SURVEY.md §5) on seeded random graphs.
  */
class GraphOpsSpec extends SparkSpec {

  // ---- plain-Scala reference implementations (bag semantics) ----

  def brutePath2Total(e: Seq[(Long, Long)]): Long = {
    val vs = (e.map(_._1) ++ e.map(_._2)).distinct
    vs.map(v => e.count(_._2 == v).toLong * e.count(_._1 == v)).sum
  }

  def bruteTriples(e: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
    for {
      (x, y) <- e
      (y2, z) <- e if y2 == y && x != z
    } yield (x, y, z)

  def bruteRS(e0: Seq[(Long, Long)], max: Long): Long = {
    val e = e0.filter { case (s, d) => s < max && d < max }
    val cnt = (for {
      (x, y) <- e
      (y2, z) <- e if y2 == y && x != z
      (zc, xc) <- e if zc == z && xc == x
    } yield 1).size.toLong
    cnt / 3
  }

  def bruteRep(e0: Seq[(Long, Long)], max: Long): Long = {
    val e = e0.filter { case (s, d) => s <= max && d <= max }
    val cnt = (for {
      (x, y) <- e
      (y2, t) <- e if y2 == y
      if e.exists { case (a, b) => a == t && b == x } // contains(), R:103
    } yield 1).size.toLong
    cnt / 3
  }

  // ---- golden fixtures ----

  val tri3 = Seq((1L, 2L), (2L, 3L), (3L, 1L))

  test("tri3: one directed triangle, both strategies") {
    assert(singleLong(GraphOps.trianglesRS(edgeDf(tri3: _*))) === 1L)
    assert(singleLong(GraphOps.trianglesRep(edgeDf(tri3: _*))) === 1L)
    assert(singleLong(GraphOps.path2Total(edgeDf(tri3: _*))) === 3L)
    assert(GraphOps.path2Triples(edgeDf(tri3: _*)).count() === 3L)
  }

  test("tri3_dup: duplicate edge multiplies (bag semantics), strategies diverge") {
    val dup = tri3 :+ (1L, 2L)
    // RS multiplies closing-edge multiplicities: 6/3 = 2
    assert(singleLong(GraphOps.trianglesRS(edgeDf(dup: _*))) === bruteRS(dup, 50))
    assert(bruteRS(dup, 50) === 2L)
    // Rep's contains() collapses closing multiplicity: 5/3 = 1
    assert(singleLong(GraphOps.trianglesRep(edgeDf(dup: _*))) === bruteRep(dup, 40))
    assert(bruteRep(dup, 40) === 1L)
  }

  test("twocycle: x≠z kills the only 2-path back to start") {
    val e = Seq((1L, 2L), (2L, 1L))
    assert(singleLong(GraphOps.trianglesRS(edgeDf(e: _*))) === 0L)
    assert(singleLong(GraphOps.trianglesRep(edgeDf(e: _*))) === 0L)
    // degree product has no x≠z: total = 2 (semantic divergence to keep)
    assert(singleLong(GraphOps.path2Total(edgeDf(e: _*))) === 2L)
    assert(GraphOps.path2Triples(edgeDf(e: _*)).count() === 0L)
  }

  test("selfloop: degenerate paths, floor division, rep has no x≠z") {
    val e = Seq((1L, 1L), (1L, 2L), (2L, 1L))
    // RS: 2 closed rotations → 2/3 = 0 (floor)
    assert(singleLong(GraphOps.trianglesRS(edgeDf(e: _*))) === bruteRS(e, 50))
    assert(bruteRS(e, 50) === 0L)
    // Rep: 4 closed probes (no x≠z) → 4/3 = 1 — faithful divergence
    assert(singleLong(GraphOps.trianglesRep(edgeDf(e: _*))) === bruteRep(e, 40))
    assert(bruteRep(e, 40) === 1L)
  }

  test("boundary: strict < (RS) vs inclusive <= (Rep) at the MAX id") {
    // triangle entirely at id MAX=5: strict < drops it, inclusive keeps it
    val e = Seq((5L, 4L), (4L, 3L), (3L, 5L))
    assert(singleLong(GraphOps.trianglesRS(edgeDf(e: _*), max = 5)) === 0L)
    assert(singleLong(GraphOps.trianglesRep(edgeDf(e: _*), max = 5)) === 1L)
    assert(singleLong(GraphOps.trianglesRS(edgeDf(e: _*), max = 6)) === 1L)
  }

  test("star: hub path2 = k², no group buffering") {
    val k = 5L
    val e = (1L to k).map(i => (100L + i, 0L)) ++ (1L to k).map(i => (0L, 200L + i))
    val perVertex = GraphOps.path2PerVertex(edgeDf(e: _*))
      .where("vertex = 0").collect()
    assert(perVertex(0).getLong(1) === k * k)
    // one-sided vertices still get a row with 0 paths (E:79-81)
    assert(GraphOps.path2PerVertex(edgeDf(e: _*)).count() === 2 * k + 1)
  }

  test("empty edge set: totals are 0, not empty/null") {
    val e = edgeDf().where("src > 0") // empty with right schema
    assert(singleLong(GraphOps.path2Total(e)) === 0L)
    assert(singleLong(GraphOps.trianglesRS(e)) === 0L)
    assert(singleLong(GraphOps.trianglesRep(e)) === 0L)
  }

  test("trianglesRS/trianglesRep: AQE broadcasts below the threshold, shuffles above it") {
    // the reference assumes the filtered subgraph fits one node's
    // memory; neither operator hints a join, so AQE's runtime,
    // size-based join selection decides: broadcast joins while the
    // persisted relation fits autoBroadcastJoinThreshold, sort-merge
    // joins past it or with broadcasting disabled — same answer
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    object Aqe extends AdaptiveSparkPlanHelper
    val rng = new scala.util.Random(7)
    val e = List.fill(60)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
    val df = edgeDf(e: _*)
    // (count, BroadcastHashJoin types, SortMergeJoin count) of the
    // final adaptive plan after the action
    def run(q: org.apache.spark.sql.DataFrame): (Long, Seq[String], Int) = {
      val n = singleLong(q)
      val plan = q.queryExecution.executedPlan
      (n, Aqe.collect(plan) { case j: BroadcastHashJoinExec => j.joinType.toString }.sorted,
        Aqe.collect(plan) { case j: SortMergeJoinExec => j }.size)
    }
    def at(threshold: String) =
      Confs.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        (run(GraphOps.trianglesRS(df, max = 8)),
          run(GraphOps.trianglesRep(df, max = 8)))
      }
    val (rs, rep) = at((64 * 1024 * 1024).toString)
    assert(rs === ((bruteRS(e, 8), Seq("Inner", "Inner"), 0)))
    assert(rep === ((bruteRep(e, 8), Seq("Inner", "LeftSemi"), 0)))
    Seq("64", "-1").foreach { threshold => // bytes — anything real exceeds 64
      val ((rsN, rsBhj, _), (repN, repBhj, _)) = at(threshold)
      withClue(s"threshold=$threshold") {
        assert((rsN, rsBhj) === ((bruteRS(e, 8), Nil)))
        assert((repN, repBhj) === ((bruteRep(e, 8), Nil)))
      }
    }
  }

  test("building the triangle operators starts no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = edgeDf(tri3 :+ (1L, 2L) :+ (3L, 4L): _*)
    val builders = Seq[(String, () => Any)](
      "trianglesRS" -> (() => GraphOps.trianglesRS(df)),
      "trianglesRep" -> (() => GraphOps.trianglesRep(df)),
      "trianglesPerVertex" -> (() => GraphOps.trianglesPerVertex(df)),
      "clusteringCoefficient" -> (() => GraphOps.clusteringCoefficient(df)))
    spark.sparkContext.addSparkListener(listener)
    try {
      val started = builders.map { case (name, build) =>
        org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
        jobs.set(0)
        build()
        org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
        name -> jobs.get
      }
      assert(started.forall(_._2 == 0), started)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("building the derived edge relation starts no Spark job") {
    val sf = "/root/testdata/sf0.001"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val e = try {
      org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
      jobs.set(0)
      val built = GraphOps.edges(spark, sf)
      org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
      assert(jobs.get === 0)
      built
    } finally spark.sparkContext.removeSparkListener(listener)
    // the pinned read returns what the schema-inferring join returns
    val inferred = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
    assert(e.schema === inferred.schema)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("count(1)", "sum(hash(src, dst))").collect()(0)
    assert(digest(e) === digest(inferred))
  }

  // ---- randomized cross-strategy properties (seeded, deterministic) ----

  def randomEdges(rng: scala.util.Random): List[(Long, Long)] =
    List.fill(rng.nextInt(41))((rng.nextInt(10).toLong, rng.nextInt(10).toLong))

  test("property: spark results == brute force on random multigraphs") {
    val rng = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val e = randomEdges(rng)
      val df = edgeDf(e: _*)
      withClue(s"edges=$e") {
        assert(singleLong(GraphOps.path2Total(df)) === brutePath2Total(e))
        assert(GraphOps.path2Triples(df).count() === bruteTriples(e).size.toLong)
        assert(singleLong(GraphOps.trianglesRS(df, max = 8)) === bruteRS(e, 8))
        assert(singleLong(GraphOps.trianglesRep(df, max = 8)) === bruteRep(e, 8))
      }
    }
  }

  /** The LITERAL execution model of the reference's replicated join
    * (ReplicatedJoinDriver.java:45-116): the <= MAX subgraph as a
    * Broadcast[Map] adjacency (its distributed cache file), a map-only
    * pass over the edge bag (setNumReduceTasks(0)), per-edge walk of
    * adj(y) with a contains() closing check, counter sum / 3. Test-only:
    * the DataFrame trianglesRep must match this on any input.
    */
  def trianglesRepLiteral(e0: Seq[(Long, Long)], max: Long): Long = {
    val edges = edgeDf(e0: _*).filter(col("src") <= max && col("dst") <= max)
    val adj: Map[Long, Seq[Long]] = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2).toSeq }
    val bAdj = spark.sparkContext.broadcast(adj)
    val total = edges.rdd.mapPartitions { it =>
      val a = bAdj.value
      it.map { r =>
        val x = r.getLong(0); val y = r.getLong(1)
        // bag multiplicity on the 2-hop, EXISTS on the closing edge
        a.getOrElse(y, Nil).count(z => a.getOrElse(z, Nil).contains(x)).toLong
      }
    }.fold(0L)(_ + _)
    total / 3
  }

  test("property: DataFrame trianglesRep == literal broadcast-adjacency twin") {
    val rng = new scala.util.Random(91)
    (1 to 8).foreach { _ =>
      val e = randomEdges(rng)
      withClue(s"edges=$e") {
        assert(singleLong(GraphOps.trianglesRep(edgeDf(e: _*), max = 8)) ===
          trianglesRepLiteral(e, max = 8))
      }
    }
    // and on the golden fixtures incl. the duplicate-edge divergence case
    assert(singleLong(GraphOps.trianglesRep(edgeDf(tri3 :+ (1L, 2L): _*))) ===
      trianglesRepLiteral(tri3 :+ (1L, 2L), max = 40))
  }

  test("salted join equals plain join on skewed multigraphs") {
    val rng = new scala.util.Random(23)
    // heavy skew: 80% of edges point at vertex 0
    val e = List.fill(60)(
      (rng.nextInt(10).toLong,
        if (rng.nextInt(5) > 0) 0L else rng.nextInt(10).toLong))
    val probe = edgeDf(e: _*)
    val build = edgeDf(e.map { case (s, d) => (d, s) }: _*)
    val plain = probe.join(build.withColumnRenamed("src", "bsrc"),
      probe("dst") === col("bsrc")).count()
    val salted = graft.operators.Skew.saltedJoin(
      probe, build.withColumnRenamed("src", "bsrc"), "dst", "bsrc", 4).count()
    assert(salted === plain)
  }

  test("pageRank == driver-side integer reference on random graphs") {
    // the same fixed-point arithmetic, computed sequentially in plain
    // Scala — exact longs, so equality is bitwise, not approximate
    def ref(edges: Seq[(Long, Long)], iters: Int, scale: Long): Map[Long, Long] = {
      val dedges = edges.distinct
      val verts = dedges.flatMap(e => Seq(e._1, e._2)).distinct
      val deg = dedges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      var r = verts.map(_ -> scale).toMap
      for (_ <- 1 to iters) {
        val in = dedges
          .map { case (s, d) => d -> r(s) / deg(s) }
          .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
        r = verts.map(v => v ->
          (15L * scale / 100L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    val rng = new scala.util.Random(41)
    (1 to 3).foreach { _ =>
      // duplicates included deliberately: pageRank de-dups edges
      val e = List.fill(80)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      val got = GraphOps.pageRank(edgeDf(e: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ref(e, GraphOps.PageRankIters, GraphOps.PageRankScale)
      withClue(s"edges=$e") { assert(got === want) }
    }
    // a sink (out-degree 0) leaks mass but still receives rank; a
    // source (in-degree 0) holds the damping base after sweep 1
    val chain = GraphOps.pageRank(edgeDf((1L, 2L), (2L, 3L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chain(1L) === 150000L)
    assert(chain(3L) > chain(1L))
  }

  test("pageRankPersonalized: sequential reference; all-seeds == pageRank; decay") {
    def ref(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
        scale: Long): Map[Long, Long] = {
      val dedges = edges.distinct
      val verts = dedges.flatMap(e => Seq(e._1, e._2)).distinct
      val deg = dedges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      def s(v: Long) = if (seeds(v)) 1L else 0L
      var r = verts.map(v => v -> s(v) * scale).toMap
      for (_ <- 1 to iters) {
        val in = dedges
          .map { case (a, b) => b -> r(a) / deg(a) }
          .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
        r = verts.map(v => v ->
          (s(v) * (15L * scale / 100L) + 85L * in.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    val s0 = spark
    import s0.implicits._
    def seedDf(vs: Long*) = vs.toDF("v")
    val rng = new scala.util.Random(47)
    (1 to 3).foreach { _ =>
      val e = List.fill(80)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      val seeds = (0L to 3L).toSet
      val got = GraphOps.pageRankPersonalized(edgeDf(e: _*), seedDf(seeds.toSeq: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ref(e, seeds, GraphOps.PageRankIters, GraphOps.PageRankScale)
      withClue(s"edges=$e") { assert(got === want) }
      // seeding EVERY vertex recovers plain pageRank exactly
      val all = GraphOps.pageRankPersonalized(edgeDf(e: _*),
        seedDf(e.flatMap(p => Seq(p._1, p._2)).distinct: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val plain = GraphOps.pageRank(edgeDf(e: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(all === plain)
    }
    // distance decay on a seeded chain; a vertex unreachable from the
    // seed (and not a seed) holds exactly zero mass
    val chain = GraphOps.pageRankPersonalized(
      edgeDf((1L, 2L), (2L, 3L), (9L, 8L)), seedDf(1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chain(1L) > chain(2L) && chain(2L) > chain(3L))
    assert(chain(8L) === 0L && chain(9L) === 0L)
  }

  test("tieStrength: brute common-neighbor reference; bridges report zero") {
    def brute(e0: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] = {
      val und = e0.filter(p => p._1 != p._2)
        .flatMap(p => Seq(p, p.swap)).distinct
      val nbr = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      und.filter(p => p._1 < p._2).map { case (a, b) =>
        val sh = (nbr(a) intersect nbr(b)).size.toLong
        val j = sh * 1000000L / (nbr(a).size + nbr(b).size - sh)
        (a, b) -> ((sh, j))
      }.toMap
    }
    val rng = new scala.util.Random(53)
    (1 to 3).foreach { _ =>
      val e = List.fill(60)((rng.nextInt(14).toLong, rng.nextInt(14).toLong))
      // cap above any possible degree → the brute (uncapped) semantics
      val got = GraphOps.tieStrength(edgeDf(e: _*), midMaxDeg = 1000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      withClue(s"edges=$e") { assert(got === brute(e)) }
    }
    // a pure bridge: two triangles joined by one edge — the joining
    // edge shares no neighbors, every triangle edge shares exactly one
    val bridge = GraphOps.tieStrength(edgeDf(
      (1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(bridge((3L, 4L)) === 0L)
    assert(bridge((1L, 2L)) === 1L && bridge((4L, 5L)) === 1L)
  }

  test("trianglesPerVertex: sums to 3x the global count; brute per-anchor") {
    def brutePerVertex(e0: Seq[(Long, Long)], max: Long): Map[Long, Long] = {
      val e = e0.filter { case (s, d) => s < max && d < max }
      (for {
        (x, y) <- e
        (y2, z) <- e if y2 == y && x != z
        (zc, xc) <- e if zc == z && xc == x
      } yield x).groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val rng = new scala.util.Random(11)
    (1 to 4).foreach { _ =>
      val e = List.fill(60)((rng.nextInt(8).toLong, rng.nextInt(8).toLong))
      val got = GraphOps.trianglesPerVertex(edgeDf(e: _*), 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"edges=$e") {
        assert(got === brutePerVertex(e, 100))
        // rotation invariant: per-anchor counts sum to 3× the /3 total
        assert(got.values.sum ===
          3L * singleLong(GraphOps.trianglesRS(edgeDf(e: _*), 100)) +
            got.values.sum % 3)
      }
    }
  }

  test("stronglyConnectedComponents: fixtures + Tarjan on random digraphs") {
    // driver-side Tarjan (recursive; test graphs are tiny) → the same
    // min-id-per-SCC labeling the operator promises
    def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val vs = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val idx = scala.collection.mutable.Map[Long, Int]()
      val low = scala.collection.mutable.Map[Long, Int]()
      val onStack = scala.collection.mutable.Set[Long]()
      val stack = scala.collection.mutable.Stack[Long]()
      val out = scala.collection.mutable.Map[Long, Long]()
      var counter = 0
      def strong(v: Long): Unit = {
        idx(v) = counter; low(v) = counter; counter += 1
        stack.push(v); onStack += v
        adj.getOrElse(v, Nil).foreach { w =>
          if (!idx.contains(w)) { strong(w); low(v) = math.min(low(v), low(w)) }
          else if (onStack(w)) low(v) = math.min(low(v), idx(w))
        }
        if (low(v) == idx(v)) {
          val comp = scala.collection.mutable.ArrayBuffer[Long]()
          var w = -1L
          while ({ w = stack.pop(); onStack -= w; comp += w; w != v }) ()
          val m = comp.min
          comp.foreach(out(_) = m)
        }
      }
      vs.foreach(v => if (!idx.contains(v)) strong(v))
      out.toMap
    }
    // BOTH execution paths: the single-task Tarjan fast path (default
    // threshold) and the distributed refinement loop (threshold 0)
    def run(edges: Seq[(Long, Long)],
        threshold: Option[Long]): Map[Long, Long] =
      atLimit(threshold)(
          GraphOps.stronglyConnectedComponents(edgeDf(edges: _*)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def runBoth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val fast = run(edges, None)
      val dist = run(edges, Some(0L))
      assert(fast === dist, s"fast path != distributed loop on $edges")
      fast
    }
    // fixture: two 2-cycles bridged one-way, a 3-cycle, a self-loop
    // singleton, duplicate edges — known SCCs {1,2}, {3,4}, {5,6,7},
    // {8}, {9}, {10}
    val fx = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L),
      (5L, 6L), (6L, 7L), (7L, 5L), (8L, 8L), (9L, 10L))
    assert(runBoth(fx) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L, 10L -> 10L))
    // the counterexample that breaks naive (fwd, bwd)-pair labeling:
    // 0→5→1, 0→6→1 — vertices 5 and 6 share (min ancestor, min
    // descendant) = (0, 1) but are distinct singleton SCCs; the
    // refinement round must separate them
    val cx = Seq((0L, 5L), (5L, 1L), (0L, 6L), (6L, 1L))
    assert(runBoth(cx) === Map(0L -> 0L, 1L -> 1L, 5L -> 5L, 6L -> 6L))
    // random digraphs (dense enough for real multi-vertex SCCs)
    val rng = new scala.util.Random(59)
    (1 to 3).foreach { _ =>
      val e = List.fill(70)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      withClue(s"edges=$e") { assert(runBoth(e) === tarjan(e)) }
    }
    // condensation: label-mapped distinct inter-SCC edges, and ACYCLIC
    // (running SCC on the condensation must yield only singletons —
    // a component cycle would have merged them)
    (1 to 2).foreach { _ =>
      val e = List.fill(70)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      val labels = tarjan(e)
      val expect = e.map { case (s, d) => (labels(s), labels(d)) }
        .filter(p => p._1 != p._2).distinct.toSet
      val dag = GraphOps.sccCondensation(edgeDf(e: _*),
          GraphOps.stronglyConnectedComponents(edgeDf(e: _*)))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      withClue(s"edges=$e") {
        assert(dag.length === dag.toSet.size)
        assert(dag.toSet === expect)
        if (dag.nonEmpty) {
          val dagScc = tarjan(dag.toSeq)
          assert(dagScc.values.toSeq.distinct.size === dagScc.size,
            s"condensation not acyclic: $dagScc")
        }
      }
    }
  }

  test("closenessSampled == brute per-seed BFS over the hash-chosen sample") {
    val s = spark
    import s.implicits._
    def bfs(edges: Seq[(Long, Long)], seed: Long,
        maxHops: Int): Map[Long, Long] = {
      val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map[Long, Long](seed -> 0L)
      var frontier = Set(seed)
      (1 to maxHops).foreach { h =>
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filter(!dist.contains(_))
        frontier.foreach(dist(_) = h.toLong)
      }
      dist.toMap
    }
    val rng = new scala.util.Random(83)
    (1 to 3).foreach { _ =>
      val e = List.fill(70)((rng.nextInt(24).toLong, rng.nextInt(24).toLong))
      val verts = e.flatMap(p => Seq(p._1, p._2)).distinct
      for (k <- Seq(1, 4); hops <- Seq(1, 3)) {
        // the reference derives the SAME hash-chosen sample the
        // operator collects: k smallest (poly_hash(v), v)
        val seeds = verts.sortBy(v => (graft.functions.PolyHashUtil.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)),
          v)).take(k)
        val per = seeds.flatMap(sd => bfs(e, sd, hops).toSeq)
        val want = per.groupBy(_._1).map { case (v, ds) =>
          v -> ((ds.size.toLong, ds.map(_._2).sum,
            ds.map(d => if (d._2 >= 1L) 1000000L / d._2 else 0L).sum))
        }
        val got = GraphOps.closenessSampled(edgeDf(e: _*), k = k,
            maxHops = hops).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        withClue(s"k=$k hops=$hops edges=$e") { assert(got === want) }
      }
    }
  }

  test("eccentricitySampled/diameterSampled == brute per-seed BFS extremes") {
    val s = spark
    import s.implicits._
    def bfs(edges: Seq[(Long, Long)], seed: Long,
        maxHops: Int): Map[Long, Long] = {
      val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map[Long, Long](seed -> 0L)
      var frontier = Set(seed)
      (1 to maxHops).foreach { h =>
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filter(!dist.contains(_))
        frontier.foreach(dist(_) = h.toLong)
      }
      dist.toMap
    }
    val rng = new scala.util.Random(311)
    (1 to 3).foreach { _ =>
      val e = List.fill(70)((rng.nextInt(24).toLong, rng.nextInt(24).toLong))
      val verts = e.flatMap(p => Seq(p._1, p._2)).distinct
      for (k <- Seq(1, 4); hops <- Seq(1, 3)) {
        val seeds = verts.sortBy(v => (graft.functions.PolyHashUtil.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)),
          v)).take(k)
        val want = seeds.map { sd =>
          val d = bfs(e, sd, hops)
          sd -> ((d.values.max, d.size.toLong))
        }.toMap
        val got = GraphOps.eccentricitySampled(edgeDf(e: _*), k = k,
            maxHops = hops).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        withClue(s"k=$k hops=$hops edges=$e") { assert(got === want) }
        val dia = GraphOps.diameterSampled(edgeDf(e: _*), k = k,
          maxHops = hops).collect().head
        withClue(s"k=$k hops=$hops edges=$e") {
          assert(dia.getLong(0) === want.size.toLong)
          assert(dia.getLong(1) === want.values.map(_._1).max)
          assert(dia.getLong(2) === want.values.map(_._1).min)
        }
      }
    }
  }

  test("louvainRound == brute synchronous ΔQ argmax from singletons") {
    val s = spark
    import s.implicits._
    def brute(e: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
      val und = e.filter(p => p._1 != p._2)
        .flatMap(p => Seq(p, p.swap)).distinct
      val m = und.size.toLong / 2L
      val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      deg.keys.map { u =>
        val nbrs = und.filter(_._1 == u).map(_._2)
        val (bestGain, bestV) = nbrs
          .map(v => (2L * m - deg(u) * deg(v), v))
          .minBy { case (g, v) => (-g, v) }
        u -> (if (bestGain > 0L) (bestV, bestGain) else (u, 0L))
      }.toMap
    }
    val rng = new scala.util.Random(193)
    // a hand case first: star 0-{1,2,3} + pendant pair 8-9 (m = 4).
    // The pendant pair merges (gain 2m − 1·1 = 7); leaves join the
    // hub (2m − 1·3 = 5); the hub's best leaf is 1 by the id
    // tie-break
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (8L, 9L))
    val got0 = GraphOps.louvainRound(edgeDf(star: _*)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got0 === Map(0L -> ((1L, 5L)), 1L -> ((0L, 5L)),
      2L -> ((0L, 5L)), 3L -> ((0L, 5L)), 8L -> ((9L, 7L)),
      9L -> ((8L, 7L))))
    (1 to 3).foreach { _ =>
      val e = List.fill(60)((rng.nextInt(14).toLong, rng.nextInt(14).toLong))
      val got = GraphOps.louvainRound(edgeDf(e: _*)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      withClue(s"edges=$e") { assert(got === brute(e)) }
    }
  }

  test("louvain: == brute mutual-best matching; Q monotone per level; idempotent at fixpoint") {
    val s = spark
    import s.implicits._
    // driver-side reference of the SAME deterministic matching rule
    def brute(e: Seq[(Long, Long)], levels: Int): Map[Long, Long] = {
      val und = e.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
      val m = und.size.toLong / 2L
      var lab: Map[Long, Long] = und.map(_._1).distinct.map(v => v -> v).toMap
      (1 to levels).foreach { _ =>
        val w = und.groupBy(p => (lab(p._1), lab(p._2)))
          .view.mapValues(_.size.toLong).toMap
        val k = w.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
        val gains = w.toSeq.collect { case ((a, b), wab) if a != b =>
          (a, b, 2L * m * wab - k(a) * k(b)) }
        val best = gains.filter(_._3 > 0L).groupBy(_._1)
          .view.mapValues(gs => gs.minBy(t => (-t._3, t._2))._2).toMap
        val merges = best.collect {
          case (a, nb) if best.get(nb).contains(a) && a > nb => a -> nb }
        lab = lab.view.mapValues(c => merges.getOrElse(c, c)).toMap
      }
      lab
    }
    def got(e: Seq[(Long, Long)], levels: Int,
        limit: Option[Long] = None): Map[Long, Long] =
      atLimit(limit)(GraphOps.louvain(edgeDf(e: _*), levels)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def qnum(e: Seq[(Long, Long)], lab: Map[Long, Long]): Long =
      GraphOps.modularity(edgeDf(e: _*),
          lab.toSeq.toDF("vertex", "community"))
        .agg(org.apache.spark.sql.functions.sum(col("q_num")))
        .head().getLong(0)
    // hand fixture: two triangles joined by one bridge — level 1 pairs
    // up inside each triangle, level 2 completes both triangles; the
    // bridge never merges them (gain of joining across is negative)
    val twoTri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val conv = got(twoTri, 6)
    assert(conv.values.toSet.size === 2, conv.toString)
    assert(conv(0L) === conv(1L) && conv(1L) === conv(2L), conv.toString)
    assert(conv(3L) === conv(4L) && conv(4L) === conv(5L), conv.toString)
    // idempotence at the fixpoint: more levels change nothing (the
    // oracle's fixed unroll depends on this)
    assert(got(twoTri, 9) === conv)
    // == brute at every level, on the fixture and random multigraphs
    val rng = new scala.util.Random(317)
    val cases = twoTri +: List.fill(3)(
      List.fill(60)((rng.nextInt(14).toLong, rng.nextInt(14).toLong)))
    for (e <- cases; l <- 1 to 4)
      withClue(s"levels=$l edges=$e") { assert(got(e, l) === brute(e, l)) }
    // the DISTRIBUTED loop (SmallInput.scoped(0) forces it past the
    // single-task fast path) must match the same reference — the
    // fast-path gate may never change what either path computes
    for (e <- cases; l <- Seq(1, 4))
      withClue(s"distributed levels=$l edges=$e") {
        assert(got(e, l, Some(0L)) === brute(e, l))
      }
    // MONOTONE Q: each level's accepted merges are disjoint mutual
    // positive-gain pairs, so Σ q_num must never decrease level over
    // level (and must strictly improve somewhere on these fixtures)
    for (e <- cases) {
      val und = e.filter(p => p._1 != p._2)
      val singletons = und.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> v).toMap
      val qs = qnum(e, singletons) +: (1 to 5).map(l => qnum(e, brute(e, l)))
      assert(qs.zip(qs.tail).forall { case (a, b) => b >= a },
        s"Q decreased: $qs edges=$e")
      assert(qs.last > qs.head, s"no improvement at all: $qs edges=$e")
    }
  }

  test("closenessWeightedSampled ≡ aggregated per-source ssspBudget runs") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(107)
    (1 to 3).foreach { _ =>
      // multigraph: duplicate edges give non-unit weights
      val e = List.fill(80)((rng.nextInt(16).toLong, rng.nextInt(16).toLong))
      val verts = e.flatMap(p => Seq(p._1, p._2)).distinct
      val k = 4
      val seeds = verts.sortBy(v => (graft.functions.PolyHashUtil.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)),
        v)).take(k)
      // the labeled loop must equal the PROVEN per-source operator
      // (ssspBudget carries the budget-semantics property pins), so
      // equality here transfers those pins to the batched form
      val per = seeds.flatMap { sd =>
        GraphOps.ssspBudget(edgeDf(e: _*), Seq(sd).toDF("v")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      val want = per.groupBy(_._1).map { case (v, ds) =>
        v -> ((ds.size.toLong, ds.map(_._2).sum,
          ds.map(d => if (d._2 >= 1L) 1000000L / d._2 else 0L).sum))
      }
      // both the single-task fast path (default gate) and the
      // distributed labeled loop (SmallInput.scoped(0)) must agree
      Seq(None, Some(0L)).foreach { th =>
        val got = atLimit(th)(
            GraphOps.closenessWeightedSampled(edgeDf(e: _*), k = k))
          .collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        withClue(s"threshold=$th edges=$e") { assert(got === want) }
      }
    }
  }

  test("kTruss == brute support peeling; clique/tree fixtures") {
    val s = spark
    import s.implicits._
    def brute(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
      var und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct.toSet
      var changed = true
      def sup(e: (Long, Long), g: Set[(Long, Long)]): Long =
        g.collect { case (u, w) if u == e._1 && g((e._2, w)) => w }.size.toLong
      while (changed) {
        val keep = und.filter(e => sup(e, und) >= k - 2)
        changed = keep != und
        und = keep
      }
      und.filter(e => e._1 < e._2).map(e => e -> sup(e, und)).toMap
    }
    def got(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] =
      GraphOps.kTruss(edgeDf(edges: _*), k, maxRounds = 30).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a 5-clique is a 5-truss (every edge closes 3 triangles); the
    // 6-truss of it is empty
    val clique = for (a <- 0L until 5L; b <- 0L until 5L if a < b)
      yield (a, b)
    assert(got(clique, 5) === clique.map(e => e -> 3L).toMap)
    assert(got(clique, 6) === Map.empty)
    // a tree has no triangles — the 3-truss is empty
    assert(got(Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L)), 3) === Map.empty)
    // random digraphs (symmetrized internally), several k
    val rng = new scala.util.Random(101)
    (1 to 3).foreach { _ =>
      val e = List.fill(90)((rng.nextInt(14).toLong, rng.nextInt(14).toLong))
      for (k <- Seq(3, 4, 5)) {
        withClue(s"edges=$e k=$k") { assert(got(e, k) === brute(e, k)) }
      }
    }
    // the driver-bounded local tail ≡ the fully distributed peel on
    // the same graph: a limit of SmallInput.Cap forces every round
    // local, 0 forbids the fast path entirely
    val e2 = List.fill(80)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
    for (k <- Seq(3, 4, 5)) {
      def at(lm: Long) = SmallInput.scoped(lm)(GraphOps.kTruss(
          edgeDf(e2: _*), k, maxRounds = 30)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      withClue(s"k=$k") { assert(at(SmallInput.Cap) === at(0L)) }
    }
    // the round budget is enforced identically on the local tail
    val triChain = for (i <- 0L until 12L; e <- Seq((i, i + 1), (i, i + 2)))
      yield e
    intercept[IllegalStateException] {
      SmallInput.scoped(SmallInput.Cap)(
        GraphOps.kTruss(edgeDf(triChain: _*), 4, maxRounds = 1)).collect()
    }
  }

  test("shortestPathCounts/stressSampled == brute σ/τ DP over the hash-chosen sample") {
    val s = spark
    import s.implicits._
    // brute per-seed: BFS dists, then σ forward / τ backward over the
    // shortest-path DAG — the textbook Brandes phases in plain Scala
    def bruteSeed(edges: Seq[(Long, Long)], seed: Long, maxHops: Int)
        : (Map[Long, (Long, Long)], Map[Long, Long]) = {
      val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map[Long, Long](seed -> 0L)
      var frontier = Set(seed)
      (1 to maxHops).foreach { h =>
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filter(!dist.contains(_))
        frontier.foreach(dist(_) = h.toLong)
      }
      val sigma = scala.collection.mutable.Map[Long, Long](seed -> 1L)
      val maxD = dist.values.max
      (1L to maxD).foreach { d =>
        dist.filter(_._2 == d).keys.foreach { v =>
          sigma(v) = edges.distinct.filter(e => e._2 == v &&
            dist.get(e._1).contains(d - 1)).map(e => sigma(e._1)).sum
        }
      }
      val tau = scala.collection.mutable.Map[Long, Long]()
      (maxD.to(0L, -1L)).foreach { d =>
        dist.filter(_._2 == d).keys.foreach { v =>
          tau(v) = adj.getOrElse(v, Nil).distinct
            .filter(w => dist.get(w).contains(d + 1))
            .map(w => tau(w) + 1L).sum
        }
      }
      (dist.keys.map(v => v -> ((dist(v), sigma(v)))).toMap, tau.toMap)
    }
    val rng = new scala.util.Random(89)
    (1 to 3).foreach { _ =>
      val e = List.fill(70)((rng.nextInt(18).toLong, rng.nextInt(18).toLong))
      val verts = e.flatMap(p => Seq(p._1, p._2)).distinct
      val k = 3
      val hops = 3
      val seeds = verts.sortBy(v => (graft.functions.PolyHashUtil.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)),
        v)).take(k)
      val wantSigma = seeds.flatMap { sd =>
        bruteSeed(e, sd, hops)._1.map { case (v, (d, sg)) =>
          (sd, v, d, sg)
        }
      }.toSet
      val gotSigma = GraphOps.shortestPathCounts(edgeDf(e: _*), k = k,
          maxHops = hops).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      withClue(s"edges=$e") { assert(gotSigma === wantSigma) }
      val wantStress = seeds.flatMap { sd =>
        val (ds, tau) = bruteSeed(e, sd, hops)
        ds.collect { case (v, (d, sg)) if d >= 1L => v -> sg * tau(v) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        .filter(_._2 > 0L)
      // both the single-task τ fast path (default gate) and the
      // distributed backward loop (SmallInput.scoped(0)) must agree
      Seq(None, Some(0L)).foreach { th =>
        val gotStress = atLimit(th)(GraphOps.stressSampled(edgeDf(e: _*),
            k = k, maxHops = hops)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        withClue(s"threshold=$th edges=$e") {
          assert(gotStress === wantStress)
        }
      }
    }
  }

  test("sigma forward-phase memo: graph_stress reuses graph_path_counts' layers, results bit-identical") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L), (3L, 5L),
      (0L, 4L), (5L, 0L))
    val before = PlanMemo.hitsOf("sigma")
    val sigma1 = GraphOps.shortestPathCounts(edgeDf(e: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the back-to-back twin gate over the SAME graph must hit the memo
    // (the shared forward phase is the point of the single-slot cache)
    val stress1 = GraphOps.stressSampled(edgeDf(e: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(PlanMemo.hitsOf("sigma") > before,
      "stressSampled did not reuse the memoized forward phase")
    // a memo-hit σ relation is the SAME relation: repeated calls are
    // bit-identical, and a DIFFERENT graph must miss (no stale reuse)
    assert(GraphOps.shortestPathCounts(edgeDf(e: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet === sigma1)
    val e2 = e :+ (2L, 0L)
    val hitsBefore2 = PlanMemo.hitsOf("sigma")
    val sigma2 = GraphOps.shortestPathCounts(edgeDf(e2: _*)).collect()
    assert(PlanMemo.hitsOf("sigma") === hitsBefore2,
      "a different graph must not reuse the memoized layers")
    assert(sigma2.length !== 0)
    assert(stress1.nonEmpty)
  }

  test("labeled-BFS memo: eccentricity/diameter reuse closeness' sweep, results bit-identical; no stale reuse") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L), (3L, 5L),
      (5L, 6L), (6L, 0L))
    val close1 = GraphOps.closenessSampled(edgeDf(e: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val before = PlanMemo.hitsOf("dist")
    // the per-seed view over the SAME sample must hit the memo
    val ecc1 = GraphOps.eccentricitySampled(edgeDf(e: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(PlanMemo.hitsOf("dist") > before,
      "eccentricitySampled did not reuse the memoized labeled sweep")
    // repeated closeness is bit-identical through the memo
    assert(GraphOps.closenessSampled(edgeDf(e: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet === close1)
    // a different graph misses — no stale reuse
    val e2 = e :+ (2L, 6L)
    val hitsBefore2 = PlanMemo.hitsOf("dist")
    assert(GraphOps.closenessSampled(edgeDf(e2: _*)).collect().nonEmpty)
    assert(PlanMemo.hitsOf("dist") === hitsBefore2,
      "a different graph must not reuse the memoized sweep")
    assert(ecc1.nonEmpty)
  }

  test("hopDistances == brute bounded BFS on random digraphs") {
    def bruteBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
        maxHops: Int): Map[Long, Long] = {
      val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map[Long, Long]()
      seeds.foreach(dist(_) = 0L)
      var frontier = seeds
      (1 to maxHops).foreach { h =>
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filter(!dist.contains(_))
        frontier.foreach(dist(_) = h.toLong)
      }
      dist.toMap
    }
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(71)
    (1 to 3).foreach { _ =>
      val e = List.fill(60)((rng.nextInt(20).toLong, rng.nextInt(20).toLong))
      val seeds = Set(0L, 1L, 2L)
      // 50 overshoots the 20-vertex graph's reach — the frontier-delta
      // loop must EXIT EARLY with the full-reach answer, identically
      // to the brute reference run to exhaustion. Strides > 1 (layer
      // batching, incl. one NOT dividing the budget, one past it and
      // the deep gate's 16, whose min-hop stride relation takes four
      // doubling rounds) must be invisible in the result on arbitrary
      // digraphs — back edges, diamonds and revisits land on the same
      // exact layers. 17 is one past a stride-16 super-sweep: its last
      // sweep reads the stride relation cut to k ≤ 1
      for (hops <- Seq(0, 1, 3, 17, 50); stride <- Seq(1, 3, 8, 16)) {
        // SmallInput.scoped(0) forces the DISTRIBUTED sweep loop (the
        // fixtures are under the fast-path bound)
        val got = SmallInput.scoped(0L)(GraphOps.hopDistances(edgeDf(e: _*),
            seeds.toSeq.toDF("v"), hops, hopStride = stride))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        withClue(s"edges=$e hops=$hops stride=$stride") {
          assert(got === bruteBfs(e, seeds, hops))
        }
        // the gated local fast path must agree exactly
        val loc = SmallInput.scoped(SmallInput.Cap)(GraphOps.hopDistances(
            edgeDf(e: _*), seeds.toSeq.toDF("v"), hops, hopStride = stride))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        withClue(s"local edges=$e hops=$hops") {
          assert(loc === got)
        }
      }
    }
    // a seed absent from the edge relation still reports dist 0; an
    // unreached vertex is absent — on BOTH paths
    for (lt <- Seq(0L, SmallInput.Cap)) {
      val got = SmallInput.scoped(lt)(GraphOps.hopDistances(
          edgeDf((1L, 2L), (3L, 4L)), Seq(1L, 99L).toDF("v"), 2))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"limit=$lt") {
        assert(got === Map(1L -> 0L, 99L -> 0L, 2L -> 1L))
      }
    }
    // an 80-vertex chain crosses the 16-frame HopCompactLayers
    // boundary (4× at stride 1, once at stride 4) — the
    // layer-compaction path (including frontier recovery from the
    // compacted relation) must produce the same exact layers
    val chain = (0L until 79L).map(i => (i, i + 1L))
    for (stride <- Seq(1, 4)) {
      val deep = SmallInput.scoped(0L)(GraphOps.hopDistances(
          edgeDf(chain: _*), Seq(0L).toDF("v"), 100, hopStride = stride))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"stride=$stride") {
        assert(deep === (0L to 79L).map(v => v -> v).toMap)
      }
    }
  }

  test("topoLevels: brute longest-path on random DAGs; cycle raises; SCC pipeline composes") {
    def bruteLevels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val e = edges.distinct
      val vs = (e.map(_._1) ++ e.map(_._2)).distinct
      val incoming = e.groupBy(_._2)
      val memo = scala.collection.mutable.Map[Long, Long]()
      def lvl(v: Long): Long = memo.getOrElseUpdate(v,
        incoming.get(v).map(_.map(p => lvl(p._1) + 1L).max).getOrElse(0L))
      vs.map(v => v -> lvl(v)).toMap
    }
    def run(edges: Seq[(Long, Long)],
        threshold: Option[Long]): Map[Long, Long] =
      atLimit(threshold)(GraphOps.topoLevels(
          edgeDf(edges: _*).select(col("src").as("scc_src"),
            col("dst").as("scc_dst"))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def runBoth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val fast = run(edges, None)
      val dist = run(edges, Some(0L))
      assert(fast === dist, s"fast path != distributed loop on $edges")
      fast
    }
    // random DAGs: orient random pairs low → high (acyclic by
    // construction), duplicates collapse
    val rng = new scala.util.Random(67)
    (1 to 3).foreach { _ =>
      val e = List.fill(80) {
        val a = rng.nextInt(15).toLong
        val b = rng.nextInt(15).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
      withClue(s"edges=$e") { assert(runBoth(e) === bruteLevels(e)) }
    }
    // a cycle must raise on BOTH paths, never return garbage levels
    Seq(None, Some(0L)).foreach { th =>
      val ex = intercept[Exception] {
        atLimit(th)(GraphOps.topoLevels(
          edgeDf((1L, 2L), (2L, 3L), (3L, 1L)).select(
            col("src").as("scc_src"), col("dst").as("scc_dst")),
          maxIter = 10)).collect()
      }
      assert(ex.getMessage.contains("cycle"), s"threshold=$th: $ex")
    }
    // the full pipeline on a cyclic digraph: SCC → condensation →
    // levels. 1↔2 → 3↔4 → 5; components {1,2}=level 0, {3,4}=1, {5}=2
    val g = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L))
    val dag = GraphOps.sccCondensation(edgeDf(g: _*),
      GraphOps.stronglyConnectedComponents(edgeDf(g: _*)))
    val lv = GraphOps.topoLevels(dag)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv === Map(1L -> 0L, 3L -> 1L, 5L -> 2L))
  }

  test("clusteringCoefficient: fixture with known values; brute on random multigraphs") {
    // fixture: 3-cycle 1→2→3→1, pendant 1→4, isolated mutual pair 5↔6,
    // a duplicate edge (must collapse) and a self-loop (not a neighbor)
    val fx = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 2L), (1L, 4L),
      (5L, 6L), (6L, 5L), (2L, 2L))
    val got = GraphOps.clusteringCoefficient(edgeDf(fx: _*), 100)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      1L -> ((1L, 3L, 166666L)), // 1 cycle / (3·2) ordered pairs
      2L -> ((1L, 2L, 500000L)),
      3L -> ((1L, 2L, 500000L)),
      4L -> ((0L, 1L, 0L)), // pendant: n < 2 → 0
      5L -> ((0L, 1L, 0L)),
      6L -> ((0L, 1L, 0L))))
    // brute-force property on random multigraphs, with the < max
    // filter active (ids 0..7, max 6)
    def brute(e0: Seq[(Long, Long)], max: Long): Map[Long, (Long, Long, Long)] = {
      val e = e0.filter { case (s, d) => s < max && d < max }.distinct
      val tri = (for {
        (x, y) <- e
        (y2, z) <- e if y2 == y && x != z
        (zc, xc) <- e if zc == z && xc == x
      } yield x).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nbrs = e.filter(p => p._1 != p._2)
        .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      nbrs.map { case (v, n) =>
        val t = tri.getOrElse(v, 0L)
        v -> ((t, n, if (n < 2) 0L else t * GraphOps.CcScale / (n * (n - 1))))
      }.toMap
    }
    val rng = new scala.util.Random(53)
    (1 to 3).foreach { _ =>
      val e = List.fill(60)((rng.nextInt(8).toLong, rng.nextInt(8).toLong))
      val g = GraphOps.clusteringCoefficient(edgeDf(e: _*), 6)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      withClue(s"edges=$e") { assert(g === brute(e, 6)) }
    }
  }

  test("pageRankWeighted: == plain on simple graphs; weights shift rank") {
    val rng = new scala.util.Random(37)
    (1 to 3).foreach { _ =>
      // simple graph (distinct edges): every w = 1, so the two
      // operators MUST agree bit for bit
      val e = List.fill(40)((rng.nextInt(10).toLong, rng.nextInt(10).toLong))
        .distinct
      val plain = GraphOps.pageRank(edgeDf(e: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val weighted = GraphOps.pageRankWeighted(edgeDf(e: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"edges=$e") { assert(weighted === plain) }
    }
    // 1 follows 2 (×9) and 3 (×1): weighted sends 2 ninefold 3's
    // inbound mass; the plain twin splits it evenly
    val skew = Seq.fill(9)((1L, 2L)) :+ (1L, 3L)
    val w = GraphOps.pageRankWeighted(edgeDf(skew: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = GraphOps.pageRank(edgeDf(skew: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(2L) > w(3L))
    assert(p(2L) === p(3L))
    // mass is conserved up to truncation in both: sum over vertices
    // stays within V of scale·V after the damping mix
    assert(w.values.sum <= 3L * GraphOps.PageRankScale)
  }

  test("components == driver-side union-find on random graphs") {
    def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(v => v -> find(v)).toMap
    }
    val rng = new scala.util.Random(31)
    (1 to 4).foreach { _ =>
      // sparse on a wide id range so several components form; self
      // loops and duplicates included (components must ignore both)
      val e = List.fill(25)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      val got = GraphOps.components(edgeDf(e: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"edges=$e") { assert(got === refComponents(e)) }
    }
    // the labeling memo: an equal-plan second call reuses the
    // checkpointed labeling (graph_component_sizes' consumer path); a
    // different edge relation or loop parameter must NOT reuse it
    val e = Seq((1L, 2L), (3L, 4L), (2L, 5L))
    val hits0 = PlanMemo.hitsOf("components")
    val first = GraphOps.components(edgeDf(e: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = GraphOps.components(edgeDf(e: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(PlanMemo.hitsOf("components") === hits0 + 1,
      "an identical components call must hit the labeling memo")
    assert(again === first)
    GraphOps.components(edgeDf((7L, 8L))).collect()
    assert(PlanMemo.hitsOf("components") === hits0 + 1,
      "a different edge relation must not reuse the memoized labeling")
    GraphOps.components(edgeDf(e: _*), maxIter = 29).collect()
    assert(PlanMemo.hitsOf("components") === hits0 + 1,
      "a different loop parameter must not reuse the memoized labeling")
  }

  test("degreeHistogram: bag semantics, zero-out-degree bucket") {
    // 1→2, 1→2, 1→3, 3→1: out-degrees 1:3, 3:1, 2:0
    val h = GraphOps.degreeHistogram(
        edgeDf((1L, 2L), (1L, 2L), (1L, 3L), (3L, 1L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(3L -> 1L, 1L -> 1L, 0L -> 1L))
  }

  test("mutualFollows: distinct edges, self-loops excluded") {
    // mutual pairs {1,2} (duplicated edges count once) and {2,3};
    // 4→4 self-loop and one-way 1→3 contribute nothing
    val m = GraphOps.mutualFollows(edgeDf(
      (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (4L, 4L), (1L, 3L)))
    assert(singleLong(m) === 2L)
    assert(singleLong(GraphOps.mutualFollows(edgeDf((1L, 2L)))) === 0L)
  }

  test("sparsifyEdges: exact deterministic slice") {
    val e = Seq((0L, 0L), (1L, 9L), (2L, 2L), (5L, 5L), (3L, 1L))
    // (src*31 + dst) % 4 == 0: (0,0)→0, (1,9)→40%4=0, (2,2)→64%4=0,
    // (5,5)→160%4=0, (3,1)→94%4=2
    val kept = GraphOps.sparsifyEdges(edgeDf(e: _*), 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept === Set((0L, 0L), (1L, 9L), (2L, 2L), (5L, 5L)))
  }

  test("graph_hops_deep gate: chain layers exact through compaction and the budget-cap exit") {
    // the gate's own shape at sf0.001: 500 docs, chain step 7 ⇒ 7
    // disjoint chains ~70 deep — at hopStride 16 the BFS builds the
    // stride relation, runs 4 super-sweeps and exits on the 64-hop
    // budget, never the empty frontier, so this pins exactly the
    // machinery the shallow gate (3 hops) never runs. 4 frames never
    // reach the 16-frame compaction; the 80-vertex chain of the
    // hopDistances property test covers that path
    val got = SparkEntry.queries("graph_hops_deep")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every layer 0..64 holds exactly the 7 chain members: vertex v has
    // dist v/7 when v/7 <= 64 (integer division — v mod 7 names the
    // chain, v/7 its position), deeper vertices are absent
    val expect = (0L until 500L).filter(_ / 7 <= 64)
      .map(v => (v, v / 7)).toSet
    assert(got.toSet === expect)
    assert(got.length === expect.size) // no duplicate vertex rows
    assert(got.map(_._2).max === 64L)  // the budget bound, reached
  }

  test("graph_hops_deep gate: warm construction runs a pinned job and stage count") {
    // the tiny-regime scope turns AQE off for the stride build and the
    // sweeps, so the plans — and the jobs and stages they run — are
    // fixed. Jobs: the documents read's schema job, 4 stride-doubling
    // rounds, the seed frame, 4 super-sweeps of 2 (the frontier
    // broadcast and the sweep) and the final compaction. Stages: 1,
    // 4 per round, 2, 3 per super-sweep and 1
    val sf = "/root/testdata/sf0.001"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    def build() = SparkEntry.queries("graph_hops_deep")(spark, sf)
    // cold: the distinct-edge memo builds here; Verify and Bench clear
    // the default lease the same way between queries
    build().count()
    Caches.clear(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
      jobs.set(0)
      stages.set(0)
      build()
      org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
      assert((jobs.get, stages.get) === ((15, 32)))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Caches.clear(spark)
    }
  }

  test("property: RS == Rep on simple graphs without 2-cycles/self-loops") {
    val rng = new scala.util.Random(7)
    (1 to 6).foreach { _ =>
      val e0 = randomEdges(rng)
      val e = e0.distinct
        .filter { case (s, d) => s != d } // no self-loops
        .filter { case (s, d) => !e0.contains((d, s)) } // no 2-cycles
      val df = edgeDf(e: _*)
      withClue(s"edges=$e") {
        assert(
          singleLong(GraphOps.trianglesRS(df, 100)) ===
            singleLong(GraphOps.trianglesRep(df, 100)))
      }
    }
  }

  test("linkPrediction == brute capped common-neighbor Jaccard; adjacent pairs excluded") {
    val rnd = new scala.util.Random(4711)
    for (trial <- 1 to 4) {
      val n = 14
      val edges = Seq.fill(35)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val cap = 4L
      val k = 3
      val und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      val nbr = und.groupBy(_._1).map { case (v, es) => (v, es.map(_._2).toSet) }
      val deg = nbr.map { case (v, s) => (v, s.size.toLong) }
      val ids = nbr.keySet.toSeq.sorted
      val expect = ids.flatMap { a =>
        val cands = ids.filter(b => b > a && !nbr(a).contains(b))
          .map { b =>
            val shared = (nbr(a) & nbr(b)).count(m => deg(m) <= cap).toLong
            (b, shared)
          }.filter(_._2 > 0)
        cands.map { case (b, shared) =>
          (a, b, shared, shared * 1000000L / (deg(a) + deg(b) - shared))
        }
      }
      val mirrored = expect.flatMap { case (a, b, s, j) =>
        Seq((a, b, s, j), (b, a, s, j))
      }
      val topk = mirrored.groupBy(_._1).toSeq.flatMap { case (v, rows) =>
        rows.sortBy(r => (-r._4, r._2)).take(k).zipWithIndex.map {
          case ((_, c, s, j), i) => (v, i + 1L, c, s, j)
        }
      }.toSet
      val got = GraphOps.linkPrediction(edgeDf(edges: _*), midMaxDeg = cap,
          k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      withClue(s"trial $trial edges=$edges") { assert(got === topk) }
    }
  }

  test("assortativityMoments: path fixture exact; symmetric; brute on random graphs") {
    // P3 path 1-2-3: und orientations (1,2),(2,1),(2,3),(3,2) with
    // degrees 1,2,1 → n=4, Σx=Σy=6, Σxy=8, Σx²=Σy²=10
    val p3 = GraphOps.assortativityMoments(edgeDf((1L, 2L), (2L, 3L)))
      .collect()(0)
    assert((0 to 5).map(p3.getLong) === Seq(4L, 6L, 6L, 8L, 10L, 10L))
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(30)((rnd.nextInt(10).toLong, rnd.nextInt(10).toLong))
      val und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      val deg = und.groupBy(_._1).map { case (v, es) => (v, es.length.toLong) }
      val xy = und.map { case (u, v) => (deg(u), deg(v)) }
      val expect = Seq(xy.length.toLong, xy.map(_._1).sum, xy.map(_._2).sum,
        xy.map(t => t._1 * t._2).sum, xy.map(t => t._1 * t._1).sum,
        xy.map(t => t._2 * t._2).sum)
      val got = GraphOps.assortativityMoments(edgeDf(edges: _*)).collect()(0)
      assert((0 to 5).map(got.getLong) === expect, s"edges=$edges")
      assert(got.getLong(1) === got.getLong(2)) // symmetry
    }
  }

  test("kCore: clique survives, chain cascade peels over many rounds, bound raises") {
    // 6-clique (degree 5 each) + a 12-vertex tail chain hanging off
    // vertex 1: at k=2 the chain peels one vertex per round from the
    // open end — a genuinely multi-round cascade — while the clique
    // (and the chain-to-clique attachment) is untouched until the
    // chain is gone
    val clique = for {
      a <- 1L to 6L; b <- 1L to 6L if a < b
    } yield (a, b)
    val chain = (0 until 12).map(i => (10L + i, 11L + i)) :+ ((1L, 10L))
    val g = edgeDf(clique ++ chain: _*)
    val core2 = GraphOps.kCore(g, k = 2, maxRounds = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core2.keySet === (1L to 6L).toSet, s"2-core = $core2")
    assert(core2(1L) === 5L && core2(2L) === 5L)
    // k exceeding the clique degree → empty core, not an error
    assert(GraphOps.kCore(g, k = 6, maxRounds = 20).count() === 0L)
    // an insufficient round budget raises instead of returning a
    // non-fixpoint (the oracle-unrolling soundness contract)
    val ex = intercept[IllegalStateException] {
      GraphOps.kCore(g, k = 2, maxRounds = 3).count()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("coreness: clique+chain fixture; == brute successive peel; consistent with kCore") {
    // 6-clique + 12-vertex tail chain off vertex 1: clique members
    // have coreness 5, every chain vertex (a tree) coreness 1
    val clique = for { a <- 1L to 6L; b <- 1L to 6L if a < b } yield (a, b)
    val chain = (0 until 12).map(i => (10L + i, 11L + i)) :+ ((1L, 10L))
    val g = edgeDf(clique ++ chain: _*)
    val cor = GraphOps.coreness(g, maxK = 8, maxRounds = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 6L).foreach(v => assert(cor(v) === 5L, s"vertex $v"))
    (10L to 22L).foreach(v => assert(cor(v) === 1L, s"vertex $v"))
    // brute on random multigraphs + the kCore consistency law:
    // {v : coreness(v) >= k} == vertices of kCore(k)
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(6)
      val edges = Seq.fill(40 + rnd.nextInt(30))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      var und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      val expect = scala.collection.mutable.Map[Long, Long]()
      und.map(_._1).distinct.foreach(v => expect(v) = 1L)
      var k = 2L
      while (und.nonEmpty) {
        var stable = false
        while (!stable) {
          val deg = und.groupBy(_._1).map { case (v, es) => (v, es.length) }
          val keep = deg.collect { case (v, d) if d >= k => v }.toSet
          val next = und.filter(e => keep(e._1) && keep(e._2))
          stable = next.length == und.length
          und = next
        }
        und.map(_._1).distinct.foreach(v => expect(v) = k)
        k += 1
      }
      val df = edgeDf(edges: _*)
      val got = GraphOps.coreness(df, maxK = 20, maxRounds = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      withClue(s"trial $trial edges=$edges") {
        assert(got === expect.toMap)
        val k2 = GraphOps.kCore(df, k = 2, maxRounds = 50)
          .collect().map(_.getLong(0)).toSet
        assert(got.collect { case (v, c) if c >= 2L => v }.toSet === k2)
      }
    }
  }

  test("kCore == driver-side brute peeling on random multigraphs") {
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 5) {
      val n = 12 + rnd.nextInt(8)
      val edges = Seq.fill(40 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val k = 2 + rnd.nextInt(3)
      // reference: iterative set-based peel on the simple undirected graph
      var und = edges.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      var stable = false
      while (!stable) {
        val deg = und.groupBy(_._1).map { case (v, es) => (v, es.length) }
        val keep = deg.collect { case (v, d) if d >= k => v }.toSet
        val next = und.filter(e => keep(e._1) && keep(e._2))
        stable = next.length == und.length
        und = next
      }
      val expect = und.groupBy(_._1)
        .map { case (v, es) => (v, es.length.toLong) }
      val got = GraphOps.kCore(edgeDf(edges: _*), k = k, maxRounds = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      withClue(s"trial $trial n=$n k=$k edges=$edges") {
        assert(got === expect)
      }
    }
  }

  test("peel local tail ≡ distributed on kCore and coreness; round budget enforced locally") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(70)(
      (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
    def kcAt(lm: Long) = SmallInput.scoped(lm)(GraphOps.kCore(
        edgeDf(edges: _*), k = 3, maxRounds = 50))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kcAt(SmallInput.Cap) === kcAt(0L))
    def coAt(lm: Long) = SmallInput.scoped(lm)(GraphOps.coreness(
        edgeDf(edges: _*), maxK = 16, maxRounds = 50))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(coAt(SmallInput.Cap) === coAt(0L))
    // the round budget raises identically on the local tail: a long
    // chain cascades one peel round per vertex
    val chain = (0L until 12L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      SmallInput.scoped(SmallInput.Cap)(
        GraphOps.kCore(edgeDf(chain: _*), k = 2, maxRounds = 2)).collect()
    }
  }

  test("ssspBudget == brute budgeted Bellman-Ford on random weighted digraphs") {
    // weights = bag multiplicities, so the brute side first compresses
    // the edge bag exactly like weightedEdges
    def brute(edges: Seq[(Long, Long)], seeds: Set[Long],
        rounds: Int): Map[Long, Long] = {
      val w = edges.groupBy(identity).view.mapValues(_.size.toLong).toMap
      var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
      (1 to rounds).foreach { _ =>
        val relax = dist.toSeq.flatMap { case (v, dv) =>
          w.collect { case ((s, d), m) if s == v => d -> (dv + m) }
        }
        dist = (dist.toSeq ++ relax).groupBy(_._1)
          .view.mapValues(_.map(_._2).min).toMap
      }
      dist
    }
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(131)
    (1 to 3).foreach { _ =>
      // nextInt(12)² pairs → plenty of duplicate edges = weights > 1
      val e = List.fill(80)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      val seeds = Set(0L, 1L)
      for (rounds <- Seq(0, 1, 3, 12)) {
        // SmallInput.scoped(0) forces the distributed frontier-delta
        // loop; the gated local path must agree exactly
        val got = SmallInput.scoped(0L)(GraphOps.ssspBudget(edgeDf(e: _*),
            seeds.toSeq.toDF("v"), rounds))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        withClue(s"edges=$e rounds=$rounds") {
          assert(got === brute(e, seeds, rounds))
        }
        val loc = SmallInput.scoped(SmallInput.Cap)(GraphOps.ssspBudget(
            edgeDf(e: _*), seeds.toSeq.toDF("v"), rounds))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        withClue(s"local edges=$e rounds=$rounds") {
          assert(loc === got)
        }
      }
    }
    // unit-weight sanity: on a DISTINCT-edge graph with budget ≥
    // diameter, SSSP distances == BFS hop distances
    val chain = (0L until 6L).map(i => i -> (i + 1))
    val bfs = GraphOps.hopDistances(edgeDf(chain: _*), Seq(0L).toDF("v"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sssp = GraphOps.ssspBudget(edgeDf(chain: _*), Seq(0L).toDF("v"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sssp === bfs)
  }

  test("warm ssspBudget and stressSampled builds probe the twin bound with the memo-banked edge counts") {
    val s = spark
    import s.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // a two-lane ladder: every sampled source reaches several layers
    val e = edgeDf(((0L until 10L).map(i => i -> (i + 1)) ++
      (0L until 9L).map(i => i -> (i + 2)) :+ (3L -> 4L)): _*)
    val seeds = Seq(0L, 5L).toDF("v")
    // the twin path on both: its probe is the count the memo banked
    def warmJobs(build: => org.apache.spark.sql.DataFrame): Int =
      SmallInput.scoped(SmallInput.Cap) {
        build.collect() // cold: the memos build here
        org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
        jobs.set(0)
        build
        org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
        jobs.get
      }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the twin's collects: the weighted edges, and the distinct
      // sources (a shuffle-map job plus the result job under AQE)
      assert(warmJobs(GraphOps.ssspBudget(e, seeds)) === 3)
      // the edge collect plus one collect per σ layer (5 at PathHops 4)
      assert(warmJobs(GraphOps.stressSampled(e)) === 6)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("lpa and modularity single-task twins == the distributed loops on random multigraphs") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(4201)
    val cases = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 3L), (6L, 6L)) +: List.fill(3)(
      List.fill(70)((rng.nextInt(16).toLong, rng.nextInt(16).toLong)))
    for (e <- cases; r <- Seq(1, 4)) {
      // SmallInput.scoped(0) forces the DISTRIBUTED loop; the gate may
      // never change what either path computes
      def lpa(th: Option[Long]) = atLimit(th)(GraphOps.labelPropagation(
          edgeDf(e: _*), rounds = r)).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val local = lpa(None)
      withClue(s"rounds=$r edges=$e") { assert(local === lpa(Some(0L))) }
      // modularity over those labels: twin == distributed, and both
      // conservation laws hold on the twin's output
      val labels = local.toSeq.toDF("vertex", "community")
      def mod(th: Option[Long]) = atLimit(th)(
          GraphOps.modularity(edgeDf(e: _*), labels)).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
          x.getLong(4), x.getLong(5))).toSet
      val mLocal = mod(None)
      withClue(s"modularity rounds=$r edges=$e") {
        assert(mLocal === mod(Some(0L)))
        val m = mLocal.head._5
        assert(mLocal.toSeq.map(_._4).sum === 2L * m)
        assert(mLocal.toSeq.map(_._3).sum <= m)
      }
    }
  }

  test("modularity: textbook two-clique fixture and conservation laws") {
    val s = spark
    import s.implicits._
    // two disjoint triangles, labeled by their component: the textbook
    // perfectly-separated case with equal halves -> Q = 1/2 exactly
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 1L), (11L, 1L), (12L, 1L))
      .toDF("vertex", "community")
    val rows = GraphOps.modularity(edgeDf(e: _*), labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val m = rows.head._5
    assert(m === 6L)
    assert(rows.map(_._4).sum === 2L * m)     // Σ d_tot = 2m
    assert(rows.map(_._3).sum <= m)           // Σ e_intra ≤ m
    assert(rows.map(_._6).sum === 2L * m * m) // Q·4m² = 2m² ⇔ Q = 1/2
    // degenerate labeling (all one community): Q = 0 exactly
    val one = labels.select(col("vertex"),
      org.apache.spark.sql.functions.lit(0L).as("community"))
    val total = GraphOps.modularity(edgeDf(e: _*), one).collect()
      .map(_.getLong(5)).sum
    assert(total === 0L)
  }

  test("randomWalksWeighted: brute simulation + simple-graph == unweighted law") {
    import org.apache.spark.unsafe.types.UTF8String
    def ph(s: String): Long =
      graft.functions.PolyHashUtil.hash(UTF8String.fromString(s))
    def brute(edges: Seq[(Long, Long)], seeds: Seq[Long], len: Int,
        per: Long): Seq[(Long, Long, Long)] = {
      // neighbor ranges in dst order, widths = multiplicities
      val adj = edges.groupBy(_._1).view.mapValues { es =>
        es.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      }.toMap
      for {
        v <- seeds; j <- 0L until per
        walk = v * per + j
        row <- {
          var cur = v
          var rows = List((walk, 0L, v))
          var s = 0
          var dead = false
          while (s < len && !dead) {
            adj.get(cur) match {
              case Some(ns) =>
                val tot = ns.map(_._2).sum
                var r = ph(s"$walk:$s:$cur") % tot
                var i = 0
                while (r >= ns(i)._2) { r -= ns(i)._2; i += 1 }
                cur = ns(i)._1
                s += 1
                rows ::= ((walk, s.toLong, cur))
              case None => dead = true
            }
          }
          rows.reverse
        }
      } yield row
    }
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(59)
    // duplicate-heavy bag → real multiplicities
    val e = List.fill(60)((rng.nextInt(10).toLong, rng.nextInt(10).toLong))
    val seeds = Seq(0L, 1L)
    val got = GraphOps.randomWalksWeighted(edgeDf(e: _*), seeds.toDF("v"),
        len = 6, perSeed = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq === brute(e, seeds, 6, 3L).sorted)
    // on a SIMPLE graph (all multiplicities 1) the cumulative ranges
    // degenerate to unit slots in dst order — weighted == unweighted
    val simple = e.distinct
    val a = GraphOps.randomWalksWeighted(edgeDf(simple: _*),
        seeds.toDF("v"), len = 5, perSeed = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val b = GraphOps.randomWalks(edgeDf(simple: _*),
        seeds.toDF("v"), len = 5, perSeed = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("randomWalks == brute walk simulation on random digraphs") {
    import org.apache.spark.unsafe.types.UTF8String
    def ph(s: String): Long =
      graft.functions.PolyHashUtil.hash(UTF8String.fromString(s))
    def brute(edges: Seq[(Long, Long)], seeds: Seq[Long], len: Int,
        per: Long): Seq[(Long, Long, Long)] = {
      val adj = edges.distinct.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted).toMap
      for {
        v <- seeds; j <- 0L until per
        walk = v * per + j
        row <- {
          var cur = v
          var rows = List((walk, 0L, v))
          var s = 0
          var dead = false
          while (s < len && !dead) {
            adj.get(cur) match {
              case Some(ns) =>
                cur = ns((ph(s"$walk:$s:$cur") % ns.length).toInt)
                s += 1
                rows ::= ((walk, s.toLong, cur))
              case None => dead = true
            }
          }
          rows.reverse
        }
      } yield row
    }
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(83)
    (1 to 2).foreach { _ =>
      // sparse digraph → dead ends actually occur
      val e = List.fill(25)((rng.nextInt(15).toLong, rng.nextInt(15).toLong))
      val seeds = Seq(0L, 1L, 2L)
      val got = GraphOps.randomWalks(edgeDf(e: _*), seeds.toDF("v"),
          len = 6, perSeed = 3L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      withClue(s"edges=$e") {
        assert(got.sorted.toSeq === brute(e, seeds, 6, 3L).sorted)
      }
    }
  }

  test("walksBroadcastCap: the shuffle posture (cap = 0) walks identically to the broadcast posture, both variants") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(97)
    // multigraph input so the weighted variant has non-trivial weights
    val e = List.fill(80)((rng.nextInt(15).toLong, rng.nextInt(15).toLong))
    val seeds = Seq(0L, 1L, 2L, 3L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cap = 0 forces the equi-join shuffle posture for ANY walk count;
    // the default (few seeds ≪ cap) broadcasts — results must be
    // bit-identical: the posture is physical, the walk is the same
    // pure function of graph and walk id
    val bu = rows(GraphOps.randomWalks(edgeDf(e: _*), seeds.toDF("v")))
    val su = rows(GraphOps.randomWalks(edgeDf(e: _*), seeds.toDF("v"),
      broadcastCap = 0L))
    assert(su === bu)
    assert(bu.nonEmpty)
    val bw = rows(GraphOps.randomWalksWeighted(edgeDf(e: _*), seeds.toDF("v")))
    val sw = rows(GraphOps.randomWalksWeighted(edgeDf(e: _*), seeds.toDF("v"),
      broadcastCap = 0L))
    assert(sw === bw)
    assert(bw.nonEmpty)
  }
}
