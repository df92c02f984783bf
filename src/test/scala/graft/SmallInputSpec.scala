package graft

import org.apache.spark.sql.functions._

/** The one small-input gate: a scan keeps per-operator thresholds out
  * of `src/main`, the scoped limit is validated and restored, and every
  * gate whose build reaches a size-gated operator returns the same rows
  * when `SmallInput.scoped(0)` forces each operator onto its
  * distributed loop — the oracle-checked default build is the reference,
  * so the distributed paths come under the oracle too.
  */
class SmallInputSpec extends SparkSpec {

  test("src/main has no per-operator small-input threshold outside SmallInput.scala") {
    val Threshold = """\b(localThreshold|localMax|\w+LocalEdges|\w+LocalMax)\b|1L? << 25""".r
    val found = SourceScan.mainSources.filterNot(_._1 == "SmallInput.scala")
      .flatMap { case (file, text) =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if Threshold.findFirstIn(line).isDefined =>
            s"$file:${i + 1} ${line.trim}"
        }.toList
      }
    assert(found.isEmpty,
      "size-gated operators ask SmallInput.admits: " + found.mkString("; "))
  }

  test("a limit outside [0, Cap] fails with a message naming the cap") {
    for (bad <- Seq(-1L, SmallInput.Cap + 1L, Long.MaxValue)) {
      var ran = false
      val err = intercept[IllegalArgumentException] {
        SmallInput.scoped(bad) { ran = true }
      }
      assert(!ran, s"limit $bad ran its body")
      assert(err.getMessage.contains(s"Cap = ${SmallInput.Cap}"), err.getMessage)
    }
    assert(SmallInput.scoped(SmallInput.Cap)(SmallInput.admits(SmallInput.Cap, 0L)))
    assert(!SmallInput.scoped(0L)(SmallInput.admits(1L, SmallInput.Cap)))
  }

  test("the scoped limit is restored after a throwing body, and nested scopes unwind") {
    assert(SmallInput.admits(SmallInput.ClusterEdges, SmallInput.ClusterEdges))
    val err = intercept[IllegalStateException] {
      SmallInput.scoped(0L) {
        assert(!SmallInput.admits(1L, SmallInput.ClusterEdges))
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage === "boom")
    assert(SmallInput.admits(SmallInput.ClusterEdges, SmallInput.ClusterEdges))
    assert(!SmallInput.admits(SmallInput.ClusterEdges + 1L, SmallInput.ClusterEdges))
    SmallInput.scoped(0L) {
      SmallInput.scoped(SmallInput.Cap) {
        assert(SmallInput.admits(SmallInput.Cap, 0L))
      }
      assert(!SmallInput.admits(1L, SmallInput.Cap))
    }
    assert(SmallInput.admits(SmallInput.TraversalEdges, SmallInput.TraversalEdges))
  }

  /** The sf0.01 tables of the oracle sweep, beside the sf0.001 tables
    * `PlanSpec` reads. Not sf0.001: `graph_kcore` and `graph_ktruss`
    * are empty there, and the spec's time is mostly per-round
    * scheduling, which the smaller tables barely cut (166 s against
    * 220 s for the whole spec on 4 cores).
    */
  private lazy val sfDir = new java.io.File(new PlanSpec().sf).getParentFile
    .toPath.resolve("sf0.01").toString

  /** Every gate whose build asks `SmallInput.admits`, found by recording
    * the calls per gate over an sf0.01 Verify with the memo store
    * cleared before each gate. `graph_hops_deep` asks too, but builds
    * inside its own `scoped(0)`, so both sides would run the same path.
    */
  private val Gated = Seq(
    "graph_scc", "graph_scc_dag", "graph_scc_levels", "graph_hops",
    "graph_sssp", "graph_stress", "graph_closeness_weighted", "graph_hits",
    "graph_lpa", "graph_modularity", "graph_louvain_full", "graph_kcore",
    "graph_coreness", "graph_ktruss", "graph_components",
    "graph_component_sizes", "dedup_clusters", "dedup_fuzzy_clusters",
    "dedup_survivors", "dedup_survivors_best", "docs_curation",
    "docs_manifest", "embedding_clusters", "embedding_semdedup",
    "embedding_survivors_best", "media_clusters", "text_split_leakage")

  /** Row count and `sum(hash(*))` of `gate` at `limit`. The memo store
    * is cleared first: memos such as `components` hold a gated
    * operator's output under a key that does not name the path taken.
    */
  private def digest(gate: String, limit: Option[Long]): (Long, Long) = {
    PlanMemo.shared.clear()
    try atLimit(limit) {
      val r = SparkEntry.queries(gate)(spark, sfDir)
        .selectExpr("hash(*) AS h")
        .agg(count(lit(1)), coalesce(sum(col("h").cast("long")), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    } finally Caches.clear(spark)
  }

  for (gate <- Gated)
    test(s"$gate at sf0.01: forced-distributed rows == default rows") {
      val default = digest(gate, None)
      assert(default._1 > 0L, s"$gate is empty at sf0.01")
      assert(digest(gate, Some(0L)) === default)
    }
}
