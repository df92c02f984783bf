package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.GraphOps
import graft.sources.Tables
import GateSql._
import PaperGates.MaxRS

/** Graph analytics over the derived follower graph: PageRank family,
  * components, communities, cores, centrality, walks, hops and SCCs.
  */
object GraphGates {

  /** Seed-set bound for the `pagerank_personalized` gate: seeds = the
    * graph vertices with id < PprSeedMax (8 keeps a handful of seeds
    * at every sf — vertex ids start at 0 on both the customer and
    * supplier ranges).
    */
  val PprSeedMax = 8L

  /** Sparsifier modulus for the `graph_components` gate: keeps ~1/40
    * of edges, which splits the (otherwise fully-connected) derived
    * graph into ~24 components at sf0.01 — a non-degenerate partition
    * the oracle's reachability closure can still afford.
    */
  val ComponentsMod = 40L

  /** Edge-slice modulus for the k-truss gate (denser than the
    * ComponentsMod slice so real peeling happens).
    */
  val TrussMod = 5L

  /** Sparsifier modulus for the `graph_link_prediction` gate: ~1/4 of
    * edges keeps the capped common-neighbor candidate set around 124k
    * pairs at sf0.1 (measured) — non-trivial but cheap on both
    * engines.
    */
  val LinkPredMod = 4L

  /** Seed-set bound and hop budget for the `graph_hops` gate: seeds =
    * vertices with id < HopSeedMax appearing in any edge; distances
    * capped at HopMax sweeps.
    */
  val HopSeedMax = 5L
  val HopMax = 3

  /** Deep-diameter variant (`graph_hops_deep`): BFS over 7 disjoint
    * step-7 doc_id chains (documents self-joined on
    * `doc_id + HopDeepStep`), seeds = the chain heads (doc_id <
    * HopDeepStep), budget HopDeepMax. Chains run ≥ 70 layers at every
    * sf, so — unlike the shallow gate — the 16-frame layer compaction
    * AND the hop-budget exit (not the empty-frontier exit) are on the
    * oracle-checked path, not just in rehearsal.
    */
  val HopDeepStep = 7L
  val HopDeepMax = 64

  /** Sparsifier modulus for the `graph_scc` gate: thins the (otherwise
    * single-giant-SCC) < MaxRS subgraph to ~1/5 of its edges, which at
    * sf0.01 yields 7 SCCs — 4 multi-vertex, largest 20 — a
    * non-degenerate partition (measured; the same scaled-constant
    * trick as ComponentsMod).
    */
  val SccMod = 5L

  /** The seed set of the seeded gates: every vertex of `e` (either
    * endpoint) with id < `max`, once.
    */
  private def seedsBelow(e: DataFrame, max: Long): DataFrame =
    e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
      .filter(col("v") < max).distinct()

  val gates: Seq[Gate] = Seq(
    // fixed-point integer PageRank on the follower graph — 5 sweeps,
    // ranks scaled by 1e6; exact long arithmetic end to end, so the
    // oracle hash-matches bit for bit (a float PageRank could not)
    Gate("pagerank", (s, d) =>
      GraphOps.pageRank(GraphOps.edges(s, d)).orderBy("vertex"),
      {
        // iterations unrolled as chained CTEs (standard SQL forbids
        // aggregation in a recursive term); constants single-sourced
        // from GraphOps so the two sides cannot drift
        val scale = GraphOps.PageRankScale
        val base = 15L * scale / 100L
        val sweeps = (1 to GraphOps.PageRankIters).map { i =>
          s"pr$i AS (SELECT verts.v, $base + (85 * COALESCE(inc.m, 0)) // 100 AS r " +
            "FROM verts LEFT JOIN (" +
            s"SELECT e.dst AS v, SUM(p.r // deg.d) AS m FROM dedges e " +
            s"JOIN pr${i - 1} p ON p.v = e.src JOIN deg ON deg.v = e.src " +
            "GROUP BY e.dst) inc ON inc.v = verts.v)"
        }.mkString(", ")
        s"WITH dedges AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
          "verts AS (SELECT src AS v FROM dedges UNION SELECT dst FROM dedges), " +
          "deg AS (SELECT src AS v, COUNT(*) AS d FROM dedges GROUP BY src), " +
          s"pr0 AS (SELECT v, $scale AS r FROM verts), $sweeps " +
          s"SELECT v AS vertex, CAST(r AS BIGINT) AS rank_fp " +
          s"FROM pr${GraphOps.PageRankIters}"
      }),
    // random-walk-with-restart relevance to the seed set (vertex id <
    // PprSeedMax): teleport mass lands only on seeds, rank decays with
    // distance — same exact-long machinery as pagerank
    Gate("pagerank_personalized", (s, d) => {
      val e = GraphOps.edges(s, d)
      GraphOps.pageRankPersonalized(e, seedsBelow(e, PprSeedMax))
        .orderBy("vertex")
    },
      {
        // the pagerank oracle with seed-gated teleportation: pr0 = scale
        // on seeds only, restart term = s · base each sweep
        val scale = GraphOps.PageRankScale
        val base = 15L * scale / 100L
        val sweeps = (1 to GraphOps.PageRankIters).map { i =>
          s"pr$i AS (SELECT sv.v, sv.s * $base + (85 * COALESCE(inc.m, 0)) // 100 AS r " +
            "FROM sv LEFT JOIN (" +
            s"SELECT e.dst AS v, SUM(p.r // deg.d) AS m FROM dedges e " +
            s"JOIN pr${i - 1} p ON p.v = e.src JOIN deg ON deg.v = e.src " +
            "GROUP BY e.dst) inc ON inc.v = sv.v)"
        }.mkString(", ")
        s"WITH dedges AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
          "verts AS (SELECT src AS v FROM dedges UNION SELECT dst FROM dedges), " +
          "deg AS (SELECT src AS v, COUNT(*) AS d FROM dedges GROUP BY src), " +
          s"sv AS (SELECT v, CASE WHEN v < $PprSeedMax THEN 1 ELSE 0 END AS s " +
          "FROM verts), " +
          s"pr0 AS (SELECT v, s * $scale AS r FROM sv), $sweeps " +
          s"SELECT v AS vertex, CAST(r AS BIGINT) AS rank_fp " +
          s"FROM pr${GraphOps.PageRankIters}"
      }),
    // bag-semantics twin: repeated edges are weight (buys-from volume)
    Gate("pagerank_weighted", (s, d) =>
      GraphOps.pageRankWeighted(GraphOps.edges(s, d)).orderBy("vertex"),
      {
        // the pagerank oracle with the weighted compression: per-edge
        // contribution = (rank // total-out-weight) * w — truncate
        // before multiply, exactly like the operator
        val scale = GraphOps.PageRankScale
        val base = 15L * scale / 100L
        val sweeps = (1 to GraphOps.PageRankIters).map { i =>
          s"pr$i AS (SELECT verts.v, $base + (85 * COALESCE(inc.m, 0)) // 100 AS r " +
            "FROM verts LEFT JOIN (" +
            s"SELECT e.dst AS v, SUM((p.r // tw.tw) * e.w) AS m FROM we e " +
            s"JOIN pr${i - 1} p ON p.v = e.src JOIN tw ON tw.v = e.src " +
            "GROUP BY e.dst) inc ON inc.v = verts.v)"
        }.mkString(", ")
        s"WITH we AS (SELECT src, dst, COUNT(*) AS w FROM ($EdgesCte) " +
          "GROUP BY 1, 2), " +
          "verts AS (SELECT src AS v FROM we UNION SELECT dst FROM we), " +
          "tw AS (SELECT src AS v, SUM(w) AS tw FROM we GROUP BY 1), " +
          s"pr0 AS (SELECT v, $scale AS r FROM verts), $sweeps " +
          s"SELECT v AS vertex, CAST(r AS BIGINT) AS rank_fp " +
          s"FROM pr${GraphOps.PageRankIters}"
      }),
    // weakly-connected components on a deterministic sparse slice of
    // the follower graph (the full derived graph is one giant
    // component — the slice makes the partition non-degenerate, the
    // same scaled-constant trick as the Max* filters); component label
    // = min reachable vertex id, via the dedup family's star
    // contraction kernel
    Gate("graph_components", (s, d) =>
      GraphOps.components(
        GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex"),
      // min-reachable-id via transitive closure — affordable only on
      // the sparsified slice, which is the point of ComponentsMod
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0), " +
        "sym AS (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS vertex, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component " +
        "FROM reach GROUP BY u")),
    Gate("graph_degree_hist", (s, d) =>
      GraphOps.degreeHistogram(GraphOps.edges(s, d)).orderBy("out_degree"),
      s"WITH edges AS ($EdgesCte), deg AS ($DegCte) " +
        "SELECT CAST(n AS BIGINT) AS out_degree, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vertices FROM deg GROUP BY n"),
    // fragmentation profile: how many components have each size —
    // two tiny-key aggregations over the components labeling
    Gate("graph_component_sizes", (s, d) =>
      GraphOps.componentSizes(GraphOps.components(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod)))
        .orderBy("component_size"),
      // graph_components' closure rolled up twice: per-component sizes,
      // then how many components share each size
      s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0), " +
        "sym AS (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "comp AS (SELECT u AS vertex, LEAST(u, MIN(v)) AS component " +
        "FROM reach GROUP BY u), " +
        "cs AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component) " +
        "SELECT CAST(sz AS BIGINT) AS component_size, " +
        "CAST(COUNT(*) AS BIGINT) AS n_components FROM cs GROUP BY sz"),
    // deterministic synchronous label propagation on the sparsified
    // slice — community detection at a fixed round budget both
    // engines unroll (LPA has no guaranteed fixpoint)
    Gate("graph_lpa", (s, d) =>
      GraphOps.labelPropagation(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex"),
      // unrolled synchronous-LPA twin: LpaRounds rounds of per-vertex
      // argmax (count DESC, label ASC) over the symmetrized simple
      // slice; MATERIALIZED like the kcore unroll (each round CTE is
      // referenced twice — inlining would go exponential in the depth)
      GraphLpaSql),
    // did LPA find real structure? Newman modularity decomposition of
    // those communities on the same slice, exact integer pieces
    Gate("graph_modularity", (s, d) => {
      val sp = GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod)
      GraphOps.modularity(sp, GraphOps.labelPropagation(sp))
        .orderBy("community")
    },
      // the LPA labeling spliced whole; sym rebuilt with the identical
      // sparsify/symmetrize expressions; each undirected intra edge
      // appears exactly twice in the sym bag (hence // 2)
      (s"WITH lpa AS MATERIALIZED (SELECT * FROM ($GraphLpaSql)), " +
        s"base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), " +
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "mm AS (SELECT COUNT(*) // 2 AS m FROM sym), " +
        "j AS MATERIALIZED (SELECT s.u, s.v, la.community AS c1, " +
        "lb.community AS c2 FROM sym s " +
        "JOIN lpa la ON la.vertex = s.u JOIN lpa lb ON lb.vertex = s.v), " +
        "intra AS (SELECT c1 AS community, COUNT(*) // 2 AS e_intra " +
        "FROM j WHERE c1 = c2 GROUP BY 1), " +
        "deg AS (SELECT c1 AS community, COUNT(*)::BIGINT AS d_tot " +
        "FROM j GROUP BY 1), " +
        "nv AS (SELECT community, COUNT(*)::BIGINT AS n_vertices " +
        "FROM lpa GROUP BY 1) " +
        "SELECT nv.community, nv.n_vertices, " +
        "CAST(COALESCE(intra.e_intra, 0) AS BIGINT) AS e_intra, " +
        "CAST(COALESCE(deg.d_tot, 0) AS BIGINT) AS d_tot, " +
        "CAST(mm.m AS BIGINT) AS m, " +
        "CAST(4 * mm.m * COALESCE(intra.e_intra, 0) - " +
        "COALESCE(deg.d_tot, 0) * COALESCE(deg.d_tot, 0) AS BIGINT) AS q_num " +
        "FROM nv LEFT JOIN deg ON deg.community = nv.community " +
        "LEFT JOIN intra ON intra.community = nv.community, mm")),
    // one synchronous Louvain round from singletons: integer ΔQ
    // numerator argmax per vertex — the modularity-OPTIMIZATION step
    // next to the metric gate above
    Gate("graph_louvain", (s, d) =>
      GraphOps.louvainRound(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex"),
      {
        // the modularity oracle's sym construction; per-vertex argmax of
        // the integer ΔQ numerator 2m·1 − k_u·k_v (gain desc, nbr asc),
        // move iff positive, synchronous against the singleton state
        s"WITH base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
          s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), " +
          "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
          "UNION SELECT dst, src FROM base), " +
          "deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS k FROM sym GROUP BY 1), " +
          "mm AS (SELECT COUNT(*) // 2 AS m FROM sym), " +
          "cand AS (SELECT s.u, s.v, 2 * mm.m - du.k * dv.k AS gain " +
          "FROM sym s JOIN deg du ON du.u = s.u " +
          "JOIN deg dv ON dv.u = s.v, mm), " +
          "best AS (SELECT u, v, gain, row_number() OVER (PARTITION BY u " +
          "ORDER BY gain DESC, v ASC) AS rn FROM cand) " +
          "SELECT d.u AS vertex, CAST(CASE WHEN b.gain > 0 THEN b.v " +
          "ELSE d.u END AS BIGINT) AS community, " +
          "CAST(CASE WHEN b.gain > 0 THEN b.gain ELSE 0 END AS BIGINT) " +
          "AS gain_num FROM deg d JOIN best b ON b.u = d.u AND b.rn = 1"
      }),
    // FULL multi-level Louvain: mutual-best positive-gain matching per
    // level on the running contraction, LouvainLevels levels unrolled
    // by both engines (merge step is the identity once converged);
    // Q is monotone per level by construction — spec-pinned against
    // `modularity`
    Gate("graph_louvain_full", (s, d) =>
      GraphOps.louvain(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex"),
      // unrolled multi-level Louvain twin: LouvainLevels levels of
      // (contract weights by current labeling → strengths → integer ΔQ
      // gains → per-community argmax (gain DESC, partner ASC) among
      // positives → MUTUAL pairs merge to the smaller id). MATERIALIZED
      // per level like the kcore unroll (each CTE referenced 2-3x)
      {
        val levels = graft.operators.GraphOps.LouvainLevels
        val sb = new StringBuilder
        sb.append("WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
          s"FROM ($EdgesCte) " +
          s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), ")
        sb.append("sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
          "UNION SELECT dst, src FROM base), ")
        sb.append("mm AS MATERIALIZED (SELECT COUNT(*) // 2 AS m FROM sym), ")
        sb.append("c0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, " +
          "u AS community FROM sym), ")
        for (i <- 1 to levels) {
          val p = i - 1
          sb.append(s"w$i AS MATERIALIZED (SELECT ca.community AS a, " +
            "cb.community AS b, COUNT(*)::BIGINT AS w FROM sym s " +
            s"JOIN c$p ca ON ca.vertex = s.u " +
            s"JOIN c$p cb ON cb.vertex = s.v GROUP BY 1, 2), ")
          sb.append(s"k$i AS MATERIALIZED (SELECT a, SUM(w)::BIGINT AS k " +
            s"FROM w$i GROUP BY 1), ")
          sb.append(s"g$i AS MATERIALIZED (SELECT wa.a, wa.b, " +
            s"2 * mm.m * wa.w - ka.k * kb.k AS g FROM w$i wa " +
            s"JOIN k$i ka ON ka.a = wa.a JOIN k$i kb ON kb.a = wa.b, mm " +
            "WHERE wa.a <> wa.b), ")
          sb.append(s"b$i AS MATERIALIZED (SELECT a, b AS nbr FROM " +
            "(SELECT a, b, row_number() OVER (PARTITION BY a " +
            s"ORDER BY g DESC, b ASC) AS rn FROM g$i WHERE g > 0) " +
            "WHERE rn = 1), ")
          sb.append(s"m$i AS MATERIALIZED (SELECT x.a AS frm, x.nbr AS toc " +
            s"FROM b$i x JOIN b$i y ON y.a = x.nbr " +
            "WHERE y.nbr = x.a AND x.a > x.nbr), ")
          sb.append(s"c$i AS MATERIALIZED (SELECT c.vertex, " +
            "CAST(COALESCE(mg.toc, c.community) AS BIGINT) AS community " +
            s"FROM c$p c LEFT JOIN m$i mg ON mg.frm = c.community), ")
        }
        sb.setLength(sb.length - 2)
        sb.append(s" SELECT vertex, community FROM c$levels")
        sb.toString
      }),
    // HITS hubs & authorities in exact ppb fixed-point — the directed
    // complement of pagerank's relevance family, on the same
    // sparsified slice at the same unrolled-round contract
    Gate("graph_hits", (s, d) =>
      GraphOps.hits(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex"),
      // unrolled HITS twin: HitsRounds alternating auth/hub sweeps with
      // ppb L1 normalization — HUGEINT-safe (SUM promotes; raw·scale
      // stays under 2^63 by the Σ ≤ scale invariant), MATERIALIZED like
      // every unrolled fixpoint oracle
      {
        val rounds = graft.operators.GraphOps.HitsRounds
        val scale = graft.operators.GraphOps.HitsScale
        val sb = new StringBuilder
        sb.append("WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
          s"FROM ($EdgesCte) " +
          s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), ")
        sb.append("verts AS MATERIALIZED (SELECT src AS v FROM base " +
          "UNION SELECT dst FROM base), ")
        sb.append("h0 AS MATERIALIZED (SELECT v, CAST(1 AS BIGINT) AS x " +
          "FROM verts), ")
        (1 to rounds).foreach { i =>
          sb.append(s"ar$i AS MATERIALIZED (SELECT b.dst AS v, SUM(h.x) " +
            s"AS raw FROM base b JOIN h${i - 1} h ON h.v = b.src GROUP BY 1), ")
          sb.append(s"af$i AS MATERIALIZED (SELECT verts.v, " +
            s"COALESCE(raw, 0) AS raw FROM verts LEFT JOIN ar$i USING (v)), ")
          sb.append(s"a$i AS MATERIALIZED (SELECT v, CAST(CASE WHEN t.tot = 0 " +
            s"THEN 0 ELSE raw * $scale // t.tot END AS BIGINT) AS x " +
            s"FROM af$i, (SELECT SUM(raw) AS tot FROM af$i) t), ")
          sb.append(s"hr$i AS MATERIALIZED (SELECT b.src AS v, SUM(a.x) " +
            s"AS raw FROM base b JOIN a$i a ON a.v = b.dst GROUP BY 1), ")
          sb.append(s"hf$i AS MATERIALIZED (SELECT verts.v, " +
            s"COALESCE(raw, 0) AS raw FROM verts LEFT JOIN hr$i USING (v)), ")
          sb.append(s"h$i AS MATERIALIZED (SELECT v, CAST(CASE WHEN t.tot = 0 " +
            s"THEN 0 ELSE raw * $scale // t.tot END AS BIGINT) AS x " +
            s"FROM hf$i, (SELECT SUM(raw) AS tot FROM hf$i) t), ")
        }
        sb.setLength(sb.length - 2)
        sb.append(s" SELECT h.v AS vertex, h.x AS hub_fp, a.x AS auth_fp " +
          s"FROM h$rounds h JOIN a$rounds a ON a.v = h.v")
        sb.toString
      }),
    // k-core: iterative degree-≥-k peeling of the undirected simple
    // graph to its fixpoint; the oracle unrolls KCoreMaxRounds peel
    // steps (identity past the fixpoint), the operator raises if it
    // ever needs more — so the two cannot silently diverge
    Gate("graph_kcore", (s, d) =>
      GraphOps.kCore(GraphOps.edges(s, d)).orderBy("node_id"),
      // unrolled peeling twin of GraphOps.kCore: e0 = the symmetrized
      // simple graph, then KCoreMaxRounds rounds of "keep edges whose
      // BOTH endpoints currently have degree >= k" — the peel step is
      // the identity at the fixpoint, and the operator RAISES if the
      // bound is ever insufficient, so equal-by-unrolling is sound
      {
        val k = graft.operators.GraphOps.KCoreK
        val rounds = graft.operators.GraphOps.KCoreMaxRounds
        // every CTE is MATERIALIZED: DuckDB inlines multiply-referenced
        // CTEs by default, and e_i referencing e_{i-1} three times makes
        // the inlined plan EXPONENTIAL in the unroll depth (observed as
        // fd exhaustion re-opening the base parquet thousands of times)
        val cte = new StringBuilder
        cte ++= "WITH base AS MATERIALIZED " +
          s"(SELECT src, dst FROM ($EdgesCte) WHERE src <> dst), "
        cte ++= "e0 AS MATERIALIZED " +
          "(SELECT src, dst FROM base UNION SELECT dst, src FROM base)"
        for (i <- 1 to rounds) {
          cte ++= s", k$i AS MATERIALIZED (SELECT src AS v FROM e${i - 1} " +
            s"GROUP BY src HAVING COUNT(*) >= $k)"
          cte ++= s", e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e " +
            s"JOIN k$i a ON e.src = a.v JOIN k$i b ON e.dst = b.v)"
        }
        cte ++= s" SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS degree " +
          s"FROM e$rounds GROUP BY src"
        cte.result()
      }),
    // full coreness decomposition by monotone successive peeling on
    // the sparsified slice (max observed coreness 3; operator raises
    // past CorenessMaxK/CorenessMaxRounds, the oracle unrolls exactly
    // those bounds)
    Gate("graph_coreness", (s, d) =>
      GraphOps.coreness(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("node_id"),
      // unrolled successive-peeling twin of GraphOps.coreness: levels
      // 2..CorenessMaxK each unroll CorenessMaxRounds peel rounds over
      // the previous level's fixpoint (identity once converged/empty);
      // coreness = 1 + |{levels whose fixpoint keeps the vertex}|.
      // Every CTE MATERIALIZED — see graph_kcore's exponential-inline
      // note
      {
        val kMax = graft.operators.GraphOps.CorenessMaxK
        val r = graft.operators.GraphOps.CorenessMaxRounds
        val cte = new StringBuilder
        cte ++= s"WITH sp AS MATERIALIZED (SELECT src, dst FROM ($EdgesCte) " +
          s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), "
        cte ++= "e1 AS MATERIALIZED " +
          "(SELECT src, dst FROM sp UNION SELECT dst, src FROM sp)"
        var prev = "e1"
        for (k <- 2 to kMax) {
          for (i <- 1 to r) {
            val src = if (i == 1) prev else s"e${k}_${i - 1}"
            cte ++= s", k${k}_$i AS MATERIALIZED (SELECT src AS v FROM $src " +
              s"GROUP BY src HAVING COUNT(*) >= $k)"
            cte ++= s", e${k}_$i AS MATERIALIZED (SELECT e.src, e.dst " +
              s"FROM $src e JOIN k${k}_$i a ON e.src = a.v " +
              s"JOIN k${k}_$i b ON e.dst = b.v)"
          }
          cte ++= s", verts$k AS MATERIALIZED " +
            s"(SELECT DISTINCT src AS v FROM e${k}_$r)"
          prev = s"e${k}_$r"
        }
        val unions = (2 to kMax).map(k => s"SELECT v FROM verts$k")
          .mkString(" UNION ALL ")
        cte ++= s", extra AS (SELECT v, COUNT(*) AS cnt FROM ($unions) GROUP BY v)"
        cte ++= " SELECT v1.v AS node_id, " +
          "CAST(1 + COALESCE(extra.cnt, 0) AS BIGINT) AS coreness " +
          "FROM (SELECT DISTINCT src AS v FROM e1) v1 " +
          "LEFT JOIN extra ON extra.v = v1.v"
        cte.result()
      }),
    // k-truss: support-≥-k−2 peeling on the mod-5 slice (dense enough
    // that the 5-truss actually peels: 1878 → 1087 edges at sf0.01);
    // oracle unrolls KTrussMaxRounds support/filter rounds
    Gate("graph_ktruss", (s, d) =>
      GraphOps.kTruss(GraphOps.sparsifyEdges(GraphOps.edges(s, d),
          TrussMod))
        .orderBy("src", "dst"),
      // unrolled support-peeling twin of GraphOps.kTruss: each round
      // counts every edge's common neighbors with one triangle join and
      // keeps support ≥ k−2 (an edge in no triangle has no support row —
      // dropped, exactly the operator's semi-join). Identity past the
      // fixpoint; every CTE MATERIALIZED (the kcore exponential-inline
      // lesson)
      {
        val k = GraphOps.KTrussK
        val rounds = GraphOps.KTrussMaxRounds
        val cte = new StringBuilder
        cte ++= "WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
          s"FROM ($EdgesCte) WHERE (src * 31 + dst) % $TrussMod = 0 " +
          "AND src <> dst), "
        cte ++= "e0 AS MATERIALIZED " +
          "(SELECT src, dst FROM base UNION SELECT dst, src FROM base)"
        for (i <- 1 to rounds) {
          cte ++= s", s$i AS MATERIALIZED (SELECT e.src, e.dst, " +
            s"COUNT(*) AS sup FROM e${i - 1} e " +
            s"JOIN e${i - 1} a ON a.src = e.src " +
            s"JOIN e${i - 1} b ON b.src = e.dst AND b.dst = a.dst " +
            "GROUP BY 1, 2)"
          cte ++= s", e$i AS MATERIALIZED (SELECT src, dst FROM s$i " +
            s"WHERE sup >= ${k - 2})"
        }
        cte ++= s", sfin AS (SELECT e.src, e.dst, COUNT(*) AS sup " +
          s"FROM e$rounds e JOIN e$rounds a ON a.src = e.src " +
          s"JOIN e$rounds b ON b.src = e.dst AND b.dst = a.dst " +
          "GROUP BY 1, 2)"
        cte ++= " SELECT src, dst, CAST(sup AS BIGINT) AS support " +
          "FROM sfin WHERE src < dst"
        cte.result()
      }),
    // degree-mixing moment sums (Newman assortativity numerators):
    // all-integer one-row relation; r itself is consumer arithmetic
    Gate("graph_assortativity", (s, d) =>
      GraphOps.assortativityMoments(GraphOps.edges(s, d)),
      s"WITH base AS (SELECT src, dst FROM ($EdgesCte) WHERE src <> dst), " +
        "und AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base), " +
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src), " +
        "j AS (SELECT du.d AS x, dv.d AS y FROM und e " +
        "JOIN deg du ON e.src = du.v JOIN deg dv ON e.dst = dv.v) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_edges, " +
        "CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y, " +
        "CAST(SUM(x * y) AS BIGINT) AS sum_xy, " +
        "CAST(SUM(x * x) AS BIGINT) AS sum_x2, " +
        "CAST(SUM(y * y) AS BIGINT) AS sum_y2 FROM j"),
    // neighborhood-overlap link prediction on the sparsified slice:
    // degree-capped common-neighbor Jaccard, new links only
    Gate("graph_link_prediction", (s, d) =>
      GraphOps.linkPrediction(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), LinkPredMod))
        .orderBy("node_id", "rank"),
      {
        val cap = graft.operators.GraphOps.LinkPredMidCap
        val k = graft.operators.GraphOps.LinkPredK
        s"WITH sp AS (SELECT src, dst FROM ($EdgesCte) " +
          s"WHERE (src * 31 + dst) % $LinkPredMod = 0 AND src <> dst), " +
          "und AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp), " +
          "deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src), " +
          "mid AS (SELECT u.src AS m, u.dst AS x FROM und u " +
          s"JOIN deg ON deg.v = u.src WHERE deg.d <= $cap), " +
          "cand AS (SELECT a.x AS va, b.x AS vb, COUNT(*) AS shared " +
          "FROM mid a JOIN mid b ON a.m = b.m AND a.x < b.x GROUP BY 1, 2), " +
          "fresh AS (SELECT c.* FROM cand c WHERE NOT EXISTS " +
          "(SELECT 1 FROM und u WHERE u.src = c.va AND u.dst = c.vb)), " +
          "sc AS (SELECT f.va, f.vb, f.shared, " +
          "f.shared * 1000000 // (da.d + db.d - f.shared) AS jacc_ppm " +
          "FROM fresh f JOIN deg da ON da.v = f.va JOIN deg db ON db.v = f.vb), " +
          "s AS (SELECT va AS node_id, vb AS candidate_id, shared, jacc_ppm FROM sc " +
          "UNION ALL SELECT vb, va, shared, jacc_ppm FROM sc), " +
          "r AS (SELECT s.*, row_number() OVER (PARTITION BY node_id " +
          "ORDER BY jacc_ppm DESC, candidate_id ASC) AS rnk FROM s) " +
          "SELECT node_id, CAST(rnk AS BIGINT) AS \"rank\", candidate_id, " +
          "CAST(shared AS BIGINT) AS shared, CAST(jacc_ppm AS BIGINT) AS jacc_ppm " +
          s"FROM r WHERE rnk <= $k"
      }),
    // tie strength for every existing edge on the same sparsified
    // slice: zero-shared edges are the bridges, so all edges report
    Gate("graph_tie_strength", (s, d) =>
      GraphOps.tieStrength(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), LinkPredMod))
        .orderBy("src", "dst"),
      // tie-strength oracle: the link-prediction CTEs with the adjacency
      // LEFT join instead of the NOT EXISTS anti-join — every canonical
      // edge reports, zero-shared bridges included
      {
        val cap = graft.operators.GraphOps.LinkPredMidCap
        s"WITH sp AS (SELECT src, dst FROM ($EdgesCte) " +
          s"WHERE (src * 31 + dst) % $LinkPredMod = 0 AND src <> dst), " +
          "und AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp), " +
          "deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src), " +
          "mid AS (SELECT u.src AS m, u.dst AS x FROM und u " +
          s"JOIN deg ON deg.v = u.src WHERE deg.d <= $cap), " +
          "cand AS (SELECT a.x AS va, b.x AS vb, COUNT(*) AS sh " +
          "FROM mid a JOIN mid b ON a.m = b.m AND a.x < b.x GROUP BY 1, 2), " +
          "ec AS (SELECT src AS va, dst AS vb FROM und WHERE src < dst) " +
          "SELECT ec.va AS src, ec.vb AS dst, " +
          "CAST(COALESCE(c.sh, 0) AS BIGINT) AS shared, " +
          "CAST(COALESCE(c.sh, 0) * 1000000 // " +
          "(da.d + db.d - COALESCE(c.sh, 0)) AS BIGINT) AS jacc_ppm " +
          "FROM ec LEFT JOIN cand c ON c.va = ec.va AND c.vb = ec.vb " +
          "JOIN deg da ON da.v = ec.va JOIN deg db ON db.v = ec.vb"
      }),
    Gate("graph_mutual", (s, d) =>
      GraphOps.mutualFollows(GraphOps.edges(s, d)),
      s"WITH de AS (SELECT DISTINCT src, dst FROM ($EdgesCte) WHERE src <> dst) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS mutual_pairs " +
        "FROM de a JOIN de b ON a.src = b.dst AND a.dst = b.src " +
        "WHERE a.src < a.dst"),
    // directed SCC on a deterministic 1/SccMod slice of the < MaxRS
    // subgraph (unsliced it is one giant SCC; sliced it breaks into a
    // real multi-SCC partition — see SccMod); label = min mutually-
    // reachable vertex id, via forward/backward min-label partition
    // refinement
    Gate("graph_scc", (s, d) =>
      GraphOps.stronglyConnectedComponents(
        GraphOps.sparsifyEdges(
          GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS), SccMod))
        .orderBy("vertex"),
      // min mutually-reachable id via the directed transitive closure —
      // affordable on the < MaxRS subgraph (≤ MaxRS vertices)
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS " +
        s"AND (src * 31 + dst) % $SccMod = 0), " +
        "verts AS (SELECT src AS v FROM base UNION SELECT dst FROM base), " +
        "reach(u, w) AS (SELECT src, dst FROM base " +
        "UNION SELECT r.u, b.dst FROM reach r JOIN base b ON r.w = b.src), " +
        "mut AS (SELECT a.u AS v, a.w FROM reach a " +
        "JOIN reach b ON a.u = b.w AND a.w = b.u) " +
        "SELECT verts.v AS vertex, " +
        "CAST(LEAST(verts.v, COALESCE(MIN(mut.w), verts.v)) AS BIGINT) AS scc " +
        "FROM verts LEFT JOIN mut ON mut.v = verts.v GROUP BY verts.v")),
    // the SCC-level DAG of the same sliced subgraph: edges mapped to
    // component labels, intra-component edges dropped — acyclic by
    // construction (property-pinned), the relation topological /
    // dependency analyses consume
    Gate("graph_scc_dag", (s, d) => {
      val e = GraphOps.sparsifyEdges(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS), SccMod)
      GraphOps.sccCondensation(e, GraphOps.stronglyConnectedComponents(e))
        .orderBy("scc_src", "scc_dst")
    },
      // same closure-derived labeling, then edges mapped to labels and
      // intra-component rows dropped
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS " +
        s"AND (src * 31 + dst) % $SccMod = 0), " +
        "verts AS (SELECT src AS v FROM base UNION SELECT dst FROM base), " +
        "reach(u, w) AS (SELECT src, dst FROM base " +
        "UNION SELECT r.u, b.dst FROM reach r JOIN base b ON r.w = b.src), " +
        "mut AS (SELECT a.u AS v, a.w FROM reach a " +
        "JOIN reach b ON a.u = b.w AND a.w = b.u), " +
        "scc AS (SELECT verts.v AS vertex, " +
        "LEAST(verts.v, COALESCE(MIN(mut.w), verts.v)) AS lbl " +
        "FROM verts LEFT JOIN mut ON mut.v = verts.v GROUP BY verts.v) " +
        "SELECT DISTINCT CAST(a.lbl AS BIGINT) AS scc_src, " +
        "CAST(b.lbl AS BIGINT) AS scc_dst " +
        "FROM base JOIN scc a ON a.vertex = base.src " +
        "JOIN scc b ON b.vertex = base.dst WHERE a.lbl <> b.lbl")),
    // bounded multi-source BFS: distance to the nearest low-id seed
    // within HopMax directed hops — exact integer layers, min per
    // vertex; unreached vertices absent
    Gate("graph_hops", (s, d) => {
      val e = GraphOps.edges(s, d)
      GraphOps.hopDistances(e, seedsBelow(e, HopSeedMax), HopMax)
        .orderBy("vertex")
    },
      // bounded walk enumeration: every (vertex, depth ≤ HopMax) pair
      // on some path from a seed, MIN per vertex = BFS distance
      (s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
        "walk(v, dd) AS (SELECT v, 0 FROM seeds " +
        "UNION SELECT e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $HopMax) " +
        "SELECT v AS vertex, CAST(MIN(dd) AS BIGINT) AS dist " +
        "FROM walk GROUP BY v")),
    // sampled closeness centrality (Eppstein-Wang): k hash-chosen
    // sources, exact bounded BFS per source through hopDistances,
    // per-vertex (n_reached, sum_dist, harmonic_ppm) over the sample
    Gate("graph_closeness", (s, d) =>
      GraphOps.closenessSampled(GraphOps.edges(s, d)).orderBy("vertex"),
      {
        // per-SEED bounded walk enumeration (the walk state carries the
        // seed column, so MIN per (seed, vertex) is that source's exact
        // BFS layer), then the per-vertex sample aggregation; seeds are
        // the k smallest (poly_hash(v), v) — the same hash-chosen
        // sample the operator collects
        val k = GraphOps.ClosenessSeeds
        val h = GraphOps.ClosenessMaxHops
        s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
          "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
          "UNION ALL SELECT dst FROM e)), " +
          "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
          s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
          s"WHERE rn <= $k), " +
          "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
          "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
          s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
          "d AS (SELECT s, v, MIN(dd) AS dist FROM walk GROUP BY 1, 2) " +
          "SELECT v AS vertex, CAST(COUNT(*) AS BIGINT) AS n_reached, " +
          "CAST(SUM(dist) AS BIGINT) AS sum_dist, " +
          "CAST(SUM(CASE WHEN dist >= 1 THEN 1000000 // dist ELSE 0 END) " +
          "AS BIGINT) AS harmonic_ppm FROM d GROUP BY v"
      }),
    // weighted closeness over the same sample: budget-truncated
    // Bellman-Ford distances (edge weight = bag multiplicity),
    // aggregated to per-vertex reach/sum/harmonic evidence
    Gate("graph_closeness_weighted", (s, d) =>
      GraphOps.closenessWeightedSampled(GraphOps.edges(s, d))
        .orderBy("vertex"),
      {
        // labeled Bellman-Ford unrolled to EXACTLY SsspRounds
        // min-combine rounds (each MATERIALIZED — the d_i CTEs are
        // referenced twice), seeds = the k smallest (poly_hash(v), v);
        // the operator's frontier-delta loop equals the synchronous
        // unroll by min-combine idempotence (ssspBudget's pinned law)
        val k = GraphOps.ClosenessSeeds
        val rounds = GraphOps.SsspRounds
        val body = (1 to rounds).map { i =>
          s"wd$i AS MATERIALIZED (SELECT s, v, MIN(dist) AS dist FROM (" +
            s"SELECT s, v, dist FROM wd${i - 1} UNION ALL " +
            s"SELECT d.s, e.dst, d.dist + e.w FROM wd${i - 1} d " +
            "JOIN e ON e.src = d.v) GROUP BY 1, 2)"
        }.mkString(", ")
        s"WITH e AS MATERIALIZED (SELECT src, dst, COUNT(*)::BIGINT AS w " +
          s"FROM ($EdgesCte) GROUP BY 1, 2), " +
          "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
          "UNION ALL SELECT dst FROM e)), " +
          "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
          s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
          s"WHERE rn <= $k), " +
          "wd0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS dist FROM seeds), " +
          s"$body " +
          "SELECT v AS vertex, CAST(COUNT(*) AS BIGINT) AS n_reached, " +
          s"CAST(SUM(dist) AS BIGINT) AS sum_wdist, " +
          "CAST(SUM(CASE WHEN dist >= 1 THEN 1000000 // dist ELSE 0 END) " +
          s"AS BIGINT) AS harmonic_ppm FROM wd$rounds GROUP BY v"
      }),
    // per-source within-budget eccentricity over the same hash-chosen
    // sample (max BFS layer per seed + reach count)
    Gate("graph_eccentricity", (s, d) =>
      GraphOps.eccentricitySampled(GraphOps.edges(s, d))
        .orderBy("source"),
      {
        // same per-seed bounded walk enumeration as graph_closeness,
        // aggregated per SEED: within-budget eccentricity + reach count
        val k = GraphOps.ClosenessSeeds
        val h = GraphOps.ClosenessMaxHops
        s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
          "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
          "UNION ALL SELECT dst FROM e)), " +
          "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
          s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
          s"WHERE rn <= $k), " +
          "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
          "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
          s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
          "d AS (SELECT s, v, MIN(dd) AS dist FROM walk GROUP BY 1, 2) " +
          "SELECT s AS source, CAST(MAX(dist) AS BIGINT) AS ecc, " +
          "CAST(COUNT(*) AS BIGINT) AS n_reached FROM d GROUP BY s"
      }),
    // 1-row diameter lower bound / radius estimate from the sampled
    // eccentricities
    Gate("graph_diameter", (s, d) =>
      GraphOps.diameterSampled(GraphOps.edges(s, d)),
      {
        // the per-seed eccentricity CTE collapsed to the 1-row
        // diameter-lower-bound / radius-estimate summary
        val k = GraphOps.ClosenessSeeds
        val h = GraphOps.ClosenessMaxHops
        s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
          "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
          "UNION ALL SELECT dst FROM e)), " +
          "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
          s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
          s"WHERE rn <= $k), " +
          "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
          "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
          s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
          "d AS (SELECT s, v, MIN(dd) AS dist FROM walk GROUP BY 1, 2), " +
          "ec AS (SELECT s, MAX(dist) AS ecc FROM d GROUP BY s) " +
          "SELECT CAST(COUNT(*) AS BIGINT) AS n_seeds, " +
          "CAST(MAX(ecc) AS BIGINT) AS diameter_lb, " +
          "CAST(MIN(ecc) AS BIGINT) AS radius_est FROM ec"
      }),
    // Brandes forward phase from a hash-chosen sample: exact BFS dist
    // + exact shortest-path COUNTS per (seed, vertex) — all integer
    Gate("graph_path_counts", (s, d) =>
      GraphOps.shortestPathCounts(GraphOps.edges(s, d))
        .orderBy("seed", "vertex"),
      // graph_path_counts oracle — the forward σ layers unioned.
      {
        val h = GraphOps.PathHops
        val out = (0 to h).map(i =>
          s"SELECT s AS seed, v AS vertex, CAST($i AS BIGINT) AS dist, " +
            s"sigma FROM g$i").mkString(" UNION ALL ")
        s"WITH ${pathCtesSql(withTau = false)} $out"
      }),
    // budgeted stress centrality: σ·τ path-through counts summed over
    // the sample — the all-integer member of the betweenness family
    Gate("graph_stress", (s, d) =>
      GraphOps.stressSampled(GraphOps.edges(s, d)).orderBy("vertex"),
      // graph_stress oracle — σ·τ summed per vertex over internal
      // layers (1..H−1; layer H has τ = 0, layer 0 is the source).
      {
        val h = GraphOps.PathHops
        val layers = (1 until h).map(i =>
          s"SELECT g$i.v, g$i.sigma * t$i.tau AS c FROM g$i " +
            s"JOIN t$i ON t$i.s = g$i.s AND t$i.v = g$i.v")
          .mkString(" UNION ALL ")
        s"WITH ${pathCtesSql(withTau = true)} " +
          s"SELECT v AS vertex, CAST(SUM(c) AS BIGINT) AS stress " +
          s"FROM ($layers) GROUP BY v HAVING SUM(c) > 0"
      }),
    // deterministic node2vec-style walks from the hop seed set — the
    // graph-embedding corpus generator, RNG-free
    Gate("graph_walks", (s, d) => {
      val e = GraphOps.edges(s, d)
      GraphOps.randomWalksShared(e, seedsBelow(e, HopSeedMax))
        .orderBy("walk_id", "step")
    },
      GraphWalksSql),
    // weight-proportional walks: heavy edges are walked ∝ multiplicity
    // via deterministic cumulative-range selection
    Gate("graph_walks_weighted", (s, d) => {
      val e = GraphOps.edges(s, d)
      GraphOps.randomWalksWeighted(e, seedsBelow(e, HopSeedMax))
        .orderBy("walk_id", "step")
    },
      {
        // the cumulative-range transition: r = hash mod out-weight lands
        // in exactly one neighbor's [lo, hi) range (running sums over
        // unique dst per src — the frame is identical in both engines)
        val len = GraphOps.WalkLen
        val per = GraphOps.WalksPerSeed
        val steps = (1 to len).map { s =>
          val h = phSql(s"CAST(p.walk_id AS VARCHAR) || ':${s - 1}:' || " +
            "CAST(p.vertex AS VARCHAR)")
          s"w$s AS (SELECT p.walk_id, a.dst AS vertex FROM w${s - 1} p " +
            s"JOIN adj a ON a.src = p.vertex AND $h % a.tot >= a.lo " +
            s"AND $h % a.tot < a.hi)"
        }.mkString(", ")
        val out = (0 to len).map(s =>
          s"SELECT walk_id, CAST($s AS BIGINT) AS step, vertex FROM w$s")
          .mkString(" UNION ALL ")
        s"WITH e AS (SELECT src, dst, COUNT(*)::BIGINT AS w " +
          s"FROM ($EdgesCte) GROUP BY 1, 2), " +
          "adj AS (SELECT src, dst, w, " +
          "SUM(w) OVER (PARTITION BY src ORDER BY dst) AS hi, " +
          "SUM(w) OVER (PARTITION BY src ORDER BY dst) - w AS lo, " +
          "SUM(w) OVER (PARTITION BY src) AS tot FROM e), " +
          "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
          s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
          s"w0 AS (SELECT v * $per + j AS walk_id, v AS vertex FROM seeds, " +
          s"(SELECT unnest(range(0, $per)) AS j)) " +
          s", $steps $out"
      }),
    // skip-gram (center, context) pair counts from the same walks —
    // the DeepWalk corpus → word2vec-examples step
    Gate("graph_walk_pairs", (s, d) => {
      val e = GraphOps.edges(s, d)
      GraphOps.walkPairs(
          GraphOps.randomWalksShared(e, seedsBelow(e, HopSeedMax)))
        .orderBy("center", "context")
    },
      // skip-gram pairs over the SAME spliced walk corpus — the two
      // gates cannot drift
      (s"WITH w AS (SELECT * FROM ($GraphWalksSql)) " +
        "SELECT a.vertex AS center, b.vertex AS context, " +
        "CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM w a JOIN w b ON b.walk_id = a.walk_id " +
        "AND b.step <> a.step AND abs(a.step - b.step) <= " +
        s"${GraphOps.WalkWindow} GROUP BY 1, 2")),
    // weighted SSSP: min path WEIGHT (edge multiplicity) over paths of
    // ≤ SsspRounds edges from the same seed set as graph_hops —
    // budget-truncated Bellman-Ford, exactly unrolled by the oracle
    Gate("graph_sssp", (s, d) => {
      val e = GraphOps.edges(s, d)
      GraphOps.ssspBudget(e, seedsBelow(e, HopSeedMax)).orderBy("vertex")
    },
      {
        // Bellman-Ford unrolled to EXACTLY SsspRounds min-combine rounds
        // (MATERIALIZED — each round CTE is referenced twice; DuckDB
        // would otherwise inline them exponentially, the kcore lesson).
        // The Spark side's early exit is a fixpoint, so extra oracle
        // rounds past convergence are identity.
        val rounds = GraphOps.SsspRounds
        val body = (1 to rounds).map { i =>
          s"d$i AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (" +
            s"SELECT v, dist FROM d${i - 1} UNION ALL " +
            s"SELECT e.dst AS v, d${i - 1}.dist + e.w AS dist FROM d${i - 1} " +
            s"JOIN e ON e.src = d${i - 1}.v) GROUP BY v)"
        }.mkString(", ")
        s"WITH e AS MATERIALIZED (SELECT src, dst, COUNT(*)::BIGINT AS w " +
          s"FROM ($EdgesCte) GROUP BY 1, 2), " +
          "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
          s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
          s"d0 AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM seeds), $body " +
          s"SELECT v AS vertex, CAST(dist AS BIGINT) AS dist FROM d$rounds"
      }),
    // DEEP-diameter BFS: the same operator with a 64-hop budget over a
    // long-chain graph (documents self-joined at stride HopDeepStep ⇒
    // 7 disjoint ~N/7-deep paths), so the distributed super-sweep loop,
    // the doubling-built stride relation, the final layer compaction and
    // the budget-cap exit all run on the hash-checked path — the
    // shallow gate exits at 3 sweeps. At hopStride = 16 the budget is
    // 4 super-sweeps, so the in-loop 16-frame compaction does not fire
    // here (GraphOpsSpec's 80-vertex chain covers it)
    Gate("graph_hops_deep", (s, d) => {
      val docs = Tables.table(s, d, "documents").select(col("doc_id"))
      val e = docs.join(
          docs.select((col("doc_id") - HopDeepStep).as("doc_id")), "doc_id")
        .select(col("doc_id").as("src"),
          (col("doc_id") + HopDeepStep).as("dst"))
      val seeds = docs.filter(col("doc_id") < HopDeepStep)
        .select(col("doc_id").as("v"))
      // SmallInput.scoped(0): this gate EXISTS to drive the distributed
      // sweep loop / stride build / budget exit (the shallow gate
      // takes the gated local path). Stride 16: this gate alone, warm,
      // local[4], on the perfbench sf0.1 tables (4,993 edges), with
      // the stride relation built in checkpointed doubling rounds,
      // measured stride 8 = 1.45-1.8 s (3 doubling rounds, 8
      // super-sweeps), 16 = 1.1-1.4 s (4, 4), 32 = 1.2-1.7 s (5, 2).
      // The per-sweep plumbing is narrowed by GraphOps.bfsSweeps'
      // tiny-regime conf scope.
      SmallInput.scoped(0L) {
        GraphOps.hopDistances(e, seeds, HopDeepMax, hopStride = 16)
      }.orderBy("vertex")
    },
      // same min-over-reachable-depths form at the 64-hop budget over
      // the stride-7 doc_id chain graph; UNION dedup bounds the state
      // at (vertex, depth) pairs, and the chains are simple paths so
      // each vertex carries exactly one depth
      (s"WITH RECURSIVE e AS (SELECT a.doc_id AS src, b.doc_id AS dst " +
        "FROM documents a JOIN documents b " +
        s"ON b.doc_id = a.doc_id + $HopDeepStep), " +
        s"seeds AS (SELECT doc_id AS v FROM documents WHERE doc_id < $HopDeepStep), " +
        "walk(v, dd) AS (SELECT v, 0 FROM seeds " +
        "UNION SELECT e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $HopDeepMax) " +
        "SELECT v AS vertex, CAST(MIN(dd) AS BIGINT) AS dist " +
        "FROM walk GROUP BY v")),
    // dependency WAVES of the same condensation: SCC → condensation →
    // longest-path levels, the full cycle-safe scheduling pipeline in
    // one gate
    Gate("graph_scc_levels", (s, d) => {
      val e = GraphOps.sparsifyEdges(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS), SccMod)
      GraphOps.topoLevels(
          GraphOps.sccCondensation(e,
            GraphOps.stronglyConnectedComponents(e)))
        .orderBy("vertex")
    },
      // levels via the recursive path-length enumeration: every (v, l)
      // pair reachable by some path, MAX per vertex = longest path —
      // terminates because the condensation is acyclic
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS " +
        s"AND (src * 31 + dst) % $SccMod = 0), " +
        "verts AS (SELECT src AS v FROM base UNION SELECT dst FROM base), " +
        "reach(u, w) AS (SELECT src, dst FROM base " +
        "UNION SELECT r.u, b.dst FROM reach r JOIN base b ON r.w = b.src), " +
        "mut AS (SELECT a.u AS v, a.w FROM reach a " +
        "JOIN reach b ON a.u = b.w AND a.w = b.u), " +
        "scc AS (SELECT verts.v AS vertex, " +
        "LEAST(verts.v, COALESCE(MIN(mut.w), verts.v)) AS lbl " +
        "FROM verts LEFT JOIN mut ON mut.v = verts.v GROUP BY verts.v), " +
        "dag AS (SELECT DISTINCT a.lbl AS s, b.lbl AS d FROM base " +
        "JOIN scc a ON a.vertex = base.src " +
        "JOIN scc b ON b.vertex = base.dst WHERE a.lbl <> b.lbl), " +
        "dv AS (SELECT s AS v FROM dag UNION SELECT d FROM dag), " +
        "lv(v, l) AS (SELECT v, 0 FROM dv " +
        "UNION SELECT dag.d, lv.l + 1 FROM lv JOIN dag ON dag.s = lv.v) " +
        "SELECT v AS vertex, CAST(MAX(l) AS BIGINT) AS level " +
        "FROM lv GROUP BY v")),
    // local clustering coefficient on the < MaxRS distinct subgraph:
    // directed 3-cycles through v over ordered neighbor pairs, as the
    // scaled integer cc_fp (exact long arithmetic — hash-checkable)
    Gate("graph_clustering", (s, d) =>
      GraphOps.clusteringCoefficient(GraphOps.edges(s, d), MaxRS)
        .orderBy("vertex"),
      {
        val sc = GraphOps.CcScale
        s"WITH e AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
          s"WHERE src < $MaxRS AND dst < $MaxRS), " +
          "p AS (SELECT a.src AS x, b.dst AS z FROM e a " +
          "JOIN e b ON a.dst = b.src AND a.src <> b.dst), " +
          "tri AS (SELECT p.x AS vertex, COUNT(*) AS t FROM p " +
          "JOIN e c ON c.dst = p.x AND c.src = p.z GROUP BY p.x), " +
          "nb AS (SELECT v AS vertex, COUNT(*) AS n FROM (" +
          "SELECT src AS v, dst AS u FROM e WHERE src <> dst " +
          "UNION SELECT dst, src FROM e WHERE src <> dst) GROUP BY v) " +
          "SELECT nb.vertex, CAST(COALESCE(t, 0) AS BIGINT) AS triangles, " +
          "CAST(n AS BIGINT) AS n_nbrs, " +
          s"CAST(CASE WHEN n < 2 THEN 0 ELSE (COALESCE(t, 0) * $sc) // " +
          "(n * (n - 1)) END AS BIGINT) AS cc_fp " +
          "FROM nb LEFT JOIN tri ON tri.vertex = nb.vertex"
      }),
  )

  /** Shared CTE chain for the path-count/stress oracles: the
    * recursive min-dist relation `md` per hash-chosen seed, then
    * PathHops forward σ layers (`g0..gH` — σ_i(v) = Σ σ_{i-1}(u)
    * over edges into layer-i vertices) and, for stress, PathHops
    * backward τ layers (`tH..t0` — τ_i(v) = Σ (τ_{i+1}(w) + 1) over
    * DAG successors). Every CTE MATERIALIZED (each is referenced
    * by the next layer AND the final union — DuckDB would otherwise
    * inline them exponentially, the kcore lesson).
    */
  private def pathCtesSql(withTau: Boolean): String = {
    val k = GraphOps.PathSeeds
    val h = GraphOps.PathHops
    val fwd = (1 to h).map { i =>
      s"g$i AS MATERIALIZED (SELECT g${i - 1}.s, e.dst AS v, " +
        s"CAST(SUM(g${i - 1}.sigma) AS BIGINT) AS sigma " +
        s"FROM g${i - 1} JOIN e ON e.src = g${i - 1}.v " +
        s"JOIN md ON md.s = g${i - 1}.s AND md.v = e.dst " +
        s"AND md.dist = $i GROUP BY 1, 2)"
    }.mkString(", ")
    val bwd = if (!withTau) "" else {
      val steps = (h - 1).to(0, -1).map { i =>
        s"t$i AS MATERIALIZED (SELECT l.s, l.v, " +
          s"CAST(COALESCE(SUM(t${i + 1}.tau + 1), 0) AS BIGINT) AS tau " +
          s"FROM (SELECT s, v FROM md WHERE dist = $i) l " +
          "LEFT JOIN e ON e.src = l.v " +
          s"LEFT JOIN t${i + 1} ON t${i + 1}.s = l.s " +
          s"AND t${i + 1}.v = e.dst GROUP BY 1, 2)"
      }.mkString(", ")
      s", t$h AS MATERIALIZED (SELECT s, v, CAST(0 AS BIGINT) AS tau " +
        s"FROM md WHERE dist = $h), " + steps
    }
    s"RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
      "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
      "UNION ALL SELECT dst FROM e)), " +
      "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
      s"WHERE rn <= $k), " +
      "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
      "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
      s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
      "md AS MATERIALIZED (SELECT s, v, MIN(dd) AS dist FROM walk " +
      "GROUP BY 1, 2), " +
      "g0 AS MATERIALIZED (SELECT v AS s, v, CAST(1 AS BIGINT) AS sigma " +
      "FROM seeds), " + fwd + bwd
  }

  /** graph_lpa oracle — shared whole by graph_modularity. */
  private lazy val GraphLpaSql: String = {
      val rounds = graft.operators.GraphOps.LpaRounds
      val sb = new StringBuilder
      sb.append("WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
        s"FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), ")
      sb.append("sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), ")
      sb.append("l0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, " +
        "u AS lab FROM sym), ")
      (1 to rounds).foreach { i =>
        sb.append(s"c$i AS MATERIALIZED (SELECT s.u AS vertex, l.lab, " +
          s"COUNT(*) AS n FROM sym s JOIN l${i - 1} l ON l.vertex = s.v " +
          "GROUP BY 1, 2), ")
        sb.append(s"l$i AS MATERIALIZED (SELECT vertex, lab FROM " +
          "(SELECT vertex, lab, row_number() OVER (PARTITION BY vertex " +
          s"ORDER BY n DESC, lab ASC) AS rn FROM c$i) WHERE rn = 1), ")
      }
      sb.setLength(sb.length - 2)
      sb.append(s" SELECT vertex, CAST(lab AS BIGINT) AS community " +
        s"FROM l$rounds")
      sb.toString
    }

  /** graph_walks oracle — the walk recurrence unrolled to WalkLen
    * joins; the step-s hash string is "<walk_id>:<s-1>:<vertex>" in
    * BOTH engines. Shared whole by graph_walk_pairs.
    */
  private lazy val GraphWalksSql: String = {
    val len = GraphOps.WalkLen
    val per = GraphOps.WalksPerSeed
    val steps = (1 to len).map { s =>
      s"w$s AS (SELECT p.walk_id, a.dst AS vertex FROM w${s - 1} p " +
        "JOIN adj a ON a.src = p.vertex AND a.rnk = " +
        phSql(s"CAST(p.walk_id AS VARCHAR) || ':${s - 1}:' || " +
          "CAST(p.vertex AS VARCHAR)") +
        " % a.deg + 1)"
    }.mkString(", ")
    val out = (0 to len).map(s =>
      s"SELECT walk_id, CAST($s AS BIGINT) AS step, vertex FROM w$s")
      .mkString(" UNION ALL ")
    s"WITH e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
      "adj AS (SELECT src, dst, row_number() OVER (PARTITION BY src " +
      "ORDER BY dst) AS rnk, COUNT(*) OVER (PARTITION BY src) AS deg " +
      "FROM e), " +
      "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
      s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
      s"w0 AS (SELECT v * $per + j AS walk_id, v AS vertex FROM seeds, " +
      s"(SELECT unnest(range(0, $per)) AS j)) " +
      s", $steps $out"
  }
}
