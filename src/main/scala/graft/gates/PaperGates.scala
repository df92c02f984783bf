package graft
package gates

import graft.operators.GraphOps
import GateSql._

/** The reference's four MapReduce programs as gates: the derived edge
  * relation, exact and max-id-filtered 2-path cardinality, and directed
  * triangle counting by reduce-side join (RS) and by replicated join.
  */
object PaperGates {

  /** MAX-id constants, scaled from the reference's 50,000 / 40,000 /
    * 7,812,500 to the testdata id range (custkey 0..1500·sf·100,
    * suppkey 0..100·sf·100) so each filter keeps a nonempty proper
    * subset at every sf.
    *
    * The sf0.1 testdata has no triangle under MaxRS or MaxRep:
    * `triangles_rs` and `triangles_rep` write 0 there and
    * `triangles_vertex` writes no rows, while sf0.01 gives 2,464
    * triangles, 1,309 triangles and 50 rows. An sf0.1 oracle run
    * compares zeros and cannot catch a wrong join, so re-oracle a
    * triangle change at sf0.01.
    */
  val MaxRS = 50L // SocialTriangle_RS.java:32 — strict <
  val MaxRep = 40L // ReplicatedJoinDriver.java:31 — inclusive <=
  val MaxApprox = 78L // ApproxCardinality.java:24 — strict <

  val gates: Seq[Gate] = Seq(
    Gate("edges", (s, d) => GraphOps.edges(s, d).orderBy("src", "dst"),
      s"SELECT src, dst FROM ($EdgesCte)"),
    Gate("path2_exact", (s, d) =>
      GraphOps.path2PerVertex(GraphOps.edges(s, d)).orderBy("vertex"),
      s"WITH edges AS ($EdgesCte), deg AS ($DegCte) " +
        "SELECT vertex, CAST(m * n AS BIGINT) AS paths FROM deg"),
    Gate("path2_exact_total", (s, d) =>
      GraphOps.path2Total(GraphOps.edges(s, d)),
      s"WITH edges AS ($EdgesCte), deg AS ($DegCte) " +
        "SELECT CAST(COALESCE(SUM(m * n), 0) AS BIGINT) AS total_paths FROM deg"),
    Gate("path2_approx", (s, d) =>
      GraphOps.path2PerVertex(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxApprox)).orderBy("vertex"),
      s"WITH edges AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxApprox AND dst < $MaxApprox), " +
        s"deg AS ($DegCte) " +
        "SELECT vertex, CAST(m * n AS BIGINT) AS paths FROM deg"),
    Gate("path2_approx_total", (s, d) =>
      GraphOps.path2Total(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxApprox)),
      s"WITH edges AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxApprox AND dst < $MaxApprox), " +
        s"deg AS ($DegCte) " +
        "SELECT CAST(COALESCE(SUM(m * n), 0) AS BIGINT) AS total_paths FROM deg"),
    Gate("path2_triples", (s, d) =>
      GraphOps.path2Triples(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS))
        .orderBy("x", "y", "z"),
      s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxRS AND dst < $MaxRS) " +
        "SELECT a.src AS x, a.dst AS y, b.dst AS z " +
        "FROM e a JOIN e b ON a.dst = b.src AND a.src <> b.dst"),
    Gate("triangles_rs", (s, d) => GraphOps.trianglesRS(GraphOps.edges(s, d), MaxRS),
      s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxRS AND dst < $MaxRS), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a " +
        "JOIN e b ON a.dst = b.src AND a.src <> b.dst) " +
        "SELECT CAST(COALESCE(COUNT(*), 0) // 3 AS BIGINT) AS triangles " +
        "FROM p JOIN e c ON c.dst = p.x AND c.src = p.z"),
    Gate("triangles_vertex", (s, d) =>
      GraphOps.trianglesPerVertex(GraphOps.edges(s, d), MaxRS)
        .orderBy("vertex"),
      // per-anchor cycle counts with bag multiplicity: the join
      // multiplies duplicate edge triples, so COUNT(*) per x equals
      // the weighted sum the operator computes
      (s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxRS AND dst < $MaxRS), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a " +
        "JOIN e b ON a.dst = b.src AND a.src <> b.dst) " +
        "SELECT p.x AS vertex, CAST(COUNT(*) AS BIGINT) AS triangles " +
        "FROM p JOIN e c ON c.dst = p.x AND c.src = p.z GROUP BY p.x")),
    Gate("triangles_rep", (s, d) => GraphOps.trianglesRep(GraphOps.edges(s, d), MaxRep),
      s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src <= $MaxRep AND dst <= $MaxRep), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a JOIN e b ON a.dst = b.src) " +
        "SELECT CAST(COUNT(*) // 3 AS BIGINT) AS triangles FROM p " +
        "WHERE EXISTS (SELECT 1 FROM e c WHERE c.dst = p.x AND c.src = p.z)"),
  )
}
