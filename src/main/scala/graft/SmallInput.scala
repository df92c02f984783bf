package graft

/** The one small-input gate. A size-gated operator asks `admits(n,
  * bound)` with the row count it already holds; at or below the bound
  * it runs its single-task twin (the whole input collected to the driver
  * or coalesced into one task), above it the distributed loop. Each
  * twin computes the same rows as its loop, spec-pinned by forcing both
  * sides through `scoped`.
  *
  * Measured at sf0.1 (local[4], warm), every twin beats its distributed
  * path by 1.4× (hops) to 10× (louvain): below these bounds the loop's
  * cost is fixed per-round scheduling, not data.
  */
object SmallInput {

  /** Distinct edges for the traversal twins (scc, topoLevels,
    * hopDistances, stressSampled, ssspBudget, closenessWeightedSampled,
    * hits). The gate asks "is the WHOLE distinct edge set less work
    * than one normal scan partition": 2M edges ≈ 32 MB of long pairs
    * (48 with weights), a quarter of a default 128 MB split, collected
    * once and processed in one JVM in tens of milliseconds, versus
    * rounds × (2–10 exchanges) of fixed scheduling overhead in the
    * distributed loop (~40 ms per exchange under AQE, measured on the
    * hop gates). Transient adjacency maps stay a few hundred MB, far
    * under the 8g floor every regime here runs with. The earlier 250k
    * bound predates the per-exchange measurement and left 0.5–6M-edge
    * graphs paying seconds of scheduling for milliseconds of work.
    */
  val TraversalEdges = 2000000L

  /** Symmetric rows for the degree and truss peels' local tails
    * (kCore, coreness, kTruss), checked every round. WORK-based, the
    * traversal bound scaled to a peel's per-edge cost: a truss round
    * costs ~avg-degree set operations per edge where a BFS hop costs
    * one, so the 2M-edge budget divided by the measured average degree
    * (~8 on the suite's slices) gives 2^18 symmetric rows (131k
    * collected pairs, 4 MB of long pairs). At sf0.1 the TrussMod slice
    * is 234k symmetric rows, 503k oriented wedges, max oriented
    * out-degree 27: the whole peel is less work than one scan task,
    * while a distributed round pays ~8 exchange-bearing stages
    * (measured 3.1 → ~1.9 s on the truss gate).
    */
  val PeelRows = 262144L

  /** Edges for the clustering twins (dupClusters, labelPropagation,
    * modularity, louvain): the 250k edges (~4 MB of longs) the star
    * loop's partition sizing allots to ONE partition, so the union-find
    * twin only fires on graphs the distributed loop would run at
    * parts = 1 anyway. For louvain, measured at sf0.1 (≈30k symmetric
    * rows), the distributed loop's 6 levels cost ~0.75 s EACH in stage
    * scheduling (~10 exchanges per level over kilobyte data).
    */
  val ClusterEdges = 250000L

  /** The most rows any twin may take: 1 << 25 edges ≈ 1.6 GB of
    * union-find map in one JVM, already past where every distributed
    * loop wins. Every bound above is under it.
    */
  val Cap: Long = 1L << 25

  @volatile private var forced: Option[Long] = None

  /** Whether an input of `n` rows takes the single-task twin: `n` at or
    * below `bound`, or at or below the scoped limit while one is in force.
    */
  def admits(n: Long, bound: Long): Boolean = n <= forced.getOrElse(bound)

  /** Run `body` with every gate's bound replaced by `limit`: 0 forces
    * each operator onto its distributed loop (an empty input still
    * takes the twin), `Cap` forces every twin. Restores the previous
    * limit on a throwing body too. The limit is process-wide while the
    * body runs, so this relies on queries running one at a time, as
    * `Confs.scoped` does.
    */
  private[graft] def scoped[A](limit: Long)(body: => A): A = {
    require(limit >= 0L && limit <= Cap,
      s"SmallInput limit must be in [0, Cap = $Cap], got $limit " +
        "(a twin holds its whole input in one JVM)")
    val saved = forced
    forced = Some(limit)
    try body finally forced = saved
  }
}
