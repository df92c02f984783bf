package graft

import org.scalatest.funsuite.AnyFunSuite

/** The iterative-graph core keeps one definition of each loop family: a
  * scan of `src/main` finds the PageRank damping update, the walk-id
  * seed frame, the BFS layer compaction, the Bellman-Ford relaxation
  * filter and the driver-side adjacency build once each, in `GraphOps`.
  * The BFS stride relation is built in one place, through checkpoints.
  */
class GraphCoreSpec extends AnyFunSuite {

  test("src/main has one PageRank sweep, walk loop, BFS compaction, relaxation and adjacency build") {
    val sources = SourceScan.mainSources
    val patterns = Seq(
      "PageRank damping update" -> """lit\(85L\) \* coalesce""".r,
      "walk-id seed frame" ->
        """explode\(sequence\(lit\(0L\), lit\(perSeed - 1\)\)\)""".r,
      "BFS layer compaction" -> """layers\.foreach\(drop\)""".r,
      "relaxation filter" -> """col\("nd"\) < col\("dist"\)""".r,
      "adjacency build" -> """groupBy\(_\._1\)\.map""".r)
    val problems = patterns.flatMap { case (what, re) =>
      val sites = SourceScan.sites(sources, re)
      if (sites.size == 1 && sites.head.startsWith("GraphOps.scala:")) Nil
      else Seq(s"$what: ${sites.mkString(", ")}")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("the BFS stride relation is built once, through checkpoints only") {
    val sources = SourceScan.mainSources
    // the exact-slice doubling join: one site, in GraphOps
    val slices = SourceScan.sites(sources,
      """filter\(col\("k"\) === lit\(m\.toLong\)\)""".r)
    assert(slices.size == 1 && slices.head.startsWith("GraphOps.scala:"),
      slices.mkString(", "))
    // every doubling round is one checkpoint dropped by the next: the
    // sweep loop and the stride build neither persist, coalesce nor
    // register a cache lease
    val text = sources.collectFirst { case ("GraphOps.scala", t) => t }.get
    def body(method: String): String = {
      val start = text.indexOf(s"private def $method(")
      assert(start >= 0, s"GraphOps.$method not found")
      text.substring(start, text.indexOf("\n  }\n", start))
    }
    val found = for {
      method <- Seq("bfsSweeps", "strideRelation")
      use <- Seq(".persist(", "coalesce(", "Caches.track")
      if body(method).contains(use)
    } yield s"$method: $use"
    assert(found.isEmpty, found.mkString("; "))
  }
}
