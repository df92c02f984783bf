package graft

import org.scalatest.funsuite.AnyFunSuite

/** The iterative-graph core keeps one definition of each loop family: a
  * scan of `src/main` finds the PageRank damping update, the walk-id
  * seed frame, the BFS layer compaction, the Bellman-Ford relaxation
  * filter and the driver-side adjacency build once each, in `GraphOps`.
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
}
