package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dedup core keeps one definition of each shared step: a scan of
  * `src/main` (outside the expression definitions in `functions/` and
  * their registration in `GraftExtensions`) finds the word-shingle hash
  * call, the MinHash signature call, the band-signature text, the
  * sorted-merge verify, the content-key triple and the SimHash
  * signature once each, in `Dedup`.
  */
class DedupCoreSpec extends AnyFunSuite {

  test("src/main has one shingle hash, MinHash signature, band text, verify, content key and SimHash signature") {
    val functions = new java.io.File("src/main/scala/graft/functions")
      .listFiles.map(_.getName).toSet
    val sources = SourceScan.mainSources.filterNot { case (name, _) =>
      functions(name) || name == "GraftExtensions.scala"
    }
    val patterns = Seq(
      "shingle-hash expression" -> """shingle_hash\(""".r,
      "MinHash signature" -> """minhash_sig\(""".r,
      "band-signature text" -> """concat_ws\(","""".r,
      "verified-pair intersection" -> """sorted_intersect_size\(""".r,
      "content-key triple" -> """poly_hash2\(col\("text"\)\)""".r,
      "SimHash signature" -> """simhash\(col\(""".r)
    val problems = patterns.flatMap { case (what, re) =>
      val sites = SourceScan.sites(sources, re)
      if (sites.size == 1 && sites.head.startsWith("Dedup.scala:")) Nil
      else Seq(s"$what: ${sites.mkString(", ")}")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }
}
