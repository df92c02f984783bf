package graft

import org.scalatest.funsuite.AnyFunSuite

/** The text-retrieval core keeps one definition of each shared step: a
  * scan of `src/main` finds the term-frequency aggregation, the
  * Robertson idf expression and the BM25 tf-norm chain once each, in
  * `TextOps`; the 60-bit dual PolyHash once as a Column and once on the
  * driver, in `PolyHash`, and once as oracle SQL, in `GateSql`.
  */
class TextCoreSpec extends AnyFunSuite {

  test("src/main has one tf aggregation, one idf expression, one BM25 tf-norm chain and one dual hash") {
    val sources = SourceScan.mainSources
    val owners = Seq(
      "tf aggregation" ->
        ("""agg\(count\(lit\(1\)\)\.as\("tf"\)\)""".r, "TextOps.scala"),
      "idf expression" -> ("""div \(2 \* df \+ 1\)""".r, "TextOps.scala"),
      "BM25 tf-norm chain" ->
        ("""tf \* \(\$\{Bm25K1pm\} \+ 1000\)""".r, "TextOps.scala"),
      "60-bit dual hash" ->
        ("""\*\s*lit\((graft\.functions\.)?PolyHashUtil\.Mod2\)""".r,
          "PolyHash.scala"),
      "driver-side dual hash" -> ("""\*\s*Mod2\b""".r, "PolyHash.scala"),
      "oracle SQL dual hash" ->
        ("""\$\{(graft\.functions\.)?PolyHashUtil\.Mod2\}|\$mod2\b""".r,
          "GateSql.scala"))
    val problems = owners.flatMap { case (what, (re, owner)) =>
      val sites = SourceScan.sites(sources, re)
      if (sites.size == 1 && sites.head.startsWith(owner + ":")) Nil
      else Seq(s"$what (owner $owner): ${sites.mkString(", ")}")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }
}
