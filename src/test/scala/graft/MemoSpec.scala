package graft

/** Every operator memo goes through the one shared `PlanMemo` store:
  * a scan keeps new per-operator instances and colliding family tags
  * out of `src/main`, and a reflective read pins the two fields the
  * benchmark harness takes its `memo.*` figures from.
  */
class MemoSpec extends SparkSpec {

  import SourceScan.mainSources

  test("src/main builds PlanMemo instances only in PlanMemo.scala") {
    val New = """new\s+(graft\.)?PlanMemo\b""".r
    val found = mainSources.flatMap { case (file, text) =>
      New.findAllMatchIn(text).map(_ => file)
    }
    assert(found.nonEmpty)
    assert(found.forall(_ == "PlanMemo.scala"),
      "operator memos go through PlanMemo.getOrBuild: " +
        found.filterNot(_ == "PlanMemo.scala").mkString(", "))
  }

  test("every getOrBuild call site in src/main passes a params literal with its own family tag") {
    // a call: `getOrBuild(`, the input argument, then the params
    // literal, which may open on the next line; PlanMemo.scala itself
    // only defines and forwards the call
    val Call = """getOrBuild\(""".r
    val Site = """getOrBuild\(\s*[^,()]*(?:\([^()]*\))?[^,()]*,\s*s?"([^"]*)"""".r
    val callers = mainSources.filterNot(_._1 == "PlanMemo.scala")
    val sites = callers.flatMap { case (file, text) =>
      Site.findAllMatchIn(text).map(m => (file, PlanMemo.tagOf(m.group(1))))
    }
    val calls = callers.map { case (_, text) =>
      Call.findAllMatchIn(text).size
    }.sum
    assert(sites.size === calls,
      s"a getOrBuild call site without a params literal: ${sites.size} " +
        s"literals for $calls calls")
    assert(sites.size >= 29, sites)
    val clashes = sites.groupBy(_._2).filter(_._2.size > 1)
    assert(clashes.isEmpty,
      "family tags must be unique per call site: " + clashes.map {
        case (tag, at) => s"$tag at ${at.map(_._1).mkString(", ")}"
      }.mkString("; "))
  }

  test("the harness's reflective memo counters see a build and a hit on the shared store") {
    // read the fields exactly as the benchmark harness does
    val obj = Class.forName("graft.PlanMemo$").getField("MODULE$").get(null)
    def field(name: String): AnyRef = {
      val f = obj.getClass.getDeclaredField(name)
      f.setAccessible(true)
      f.get(obj)
    }
    val build = field("buildNanos")
      .asInstanceOf[java.util.concurrent.atomic.AtomicLong]
    val instances = field("instances").asInstanceOf[java.util.Collection[_]]
    import scala.jdk.CollectionConverters._
    def hits(): Long = instances.asScala.iterator.map { m =>
      m.getClass.getMethod("hits").invoke(m)
        .asInstanceOf[java.util.concurrent.atomic.AtomicLong].get
    }.sum
    assert(instances.contains(PlanMemo.shared))
    val d = spark.range(3).toDF()
    val (b0, h0) = (build.get, hits())
    Caches.scoped {
      PlanMemo.getOrBuild(d, "specReflect|1") { Thread.sleep(5); "built" }
    }
    assert(build.get - b0 >= 5000000L, "the build was not charged")
    assert(hits() === h0, "a miss must not count as a hit")
    Caches.scoped {
      assert(PlanMemo.getOrBuild(d, "specReflect|1")("rebuilt") === "built")
    }
    assert(hits() === h0 + 1)
    assert(PlanMemo.hitsOf("specReflect") === 1L)
  }
}
