package graft

import graft.functions.PolyHashFunctions.poly_hash
import graft.functions.TextFunctions._
import graft.operators.{Dedup, GraphOps, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Unit evidence for the LLM-pipeline extension operators. The real
  * correctness gate is the DuckDB oracle (Verify + oracleSql); these
  * pin the local semantics and the cross-strategy invariants.
  */
class ExtensionsSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  def docsDf(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("poly_hash matches the reference arithmetic (cross-checked vs DuckDB)") {
    val got = docsDf((0L, "abc")).select(poly_hash(col("text"))).collect()(0).getLong(0)
    // ((0*131+97)*131+98)*131+99 mod 1e9+7 = 1677554 — verified in DuckDB
    assert(got === 1677554L)
  }

  test("poly_hash unicode codepoints match DuckDB's unicode()/split('')") {
    // values precomputed with DuckDB list_reduce over unicode(split(s,''))
    val expected = Map(
      "héllo wörld" -> 474620570L,
      "naïve café ☃" -> 168191249L,
      "a☃b" -> 2939476L)
    val got = docsDf(expected.keys.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq: _*)
      .select(col("text"), poly_hash(col("text")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("token_count / shingles semantics") {
    val df = docsDf((1L, "  a b  c d "), (2L, "x"), (3L, ""))
    val counts = df.select(col("doc_id"), token_count(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts === Map(1L -> 4, 2L -> 1, 3L -> 0))
    val sh = df.select(col("doc_id"),
        word_shingles(tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) === Seq("a b c", "b c d"))
    assert(sh(2L) === Seq.empty)
    assert(sh(3L) === Seq.empty)
  }

  test("native shingle_hash == composed word_shingles + poly_hash") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import graft.functions.ShingleHashFunctions.shingle_hash
    val both = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        shingle_hash(col("toks"), 3).as("nat"),
        transform(word_shingles(col("toks"), 3), s => poly_hash(s)).as("comp"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("exact dedup groups identical texts") {
    val df = docsDf((1L, "same text"), (2L, "same text"), (3L, "other"))
    val got = Dedup.exact(df).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("exact dedup does not false-merge a real poly_hash collision") {
    // birthday-searched: distinct strings, identical primary hash
    val a = "civrtgwouhdt"
    val b = "hds obt qruv"
    val fp = docsDf((1L, a), (2L, b))
      .select(poly_hash(col("text"))).collect().map(_.getLong(0))
    assert(fp(0) === fp(1), "fixture must collide on the primary hash")
    // the (fp1, fp2, len) key keeps them apart
    assert(Dedup.exact(docsDf((1L, a), (2L, b))).count() === 2L)
  }

  test("ngram jaccard finds a planted near-dup and skips distinct docs") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and often"
    val c = "completely different words with nothing shared at all here now"
    val got = Dedup.ngramJaccard(docsDf((1L, a), (2L, b), (3L, c)))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("native simhash == aggregation-form simhash on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val nat = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashViaAgg(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nat === agg)
  }

  test("char_gram_hash rolling == direct double PolyHash of each window") {
    import graft.functions.CharGramHashFunctions.char_gram_hash
    import graft.functions.PolyHashUtil
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq("hello world hello world", "naïve café ☃ naïve café ☃!",
      "ab", "", "emoji 👍🏽 pair 👍🏽 emoji", "aaaaaaaaaa")
    val k = 5
    val got = docsDf(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
      .select(col("doc_id"), char_gram_hash(col("text"), k).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val cps = t.codePoints.toArray
      val exp = (0 to cps.length - k).map { s =>
        val w = new String(cps.slice(s, s + k), 0, k)
        PolyHashUtil.hash(UTF8String.fromString(w)) * PolyHashUtil.Mod2 +
          PolyHashUtil.hash(UTF8String.fromString(w),
            PolyHashUtil.Mult2, PolyHashUtil.Mod2)
      }
      assert(got(i.toLong) === exp, s"text '$t'")
    }
  }

  test("sorted_intersect_size == size(array_intersect) on random distinct arrays") {
    import graft.functions.ShingleHashFunctions.sorted_intersect_size
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      def arr() = Seq.fill(rng.nextInt(60))(rng.nextInt(80).toLong)
        .distinct.sorted
      (i.toLong, arr(), arr())
    } :+ ((200L, Seq.empty[Long], Seq(1L, 2L))) :+
      ((201L, Seq(3L), Seq.empty[Long]))
    val df = rows.toDF("id", "a", "b")
    val both = df.select(col("id"),
        sorted_intersect_size(col("a"), col("b")).as("merge"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    both.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id ${r.getLong(0)}"))
  }

  test("repeatedSpans == brute-force window-count reference") {
    // S (40 unique chars) shared by docs 1 and 2 at different offsets;
    // doc 3 has no corpus-repeated window; doc 4 repeats its own S2
    // twice (within-doc counts toward the corpus threshold)
    val S = "abcdefghijklmnopqrstuvwxyz0123456789!@#$"
    val S2 = "αβγδεζηθικλμνξοπρστυφχψω⊕⊖⊗⊘⊙⊚⊛⊜⊝∀∁∂∃∄∅∆∇∈"
    val uniqA = "ABCDEFGHIJKLMNOPQRSTUVWXYZ%^&*()_+={}~"
    val fill3 = "ÀÁÂÃÄÅÆÇÈÉÊËÌÍÎÏÐÑÒÓÔÕÖ×ØÙÚÛÜÝÞß"
    val fill4 = "ĀāĂăĄąĆćĈĉĊċČčĎďĐđĒēĔĕĖėĘęĚěĜĝĞğĠġĢģ"
    val texts = Map(1L -> (uniqA + S), 2L -> (S + uniqA.toLowerCase),
      3L -> fill3, 4L -> (S2 + fill4 + S2))
    val k = graft.operators.Dedup.SpanGramChars
    // reference: corpus-wide window counts over code points
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val winsOf = texts.view.mapValues { t =>
      val cps = t.codePoints.toArray
      (0 to cps.length - k).map(s => new String(cps.slice(s, s + k), 0, k))
    }.toMap
    winsOf.values.flatten.foreach(w => counts(w) = counts.getOrElse(w, 0) + 1)
    val expected = winsOf.flatMap { case (id, ws) =>
      val ps = ws.zipWithIndex.collect { case (w, p) if counts(w) >= 2 => p }
      if (ps.isEmpty) None
      else {
        val spans = 1 + ps.sliding(2).count {
          case Seq(a, b) => b - a > k; case _ => false }
        val covered = k + ps.sliding(2).map {
          case Seq(a, b) => math.min(k, b - a); case _ => 0 }.sum
        Some(id -> (spans.toLong, covered.toLong, ps.length.toLong))
      }
    }
    val got = Dedup.repeatedSpans(
        docsDf(texts.toSeq.sortBy(_._1): _*), k)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    assert(got.contains(1L) && got.contains(4L) && !got.contains(3L))
    assert(got(4L)._1 === 2L) // two separate spans (filler > k apart)

    // and the APPLY step: clean text = code points outside the union
    // of [p, p+k) over that doc's repeated-window positions
    val expectedClean = texts.map { case (id, t) =>
      val cps = t.codePoints.toArray
      val hit = winsOf(id).zipWithIndex
        .collect { case (w, p) if counts(w) >= 2 => p }
      val covered = hit.flatMap(p => p until p + k).toSet
      id -> new String(cps.zipWithIndex.collect {
        case (cp, i) if !covered(i) => cp }.flatMap(c => Character.toChars(c)))
    }
    val gotClean = Dedup.spansRemoved(
        docsDf(texts.toSeq.sortBy(_._1): _*), k)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotClean === expectedClean)
    assert(gotClean(3L) === fill3) // untouched doc passes through
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("spansRemovedKeepOne keeps the lexicographically-first copy of every span") {
    // same fixture as the brute-force test above: S shared by docs 1
    // and 2; doc 4 repeats S2 within itself; doc 3 untouched
    val S = "abcdefghijklmnopqrstuvwxyz0123456789!@#$"
    val S2 = "αβγδεζηθικλμνξοπρστυφχψω⊕⊖⊗⊘⊙⊚⊛⊜⊝∀∁∂∃∄∅∆∇∈"
    val uniqA = "ABCDEFGHIJKLMNOPQRSTUVWXYZ%^&*()_+={}~"
    val fill3 = "ÀÁÂÃÄÅÆÇÈÉÊËÌÍÎÏÐÑÒÓÔÕÖ×ØÙÚÛÜÝÞß"
    val fill4 = "ĀāĂăĄąĆćĈĉĊċČčĎďĐđĒēĔĕĖėĘęĚěĜĝĞğĠġĢģ"
    val k = graft.operators.Dedup.SpanGramChars
    val got = Dedup.spansRemovedKeepOne(docsDf(
        1L -> (uniqA + S), 2L -> (S + uniqA.toLowerCase),
        3L -> fill3, 4L -> (S2 + fill4 + S2)), k)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 owns every S window ((1, p) < (2, p')) → fully kept
    assert(got(1L) === uniqA + S)
    // doc 2's copy of S is the non-owner → cut; its tail is unique
    assert(got(2L) === uniqA.toLowerCase)
    assert(got(3L) === fill3)
    // within-doc repeat: first S2 occurrence owns (min pos) → second cut
    assert(got(4L) === S2 + fill4)
    // contrast: the scrub variant cuts BOTH copies everywhere
    val scrub = Dedup.spansRemoved(docsDf(
        1L -> (uniqA + S), 2L -> (S + uniqA.toLowerCase),
        3L -> fill3, 4L -> (S2 + fill4 + S2)), k)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scrub(1L) === uniqA && scrub(4L) === fill4)
  }

  test("spans property: stats/scrub/keep-one agree with brute force on random corpora") {
    // randomized cross-check of the three span operators against one
    // straight-line reference, plus the internal identity
    //   covered_chars(repeatedSpans) == len(text) - len(spansRemoved)
    // — the operators share hitPositions but diverge in span
    // arithmetic, so drift between them otherwise only shows if an
    // oracle happens to catch it
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    val k = 8
    // corpora are concatenations from a shared fragment pool — random
    // independent strings would never repeat a k-window
    val fragGen = Gen.choose(4, 20).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
    val corpusGen = for {
      pool <- Gen.listOfN(6, fragGen)
      nDocs <- Gen.choose(2, 10)
      docs <- Gen.listOfN(nDocs, Gen.listOfN(3, Gen.oneOf(pool)).map(_.mkString))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val prop = Prop.forAll(corpusGen) { corpus =>
      val texts = corpus.toMap
      // reference: positions of corpus-repeated k-windows per doc
      val counts = scala.collection.mutable.Map.empty[String, Int]
      val winsOf = texts.view.mapValues(t =>
        (0 to t.length - k).map(p => t.substring(p, p + k))).toMap
      winsOf.values.flatten.foreach(w => counts(w) = counts.getOrElse(w, 0) + 1)
      val hitsOf = winsOf.map { case (id, ws) =>
        id -> ws.zipWithIndex.collect { case (w, p) if counts(w) >= 2 => p } }
      // keep-one reference: drop each window's (doc, pos)-min occurrence
      val owner = scala.collection.mutable.Map.empty[String, (Long, Int)]
      for (id <- texts.keys.toSeq.sorted; (w, p) <- winsOf(id).zipWithIndex)
        if (counts(w) >= 2 && !owner.contains(w)) owner(w) = (id, p)
      val keepHitsOf = winsOf.map { case (id, ws) =>
        id -> ws.zipWithIndex.collect {
          case (w, p) if counts(w) >= 2 && owner(w) != ((id, p)) => p } }
      def cut(t: String, ps: Seq[Int]): String = {
        val covered = ps.flatMap(p => p until p + k).toSet
        t.zipWithIndex.collect { case (c, i) if !covered(i) => c }.mkString
      }
      val df = docsDf(corpus: _*)
      val stats = Dedup.repeatedSpans(df, k).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val clean = Dedup.spansRemoved(df, k).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val keep = Dedup.spansRemovedKeepOne(df, k).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.forall { case (id, t) =>
        clean(id) == cut(t, hitsOf(id)) &&
          keep(id) == cut(t, keepHitsOf(id)) &&
          stats.getOrElse(id, 0L) == (t.length - clean(id).length).toLong &&
          keep(id).length >= clean(id).length
      }
    }
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("PlanMemo: hit on same plan+params, miss across inputs/params, LRU eviction and clear() release") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val memo = new graft.PlanMemo[Int](2, released += _)
    val d1 = spark.range(1).toDF()
    val d2 = spark.range(2).toDF()
    val d3 = spark.range(3).toDF()
    var builds = 0
    def b(v: Int): Int = { builds += 1; v }
    graft.Caches.scoped {
      assert(memo.getOrBuild(d1, "p")(b(1)) === 1)
      assert(memo.getOrBuild(d1, "p")(b(-1)) === 1) // hit: build not run
      assert(memo.hits.get() === 1L)
      assert(builds === 1)
      // different params and different input plans are distinct entries
      assert(memo.getOrBuild(d1, "q")(b(10)) === 10)
      assert(memo.getOrBuild(d2, "p")(b(2)) === 2) // LRU evicts (d1,"p")
      assert(memo.getOrBuild(d1, "p")(b(5)) === 5) // rebuilt; evicts (d1,"q")
      // eviction dropped only the MAP's reference — this query still
      // holds both evicted values, so nothing is released yet
      assert(released.isEmpty)
    }
    // the lease drained: evicted values (and only those) released now
    assert(released.sorted === Seq(1, 10))
    released.clear()
    memo.clear()
    assert(released.sorted === Seq(2, 5))
    graft.Caches.scoped {
      assert(memo.getOrBuild(d3, "p")(b(3)) === 3)
    }
  }

  test("PlanMemo: LRU eviction cannot destroy a checkpoint an in-flight query holds") {
    import org.apache.spark.sql.graft.ColumnBridge
    val memo = new graft.PlanMemo[org.apache.spark.sql.DataFrame](
      1, graft.PlanMemo.releaseDf)
    val d1 = spark.range(100).toDF()
    val d2 = spark.range(7).toDF()
    var evictedRdd: org.apache.spark.rdd.RDD[_] = null
    graft.Caches.scoped {
      val a = memo.getOrBuild(d1, "cp")(
        ColumnBridge.statsFreeLocalCheckpoint(d1))
      evictedRdd = a.queryExecution.analyzed.collectLeaves().collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.get
      // a second key evicts the first (slots = 1); under an
      // immediate-release policy this would drop `a`'s checkpoint
      // blocks HERE, and the count below would die with
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the round-16 teardown bug
      // class, made structural)
      memo.getOrBuild(d2, "cp")(ColumnBridge.statsFreeLocalCheckpoint(d2))
      assert(evictedRdd.getStorageLevel.useMemory,
        "evicted value's blocks must survive while this query holds it")
      assert(a.count() === 100L,
        "the lazily-consumed evicted value must still serve")
    }
    // lease drained → the last reference is gone → blocks released
    assert(evictedRdd.getStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
    memo.clear()
  }

  test("PlanMemo: a racing duplicate build resolves first-write-wins, releasing only the unreferenced loser") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val memo = new graft.PlanMemo[Int](2, released += _)
    val d1 = spark.range(1).toDF()
    // simulate the race reentrantly: the OUTER build runs outside the
    // lock; while it is "in flight" an inner caller builds and stores
    // 7 first. The outer caller must then serve 7 (the incumbent a
    // racer may already hold) and release only its own 8 — the value
    // no other caller can have seen.
    val got = memo.getOrBuild(d1, "race") {
      assert(memo.getOrBuild(d1, "race")(7) === 7)
      8
    }
    assert(got === 7, "the incumbent (first write) must win the race")
    assert(released === Seq(8),
      "only the loser's own unreferenced value may be released")
    assert(memo.getOrBuild(d1, "race")(99) === 7) // entry intact
  }

  test("PlanMemo debug guard: a value executed AFTER its lease drained is flagged loudly, by release site") {
    import org.apache.spark.sql.graft.ColumnBridge
    val memo = new graft.PlanMemo[org.apache.spark.sql.DataFrame](
      2, graft.PlanMemo.releaseDf)
    sys.props("graft.memo.debug") = "1"
    graft.MemoDebug.reset()
    try {
      // VIOLATE the convention: let the served frame escape its lease
      val escaped = graft.Caches.scoped {
        memo.getOrBuild(spark.range(64).toDF(), "uar")(
          ColumnBridge.statsFreeLocalCheckpoint(spark.range(64).toDF()))
      }
      memo.clear() // map ref also gone → the release destructor ran
      assert(graft.MemoDebug.useAfterRelease.get() === null,
        "no job has touched the released value yet — nothing to flag")
      // executing the escaped frame now reads released checkpoint
      // blocks: either the scan dies on the missing blocks (the
      // built-in failure) or the async unpersist hasn't swept them
      // yet and it silently serves — EITHER WAY the guard must name
      // the release site
      try escaped.count() catch { case _: org.apache.spark.SparkException => () }
      // the listener fires asynchronously on the bus — poll briefly
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (graft.MemoDebug.useAfterRelease.get() == null &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val flagged = graft.MemoDebug.useAfterRelease.get()
      assert(flagged != null, "use-after-release was not flagged")
      assert(flagged.contains("USE-AFTER-RELEASE") &&
        flagged.contains("released at"), flagged)
      // a LEGITIMATE serve (new build, lease open) must not be flagged
      graft.MemoDebug.reset()
      graft.Caches.scoped {
        val ok = memo.getOrBuild(spark.range(32).toDF(), "uar2")(
          ColumnBridge.statsFreeLocalCheckpoint(spark.range(32).toDF()))
        assert(ok.count() === 32L)
      }
      ColumnBridge.waitListeners(spark)
      assert(graft.MemoDebug.useAfterRelease.get() === null,
        "a legitimate in-lease execution must not be flagged")
    } finally {
      sys.props.remove("graft.memo.debug")
      graft.MemoDebug.reset()
      memo.clear()
    }
  }

  test("PlanMemo shared store: two tags over the same input plan are separate entries") {
    val d = spark.range(5).toDF()
    var builds = 0
    graft.Caches.scoped {
      val a = graft.PlanMemo.getOrBuild(d, "specTagA|1") {
        builds += 1; "dir-a"
      }
      val b = graft.PlanMemo.getOrBuild(d, "specTagB|1") {
        builds += 1; Array(1L, 2L)
      }
      assert(a === "dir-a")
      assert(b.toSeq === Seq(1L, 2L))
      assert(builds === 2, "the second tag must not be served the first's value")
      val hitsA = graft.PlanMemo.hitsOf("specTagA")
      assert(graft.PlanMemo.getOrBuild(d, "specTagA|1") {
        builds += 1; "rebuilt"
      } === "dir-a")
      assert(graft.PlanMemo.getOrBuild(d, "specTagB|1") {
        builds += 1; Array(9L)
      }.toSeq === Seq(1L, 2L))
      assert(builds === 2)
      assert(graft.PlanMemo.hitsOf("specTagA") === hitsA + 1)
    }
  }

  test("PlanMemo default release: every DataFrame in a tuple or Seq is freed once, when the last lease drains; paths and arrays are left alone") {
    import org.apache.spark.sql.graft.ColumnBridge
    def ck(n: Long) = ColumnBridge.statsFreeLocalCheckpoint(spark.range(n).toDF())
    def rddOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.get
    val destructed = scala.collection.mutable.ArrayBuffer[Any]()
    val memo = new graft.PlanMemo[Any](8, v => {
      destructed += v; graft.PlanMemo.releaseValue(v)
    })
    val frames = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    graft.Caches.scoped {
      val pair = memo.getOrBuild(spark.range(1).toDF(), "pair") {
        val df = ck(11); frames += df; (df, 11L)
      }.asInstanceOf[(org.apache.spark.sql.DataFrame, Long)]
      val seq = memo.getOrBuild(spark.range(2).toDF(), "seq") {
        val fs = Seq(ck(12), ck(13)); frames ++= fs; fs
      }.asInstanceOf[Seq[org.apache.spark.sql.DataFrame]]
      memo.getOrBuild(spark.range(3).toDF(), "nested") {
        val (a, b) = (ck(14), ck(15)); frames ++= Seq(a, b); (a, (b, "x"))
      }
      memo.getOrBuild(spark.range(4).toDF(), "path")("/tmp/dir")
      memo.getOrBuild(spark.range(5).toDF(), "dirs")(("/tmp/i", "/tmp/l"))
      memo.getOrBuild(spark.range(6).toDF(), "longs")(Array(3L, 4L))
      // the map lets go of every entry, but this query still holds them
      memo.clear()
      assert(destructed.isEmpty)
      assert(frames.forall(f => rddOf(f).getStorageLevel.useMemory))
      assert(pair._1.count() === 11L)
      assert(seq.map(_.count()) === Seq(12L, 13L))
    }
    // the lease drained: one destructor run per entry, every frame freed
    assert(destructed.size === 6)
    assert(frames.size === 5)
    assert(frames.forall(f => rddOf(f).getStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE))
    // non-DataFrame values pass through the walk untouched
    graft.PlanMemo.releaseValue("/tmp/dir")
    graft.PlanMemo.releaseValue(Array(3L, 4L))
    graft.PlanMemo.releaseValue(("/tmp/i", "/tmp/l"))
  }

  test("PlanMemo.hitsOf counts hits per family tag") {
    val memo = new graft.PlanMemo[Int](8)
    val d1 = spark.range(1).toDF()
    val d2 = spark.range(2).toDF()
    graft.Caches.scoped {
      memo.getOrBuild(d1, "fam|1")(1)
      memo.getOrBuild(d2, "fam|2")(2)
      memo.getOrBuild(d1, "other")(3)
      assert(memo.hitsOf("fam") === 0L)
      memo.getOrBuild(d1, "fam|1")(-1)
      memo.getOrBuild(d2, "fam|2")(-1)
      memo.getOrBuild(d1, "other")(-1)
      memo.getOrBuild(d1, "other")(-1)
    }
    assert(memo.hitsOf("fam") === 2L)
    assert(memo.hitsOf("other") === 2L)
    assert(memo.hitsOf("fam|1") === 0L, "a tag ends at the first '|'")
    assert(memo.hitsOf("absent") === 0L)
    assert(memo.hits.get() === 4L)
    memo.clear()
  }

  test("PlanMemo: a family's entry one query holds survives eviction caused by another family") {
    import org.apache.spark.sql.graft.ColumnBridge
    val memo = new graft.PlanMemo[Any](1)
    var held: org.apache.spark.rdd.RDD[_] = null
    graft.Caches.scoped {
      val (a, n) = memo.getOrBuild(spark.range(40).toDF(), "famA|x") {
        (ColumnBridge.statsFreeLocalCheckpoint(spark.range(40).toDF()), 40L)
      }.asInstanceOf[(org.apache.spark.sql.DataFrame, Long)]
      held = a.queryExecution.analyzed.collectLeaves().collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.get
      // another family's build overflows the one slot and evicts famA
      memo.getOrBuild(spark.range(9).toDF(), "famB|x")(
        Seq(ColumnBridge.statsFreeLocalCheckpoint(spark.range(9).toDF())))
      assert(held.getStorageLevel.useMemory,
        "the evicted entry's blocks must survive while this query holds it")
      assert(a.count() === n)
    }
    assert(held.getStorageLevel === org.apache.spark.storage.StorageLevel.NONE)
    memo.clear()
  }

  test("bm25PrfShared memo: the recall gate's truth side reuses the text_bm25_prf relation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val first = rows(TextOps.bm25PrfShared(docs))
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("bm25prf")
    // the second consumer (the recall gate's exact side) must HIT and
    // serve the identical relation
    assert(rows(TextOps.bm25PrfShared(docs)) === first)
    assert(PlanMemo.hitsOf("bm25prf") > before,
      "second bm25PrfShared call rebuilt instead of reusing the memo")
    // the memoized relation equals a fresh direct computation
    assert(rows(TextOps.bm25Prf(docs)) === first)
    // different PRF constants must MISS — no stale cross-param reuse
    val hitsBefore2 = PlanMemo.hitsOf("bm25prf")
    TextOps.bm25PrfShared(docs, ex = 0).count()
    assert(PlanMemo.hitsOf("bm25prf") === hitsBefore2,
      "different expansion constants must not reuse the memo")
  }

  test("bm25Shared memo: hybrid/recall consumers reuse the full-scan ranking; equals the unmemoized build; depth is keyed") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val first = rows(TextOps.bm25Shared(docs))
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("bm25")
    assert(rows(TextOps.bm25Shared(docs)) === first)
    assert(PlanMemo.hitsOf("bm25") > before,
      "second bm25Shared call rebuilt instead of reusing the memo")
    // the memoized relation equals a fresh direct computation
    assert(rows(TextOps.bm25(docs)) === first)
    // hybridRrf's pool depth is a different key — no cross-depth reuse
    val hitsBefore2 = PlanMemo.hitsOf("bm25")
    TextOps.bm25Shared(docs, k = Similarity.RrfPool).count()
    assert(PlanMemo.hitsOf("bm25") === hitsBefore2,
      "different ranking depth must not reuse the memo")
  }

  test("knnBeamShared / bm25FromIndexShared memos: second consumers reuse; memo equals the direct computation") {
    val d = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(d + "/embeddings.parquet")
    val docs = spark.read.parquet(d + "/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // beam: the recall gate's approx side must reuse knn_beam's build
    val g = Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val beam1 = rows(Similarity.knnBeamShared(g, emb, emb))
    assert(beam1.nonEmpty)
    val beamBefore = PlanMemo.hitsOf("beam")
    assert(rows(Similarity.knnBeamShared(g, emb, emb)) === beam1)
    assert(PlanMemo.hitsOf("beam") > beamBefore,
      "second knnBeamShared call rebuilt instead of reusing")
    assert(rows(Similarity.knnBeam(g, emb, emb)) === beam1)
    // stored-index serve: recall twin + hybrid pool must reuse
    val base = java.nio.file.Files
      .createTempDirectory("graft_idx_serve").toString
    TextOps.postingsIndex(docs.filter(col("doc_id") >= TextOps.Bm25Queries),
        k = TextOps.Bm25IndexDepth)
      .write.parquet(base + "/idx")
    TextOps.docLengths(docs.filter(col("doc_id") >= TextOps.Bm25Queries))
      .write.parquet(base + "/lens")
    val idx = spark.read.parquet(base + "/idx")
    val lens = spark.read.parquet(base + "/lens")
    val serve1 = rows(TextOps.bm25FromIndexShared(idx, lens, docs))
    assert(serve1.nonEmpty)
    val idxBefore = PlanMemo.hitsOf("bm25idx")
    assert(rows(TextOps.bm25FromIndexShared(idx, lens, docs)) === serve1)
    assert(PlanMemo.hitsOf("bm25idx") > idxBefore,
      "second bm25FromIndexShared call rebuilt instead of reusing")
    assert(rows(TextOps.bm25FromIndex(idx, lens, docs)) === serve1)
    // a different depth is a different key — no cross-depth reuse
    val idxBefore2 = PlanMemo.hitsOf("bm25idx")
    TextOps.bm25FromIndexShared(idx, lens, docs,
      k = Similarity.RrfPool).count()
    assert(PlanMemo.hitsOf("bm25idx") === idxBefore2,
      "different serve depth must not reuse the memo")
  }

  test("curationShared memo: the manifest gate reuses docs_curation's relation; equals the unmemoized build") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val first = rows(TextOps.curationShared(docs))
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("curation")
    assert(rows(TextOps.curationShared(docs)) === first)
    assert(PlanMemo.hitsOf("curation") > before,
      "second curationShared call rebuilt the pipeline")
    assert(rows(TextOps.curation(docs)) === first)
  }

  test("surprisalShared memo: calibration reuses the bigram-LM relation; equals the unmemoized build") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_bigrams", "surp_bits", "surp_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val first = rows(TextOps.surprisalShared(docs))
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("surprisal")
    assert(rows(TextOps.surprisalShared(docs)) === first)
    assert(PlanMemo.hitsOf("surprisal") > before,
      "second surprisalShared call rebuilt the bigram LM")
    assert(rows(TextOps.surprisal(docs)) === first)
  }

  test("brute-ranking memo: recall gates share the exact truth side; metric/param flavors are distinct entries") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def cos(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = cos(Similarity.knnBruteShared(emb))
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("brute")
    assert(cos(Similarity.knnBruteShared(emb)) === first)
    assert(PlanMemo.hitsOf("brute") > before,
      "second knnBruteShared call rebuilt the exact ranking")
    assert(cos(Similarity.knnBrute(emb)) === first)
    // the L2 flavor is a DIFFERENT entry (no cross-metric aliasing),
    // and it equals its own unmemoized build
    val l2 = cos(Similarity.knnBruteL2Shared(emb))
    assert(l2 === cos(Similarity.knnBruteL2(emb)))
    // truncated-dims keys its own entry: first call misses (no hit
    // increment), second call hits exactly once
    val hits2 = PlanMemo.hitsOf("brutel2")
    Similarity.knnBruteL2Shared(emb, dims = Similarity.TruncDims).count()
    Similarity.knnBruteL2Shared(emb, dims = Similarity.TruncDims).count()
    assert(PlanMemo.hitsOf("brutel2") === hits2 + 1,
      "the dims flavor must memoize separately and then hit")
  }

  test("weightedEdgesShared memo: the four weighted gates reuse one compression over the same edges") {
    val s = spark
    import s.implicits._
    val e = Seq((0L, 1L), (0L, 1L), (1L, 2L), (2L, 0L), (2L, 0L), (2L, 0L))
      .toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = rows(GraphOps.weightedEdgesShared(e))
    assert(first === Set((0L, 1L, 2L), (1L, 2L, 1L), (2L, 0L, 3L)))
    val before = PlanMemo.hitsOf("wedges")
    // the gates all pass the same derived edge frame — second call HITS
    assert(rows(GraphOps.weightedEdgesShared(e)) === first)
    assert(PlanMemo.hitsOf("wedges") > before,
      "second weightedEdgesShared call rebuilt the compression")
    // identical to the unmemoized build
    assert(rows(GraphOps.weightedEdges(e)) === first)
    // a different edge relation must miss
    val hits2 = PlanMemo.hitsOf("wedges")
    GraphOps.weightedEdgesShared(Seq((5L, 6L)).toDF("src", "dst")).count()
    assert(PlanMemo.hitsOf("wedges") === hits2)
  }

  test("undSimpleShared memo: the undirected family reuses one symmetrize+simplify and peel loops never drop the shared frame") {
    val s = spark
    import s.implicits._
    // triangle + pendant, with duplicate and self edges to simplify away
    val e = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 0L),
      (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val before = PlanMemo.hitsOf("undsimple")
    assert(GraphOps.labelPropagation(e, rounds = 2).collect().nonEmpty)
    // a second family member over the SAME edges hits the memo (the
    // modularity gate even hits twice: once in its LPA input, once
    // itself)
    assert(GraphOps.modularity(e,
      GraphOps.labelPropagation(e, rounds = 2)).collect().nonEmpty)
    assert(PlanMemo.hitsOf("undsimple") > before,
      "the undirected family rebuilt undSimple instead of reusing it")
    // the peel loops guard their supersede-drop against the memo-owned
    // frame: kCore must run green TWICE over the same edges — if the
    // first run had dropped the shared checkpoint, the second run's
    // memo HIT would read released blocks and fail — and agree with
    // itself and with louvain's vertex set
    def core(k: Int) = SmallInput.scoped(0L)(GraphOps.kCore(e, k = k))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k1 = core(2)
    assert(k1 === core(2) && k1.nonEmpty)
    assert(k1.map(_._1) === Set(0L, 1L, 2L)) // the triangle is the 2-core
    // a different edge relation must miss
    val hits2 = PlanMemo.hitsOf("undsimple")
    SmallInput.scoped(0L)(
      GraphOps.kCore(Seq((7L, 8L)).toDF("src", "dst"), k = 1)).count()
    assert(PlanMemo.hitsOf("undsimple") === hits2)
  }

  test("distinctEdgesShared memo: the simple-digraph family reuses one distinct build and local fast paths never drop the shared frame") {
    val s = spark
    import s.implicits._
    // cycle + tail, with duplicate edges to dedup away
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 2L), (2L, 3L),
      (3L, 4L)).toDF("src", "dst")
    val before = PlanMemo.hitsOf("dedges")
    // hops takes the LOCAL path (collects the shared frame) — it must
    // not release the memo's checkpoint
    val seeds = Seq(0L).toDF("v")
    val h1 = GraphOps.hopDistances(e, seeds, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h1 === Set((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
    // scc over the SAME edges hits the memo and reads the same blocks
    val scc = GraphOps.stronglyConnectedComponents(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scc === Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L)))
    assert(PlanMemo.hitsOf("dedges") > before,
      "the simple-digraph family rebuilt the distinct relation instead of reusing it")
    // the DISTRIBUTED consumers share the frame too: rerunning hops
    // distributed (SmallInput.scoped(0)) over the memoized relation must
    // agree with the local twin
    val h2 = SmallInput.scoped(0L)(GraphOps.hopDistances(e, seeds, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h2 === h1)
    // a different edge relation must miss
    val hits2 = PlanMemo.hitsOf("dedges")
    GraphOps.hopDistances(Seq((7L, 8L)).toDF("src", "dst"),
      Seq(7L).toDF("v"), 2).count()
    assert(PlanMemo.hitsOf("dedges") === hits2)
  }

  test("nearDupPairs memo: one verified build serves every threshold; a different corpus misses") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = rows(Similarity.nearDupPairs(emb, threshold = -1.0))
    assert(all.nonEmpty)
    val before = PlanMemo.hitsOf("neardup")
    // the 0.30 default re-serves the memoized unfiltered relation;
    // expected = the Spark NaN-above-threshold semantics
    val cut = rows(Similarity.nearDupPairs(emb))
    assert(PlanMemo.hitsOf("neardup") > before,
      "the 0.30 call rebuilt the verified relation instead of reusing it")
    assert(cut === all.filter(t => t._3.isNaN || t._3 >= 0.30))
    // a different corpus must MISS (and not serve the old pairs)
    val hits2 = PlanMemo.hitsOf("neardup")
    val half = rows(Similarity.nearDupPairs(
      emb.filter(col("vec_id") % 2 === 0), threshold = -1.0))
    assert(PlanMemo.hitsOf("neardup") === hits2)
    assert(half.subsetOf(all) && half != all)
  }

  test("fuzzyPairs memo: the fuzzy gates reuse one segment-join+verify; a different corpus misses") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = rows(Dedup.fuzzyPairs(docs))
    val before = PlanMemo.hitsOf("fuzzy")
    assert(rows(Dedup.fuzzyPairs(docs)) === first)
    assert(PlanMemo.hitsOf("fuzzy") > before,
      "second fuzzyPairs call rebuilt the verified pairs")
    // a different corpus must miss
    val hits2 = PlanMemo.hitsOf("fuzzy")
    Dedup.fuzzyPairs(docs.filter(col("doc_id") % 2 === 0)).count()
    assert(PlanMemo.hitsOf("fuzzy") === hits2)
  }

  test("qualityShared memo: join-side consumers reuse one (doc_id, quality) build, decorated frames hit the same slot") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val direct = rows(TextOps.quality(docs).select("doc_id", "quality"))
    val shared = rows(TextOps.qualityShared(docs))
    assert(shared === direct && shared.nonEmpty)
    val before = PlanMemo.hitsOf("quality")
    // a DECORATED frame (extra column the quality kernels never read)
    // collapses to the same pruned projection and must HIT
    assert(rows(TextOps.qualityShared(
      docs.withColumn("extra", col("doc_id") + 1))) === direct)
    assert(PlanMemo.hitsOf("quality") > before,
      "the decorated frame rebuilt quality instead of hitting the memo")
    // a genuinely different corpus must miss
    val hits2 = PlanMemo.hitsOf("quality")
    TextOps.qualityShared(docs.filter(col("doc_id") % 2 === 0)).count()
    assert(PlanMemo.hitsOf("quality") === hits2)
  }

  test("randomWalksShared memo: the skip-gram consumer reuses the walk table; different seeds miss") {
    val s = spark
    import s.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L), (3L, 0L))
      .toDF("src", "dst")
    val seeds = Seq(0L, 1L).toDF("v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = rows(GraphOps.randomWalksShared(e, seeds))
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("walks")
    assert(rows(GraphOps.randomWalksShared(e, seeds)) === first)
    assert(PlanMemo.hitsOf("walks") > before,
      "second randomWalksShared call rebuilt the walk table")
    // identical to the unmemoized build
    assert(rows(GraphOps.randomWalks(e, seeds)) === first)
    // a different seed set must MISS — the cross-join key carries both
    // inputs' structure
    val hits2 = PlanMemo.hitsOf("walks")
    GraphOps.randomWalksShared(e, Seq(2L).toDF("v")).count()
    assert(PlanMemo.hitsOf("walks") === hits2,
      "different seeds must not reuse the memoized walks")
  }

  test("shinglesDelta: chained ≡ one-shot across add/drop/re-ingest; empty cycle is the identity") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = TextOps.docShingles(
      docs.filter(col("doc_id") < 10 || col("doc_id") % 5 =!= 0))
    // adds fold in, drops leave: merged == one-shot over the final corpus
    val merged = TextOps.shinglesDelta(stored,
      docs.filter(col("doc_id") >= 10 && col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") < 10).select("doc_id"))
    assert(rows(merged) ===
      rows(TextOps.docShingles(docs.filter(col("doc_id") >= 10))))
    // RE-INGEST: a doc whose text changed is dropped and re-added in
    // one cycle — the merged index carries its NEW shingles only
    val reIngested = docs.filter(col("doc_id") === 20)
      .withColumn("text", concat(col("text"), lit(" brand new suffix words")))
    val cycled = TextOps.shinglesDelta(
      TextOps.docShingles(docs.filter(col("doc_id") >= 10)),
      reIngested, reIngested.select("doc_id"))
    assert(rows(cycled) === rows(TextOps.docShingles(
      docs.filter(col("doc_id") >= 10 && col("doc_id") =!= 20)
        .unionByName(reIngested))))
    // an empty cycle is the identity
    val empty = docs.filter(lit(false))
    assert(rows(TextOps.shinglesDelta(stored, empty,
      empty.select("doc_id"))) === rows(stored))
  }

  test("urlHost normalizes scheme/userinfo/port/path/case/www; registrableDomain takes the last two labels") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "https://www.Example.COM/a/b?q=1#f" -> "example.com",
      "http://sub.host.org:8080/path" -> "sub.host.org",
      "HTTPS://user:pw@API.Site.NET/" -> "api.site.net",
      "//cdn.thing.io" -> "cdn.thing.io",
      "ftp://files.example.com/pub" -> "files.example.com",
      "www.bare.example.com/no-scheme" -> "bare.example.com",
      "host.only" -> "host.only",
      "" -> "")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), TextOps.urlHost(col("url")).as("host"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (u, want) =>
      assert(got(u) === want, s"urlHost($u)") }
    val dom = Seq("a.b.example.com", "example.com", "single", "")
      .toDF("h").select(TextOps.registrableDomain(col("h")))
      .collect().map(_.getString(0))
    assert(dom.toSeq === Seq("example.com", "example.com", "", ""))
    // the fixture's four URL variants of one source all normalize to
    // ONE host — the property the rollup groupBy depends on
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hosts = TextOps.withFixtureUrl(docs)
      .select(col("source"), TextOps.urlHost(col("url")).as("host"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1))
    assert(hosts.groupBy(_._1).forall(_._2.length == 1),
      "a source mapped to more than one normalized host")
  }

  test("quality model: deterministic Jacobi-LMS fit, sign-consistent serving, memoized, better than majority class") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w1 = TextOps.qualityModelFit(docs)
    assert(w1.length === TextOps.QmDims)
    // the fit is memoized: a second consumer reuses the same array
    val before = PlanMemo.hitsOf("qm")
    val w2 = TextOps.qualityModelFit(docs)
    assert(w2.toSeq === w1.toSeq)
    assert(PlanMemo.hitsOf("qm") > before)
    // serving = sign of the literal dot product over the feature map
    val feats = TextOps.qmFeatures(docs).collect()
      .map(r => r.getLong(0) ->
        ((1 to TextOps.QmDims).map(j => r.getLong(j)).toArray, r.getLong(7)))
      .toMap
    val scored = TextOps.qualityScored(docs).collect()
    assert(scored.nonEmpty)
    scored.foreach { r =>
      val (x, _) = feats(r.getLong(0))
      val s = (0 until TextOps.QmDims).map(j => w1(j) * x(j)).sum
      assert(r.getLong(1) === s)
      assert(r.getLong(2) === (if (s >= 0) 1L else 0L))
    }
    // the honesty gate's agreement beats the majority class — the
    // trained filter actually learned the label structure (a
    // degenerate all-keep/all-reject fit fails here)
    val ag = TextOps.qualityModelAgreement(docs).collect()(0)
    val n = ag.getLong(0)
    val labelPos = feats.values.count(_._2 == 1L).toLong
    val majority = math.max(labelPos, n - labelPos)
    assert(ag.getLong(1) > majority,
      s"agreement ${ag.getLong(1)}/$n does not beat majority $majority")
    assert(ag.getLong(2) === ag.getLong(1) * 1000000L / n)
    // confusion ties out: tp+fp+fn+tn == n and tp+tn == n_agree
    val cm = TextOps.qualityModelConfusion(docs).collect()(0)
    assert((0 to 3).map(cm.getLong).sum === n)
    assert(cm.getLong(0) + cm.getLong(3) === ag.getLong(1))
    // stored-serve ≡ in-session, through a parquet round-trip
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qm_stored").toString + "/m"
    TextOps.qualityModel(docs).write.parquet(dir)
    assert(TextOps.qualityScoredFromStored(spark.read.parquet(dir), docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === scored.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // a model stored at a different width refuses loudly
    val s2 = spark
    import s2.implicits._
    val narrow = Seq((0L, 1L), (1L, 2L)).toDF("dim", "w")
    val ex = intercept[IllegalArgumentException] {
      TextOps.qualityScoredFromStored(narrow, docs)
    }
    assert(ex.getMessage.contains("refit"), ex.getMessage)
  }

  test("bm25IndexDirs memo: the five stored-tier gates share ONE index build per session") {
    val d = "/root/testdata/sf0.001"
    val first = SparkEntry.bm25IndexDirs(spark, d)
    val before = PlanMemo.hitsOf("bm25idxDirs")
    val second = SparkEntry.bm25IndexDirs(spark, d)
    assert(second === first)
    assert(PlanMemo.hitsOf("bm25idxDirs") > before,
      "second bm25IndexDirs call rebuilt the stored index")
    // the dirs really hold the depth-256 index + forward index the
    // serving path expects
    assert(spark.read.parquet(first._1).columns.toSet ===
      Set("token", "df", "cf", "rank", "doc_id", "tf",
        "postings_params_fp"))
    assert(spark.read.parquet(first._2)
      .columns.toSet === Set("doc_id", "len_d"))
  }

  test("storedDir memo: write-once per (leaf, fit plan); plan-equal fits share a dir, distinct fits get distinct dirs") {
    val d = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(d + "/embeddings.parquet")
    val first = SparkEntry.storedDir(d, "spec_cents",
      Similarity.centroidsOf(emb))
    val before = PlanMemo.hitsOf("storedDir")
    // a SECOND, independently constructed but plan-equal fit (the
    // cross-gate sharing case: knn_ivf_stored / knn_ivf_pruned /
    // knn_ivf_pq_stored all fit centroidsOf over the same corpus)
    // must serve the SAME dir without rewriting
    val second = SparkEntry.storedDir(d, "spec_cents",
      Similarity.centroidsOf(spark.read.parquet(d + "/embeddings.parquet")))
    assert(second === first)
    assert(PlanMemo.hitsOf("storedDir") > before,
      "plan-equal second request rebuilt the stored artifact")
    // the dir really holds the fitted relation
    assert(spark.read.parquet(first).columns.contains("cent_id"))
    // a DIFFERENT corpus under the same leaf must get a DISTINCT dir
    // (the bm25IndexDirs aliasing lesson): same leaf, different plan
    val other = SparkEntry.storedDir(d, "spec_cents",
      Similarity.centroidsOf(emb.filter(col("vec_id") % 2 === 0)))
    assert(other !== first,
      "distinct corpus plans aliased one stored-artifact dir")
  }

  test("knnGraphDelta: delta-merged graph ≡ one-shot pinned-width rebuild; empty batch = re-ranked identity; width mismatch raises") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bits = Similarity.LshBandBits
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val g = Similarity.knnGraph(old, bandBits = bits)
    val keys = Similarity.vecBandKeysOf(old, bits)
    val oneShot = rows(Similarity.knnGraph(emb, bandBits = bits))
    assert(oneShot.nonEmpty)
    // the chained ≡ one-shot law, through a parquet round-trip like a
    // real serving tier
    val base = java.nio.file.Files
      .createTempDirectory("graft_kg_delta").toString
    g.write.parquet(base + "/graph")
    keys.write.parquet(base + "/keys")
    assert(rows(Similarity.knnGraphDelta(spark.read.parquet(base + "/graph"),
      spark.read.parquet(base + "/keys"), emb, batch)) === oneShot)
    // an EMPTY batch is the identity (ranks recomputed, rows unchanged)
    assert(rows(Similarity.knnGraphDelta(g, keys, old,
      batch.filter(lit(false)))) === rows(g))
    // stored keys at a DIFFERENT pinned width refuse loudly
    val ex = intercept[Exception] {
      Similarity.knnGraphDelta(g,
        Similarity.vecBandKeysOf(old, bits - 2), emb, batch).collect()
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    assert(chain(ex).contains("band_bits"), chain(ex))
  }

  test("bpeEncodeFromStored: stored merges replay ≡ in-session encode; holes and oversize tables refuse") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val insession = rows(TextOps.bpeEncode(docs))
    assert(insession.nonEmpty)
    val merges = TextOps.bpeTrain(docs)
    // parquet round-trip like a real tokenizer artifact
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpe_rt").toString + "/merges"
    merges.write.parquet(dir)
    assert(rows(TextOps.bpeEncodeFromStored(
      spark.read.parquet(dir), docs)) === insession)
    // a hole in the rank sequence refuses loudly (corrupted export)
    val holes = spark.read.parquet(dir).filter(col("merge_rank") =!= 2L)
    val ex = intercept[IllegalArgumentException] {
      TextOps.bpeEncodeFromStored(holes, docs)
    }
    assert(ex.getMessage.contains("contiguous"))
  }

  test("knnGraphDelta property: the rebuild law holds across split ratios and batch shapes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bits = Similarity.LshBandBits
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val oneShot = rows(Similarity.knnGraph(emb, bandBits = bits))
    // 1/2, 1/3 and 1/7 splits — including a batch LARGER than the
    // stored corpus (mod 2) and a sliver batch (mod 7): the top-k
    // merge law is ratio-independent
    for (mod <- Seq(2, 3, 7)) {
      val old = emb.filter(col("vec_id") % mod =!= 0)
      val batch = emb.filter(col("vec_id") % mod === 0)
      val got = rows(Similarity.knnGraphDelta(
        Similarity.knnGraph(old, bandBits = bits),
        Similarity.vecBandKeysOf(old, bits), emb, batch))
      withClue(s"mod=$mod") { assert(got === oneShot) }
    }
  }

  test("bpeEncodeFromStored law holds at other round budgets") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (r <- Seq(1, 3)) {
      withClue(s"rounds=$r") {
        assert(rows(TextOps.bpeEncodeFromStored(
          TextOps.bpeTrain(docs, rounds = r), docs)) ===
          rows(TextOps.bpeEncode(docs, rounds = r)))
      }
    }
  }

  test("defaultClusters memo: repeated consumers reuse the checkpointed labelling; different corpus misses") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val first = Dedup.defaultClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("clusters")
    // the second consumer over the SAME corpus hits and is identical
    assert(Dedup.defaultClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === first)
    assert(PlanMemo.hitsOf("clusters") > before,
      "second defaultClusters call did not reuse the memoized labelling")
    // the memoized relation equals a fresh direct computation
    assert(Dedup.dupClusters(Dedup.ngramJaccard(docs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === first)
    // a different corpus (same session) must miss — no stale reuse
    val hitsBefore2 = PlanMemo.hitsOf("clusters")
    Dedup.defaultClusters(docs.filter(col("doc_id") % 2 === 0)).count()
    assert(PlanMemo.hitsOf("clusters") === hitsBefore2,
      "a different corpus must not reuse the memoized labelling")
  }

  test("ngramJaccard memo: decorated frames hit the projected-input slot; different corpus misses") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the shared store outlives suite cases, and the defaultClusters
    // case already built the filtered corpus's pairs below: start empty
    // so that corpus's call can only hit by aliasing this one's entry
    PlanMemo.shared.clear()
    val first = rows(Dedup.ngramJaccard(docs).select("doc_a", "doc_b"))
    val before = PlanMemo.hitsOf("ngramJaccard")
    // a DECORATED frame over the same corpus (the cross-source gates'
    // shape) must hit — the memo keys on the projected (doc_id, text)
    val decorated = docs.withColumn("host",
      org.apache.spark.sql.functions.concat(lit("h"),
        (col("doc_id") % 3).cast("string")))
    assert(rows(Dedup.ngramJaccard(decorated).select("doc_a", "doc_b"))
      === first)
    assert(PlanMemo.hitsOf("ngramJaccard") > before,
      "decorated same-corpus call did not reuse the memoized pairs")
    // a different corpus (same session) must miss — no stale reuse
    val hitsBefore2 = PlanMemo.hitsOf("ngramJaccard")
    Dedup.ngramJaccard(docs.filter(col("doc_id") % 2 === 0)).count()
    assert(PlanMemo.hitsOf("ngramJaccard") === hitsBefore2,
      "a different corpus must not reuse the memoized pairs")
  }

  test("survivors memo: repeat call reuses the checkpointed id set; different corpus misses") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val first = Dedup.survivors(docs).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(first.nonEmpty)
    val before = PlanMemo.hitsOf("survivorIds")
    assert(Dedup.survivors(docs).select("doc_id").collect()
      .map(_.getLong(0)).toSet === first)
    assert(PlanMemo.hitsOf("survivorIds") > before,
      "second survivors call did not reuse the memoized id set")
    val hitsBefore2 = PlanMemo.hitsOf("survivorIds")
    Dedup.survivors(docs.filter(col("doc_id") % 2 === 0)).count()
    assert(PlanMemo.hitsOf("survivorIds") === hitsBefore2,
      "a different corpus must not reuse the memoized id set")
  }

  test("dupClusters resolves transitive chains to min-id components") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 (via shared middle), separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters keeps self-pair-only docs as singleton components") {
    val s = spark
    import s.implicits._
    // 7 appears ONLY as a self-pair → its own singleton component;
    // 2's self-pair must not shadow its real component (min(1) wins)
    val pairs = Seq((1L, 2L), (7L, 7L), (2L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("dupClusters on a self-pair-only input (no real edges)") {
    val s = spark
    import s.implicits._
    val pairs = Seq((5L, 5L), (9L, 9L), (5L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 5L, 9L -> 9L))
  }

  test("prefix-filtered ngram pairs == brute-force Jaccard ≥ 0.8 " +
      "on a boilerplate-heavy corpus") {
    val rng = new scala.util.Random(5)
    // every doc shares one frequent boilerplate run (the bucket that a
    // naive shared-shingle join would explode on) + a random tail
    val common = "lorem ipsum dolor sit amet consectetur"
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (0 until 30).map { i =>
      val tail = Vector.fill(6)(words(rng.nextInt(words.length))).mkString(" ")
      (i.toLong, s"$common $tail")
    } ++ Seq( // 12 tokens, last differs: 9 of 11 shingles shared → J=9/11
      (100L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 s"),
      (101L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 r"))
    val got = Dedup.ngramJaccard(docsDf(docs: _*))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def shingles(t: String): Set[String] =
      t.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val brute = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      sa = shingles(ta); sb = shingles(tb)
      inter = (sa & sb).size
      if inter * 5 >= (sa.size + sb.size - inter) * 4
    } yield (a, b)).toSet
    assert(got === brute)
    assert(brute.contains((100L, 101L))) // the planted near-dup pair
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("dupClusters: a 25-deep near-dup chain lands in ONE cluster") {
    val s = spark
    import s.implicits._
    // path 100-101-...-124: component diameter 24 — deeper than any
    // per-round propagation could cover without the pointer jump
    val pairs = (0 until 24).map(i => (100L + i, 101L + i)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = SmallInput.scoped(0L)(Dedup.dupClusters(pairs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0 until 25).map(i => (100L + i) -> 100L).toMap)
    // cache discipline: everything but the final label round is released
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      s"leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.size - before}")
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("normalize: NFC + lowercase + whitespace collapse semantics") {
    val got = TextOps.normalize(docsDf(
        (1L, "  The   QUICK\tBrown\nFox  "),
        (2L, "Café"), // precomposed é
        (3L, "Café"), // e + combining acute — NFC-equal to 2
        (4L, "")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "the quick brown fox")
    assert(got(2L) === "café")
    assert(got(3L) === got(2L)) // decomposed form canonicalizes
    assert(got(4L) === "")
  }

  test("normalize: case/whitespace variants near-dup ONLY after normalization") {
    val docs = docsDf(
      (1L, "The Quick Brown Fox Jumps Over The Lazy Dog Again Today"),
      (2L, "the  quick brown fox jumps over the lazy dog again today"))
    assert(Dedup.ngramJaccard(docs).count() === 0L) // raw: zero shared shingles
    val pairs = Dedup.ngramJaccard(TextOps.normalize(docs))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L))) // normalized: identical docs
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("contamination: probe-shingle hits only, distinct-count semantics") {
    val probes = docsDf((100L, "alpha beta gamma delta"))
    val docs = docsDf(
      // shares 2 distinct shingles: (alpha beta gamma), (beta gamma delta)
      (1L, "zz alpha beta gamma delta yy"),
      // repeated hit shingle counts ONCE (distinct per doc)
      (2L, "alpha beta gamma xx alpha beta gamma"),
      (3L, "one two three four"), // no overlap
      (4L, "al pha be ta")) // no overlap (different shingles)
    val got = TextOps.contamination(docs, probes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L))
  }

  test("packSequences: distributed prefix sum == window cumsum reference") {
    val rng = new scala.util.Random(7)
    val docs = docsDf((0 until 300).map { i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(40))("w").mkString(" "))
    }: _*)
    val got = TextOps.packSequences(docs, seqLen = 64L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // single-threaded reference
    val counts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").count(_.nonEmpty))
      .sortBy(_._1)
    var cum = 0L
    val ref = counts.map { case (id, n) =>
      val r = (id, (n.toLong, cum / 64L, cum % 64L))
      cum += n
      r
    }.toMap
    assert(got === ref)
    assert(got.values.map(_._2).max > 10) // really spans many sequences
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("chunkDocs == brute sliding-window reference; empty doc yields one empty chunk") {
    val rng = new scala.util.Random(17)
    val alpha = "abcdefgh \n\t"
    val docs = docsDf(((0 until 80).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(900))(alpha(rng.nextInt(alpha.length)))
        .mkString)
    } :+ (999L, "")): _*)
    val (w, ov) = (100, 30)
    val got = TextOps.chunkDocs(docs, w, ov)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    val ref = docs.select("doc_id", "text").collect().flatMap { r =>
      val (id, t) = (r.getLong(0), r.getString(1))
      val starts = 0 to math.max(t.length - 1, 0) by (w - ov)
      starts.zipWithIndex.map { case (s, i) =>
        val c = t.substring(s, math.min(s + w, t.length))
        (id, i.toLong) -> (c, c.length.toLong)
      }
    }.toMap
    assert(got === ref)
    assert(got((999L, 0L)) === (("", 0L))) // empty doc → one empty chunk
    // overlap contract: consecutive chunks share the trailing `ov`
    // chars wherever the earlier chunk is full-width
    got.foreach { case ((id, i), (c, _)) =>
      got.get((id, i + 1)).foreach { case (next, _) =>
        if (c.length == w)
          assert(c.takeRight(ov) === next.take(ov), s"doc $id chunk $i")
      }
    }
  }

  test("repetition: duplicate-shingle fraction") {
    val got = TextOps.repetition(docsDf(
        (1L, "a b c a b c a b c"), // 7 shingles, 3 distinct
        (2L, "u v w x y z"), // 4 shingles, all distinct
        (3L, "hi"))) // too short: 0 shingles
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((7L, 3L, 4.0 / 7.0)))
    assert(got(2L) === ((4L, 4L, 0.0)))
    assert(got(3L) === ((0L, 0L, 0.0)))
  }

  test("dupClusters: heavy-hub broadcast path == join path (star + chain + cross links)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    // a 200-leaf star around node 0 (every leaf's min is the hub), a
    // 30-deep chain, and random cross links merging some of each
    val star = (1 to 200).map(i => (0L, 500L + i))
    val chain = (0 until 30).map(i => (1000L + i, 1001L + i))
    val cross = Seq((501L, 1000L)) ++
      (0 until 20).map(_ => (500L + rng.nextInt(200) + 1, 2000L + rng.nextInt(50)))
    val pairs = (star ++ chain ++ cross).toDF("doc_a", "doc_b")
    val viaJoin = SmallInput.scoped(0L)(Dedup.dupClusters(pairs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // heavyDegree = 2 pushes nearly every key through the broadcast
    // rewrite — labels must be identical
    val viaBroadcast = SmallInput.scoped(0L)(
        Dedup.dupClusters(pairs, heavyDegree = 2L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaJoin === viaBroadcast)
    assert(viaJoin(700L) === 0L) // star leaf → hub-rooted component
    assert(viaJoin(1029L) === 0L) // chain tail, linked via 501—1000
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("dupClusters: checkpointDir truncates lineage, labels unchanged") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      val pairs = (0 until 40).map(i => (100L + i, 101L + i)).toDF("doc_a", "doc_b")
      val plain = SmallInput.scoped(0L)(Dedup.dupClusters(pairs)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // checkpoint EVERY round so the reliable-checkpoint path is
      // actually exercised, not just plumbed (SmallInput.scoped(0):
      // checkpointing lives in the star loop)
      val ckpt = SmallInput.scoped(0L)(Dedup.dupClusters(pairs,
        checkpointDir = Some(dir), checkpointEvery = 1)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(plain === ckpt)
      assert(ckpt === (0 until 41).map(i => (100L + i) -> 100L).toMap)
      // the dir must hold at least one materialized rdd checkpoint
      def walk(f: java.io.File): Iterator[java.io.File] =
        Iterator(f) ++ Option(f.listFiles()).iterator.flatten.flatMap(walk)
      assert(walk(new java.io.File(dir)).exists(_.getName.startsWith("part-")),
        "no checkpoint files written")
      // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("dupClusters == union-find on random graphs (property)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      val n = 30 + rng.nextInt(120)
      val nEdges = rng.nextInt(2 * n)
      val pairs = (0 until nEdges).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      // union-find reference with min-id path resolution
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val df = pairs.toDF("doc_a", "doc_b")
      val gotFast = Dedup.dupClusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFast === expected,
        s"fast path, trial $trial (n=$n, edges=${pairs.size})")
      val gotStar = SmallInput.scoped(0L)(Dedup.dupClusters(df)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar === expected,
        s"star path, trial $trial (n=$n, edges=${pairs.size})")
    }
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("dupClusters: hitting maxIter raises instead of returning wrong labels") {
    val s = spark
    import s.implicits._
    val pairs = (0 until 24).map(i => (100L + i, 101L + i)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      SmallInput.scoped(0L)(Dedup.dupClusters(pairs, maxIter = 1)).collect()
    }
    // drain the engine's own leases and session memos — NEVER a
    // blanket unpersist of every persistent RDD: that steals the
    // checkpoint blocks of LIVE PlanMemo values whose map entries
    // survive (measured: a later memo HIT then served an
    // unrecomputable frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    graft.Caches.clear(spark)
    graft.PlanMemo.releaseAll()
  }

  test("survivorsBest keeps the argmax-quality member per cluster (tie → min id)") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // cluster 1 = {1,2,3}: 3 has top score; cluster 4 = {4,5}: tied →
    // min id 4 wins; 9 is unlabelled → survives untouched
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.2), (2L, 0.5), (3L, 0.9), (4L, 0.7), (5L, 0.7),
      (9L, 0.0)).toDF("doc_id", "quality")
    val got = Dedup.survivorsBest(docs, clusters, scores)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(3L, 4L, 9L))
  }

  test("survivorsBest: one survivor per cluster, survivors ⊆ docs (property)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(1913)
    (0 until 4).foreach { trial =>
      val n = 40 + rng.nextInt(80)
      val nClusters = 1 + rng.nextInt(8)
      // labelled docs get a random cluster; ~half the ids stay unlabelled
      val labelled = (0 until n).filter(_ => rng.nextBoolean())
        .map(i => (i.toLong, rng.nextInt(nClusters).toLong * 1000L))
      val docs = (0 until n).map(_.toLong).toDF("doc_id")
      val clusters = labelled.toDF("doc_id", "cluster_id")
      // coarse score grid forces frequent ties → exercises the
      // (−doc_id) tie-break leg, not just the score leg
      val scores = (0 until n)
        .map(i => (i.toLong, rng.nextInt(3) / 2.0)).toDF("doc_id", "quality")
      val got = Dedup.survivorsBest(docs, clusters, scores)
        .collect().map(_.getLong(0)).toSet
      val scoreOf = scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val byCluster = labelled.groupBy(_._2)
      val expectedWinners = byCluster.values.map { members =>
        members.map(_._1).minBy(id => (-scoreOf(id), id))
      }.toSet
      val unlabelled = (0 until n).map(_.toLong).toSet -- labelled.map(_._1).toSet
      assert(got === expectedWinners ++ unlabelled, s"trial $trial (n=$n)")
      // exactly one survivor per non-empty cluster
      byCluster.foreach { case (cid, members) =>
        assert(members.map(_._1).count(got) === 1, s"cluster $cid, trial $trial")
      }
    }
  }

  test("simhash banded pairs == quadratic pairs (pigeonhole exactness)") {
    val docs = docsDf(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta"))
    val banded = Dedup.simhashPairs(docs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // quadratic reference
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quad = (for {
      a <- sig.keys; b <- sig.keys if a < b
      if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
    } yield (a, b)).toSet
    assert(banded === quad)
    assert(banded.contains((1L, 4L))) // identical docs → hamming 0
  }

  test("minhash LSH finds the planted near-dups on real sf0.001 documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = Dedup.minhashLsh(docs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.ngramJaccard(docs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(full)) // LSH candidates verified by the same test
    assert(full.nonEmpty)      // testdata has planted near-dups
    // recall at jaccard≥0.8 with 4×4 bands should be near-total here
    assert(lsh.size * 10 >= full.size * 8, s"lsh=${lsh.size} full=${full.size}")
  }

  test("knn: LSH results are a subset of brute-force rankings' pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.knnBrute(emb).collect()
    assert(brute.length === 50) // 10 queries × k=5
    // per query, cosine is non-increasing with rank
    brute.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
    val lsh = Similarity.knnLsh(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val bruteAll = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    // LSH returns fewer, bucket-restricted neighbors; sanity: nonempty
    assert(lsh.nonEmpty)
    // multi-probe: strictly more candidates than plain banded LSH →
    // its result PAIRS are a superset and recall vs brute can only rise
    val mp = Similarity.knnLshMultiProbe(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(mp.size >= lsh.size)
    assert((mp & bruteAll).size >= (lsh & bruteAll).size)
    // IVF (fixed hash-sampled centroid set, nProbe=2): full k rows per
    // query and meaningful overlap with the exact top-k
    val ivf = Similarity.knnIvf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.size === 50)
    val recall = (ivf & bruteAll).size.toDouble / bruteAll.size
    assert(recall >= 0.3, s"ivf recall too low: $recall")
  }

  test("recallAtK: exact arithmetic on a hand-built fixture, and the gate's floor on sf0.001") {
    import spark.implicits._
    // fixture: 2 queries × 3 exact neighbors; approx hits 2 of q1's
    // and 1 of q2's → hits=3, total=6, recall=0.5 exactly
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L),
      (2L, 20L), (2L, 98L), (2L, 97L)).toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 2L)   // n_queries
    assert(r(0).getLong(1) === 3L)   // hits
    assert(r(0).getLong(2) === 6L)   // total
    assert(r(0).getDouble(3) === 0.5)
    // the knn_recall GATE's value, floored: recall@5 of the
    // hash-anchored IVF vs brute on the real sf0.001 embeddings must
    // not silently regress below the bar the index has always cleared
    // (CORRECTNESS hash-pins the exact value at sf0.01; this pins a
    // floor the moment anyone retunes IvfNProbe/IvfMaxCells)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val gate = Similarity.recallAtK(
      Similarity.knnIvf(emb), Similarity.knnBrute(emb)).collect()(0)
    assert(gate.getLong(2) === 50L) // 10 queries × k=5 exact pairs
    assert(gate.getDouble(3) >= 0.3,
      s"knn_recall gate value fell below floor: ${gate.getDouble(3)}")
    // recallAtK must agree with the independent set-intersection form
    val ivf = Similarity.knnIvf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.knnBrute(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(gate.getLong(1) === (ivf & brute).size.toLong)
    // the LSH sibling gate (knn_recall_lsh): plain banded LSH is
    // candidate-STARVED on the near-uniform real embeddings (measured
    // 0.04 here, 0.08 at sf0.01 — the number that motivates
    // knn_lsh_probe), so its floor only catches total collapse; the
    // driver's hash pin on the gate value is the real drift guard
    val lshGate = Similarity.recallAtK(
      Similarity.knnLsh(emb), Similarity.knnBrute(emb)).collect()(0)
    assert(lshGate.getLong(2) === 50L)
    assert(lshGate.getDouble(3) > 0.0,
      s"knn_recall_lsh collapsed to zero recall")
    assert(lshGate.getDouble(3) < gate.getDouble(3),
      "plain LSH unexpectedly beat IVF on this corpus — revisit the " +
        "starvation comment above")
    // the kNN-GRAPH gate (knn_graph_recall): all vectors are queries,
    // exact side = all-queries brute. Same starvation bar as plain
    // LSH on this corpus (measured 0.07 at sf0.01) — collapse guard
    // here, hash pin driver-side, and the clustered-corpus knnGraph
    // test holds the real >= 0.3 recall floor
    val graphGate = Similarity.recallAtK(
      Similarity.knnGraph(emb),
      Similarity.knnBrute(emb, nQueries = Long.MaxValue)).collect()(0)
    assert(graphGate.getLong(0) === emb.count())
    assert(graphGate.getLong(2) === emb.count() * 5L)
    assert(graphGate.getDouble(3) > 0.0,
      s"knn_graph_recall collapsed to zero recall")
  }

  test("knnIvfTrained: deterministic, and on a clustered corpus beats the hash-anchor layout") {
    // 2000 vectors in 25 tight clusters (dim 16): centers from the
    // cluster id's hash, points = center + small id-hash noise — fully
    // deterministic, no RNG. This is the distribution hash-order
    // anchors skew on: dense regions get however many anchors the hash
    // happens to drop there.
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val truth = Similarity.knnBrute(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(p: Set[(Long, Long)]): Double =
      (p & truth).size.toDouble / truth.size
    val untrained = pairs(Similarity.knnIvf(emb, corpusSize = 2000L))
    val trained = pairs(Similarity.knnIvfTrained(emb, corpusSize = 2000L))
    // deterministic: a second build returns the identical result set
    assert(trained ===
      pairs(Similarity.knnIvfTrained(emb, corpusSize = 2000L)))
    // trained centroids must not lose recall on the clustered corpus...
    val (rT, rU) = (recallOf(trained), recallOf(untrained))
    assert(rT >= rU, s"trained recall $rT < untrained $rU")
    // ...while meeting no more candidates than the skewed hash layout
    // lets through (balanced cells are the point of training)
    val candU = Similarity.ivfScored(emb, corpusSize = 2000L).count()
    val candT = Similarity.ivfScoredTrained(emb, corpusSize = 2000L).count()
    assert(candT <= candU * 2,
      s"trained candidates $candT vs untrained $candU")
    // sanity that the comparison is non-degenerate
    assert(rT >= 0.5, s"trained recall unexpectedly low: $rT")
    // the SPHERICAL variant: deterministic, and its cosine-matched
    // objective must hold the clustered-corpus recall bar too
    val spherical = pairs(
      Similarity.knnIvfSphericalTrained(emb, corpusSize = 2000L))
    assert(spherical === pairs(
      Similarity.knnIvfSphericalTrained(emb, corpusSize = 2000L)))
    val rS = recallOf(spherical)
    assert(rS >= rU, s"spherical recall $rS < untrained $rU")
    assert(rS >= 0.5, s"spherical recall unexpectedly low: $rS")
  }

  test("centroidsOf → parquet → knnIvfFromStored ≡ in-session knnIvfTrained") {
    // the clustered corpus from the trained test — the distribution
    // where the fitted centroids actually differ from the hash anchors
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val insession = Similarity.knnIvfTrained(emb, corpusSize = 2000L)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_rt").toString + "/cents"
    val cents = Similarity.centroidsOf(emb, corpusSize = 2000L)
    assert(cents.columns.toSeq ===
      Seq("cent_id", "embedding", "ivf_params_fp"))
    cents.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    // the store/reload serve is BIT-identical to in-session training:
    // same ids, same ranks, same float-derived cosines to the last ulp
    val served = Similarity.knnIvfFromStored(reloaded, emb)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served === insession)
    assert(served.nonEmpty)
    // fingerprint mismatch raises loudly instead of mis-anchoring
    val tampered = reloaded.withColumn("ivf_params_fp",
      col("ivf_params_fp") + 1L)
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnIvfFromStored(tampered, emb)
    }
    assert(ex.getMessage.contains("ivf_params_fp"))
    // a bare pre-fingerprint relation (2 columns) skips the check
    val bare = Similarity.knnIvfFromStored(
      reloaded.select("cent_id", "embedding"), emb)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(bare === insession)
    // non-contiguous ids are rejected (not silently re-indexed)
    val holes = reloaded.filter(col("cent_id") =!= 1L)
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.knnIvfFromStored(holes, emb)
    }
    assert(ex2.getMessage.contains("0..n-1"))
  }

  test("ivfAssignFromStored == driver-side two-level reference; total and deterministic") {
    val emb = spark.range(300).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), i -> cast(" +
        "pmod(hash(id % 12 * 8 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 8 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val cents = Similarity.centroidsOf(emb, corpusSize = 300L)
    val got = Similarity.ivfAssignFromStored(cents, emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // total: every vector assigned exactly once, to a stored cent_id
    assert(got.size === 300)
    val centRows = cents.collect().sortBy(_.getLong(0))
    val centIds = centRows.map(_.getLong(0)).toSet
    assert(got.values.toSet.subsetOf(centIds))
    // independent reference: recompute the coarse→fine argmax chain in
    // plain Scala from the STORED relation (anchors = first ⌈√k⌉ of
    // (poly_hash(id), id) order; ties toward the lower id; empty-group
    // fallback scans all fine centroids)
    val ce = centRows.map(_.getSeq[Number](1).map(_.floatValue.toDouble).toArray)
    val cn = ce.map(v => v.map(x => x * x).sum)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Double], na: Double, b: Array[Double], nb: Double) =
      dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
    val k = ce.length
    val kc = Similarity.ivfCoarseCells(k)
    val anchors = (0 until k).sortBy(i =>
        (graft.functions.PolyHashUtil.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(i.toString)),
          i.toLong))
      .take(kc).sorted
    val groupOf = (0 until k).map { f =>
      anchors.zipWithIndex.map { case (a, j) =>
        (-cos(ce(f), cn(f), ce(a), cn(a)), j)
      }.min._2
    }
    emb.collect().foreach { r =>
      val v = r.getSeq[Number](1).map(_.floatValue.toDouble).toArray
      val nv = v.map(x => x * x).sum
      val aj = anchors.zipWithIndex.map { case (a, j) =>
        (-cos(v, nv, ce(a), cn(a)), j)
      }.min._2
      val grp = (0 until k).filter(groupOf(_) == aj)
      val pool = if (grp.nonEmpty) grp else (0 until k)
      val best = pool.map(f => (-cos(v, nv, ce(f), cn(f)), f.toLong)).min._2
      assert(got(r.getLong(0)) === best,
        s"vec ${r.getLong(0)}: got ${got(r.getLong(0))} expected $best")
    }
  }

  test("knnIvfFromAssigned over the stamped corpus ≡ knnIvfFromStored; candidates are cell-pruned") {
    // the clustered corpus from the stored test — same distribution,
    // so the three legs compose end-to-end: train → stamp → serve
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val cents = Similarity.centroidsOf(emb, corpusSize = 2000L)
    val assigned = emb.join(Similarity.ivfAssignFromStored(cents, emb), "vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val pruned = rows(Similarity.knnIvfFromAssigned(cents, assigned))
    val stored = rows(Similarity.knnIvfFromStored(cents, emb))
    // BIT-identical: same ids, ranks, cosines to the last ulp — the
    // persisted cell column equals the cell serving would compute
    assert(pruned === stored)
    assert(pruned.nonEmpty)
    // the STATIC-pruned serve (probed cells resolved eagerly and
    // pushed into the corpus scan) is the same result again
    assert(rows(Similarity.knnIvfFromAssigned(cents, assigned,
      staticPrune = true)) === stored)
    // INCREMENTAL ingest: a fresh batch stamped SEPARATELY under the
    // same stored index unions with the earlier stamped corpus and
    // serves identically — assignment is per-row, so the stamped
    // relation grows append-only with no re-indexing
    val embA = emb.filter(col("vec_id") < 1500)
    val embB = emb.filter(col("vec_id") >= 1500)
    val assignedInc = embA
      .join(Similarity.ivfAssignFromStored(cents, embA), "vec_id")
      .unionByName(
        embB.join(Similarity.ivfAssignFromStored(cents, embB), "vec_id"))
    assert(rows(Similarity.knnIvfFromAssigned(cents, assignedInc)) === stored)
    // pruning contract: the candidate relation meets ~corpus·nProbe/
    // cells rows, not the corpus (cells ≈ √2000 = 44, nProbe = 2 →
    // perfectly balanced ≈ 91 candidates per query; 4× slack for skew)
    val cells = cents.count()
    val cand = Similarity.ivfScoredFromAssigned(cents, assigned).count()
    val queries = Similarity.DefaultQueries
    assert(cand <= queries * 2000L * Similarity.IvfNProbe / cells * 4,
      s"candidates $cand not pruned (corpus 2000, cells $cells)")
    // an unstamped corpus raises instead of silently mis-serving
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnIvfFromAssigned(cents, emb)
    }
    assert(ex.getMessage.contains("cell"))
  }

  test("knnIvfFromAssigned raises on a corpus stamped under DIFFERENT centroids (stale ivf_cents_fp)") {
    // corpus A stamped under A's trained centroids...
    val embA = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val centsA = Similarity.centroidsOf(embA, corpusSize = 2000L)
    val assignedA = embA
      .join(Similarity.ivfAssignFromStored(centsA, embA), "vec_id")
    // ...then the index is RE-TRAINED on a shifted corpus (same build
    // constants → same ivf_params_fp; different fitted vectors →
    // different content hash). Serving the stale-stamped corpus under
    // the new centroids must fail LOUDLY, in both serve modes — this
    // is exactly the silent-wrong-neighbors scenario the stamp exists
    // to kill.
    val embB = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i + 1), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 98), 100) / 1250.0 as float))")
        .as("embedding"))
    val centsB = Similarity.centroidsOf(embB, corpusSize = 2000L)
    // the raise_error surfaces wrapped in task/job failure layers —
    // search the whole cause chain for the stamp's name
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val exLazy = intercept[Exception] {
      Similarity.knnIvfFromAssigned(centsB, assignedA).collect()
    }
    assert(chain(exLazy).contains("ivf_cents_fp"), chain(exLazy))
    val exStatic = intercept[Exception] {
      Similarity.knnIvfFromAssigned(centsB, assignedA, staticPrune = true)
        .collect()
    }
    assert(chain(exStatic).contains("ivf_cents_fp"), chain(exStatic))
    // and the MATCHING centroids still serve: the guard is a stamp
    // check, not a tax on the valid path
    assert(Similarity.knnIvfFromAssigned(centsA, assignedA).collect()
      .nonEmpty)
  }

  test("IvfAssign2 two-level kernel == window-based coarse→fine reference") {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val rows = corpus.filter(col("vec_id") < 12).collect().sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val embs = rows.map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    val n2s = rows.map(_.getDouble(2))
    val anchorIdx = Array(0, 3, 7) // arbitrary ascending-id anchors
    // group fine by nearest anchor with the Catalyst window machinery —
    // independent of the kernel's loop
    val s = spark
    import s.implicits._
    val fine = rows.zipWithIndex
      .map { case (r, i) => (ids(i), embs(i).toSeq, n2s(i)) }
      .toSeq.toDF("cent_id", "c_emb", "c_n2")
    val coarse = anchorIdx.toSeq.map(i => (ids(i), embs(i).toSeq, n2s(i)))
      .toDF("a_id", "a_emb", "a_n2")
    def argmaxW(p: String) = Window.partitionBy(p)
      .orderBy(col("cos").desc, col("rid").asc)
    val fg = fine.crossJoin(coarse)
      .select(col("cent_id"), col("a_id").as("rid"),
        cosineFrom(dot(col("c_emb"), col("a_emb")), col("c_n2"), col("a_n2")).as("cos"))
      .withColumn("rnk", row_number().over(argmaxW("cent_id")))
      .filter(col("rnk") === 1)
      .select(col("cent_id"), col("rid").as("a_id"))
    val vc = corpus.crossJoin(coarse)
      .select(col("vec_id"), col("a_id").as("rid"),
        cosineFrom(dot(col("embedding"), col("a_emb")), col("n2"), col("a_n2")).as("cos"))
      .withColumn("rnk", row_number().over(argmaxW("vec_id")))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("rid").as("a_id"))
    val ref = corpus.join(vc, "vec_id")
      .join(fg.withColumnRenamed("cent_id", "f_id"), "a_id")
      .join(fine.withColumnRenamed("cent_id", "f_id"), "f_id")
      .select(col("vec_id"), col("f_id").as("rid"),
        cosineFrom(dot(col("embedding"), col("c_emb")), col("n2"), col("c_n2")).as("cos"))
      .withColumn("rnk", row_number().over(argmaxW("vec_id")))
      .filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // kernel path: group-contiguous layout exactly as knnIvf builds it
    val groupOf = ids.indices.map { f =>
      var best = 0; var bc = Double.NegativeInfinity
      anchorIdx.indices.foreach { j =>
        val a = anchorIdx(j)
        val d = embs(f).zip(embs(a)).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
        val cos = d / (math.sqrt(n2s(f)) * math.sqrt(n2s(a)))
        if (cos > bc) { bc = cos; best = j }
      }
      best
    }
    val members = Array.fill(anchorIdx.length)(new scala.collection.mutable.ArrayBuffer[Int])
    ids.indices.foreach(f => members(groupOf(f)) += f)
    val order = members.flatMap(_.toArray)
    val groupLen = members.map(_.length)
    val groupStart = groupLen.scanLeft(0)(_ + _).dropRight(1)
    val got = corpus.select(col("vec_id"),
        graft.functions.VectorExprFunctions.ivf_assign2(col("embedding"),
          anchorIdx.flatMap(embs(_)), anchorIdx.map(n2s),
          order.flatMap(embs(_)), order.map(n2s), order.map(ids),
          groupStart, groupLen).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref)
  }

  test("IvfAssign expression == join+argmax cell assignment") {
    import graft.functions.VectorFunctions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val cents = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))
    val centRows = cents.collect().sortBy(_.getLong(0))
    val viaExpr = corpus.select(col("vec_id"),
        graft.functions.VectorExprFunctions.ivf_assign(col("embedding"),
          centRows.flatMap(_.getSeq[Number](1).map(_.doubleValue()).toArray),
          centRows.map(_.getDouble(2)), centRows.map(_.getLong(0))).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference formulation: score all pairs, keep the argmax row
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("cent_id").asc)
    val viaJoin = corpus.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cent_id"),
        cosineFrom(dot(col("embedding"), col("c_emb")), col("n2"), col("c_n2"))
          .as("c_cos"))
      .withColumn("crank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("crank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === viaJoin)
  }

  test("native vector kernels are bit-identical to the fold forms") {
    import graft.functions.VectorFunctions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val both = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        dot(col("a.embedding"), col("b.embedding")).as("nat"),
        dotFold(col("a.embedding"), col("b.embedding")).as("fold"),
        lshSignature(col("a.embedding"), 8).as("sig_nat"),
        lshSignatureFold(col("a.embedding"), 8).as("sig_fold"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("multimodal: real container headers round-trip through both decoders") {
    // 3 → BMP, 4 → WAV, 5 → AVI, 97 → WAV truncated mid-header
    val docs = docsDf((3L, "pixels here"), (4L, "pcm samples"),
      (5L, "frame bytes!"), (97L, "never seen"))
    val media = Multimodal.mediaContainers(docs)
    assert(media.schema("payload").dataType.typeName === "binary")
    val cols = Multimodal.mediaDecodeCols(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val bmp = cols(3L)
    assert(bmp.getString(1) === "bmp" && bmp.getLong(2) === 1L)
    assert(bmp.getLong(3) === 3L % 300 + 2)   // width parsed from bytes
    assert(bmp.getLong(4) === 3L % 200 + 2)   // height
    assert(bmp.getLong(5) === 24L)            // biBitCount
    // biSizeImage = 4-byte-aligned stride × height (real pixel array)
    assert(bmp.getLong(9) === ((5 * 3 + 3) / 4 * 4 * 5).toLong)
    val wav = cols(4L)
    assert(wav.getString(1) === "wav" && wav.getLong(2) === 1L)
    assert(wav.getLong(5) === 16L)            // bitsPerSample
    assert(wav.getLong(6) === 8000L)          // 4 % 4 = 0 → 8000 Hz
    assert(wav.getLong(7) === 4L % 2 + 1)     // channels
    assert(wav.getLong(9) === "pcm samples".length.toLong)
    val avi = cols(5L)
    assert(avi.getString(1) === "avi" && avi.getLong(2) === 1L)
    assert(avi.getLong(3) === 5L % 640 + 1 && avi.getLong(4) === 5L % 480 + 1)
    assert(avi.getLong(8) === 5L % 5 + 1)     // dwTotalFrames
    assert(avi.getLong(9) === "frame bytes!".length.toLong)
    val bad = cols(97L)
    assert(bad.getString(1) === "none" && bad.getLong(2) === 0L)
    assert((3 to 9).forall(i => bad.getLong(i) === -1L))
    // the ByteBuffer batch path must agree bit-for-bit with the
    // column-expression path on every row
    val batch = Multimodal.mediaDecodeBatch(spark, media).toDF().collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    cols.foreach { case (id, r) => assert(batch(id) === r.toSeq, s"doc $id") }
  }

  test("multimodal: synthesized headers parse under the JDK's own readers") {
    // independent third decoder: javax.imageio (BMP) and
    // javax.sound.sampled (WAV) ship with the JDK and know nothing of
    // our byte writers — if they read back the same metadata, the
    // layout is genuinely the published one, not a private convention
    val docs = docsDf((6L, "some pixel data"), (7L, "some pcm data"))
    val media = Multimodal.mediaContainers(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(media(6L)))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    assert(readers.hasNext, "JDK has no BMP reader?")
    val reader = readers.next()
    reader.setInput(iis)
    assert(reader.getWidth(0) === (6 % 300 + 2))
    assert(reader.getHeight(0) === (6 % 200 + 2))
    reader.dispose()
    val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(media(7L))).getFormat
    assert(fmt.getSampleRate === 44100f)      // 7 % 4 = 3 → 44100 Hz
    assert(fmt.getChannels === (7 % 2 + 1))
    assert(fmt.getSampleSizeInBits === 16)
  }

  test("multimodal: malformed payloads yield invalid rows, never task death") {
    import Multimodal.decodeOne
    val invalid = Seq[Array[Byte]](
      Array.empty,
      null,
      Array.fill(200)(0x5a.toByte),                    // wrong magic, long
      "BM".getBytes ++ Array.fill(10)(0.toByte),       // magic ok, short
      "RIFF1234WAVE".getBytes,                          // WAVE, header cut
      "RIFFxxxxAVI ".getBytes ++ Array.fill(40)(1.toByte)) // avih cut
    invalid.foreach { b =>
      val d = decodeOne(9L, b)
      assert(d.valid === 0L && d.container === "none" && d.width === -1L)
    }
    // garbage past a complete well-formed-length header parses without
    // throwing (fields are whatever the bytes say — that's a decode,
    // not a validation, exactly like a real header reader)
    val junk = decodeOne(9L, "BM".getBytes ++ Array.fill(60)(0x11.toByte))
    assert(junk.valid === 1L && junk.container === "bmp")
    // and the DataFrame path: a corrupt payload column flows through
    // both decoders as sentinel rows with no task failure
    val corrupt = docsDf((1L, "x")).select(col("doc_id"),
      lit("not a container".getBytes).as("payload"))
    val viaCols = Multimodal.mediaDecodeCols(corrupt).collect()(0)
    assert(viaCols.getString(1) === "none" && viaCols.getLong(2) === 0L)
    val viaBatch = Multimodal.mediaDecodeBatch(spark, corrupt).collect()(0)
    assert(viaBatch.container === "none" && viaBatch.valid === 0L)
  }

  test("every engine function round-trips from pure SQL") {
    graft.plans.GraftSql.register(spark)
    val r = spark.sql(
      "SELECT poly_hash('abc') AS ph, poly_hash2('abc') AS ph2, " +
        "shingle_hash(array('a','b','c'), 3) AS sh, " +
        "simhash(array('a','b','c')) AS sim, " +
        "minhash_sig(shingle_hash(array('a','b','c'), 3)) AS mh, " +
        "dot_d(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp, " +
        "lsh_sig(array(1.0D, 2.0D), 8) AS sig, " +
        "nfc_norm('Café') AS nfc, " +
        "char_gram_hash('abcd', 3) AS cg, " +
        "sorted_intersect_size(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS si").collect()(0)
    assert(r.getLong(0) === 1677554L)
    // each SQL result must equal its Column-API twin on the same input
    import graft.functions.ShingleHashFunctions._
    val twin = docsDf((1L, "a b c")).select(
        poly_hash(col("text")).as("joined_ph"),
        graft.functions.PolyHashFunctions.poly_hash2(lit("abc")).as("ph2"),
        shingle_hash(tokens(col("text")), 3).as("sh"),
        simhash(tokens(col("text")), Dedup.SimBits).as("sim"),
        minhash_sig(shingle_hash(tokens(col("text")), 3),
          Dedup.MinhashAB.map(_._1), Dedup.MinhashAB.map(_._2),
          Dedup.MinhashP).as("mh"))
      .collect()(0)
    assert(r.getSeq[Long](2) === Seq(twin.getLong(0))) // one 3-shingle
    assert(r.getLong(1) === twin.getLong(1))
    assert(r.getSeq[Long](2) === twin.getSeq[Long](2))
    assert(r.getLong(3) === twin.getLong(3))
    assert(r.getSeq[Long](4) === twin.getSeq[Long](4))
    assert(r.getDouble(5) === 11.0)
    assert(r.getLong(6) === docsDf((1L, "x")).select(
      graft.functions.VectorExprFunctions.lsh_sig(
        array(lit(1.0), lit(2.0)), 8)).collect()(0).getLong(0))
    // the SQL literal above is the DECOMPOSED form (e + U+0301); NFC
    // composes it to the precomposed code point
    assert(r.getString(7) === "Café")
    assert(r.getSeq[Long](8) === docsDf((1L, "abcd")).select(
      graft.functions.CharGramHashFunctions.char_gram_hash(col("text"), 3))
      .collect()(0).getSeq[Long](0))
    assert(r.getLong(9) === 2L)
  }

  test("l2/sq8 fixed-point kernels are bit-equal to their composed-builtin twins") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(977)
    val dims = 24
    val rows = (0L until 40L).map { i =>
      (i, Array.fill(dims)((rng.nextDouble() - 0.5) * 4.0),
        Array.fill(dims)(rng.nextInt(256).toLong))
    }
    val df = rows.toDF("vec_id", "emb", "cds")
    val mn = Array.fill(dims)((rng.nextDouble() - 0.5) * 2.0)
    // one degenerate span exercises the span <= 0 branch
    val span = Array.tabulate(dims)(i =>
      if (i == 3) 0.0 else rng.nextDouble() * 3.0)
    val mnLit = lit(mn)
    val spanLit = lit(span)
    val q = lit(Array.fill(dims)((rng.nextDouble() - 0.5) * 4.0))
    // composed-builtin twins — verbatim the pre-kernel expressions
    val l2Twin = floor(aggregate(
      zip_with(q, col("emb"), (a, b) => {
        val t = a.cast("double") - b.cast("double")
        t * t
      }), lit(0.0), (acc, v) => acc + v) * lit(1000000.0)).cast("long")
    val recon = transform(col("cds"), (c, i) =>
      element_at(mnLit, i + 1) +
        c.cast("double") * element_at(spanLit, i + 1) / lit(255.0))
    val sq8Twin = floor(aggregate(
      zip_with(q, recon, (a, b) => {
        val t = a.cast("double") - b
        t * t
      }), lit(0.0), (acc, v) => acc + v) * lit(1000000.0)).cast("long")
    val rtRecon = transform(col("emb"), (x, i) => {
      val m = element_at(mnLit, i + 1)
      val sp = element_at(spanLit, i + 1)
      val code = when(sp > lit(0.0),
        least(floor((x.cast("double") - m) * lit(255.0) / sp), lit(255L)))
        .otherwise(lit(0L))
      m + code.cast("double") * sp / lit(255.0)
    })
    val rtTwin = floor(aggregate(
      zip_with(q, rtRecon, (a, b) => {
        val t = a.cast("double") - b
        t * t
      }), lit(0.0), (acc, v) => acc + v) * lit(1000000.0)).cast("long")
    import graft.functions.VectorExprFunctions.{l2_fp, sq8_l2_fp, sq8_rt_l2_fp}
    val got = df.select(
      l2Twin.as("l2t"), l2_fp(q, col("emb")).as("l2k"),
      sq8Twin.as("s8t"), sq8_l2_fp(q, col("cds"), mn, span).as("s8k"),
      rtTwin.as("rtt"), sq8_rt_l2_fp(q, col("emb"), mn, span).as("rtk"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "l2_fp != composed twin")
      assert(r.getLong(2) === r.getLong(3), "sq8_l2_fp != composed twin")
      assert(r.getLong(4) === r.getLong(5), "sq8_rt_l2_fp != composed twin")
    }
    // float-typed embeddings take the float element reader
    val fdf = rows.map { case (i, e, _) => (i, e.map(_.toFloat)) }
      .toDF("vec_id", "emb")
    val gotF = fdf.select(
      floor(aggregate(
        zip_with(q, col("emb"), (a, b) => {
          val t = a.cast("double") - b.cast("double")
          t * t
        }), lit(0.0), (acc, v) => acc + v) * lit(1000000.0)).cast("long")
        .as("t"),
      l2_fp(q, col("emb")).as("k")).collect()
    gotF.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("multimodal: byte (not character) data sizes on non-ASCII text") {
    // data_bytes is the BYTE length of the UTF-8 data region — byte
    // semantics exactly, not character semantics (they differ here).
    // WAV/AVI rows only: BMP pads its data region to the pixel array.
    val docs = docsDf((4L, "érase"), (5L, "☃"), (7L, "héllo"))
    val dec = Multimodal.mediaDecodeCols(Multimodal.mediaContainers(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(9)).toMap
    assert(dec(4L) === 6L) // é is 2 UTF-8 bytes (WAV dataSize)
    assert(dec(7L) === 6L) // (WAV dataSize)
    assert(dec(5L) === 3L) // ☃ U+2603 = E2 98 83 (AVI riffSize - 80)
  }

  test("pqCodes: brute argmin reference on real embeddings; first-min tie rule") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.pqCodes(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // reproduce the codebook: hash-order sample, codeword j = rank j
    val hs = emb.select(col("vec_id"),
        graft.functions.PolyHashFunctions.poly_hash(col("vec_id").cast("string"))
          .as("ch"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val cb = hs.sortBy(t => (t._2, t._1)).take(Similarity.PqCodebookSize)
      .map(_._3)
    val blocks = Similarity.PqBlocks
    val dim = cb.head.length
    val bw = dim / blocks
    val vecs = hs.map(t => t._1 -> t._3).toMap
    vecs.foreach { case (id, v) =>
      (0 until blocks).foreach { b =>
        val dists = cb.map { c =>
          var acc = 0.0
          var i = b * bw
          while (i < (b + 1) * bw) {
            val t = v(i) - c(i); acc += t * t; i += 1
          }
          acc
        }
        val best = dists.indexOf(dists.min).toLong
        val (code, distFp) = got((id, b.toLong))
        withClue(s"vec $id block $b") {
          assert(code === best)
          assert(distFp === math.floor(dists.min * 1000000.0).toLong)
          assert(code >= 0L && code < Similarity.PqCodebookSize.toLong)
        }
      }
    }
    assert(got.size === vecs.size * blocks)
  }

  test("knnPq + knnBruteL2: driver ADC/L2 references on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val cw = Similarity.pqCodebookOf(emb, Similarity.PqCodebookSize)
    val blocks = Similarity.PqBlocks
    val bw = cw.head.length / blocks
    def l2(a: Array[Double], b: Array[Double], blk: Int): Double = {
      var acc = 0.0
      var i = blk * bw
      while (i < (blk + 1) * bw) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val codes = vecs.map { case (id, v) =>
      id -> (0 until blocks).map { b =>
        val ds = cw.map(c => l2(v, c, b))
        ds.indexOf(ds.min)
      }
    }
    val queries = vecs.keys.filter(_ < Similarity.DefaultQueries).toSeq.sorted
    val wantPq = queries.flatMap { q =>
      val luts = (0 until blocks).map(b =>
        cw.map(c => math.floor(l2(vecs(q), c, b) * 1000000.0).toLong))
      val ranked = vecs.keys.filter(_ != q).toSeq
        .map(n => (n, (0 until blocks).map(b => luts(b)(codes(n)(b))).sum))
        .sortBy { case (n, adc) => (adc, n) }
        .take(Similarity.DefaultK)
      ranked.zipWithIndex.map { case ((n, adc), i) =>
        (q, i + 1L) -> ((n, adc))
      }
    }.toMap
    val gotPq = Similarity.knnPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(gotPq === wantPq)
    // the exact-L2 baseline against the same driver arithmetic
    // full-width L2 must be ONE continuous left fold (block-wise sums
    // regroup the additions and can drift a ulp)
    def l2Full(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val wantL2 = queries.flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .map(n => (n, math.floor(l2Full(vecs(q), vecs(n)) * 1000000.0).toLong))
        .sortBy { case (n, d) => (d, n) }
        .take(Similarity.DefaultK)
        .zipWithIndex.map { case ((n, d), i) => (q, i + 1L) -> ((n, d)) }
    }.toMap
    val gotL2 = Similarity.knnBruteL2(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(gotL2 === wantL2)
    // ADC recall vs the exact-L2 ranking holds a floor on this corpus
    // (0.34 measured at sf0.01; guard against collapse-to-zero)
    val rec = Similarity.recallAtK(
        Similarity.knnPq(emb), Similarity.knnBruteL2(emb))
      .collect()(0).getAs[Double]("recall")
    assert(rec >= 0.15, s"PQ ADC recall collapsed: $rec")
  }

  test("negatives: brute permutation-probe reference; stable under repartitioning") {
    val docs = docsDf((0L until 40L).map(i => (i * 7L, s"doc $i")): _*)
    val k = 3
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.negatives(df, k).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = run(docs)
    // brute: rank docs by (poly_hash(id), id), probe the permutation
    val hashes = docs.select(col("doc_id"),
        poly_hash(col("doc_id").cast("string"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ranked = hashes.sortBy(t => (t._2, t._1)).map(_._1)
    val n = ranked.length
    val probeH = docs.select(col("doc_id"),
        explode(array((0 until k).map(i => lit(i.toLong)): _*)).as("slot"))
      .select(col("doc_id"), col("slot"),
        poly_hash(concat(col("doc_id").cast("string"), lit(":"),
          col("slot").cast("string"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = probeH.flatMap { case (id, slot, h) =>
      val neg = ranked((h % n + n).toInt % n)
      if (neg == id) None else Some((id, slot) -> neg)
    }.toMap
    assert(got === want)
    assert(got.values.toSet.subsetOf(ranked.toSet))
    got.foreach { case ((id, _), neg) => assert(neg !== id) }
    // partitioning must not move a single negative
    assert(run(docs.repartition(13)) === got)
  }

  test("containmentPairs: one-way excerpt flagged; brute containment reference") {
    // an excerpt inside a much longer doc: containment(excerpt→host)
    // ≈ 1 but Jaccard tiny — exactly the asymmetric case
    val host = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 20).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val out = Dedup.containmentPairs(
      docsDf((1L, host), (2L, excerpt), (3L, other)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(out.contains((2L, 1L))) // excerpt mostly inside host
    assert(out((2L, 1L)) === 1000000L) // every shingle shared
    assert(!out.contains((1L, 2L))) // host NOT inside excerpt
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // brute reference on random short docs (tiny vocab → real overlap)
    val rnd = new scala.util.Random(29)
    val docs = (0L until 30L).map(i => (i,
      Seq.fill(6 + rnd.nextInt(20))("abcd" (rnd.nextInt(4)).toString)
        .mkString(" ")))
    def shingles(t: String): Set[Seq[String]] =
      t.split("\\s+").toSeq.sliding(3).filter(_.size == 3).toSeq.toSet
    val want = (for {
      (a, ta) <- docs
      (b, tb) <- docs if a != b
      sa = shingles(ta)
      if sa.nonEmpty
      sh = (sa intersect shingles(tb)).size.toLong
      c = sh * 1000000L / sa.size
      if c >= Dedup.ContainmentPpm
    } yield (a, b) -> c).toMap
    // the brute reference ignores the rare-shingle candidate cap, so
    // lift the df cap above the corpus size to align recall
    val got = Dedup.containmentPairs(docsDf(docs: _*), maxDf = 10000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(got === want)
  }

  test("labelCentroids: exact quantized sums; mean within 1ppm of the float mean") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.labelCentroids(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val rows = emb.collect().map(r =>
      (r.getInt(2).toLong, r.getSeq[Float](1).map(_.toDouble).toArray))
    val dims = rows.head._2.length
    val want = rows.groupBy(_._1).flatMap { case (lbl, vs) =>
      (0 until dims).map { d =>
        val qs = vs.map(v => math.floor(v._2(d) * 1000000.0).toLong)
        (lbl, d.toLong) -> ((vs.size.toLong, qs.sum, qs.sum / vs.size))
      }
    }
    assert(got === want)
    // integer mean tracks the float mean to ~1ppm + 1ulp of div
    rows.groupBy(_._1).foreach { case (lbl, vs) =>
      (0 until dims).foreach { d =>
        val fm = vs.map(_._2(d)).sum / vs.size * 1000000.0
        val im = got((lbl, d.toLong))._3.toDouble
        assert(math.abs(fm - im) <= 2.0,
          s"label $lbl dim $d: float-mean ppm $fm vs integer $im")
      }
    }
  }

  test("knnIvfPq: ADC scores agree with knnPq pairwise; ranks monotone; recall floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // same quantizer ⇒ any pair IVFPQ surfaces must carry the exact
    // adc_fp the driver reference computes (shared codebook, shared
    // fold); ranks must be monotone in (adc_fp, neighbor) per query
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val cw = Similarity.pqCodebookOf(emb, Similarity.PqCodebookSize)
    val blocks = Similarity.PqBlocks
    val bw = cw.head.length / blocks
    def l2(a: Array[Double], b: Array[Double], blk: Int): Double = {
      var acc = 0.0
      var i = blk * bw
      while (i < (blk + 1) * bw) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val codes = vecs.map { case (id, v) =>
      id -> (0 until blocks).map { b =>
        val ds = cw.map(c => l2(v, c, b)); ds.indexOf(ds.min)
      }
    }
    def adcOf(q: Long, n: Long): Long =
      (0 until blocks).map { b =>
        val lutb = cw.map(c =>
          math.floor(l2(vecs(q), c, b) * 1000000.0).toLong)
        lutb(codes(n)(b))
      }.sum
    val rows = Similarity.knnIvfPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, _, n, adc) =>
      withClue(s"query $q neighbor $n") { assert(adc === adcOf(q, n)) }
    }
    rows.groupBy(_._1).values.foreach { per =>
      val byRank = per.sortBy(_._2).map(t => (t._4, t._3))
      assert(byRank === byRank.sorted)
    }
    // both prunings priced: stays above the collapse floor
    val rec = Similarity.recallAtK(Similarity.knnIvfPq(emb),
      Similarity.knnBruteL2(emb)).collect()(0).getAs[Double]("recall")
    assert(rec >= 0.15, s"IVFPQ recall collapsed: $rec")
  }

  test("knnBruteL2 truncation: dims=width is identity; prefix-signal corpus recalls 1.0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(col("embedding")).head.getSeq[Float](0).size
    val full = Similarity.knnBruteL2(emb).collect().map(_.toSeq).toSet
    val same = Similarity.knnBruteL2(emb, dims = dim).collect().map(_.toSeq).toSet
    assert(same === full)
    // a corpus whose signal lives ENTIRELY in the first 4 dims: the
    // tail is constant, so prefix retrieval must match full retrieval
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    val prefixCorpus = (0L until 60L).map(i => (i,
      (Array.fill(4)(rnd.nextFloat()) ++ Array.fill(12)(0.5f)).toSeq))
      .toDF("vec_id", "embedding")
    val a = Similarity.knnBruteL2(prefixCorpus, dims = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val b = Similarity.knnBruteL2(prefixCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a === b)
    // on the real (untrained, near-uniform) embeddings the truncation
    // audit reports honestly LOW recall — pin it stays a valid number
    val rec = Similarity.recallAtK(
        Similarity.knnBruteL2(emb, dims = Similarity.TruncDims),
        Similarity.knnBruteL2(emb))
      .collect()(0).getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
  }

  test("knnSq8: parquet round-trip ≡ in-session; recall holds the 8-bit floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val insession = rows(Similarity.knnSq8(Similarity.sq8Stats(emb),
      Similarity.quantizeInt8(emb), emb))
    assert(insession.nonEmpty)
    val base = java.nio.file.Files
      .createTempDirectory("graft_sq8_rt").toString
    Similarity.sq8Stats(emb).write.parquet(base + "/stats")
    Similarity.quantizeInt8(emb).write.parquet(base + "/codes")
    assert(rows(Similarity.knnSq8(spark.read.parquet(base + "/stats"),
      spark.read.parquet(base + "/codes"), emb)) === insession)
    // the PACKED serving layout (sq8Pack persisted at ingest) serves
    // bit-identically, with no per-serve assembly shuffle
    Similarity.sq8Pack(spark.read.parquet(base + "/codes"))
      .write.parquet(base + "/packed")
    assert(rows(Similarity.knnSq8(spark.read.parquet(base + "/stats"),
      spark.read.parquet(base + "/packed"), emb)) === insession)
    // 8 bits per element on near-uniform data keeps ranking nearly
    // exact — a collapse here means the dequantization chain drifted
    val rec = Similarity.recallAtK(
        Similarity.knnSq8(Similarity.sq8Stats(emb),
          Similarity.quantizeInt8(emb), emb),
        Similarity.knnBruteL2(emb))
      .collect()(0).getAs[Double]("recall")
    assert(rec >= 0.7, s"SQ8 recall collapsed: $rec")
  }

  test("binaryCodes: planted sign bits pack at 2^i; ragged widths drop") {
    val s = spark
    import s.implicits._
    // 3 vectors × 34 dims so the pack spills into a ragged second
    // word. Per-dim grid over {-1, 0, +1}: mn=-1, mx=+1, midpoint 0 —
    // bit = (x > 0). v0 all -1 → words (0, 0); v1 all +1 → word 0 has
    // all 32 bits (2^32−1), word 1 the low 2 bits (3); v2 alternates
    // starting +1 → bits at even i: Σ 4^j = (4^16−1)/3, word 1 bit 0
    val dims = 34
    val v0 = Array.fill(dims)(-1.0f)
    val v1 = Array.fill(dims)(1.0f)
    val v2 = Array.tabulate(dims)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((0L, v0.toSeq), (1L, v1.toSeq), (2L, v2.toSeq),
        (3L, Array.fill(7)(1.0f).toSeq)) // ragged — must drop
      .toDF("vec_id", "embedding")
    // the ragged row must not join the grid fit either (it would
    // shift dim 0..6 stats) — stats over the well-formed prefix only
    val stats = Similarity.sq8Stats(emb.filter($"vec_id" < 3))
    val got = Similarity.binaryCodes(stats, emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(got.keySet === Set(0L, 1L, 2L))
    assert(got(0L) === Seq(0L, 0L))
    assert(got(1L) === Seq((1L << 32) - 1L, 3L))
    assert(got(2L) === Seq(((BigInt(4).pow(16) - 1) / 3).toLong, 1L))
  }

  test("cusumStateful: streaming micro-batches ≡ one-shot ≡ windowed cusum; out-of-order hours refuse") {
    val s = spark
    import s.implicits._
    val t0 = 1704067200L
    def batch(hours: Seq[(Long, Long)]) = // (hour idx, count)
      hours.flatMap { case (h, c) =>
        (0L until c).map(j => (h * 100L + j, t0 + h * 3600L))
      }.toDF("event_id", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
        .withColumn("event_type", lit("click"))
    val b1 = Seq(0L -> 3L, 1L -> 3L, 2L -> 30L, 3L -> 30L)
    val b2 = Seq(5L -> 3L, 6L -> 3L, 7L -> 3L) // hour 4 absent: gap fold
    val all = batch(b1).unionByName(batch(b2))
    val mus = graft.streaming.EventWindows.cusumReference(all)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "hour_epoch", "cnt", "mu_milli",
        "cusum_hi_milli", "cusum_lo_milli", "alarm_hi", "alarm_lo")
      .collect().map(_.toSeq).toSet
    val oneShot = rows(
      graft.streaming.EventWindows.cusumStateful(spark, all, mus))
    // the stateful form equals the windowed prefix-identity form
    assert(oneShot === rows(graft.streaming.EventWindows.cusum(all)))
    // streaming replay: two in-order micro-batches through a real
    // stream — identical rows, state carried across batches. Each batch
    // is appended as ONE file, so one commit rename publishes it whole:
    // with several part files the stream could list hour 6's file
    // before hour 5's and fold them as two out-of-order micro-batches
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cusum-stream").toString
    batch(b1).coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = graft.streaming.EventWindows.cusumStateful(spark,
        spark.readStream.schema(schema).parquet(dir), mus)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      batch(b2).coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(rows(spark.sql("select * from cusum_out")) === oneShot)
    } finally q.stop()
    // regressing hours must refuse loudly, not corrupt the sums: a
    // second micro-batch EARLIER than the folded frontier
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-cusum-ooo").toString
    batch(Seq(9L -> 1L)).coalesce(1).write.mode("append").parquet(dir2)
    val q2 = graft.streaming.EventWindows.cusumStateful(spark,
        spark.readStream.schema(schema).parquet(dir2), mus)
      .writeStream.format("memory").queryName("cusum_ooo")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      batch(Seq(5L -> 1L)).coalesce(1).write.mode("append").parquet(dir2)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        throw q2.exception.get
      }
      assert(ex.getMessage.contains("wholly contained") ||
        Option(ex.getCause).exists(_.getMessage.contains("wholly contained")),
        ex.getMessage)
    } finally q2.stop()
  }

  test("abSrm: chi2 matches recomputation; biased exposure flags; absent arm counts as zero") {
    val s = spark
    import s.implicits._
    import graft.functions.PolyHashFunctions.poly_hash
    val v = graft.streaming.EventWindows.AbVariants
    def events(ids: Seq[Long]) = ids.toDF("user_id")
      .withColumn("event_type", lit("view"))
      .withColumn("ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("value", lit(1.0))
      .withColumn("event_id", col("user_id"))
    val ids = (0L until 400L)
    val arms = events(ids)
      .select(col("user_id"),
        pmod(poly_hash(col("user_id").cast("string")), lit(v))
          .as("variant"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def chi2Of(kept: Seq[Long]): Long = {
      val counts = kept.groupBy(arms).view.mapValues(_.size.toLong).toMap
      val n = kept.size.toLong
      val e = n / v
      val ss = (0L until v).map(a => {
        val o = counts.getOrElse(a, 0L); (o - e) * (o - e)
      }).sum
      ss * 1000L / math.max(e, 1L)
    }
    def run(kept: Seq[Long]) = graft.streaming.EventWindows
      .abSrm(events(kept)).collect()(0)
    // near-balanced: chi2 matches the direct recomputation, no flag
    val all = run(ids)
    assert(all.getLong(3) === chi2Of(ids))
    assert(all.getLong(4) === 0L)
    // biased exposure: keep only 10% of one arm — flags
    val arm0 = ids.filter(arms(_) == 0L)
    val biased = ids.filterNot(arm0.drop(arm0.size / 10).toSet)
    val b = run(biased)
    assert(b.getLong(3) === chi2Of(biased) && b.getLong(4) === 1L)
    // absent arm: drop arm 0 entirely — the expansion must count the
    // missing arm as o = 0, not skip it
    val only1 = ids.filter(arms(_) == 1L)
    val a1 = run(only1)
    assert(a1.getLong(1) === 1L) // one observed arm
    assert(a1.getLong(3) === chi2Of(only1) && a1.getLong(4) === 1L)
  }

  test("joinStats: exact join cardinality; skew flips the hint to salt") {
    val s = spark
    import s.implicits._
    // left: key 1×3, key 2×1; right: key 1×2, key 3×5 → join = 3·2 = 6
    val l = Seq(1L, 1L, 1L, 2L).toDF("k1")
    val r = Seq(1L, 1L, 3L, 3L, 3L, 3L, 3L).toDF("k2")
    val row = operators.Warehouse.joinStats(l, r, "k1", "k2").collect()(0)
    assert(row.getLong(0) === 4L && row.getLong(1) === 7L) // n_left/right
    assert(row.getLong(2) === 2L && row.getLong(3) === 2L) // key counts
    assert(row.getLong(4) === 6L)                          // exact join rows
    // bigger side (right, 7 rows) has key 3 at 5/7 ≈ 714285 ppm > 10%
    assert(row.getLong(7) === 714285L)
    assert(row.getString(8) === "salt")
    // balanced small sides → broadcast
    val lb = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L).toDF("k1")
    val rb = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L).toDF("k2")
    val b = operators.Warehouse.joinStats(lb, rb, "k1", "k2").collect()(0)
    assert(b.getLong(4) === 10L && b.getString(8) === "broadcast")
  }

  test("violations: each dirt class lands in exactly its rule; clean corpus empty; dups flag all members") {
    val s = spark
    import s.implicits._
    def d(id: java.lang.Long, text: String, lang: String, src: String,
        nc: java.lang.Long) = (id, text, lang, src, nc)
    val df = Seq(
        d(1L, "ok text", "en", "web", 7L),            // clean
        d(null, "x", "en", "web", 1L),                // null key
        d(3L, "", "en", "web", 0L),                   // empty text + nc 0
        d(4L, "abc", "xx", "web", 3L),                // unknown lang
        d(5L, "abcd", "en", "web", 5L),               // nc inconsistent
        d(6L, "ab", "en", "", 2L),                    // empty source
        d(7L, "dup", "en", "web", 3L),                // duplicated key…
        d(7L, "dup2", "en", "web", 4L))               // …both flagged
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Profile.violations(df,
        operators.Profile.DocsChecks).collect()
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"),
        r.getString(1))).toSet
    assert(got === Set(
      ("null", "doc_id_not_null"),
      ("3", "text_nonempty"), ("3", "n_chars_positive"),
      ("4", "lang_known"),
      ("5", "n_chars_consistent"),
      ("6", "source_not_null"),
      ("7", "doc_id_unique")))
    // multiset check: BOTH rows of the duplicated key are flagged
    val dupRows = operators.Profile.violations(df,
        operators.Profile.DocsChecks)
      .filter($"rule" === "doc_id_unique").count()
    assert(dupRows === 2L)
    // a clean corpus quarantines nothing
    val clean = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    assert(operators.Profile.violations(clean,
      operators.Profile.DocsChecks).count() === 0L)
  }

  test("embeddingDrift: planted shift measured exactly; stable label 0; one-epoch label omitted") {
    val s = spark
    import s.implicits._
    def df(rows: (Long, Long, Seq[Float])*) =
      rows.toDF("vec_id", "label", "embedding")
    val old = df(
      (0L, 1L, Seq(0.1f, 0.2f)), (2L, 1L, Seq(0.3f, 0.4f)),
      (4L, 2L, Seq(0.5f, 0.5f)))
    // label 1 mean shifts +0.1 in dim 0 only; label 2 unchanged;
    // label 3 exists only in fresh → omitted
    val fresh = df(
      (1L, 1L, Seq(0.2f, 0.2f)), (3L, 1L, Seq(0.4f, 0.4f)),
      (5L, 2L, Seq(0.5f, 0.5f)), (7L, 3L, Seq(0.9f, 0.9f)))
    val got = operators.Similarity.embeddingDrift(old, fresh).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got.keySet === Set(1L, 2L))
    // dim-0 means: old ⌊(0.1+0.3)/2·1e6⌋-style integer chain — both
    // epochs quantize per element first, so the shift is ~100000 ppm
    val (n0, n1, d2) = got(1L)
    assert(n0 === 2L && n1 === 2L)
    assert(d2 > 9000000000L - 2000000L && d2 < 10000000000L + 2000000L,
      s"drift_ppm2 $d2 not ≈ (1e5)²")
    assert(got(2L) === ((1L, 1L, 0L)))
  }

  test("scd2Apply: two chained batches ≡ one-shot history; tombstone closes; open rows survive untouched keys") {
    val s = spark
    import s.implicits._
    val v0 = Seq((1L, 0L, false), (2L, 0L, false), (3L, 0L, false))
      .toDF("doc_id", "version", "deleted")
    val v1 = Seq((1L, 1L, false)).toDF("doc_id", "version", "deleted")
    val v2 = Seq((1L, 2L, true), (2L, 2L, false))
      .toDF("doc_id", "version", "deleted")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "version", "deleted", "valid_from",
          "valid_to", "is_current")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    val oneShot = rows(operators.Snapshot.scd2History(
      v0.unionByName(v1).unionByName(v2)))
    val chained = rows(operators.Snapshot.scd2Apply(
      operators.Snapshot.scd2Apply(
        operators.Snapshot.scd2History(v0), v1), v2))
    assert(chained === oneShot)
    // key 3 never appears in a batch: its open row is byte-identical
    val open = operators.Snapshot.Scd2Open
    assert(chained.contains((3L, 0L, false, 0L, open, true)))
    // key 1's tombstone is the open row but NOT current
    assert(chained.contains((1L, 2L, true, 2L, open, false)))
  }

  test("smallQuantityRevenue: exact rational threshold, strict inequality") {
    val s = spark
    import s.implicits._
    // part 1: qtys (1, 9) → avg 5, 0.2·avg = 1 — qty 1 is NOT < 1
    // (strict), so no small rows; part 2: qtys (1, 100) → qty 1 IS
    // under 101/10 — exactly one small row, exact integers both sides
    val li = Seq(
        (1L, 1.0, 100.0, 0.0), (1L, 9.0, 100.0, 0.0),
        (2L, 1.0, 100.0, 0.0), (2L, 100.0, 100.0, 0.0))
      .toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val part = Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
    val got = operators.Warehouse.smallQuantityRevenue(part, li)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === Map("B2" -> 1L))
  }

  test("mmrRerank: λ=1 ≡ relevance order; planted near-clone skipped for diversity") {
    val s = spark
    import s.implicits._
    // λ = 1000 (pure relevance): selection order IS the brute top-k
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(Similarity.mmrRerank(emb, emb, lambdaPm = 1000L)) ===
      rows(Similarity.knnBruteL2(emb)))
    // planted: candidate 2 is a near-clone of candidate 1; at λ=0.7
    // round 2 must skip the clone and take the diverse candidate 3
    val tiny = Seq(
        (0L, Seq(0.0f, 0.0f)),     // the query
        (1L, Seq(1.0f, 0.0f)),     // nearest
        (2L, Seq(1.001f, 0.0f)),   // near-clone of 1
        (3L, Seq(0.0f, 1.2f)))     // farther but diverse
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(tiny, tiny, k = 3, nQueries = 1L)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(got === Seq(1L, 3L, 2L))
    // plain relevance would have ranked the clone second
    val rel = Similarity.knnBruteL2(tiny, k = 3, nQueries = 1L)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(rel === Seq(1L, 2L, 3L))
  }

  test("bm25Prf: ex=0 ≡ bm25; expansion changes some ranking; originals never expand") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // identity law: zero expansion terms collapses PRF onto plain bm25
    assert(rows(operators.TextOps.bm25Prf(docs, ex = 0)) ===
      rows(operators.TextOps.bm25(docs)))
    // non-vacuous: on this corpus the expanded vocabulary must move
    // at least one (query, rank) assignment
    assert(rows(operators.TextOps.bm25Prf(docs)) !==
      rows(operators.TextOps.bm25(docs)))
    // the expansion set never contains an original query term: with
    // fb covering the whole corpus and a huge ex, every scored doc's
    // tokens either were original or joined via expansion — check
    // directly through the internals-equivalent relation
    val s = spark
    import s.implicits._
    val qt = operators.TextOps.bm25QueryTerms(docs,
      operators.TextOps.Bm25Queries)
    val c = operators.TextOps.bm25Corpus(docs,
      operators.TextOps.Bm25Queries)
    val fbd = operators.TextOps.bm25Score(c, qt,
        operators.TextOps.PrfFeedbackDocs)
      .select($"query_id", $"doc_id")
    val cand = c.tf.join(fbd, "doc_id")
      .groupBy("query_id", "token").agg(count(lit(1)).as("n"))
    val overlap = cand.join(qt, Seq("query_id", "token")).count()
    assert(overlap > 0L) // feedback docs DO share query terms...
    // ...but bm25Prf's anti-join drops them; pin by running the gate
    // twice with disjoint ex and checking monotone vocabulary growth
    val r5 = rows(operators.TextOps.bm25Prf(docs, ex = 5))
    val r0 = rows(operators.TextOps.bm25Prf(docs, ex = 0))
    assert(r5.nonEmpty && r0.nonEmpty)
  }

  test("seasonalResiduals: cell means over present hours; negative ppm truncates toward zero") {
    val s = spark
    import s.implicits._
    // two Mondays 09:00 UTC (2024-01-01 is a Monday): counts 10 and 4
    // → cell mean 7000 milli, residuals ±3000; plus one lone Tuesday
    // cell (residual exactly 0 — its own mean)
    val mon1 = 1704099600L // 2024-01-01T09:00:00Z
    val mon2 = mon1 + 7L * 86400L
    val tue = mon1 + 86400L
    val rows = (0 until 10).map(i => (i.toLong, mon1 + 60L * i)) ++
      (0 until 4).map(i => (100L + i, mon2 + 60L * i)) ++
      Seq((200L, tue))
    val df = rows.toDF("event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .withColumn("event_type", lit("click"))
    val got = graft.streaming.EventWindows.seasonalResiduals(df)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6),
          r.getLong(7)))).toMap
    // dow 1 = Monday (epoch+4 convention), hod 9
    assert(got(mon1) === ((1L, 9L, 7000L, 3000L, 428571L)))
    // negative residual: −(3000·1e6 div 7000) = −428571, NOT −428572
    // (floor) — the sign-split truncation both engines share
    assert(got(mon2) === ((1L, 9L, 7000L, -3000L, -428571L)))
    assert(got(tue) === ((2L, 9L, 1000L, 0L, 0L)))
  }

  test("fuzzyPairs: blocked ≡ brute on the corpus; typo found, distance-3 rejected") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = operators.Dedup.fuzzyPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // driver-side brute force over the same normalized keys — every
    // within-distance pair must be found (the corpus' dups are the
    // substitution class the pigeonhole is lossless for)
    def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ")
      .take(operators.Dedup.FuzzyKeyChars)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val keys = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> norm(r.getString(1)))
    val brute = (for {
      (ia, ka) <- keys; (ib, kb) <- keys
      if ia < ib && lev(ka, kb) <= operators.Dedup.FuzzyMaxDist
    } yield (ia, ib) -> lev(ka, kb).toLong).toMap
    assert(got === brute)
    assert(brute.nonEmpty) // the corpus must actually exercise it
    // planted: one substitution typo is found at dist 1; three
    // substitutions exceed the threshold and must NOT appear
    val p = Seq(
        (1000L, "the quick brown fox jumps over it"),
        (1001L, "the quack brown fox jumps over it"),   // 1 sub
        (1002L, "thX quick brXwn fox jumXs over it"))   // 3 subs vs 1000
      .toDF("doc_id", "text")
    val pp = operators.Dedup.fuzzyPairs(p).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pp.get((1000L, 1001L)) === Some(1L))
    assert(!pp.contains((1000L, 1002L)))
    // SHORT-KEY POLICY: empty segments nominate nothing, so unrelated
    // short docs never bucket together (the former all-pairs
    // degeneracy over the sub-keyChars subset); identical and
    // first-segment-matching short docs still pair, and empty docs
    // pair nowhere (dedupExact's domain)
    val shorts = Seq(
        (2000L, "alpha"), (2001L, "beta"),      // unrelated shorts
        (2002L, "alpha"),                       // exact short dup of 2000
        (2003L, "alphX"),                       // 1 sub inside segment 1
        (2004L, ""), (2005L, ""))               // empty docs
      .toDF("doc_id", "text")
    val sp = operators.Dedup.fuzzyPairs(shorts).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sp.get((2000L, 2002L)) === Some(0L))
    assert(!sp.contains((2000L, 2001L)), "unrelated shorts paired — " +
      "the empty-segment bucket is back")
    assert(!sp.contains((2004L, 2005L)), "empty docs must not pair here")
    // the documented trade: a sub-segment key has ONE real segment, so
    // a within-distance substitution inside it is not nominated —
    // recall degrades to exact-first-segment for sub-8-char keys
    assert(!sp.contains((2000L, 2003L)))
  }

  test("blocklistTag: density flag, asc tie-break, case-fold, zero-token doc clean") {
    val s = spark
    import s.implicits._
    val docs = Seq(
        (1L, "join the fast row"),                  // clean
        (2L, "slow slow spark join row merge"),     // 3/6 = 50% → flag
        (3L, ""),                                   // zero tokens
        (4L, "dup dup spark spark join row group hash key the " +
          "table scan merge sort order part line data big value " +
          "window batch column filter small query stream agg " +
          "customer fast vector a slow x y z w q1 q2 q3 q4"),
        (5L, "SLOW Slow join row merge value"))     // case-fold: 2/6
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.blocklistTag(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(2) === 0L && got(1L).getLong(5) === 0L &&
      got(1L).isNullAt(4))
    assert(got(2L).getLong(3) === 500000L && got(2L).getLong(5) === 1L &&
      got(2L).getString(4) === "slow")
    assert(got(3L).getLong(1) === 0L && got(3L).getLong(3) === 0L &&
      got(3L).getLong(5) === 0L)
    // doc 4: dup×2, spark×2, slow×1 → tie at 2 breaks term-asc to dup
    assert(got(4L).getString(4) === "dup" && got(4L).getLong(2) === 5L)
    assert(got(5L).getLong(2) === 2L && got(5L).getString(4) === "slow")
  }

  test("cusum: window form ≡ sequential max(0,·) recurrence; outage + surge alarm; gaps zero-fill") {
    val s = spark
    import s.implicits._
    // one type, 19 hours: calm(4×3) → surge(4×30) → calm → 6-hour
    // OUTAGE (hours 12-17 have NO rows — the spine must zero-fill
    // them; 6 hours of zeros outruns the surge-inflated mean)
    val counts = Seq(3L, 3L, 3L, 3L, 30L, 30L, 30L, 30L, 3L, 3L, 3L, 3L,
      0L, 0L, 0L, 0L, 0L, 0L, 3L)
    val t0 = 1704067200L
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      (0L until c).map(j => (i * 100L + j, t0 + i * 3600L, j, "click", 1.0))
    }
    val df = rows.toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val got = graft.streaming.EventWindows.cusum(df)
      .orderBy("hour_epoch").collect()
    assert(got.length === 19) // zero hours present via the spine
    // the naive per-step recurrence the window identity must equal
    val total = counts.sum
    val mu = total * 1000L / 19L
    val k = mu / graft.streaming.EventWindows.CusumSlackDen
    var (shi, slo) = (0L, 0L)
    val expected = counts.map { c =>
      shi = math.max(0L, shi + (c * 1000L - mu - k))
      slo = math.max(0L, slo + (mu - k - c * 1000L))
      (shi, slo)
    }
    got.zip(expected).zipWithIndex.foreach { case ((r, (ehi, elo)), i) =>
      assert(r.getAs[Long]("cusum_hi_milli") === ehi, s"hi at hour $i")
      assert(r.getAs[Long]("cusum_lo_milli") === elo, s"lo at hour $i")
    }
    // the surge trips the hi alarm, the outage run trips the lo alarm
    assert(got.exists(r => r.getAs[Long]("alarm_hi") === 1L))
    assert(got.filter(_.getAs[Long]("cnt") === 0L)
      .exists(r => r.getAs[Long]("alarm_lo") === 1L))
  }

  test("knnBeam: complete graph ≡ knnBruteL2; best distance monotone in rounds") {
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    // probe-everything analog: over the COMPLETE graph with beam ≥
    // corpus, one round reaches everything — the walk collapses
    // exactly onto the brute baseline
    val ids = emb.select("vec_id")
    val complete = ids.select($"vec_id".as("src"))
      .join(ids.select($"vec_id".as("dst")), $"src" =!= $"dst")
    val all = Similarity.knnBeam(complete, emb, emb, beam = n, rounds = 1)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val brute = Similarity.knnBruteL2(emb).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(all === brute)
    // monotone law: keeping the previous beam in the candidate set
    // means each query's best reached distance never worsens with
    // more rounds (the convergence direction HNSW's loop relies on)
    val g = Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
      .select($"query_id".as("src"), $"neighbor_id".as("dst"))
    def best(rounds: Int): Map[Long, Long] =
      Similarity.knnBeam(g, emb, emb, rounds = rounds)
        .filter($"rank" === 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val (b1, b2, b3) = (best(1), best(2), best(3))
    assert(b1.keySet === b2.keySet && b2.keySet === b3.keySet)
    b1.keys.foreach { q =>
      assert(b2(q) <= b1(q) && b3(q) <= b2(q),
        s"query $q best distance not monotone: ${b1(q)} ${b2(q)} ${b3(q)}")
    }
  }

  test("knnHammingRerank: cand ≥ corpus ≡ knnBruteL2; words round-trip; flip moves hamming by 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    val stats = Similarity.sq8Stats(emb)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // probe-everything law: a shortlist covering the whole corpus
    // collapses the rerank exactly onto the brute baseline
    val all = rows(Similarity.knnHammingRerank(stats,
      Similarity.binaryCodes(stats, emb), emb, emb, cand = n))
    assert(all === rows(Similarity.knnBruteL2(emb)))
    // stored round-trip: parquet words serve bit-identically
    val base = java.nio.file.Files
      .createTempDirectory("graft_bin_rt").toString
    Similarity.binaryCodes(stats, emb).write.parquet(base + "/words")
    stats.write.parquet(base + "/stats")
    val mem = rows(Similarity.knnHamming(stats,
      Similarity.binaryCodes(stats, emb), emb))
    assert(rows(Similarity.knnHamming(spark.read.parquet(base + "/stats"),
      spark.read.parquet(base + "/words"), emb)) === mem)
    // planted flip: moving ONE coordinate across its midpoint changes
    // that pair's Hamming distance by exactly 1
    val s = spark
    import s.implicits._
    val base3 = Seq(
        (0L, Seq(-1.0f, -1.0f, 1.0f)),
        (1L, Seq(-1.0f, 1.0f, 1.0f)),
        (2L, Seq(1.0f, -1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val flip3 = Seq(
        (0L, Seq(-1.0f, -1.0f, 1.0f)),
        (1L, Seq(-1.0f, 1.0f, -1.0f)), // dim 2 crosses the midpoint
        (2L, Seq(1.0f, -1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    def ham01(df: org.apache.spark.sql.DataFrame) = {
      val st = Similarity.sq8Stats(df)
      Similarity.knnHamming(st, Similarity.binaryCodes(st, df), df,
          k = 2, nQueries = 1L)
        .filter($"neighbor_id" === 1L).collect()(0).getLong(3)
    }
    assert(ham01(base3) === 1L)
    assert(ham01(flip3) === 2L)
  }

  test("knnPqTrained: Lloyd codebooks lift ADC recall over the hash-anchored fit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, Similarity.knnBruteL2(emb))
        .collect()(0).getAs[Double]("recall")
    val anchored = recall(Similarity.knnPq(emb))
    val trained = recall(Similarity.knnPqTrained(emb))
    // deterministic data + deterministic Lloyd → stable values; the
    // trained fit must not fall below the anchored layout, and must
    // hold a floor of its own
    assert(trained >= anchored,
      s"trained PQ recall $trained below hash-anchored $anchored")
    assert(trained >= 0.2, s"trained PQ recall collapsed: $trained")
    // zero Lloyd iterations ARE the hash-anchored layout: init is the
    // first-codebook sample prefix, so the serving plans coincide
    val cbs0 = Similarity.pqTrainCodebooks(emb, iters = 0)
    val viaInit = Similarity.pqCodebookOf(emb, Similarity.PqCodebookSize)
    val dim = viaInit.head.length
    val bw = dim / Similarity.PqBlocks
    (0 until Similarity.PqBlocks).foreach { b =>
      val want = viaInit.map(_.slice(b * bw, (b + 1) * bw).toSeq).toSeq
      assert(cbs0(b).map(_.toSeq).toSeq === want)
    }
  }

  test("codebooksOf → parquet → knnPqFromStored ≡ in-session knnPqTrained; stored codes serve identically") {
    // the clustered corpus from the IVF stored test — the distribution
    // where the Lloyd codebooks actually differ from the hash anchors
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val insession = rows(Similarity.knnPqTrained(emb))
    assert(insession.nonEmpty)
    val base = java.nio.file.Files
      .createTempDirectory("graft_pq_rt").toString
    val cbs = Similarity.codebooksOf(emb)
    assert(cbs.columns.toSeq ===
      Seq("block", "code", "codeword", "pq_params_fp"))
    assert(cbs.count() ===
      Similarity.PqBlocks.toLong * Similarity.PqCodebookSize)
    cbs.write.parquet(base + "/cbs")
    val reloaded = spark.read.parquet(base + "/cbs")
    // store/reload serve is BIT-identical to in-session training: same
    // ids, ranks, and exact-integer adc_fp values
    assert(rows(Similarity.knnPqFromStored(reloaded, emb)) === insession)
    // fingerprint mismatch raises loudly
    val tampered = reloaded.withColumn("pq_params_fp",
      col("pq_params_fp") + 1L)
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnPqFromStored(tampered, emb)
    }
    assert(ex.getMessage.contains("pq_params_fp"))
    // a bare pre-fingerprint relation (3 columns) skips the check
    assert(rows(Similarity.knnPqFromStored(
      reloaded.select("block", "code", "codeword"), emb)) === insession)
    // non-contiguous codes are rejected (not silently re-indexed)
    val holes = reloaded.filter(!(col("block") === 1L && col("code") === 3L))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.knnPqFromStored(holes, emb)
    }
    assert(ex2.getMessage.contains("0..n-1"))
    // INGEST + CODED SERVE: codes persisted under the stored codebooks
    // round-trip parquet and serve bit-identically — the corpus side
    // reads only (vec_id, codes)
    val coded = Similarity.pqCodesFromStored(reloaded, emb)
    assert(coded.columns.toSeq === Seq("vec_id", "codes", "pq_cbs_fp"))
    coded.write.parquet(base + "/codes")
    val codedReloaded = spark.read.parquet(base + "/codes")
    assert(rows(Similarity.knnPqFromCodes(reloaded, codedReloaded, emb))
      === insession)
    // incremental ingest: a fresh batch encoded SEPARATELY under the
    // same codebooks unions with the earlier codes and serves
    // identically — encoding is per-row, append-only, no re-indexing
    val embA = emb.filter(col("vec_id") < 1500)
    val embB = emb.filter(col("vec_id") >= 1500)
    val codedInc = Similarity.pqCodesFromStored(reloaded, embA)
      .unionByName(Similarity.pqCodesFromStored(reloaded, embB))
    assert(rows(Similarity.knnPqFromCodes(reloaded, codedInc, emb))
      === insession)
    // an un-coded corpus raises instead of silently mis-serving
    val exRaw = intercept[IllegalArgumentException] {
      Similarity.knnPqFromCodes(reloaded, emb, emb)
    }
    assert(exRaw.getMessage.contains("codes"))
  }

  test("knnIvfSq8: probe-everything ≡ knnSq8; default probes cell-prune the candidates") {
    val emb = spark.range(1500).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // probing EVERY cell collapses the IVF layer exactly onto the
    // pure SQ8 serve (cells prune candidates, never change scores)
    val nCells = math.floor(math.sqrt(1500.0)).toInt
    val allProbes = rows(Similarity.knnIvfSq8(emb, nProbe = nCells))
    val pureSq8 = rows(Similarity.knnSq8(Similarity.sq8Stats(emb),
      Similarity.quantizeInt8(emb), emb))
    assert(allProbes === pureSq8)
    assert(allProbes.nonEmpty)
    // the default probe setting meets strictly fewer candidates
    val pruned = Similarity.ivfSq8Scored(emb).count()
    val full = Similarity.knnSq8(Similarity.sq8Stats(emb),
      Similarity.quantizeInt8(emb), emb, k = 1500).count()
    assert(pruned < full,
      s"default probes met $pruned candidates, full scan pairs $full")
  }

  test("knnIvfPqFromStored: probe-everything ≡ knnPqFromCodes; default probes cell-prune; both stamps guarded") {
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val cents = Similarity.centroidsOf(emb, corpusSize = 2000L)
    val cbs = Similarity.codebooksOf(emb)
    val index = Similarity.ivfAssignFromStored(cents, emb)
      .join(Similarity.pqCodesFromStored(cbs, emb), "vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // probing EVERY cell degenerates to the pure stored-codes ADC
    // serve bit-exactly — the IVF layer prunes candidates only
    val nCells = cents.count().toInt
    val allProbes = rows(Similarity.knnIvfPqFromStored(cents, cbs, index,
      emb, nProbe = nCells))
    val pureAdc = rows(Similarity.knnPqFromCodes(cbs,
      Similarity.pqCodesFromStored(cbs, emb), emb))
    assert(allProbes === pureAdc)
    assert(allProbes.nonEmpty)
    // round-trip through parquet like a real serving tier
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_rt").toString
    cents.write.parquet(base + "/cents")
    cbs.write.parquet(base + "/cbs")
    index.write.parquet(base + "/idx")
    val rCents = spark.read.parquet(base + "/cents")
    val rCbs = spark.read.parquet(base + "/cbs")
    val rIdx = spark.read.parquet(base + "/idx")
    assert(rows(Similarity.knnIvfPqFromStored(rCents, rCbs, rIdx, emb,
      nProbe = nCells)) === pureAdc)
    // default-probe serve: the candidate relation is cell-pruned to
    // ~|corpus|·nProbe/cells (4× slack for cell-size skew)
    val cand = Similarity.ivfPqScoredFromStored(rCents, rCbs, rIdx, emb)
      .count()
    val queries = Similarity.DefaultQueries
    assert(cand <= queries * 2000L * Similarity.IvfNProbe / nCells * 4,
      s"candidates $cand not pruned (corpus 2000, cells $nCells)")
    // stale stamps raise loudly — retrain EACH quantizer on a shifted
    // corpus and serve the old stamped index under it
    val embB = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i + 1), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 98), 100) / 1250.0 as float))")
        .as("embedding"))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val exCents = intercept[Exception] {
      Similarity.knnIvfPqFromStored(
        Similarity.centroidsOf(embB, corpusSize = 2000L), cbs, index,
        emb).collect()
    }
    assert(chain(exCents).contains("ivf_cents_fp"), chain(exCents))
    val exCbs = intercept[Exception] {
      Similarity.knnIvfPqFromStored(cents,
        Similarity.codebooksOf(embB), index, emb).collect()
    }
    assert(chain(exCbs).contains("pq_cbs_fp"), chain(exCbs))
  }

  test("knnPqFromCodes raises on codes stamped under DIFFERENT codebooks (stale pq_cbs_fp)") {
    // corpus A encoded under A's trained codebooks...
    val embA = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val cbsA = Similarity.codebooksOf(embA)
    val codedA = Similarity.pqCodesFromStored(cbsA, embA)
    // ...then the codebooks are RE-TRAINED on a shifted corpus (same
    // build constants → same pq_params_fp; different fitted codewords
    // → different content hash). Decoding A's stored codes through B's
    // LUTs must fail LOUDLY — the silent-wrong-neighbors scenario the
    // stamp exists to kill.
    val embB = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i + 1), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 98), 100) / 1250.0 as float))")
        .as("embedding"))
    val cbsB = Similarity.codebooksOf(embB)
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val exStale = intercept[Exception] {
      Similarity.knnPqFromCodes(cbsB, codedA, embA).collect()
    }
    assert(chain(exStale).contains("pq_cbs_fp"), chain(exStale))
    // and the MATCHING codebooks still serve: the guard is a stamp
    // check, not a tax on the valid path
    assert(Similarity.knnPqFromCodes(cbsA, codedA, embA).collect()
      .nonEmpty)
  }

  test("quantizeInt8: brute double reference on real embeddings; grid bounds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.quantizeInt8(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dims = vecs.values.head.length
    val mn = (0 until dims).map(d => vecs.values.map(_(d).toDouble).min)
    val mx = (0 until dims).map(d => vecs.values.map(_(d).toDouble).max)
    val want = vecs.flatMap { case (id, v) =>
      (0 until dims).map { d =>
        val x = v(d).toDouble
        val code = if (mx(d) > mn(d))
          math.min(math.floor((x - mn(d)) * 255.0 / (mx(d) - mn(d))).toLong, 255L)
        else 0L
        val err = math.floor(
          math.abs(x - (mn(d) + code.toDouble * (mx(d) - mn(d)) / 255.0)) *
            1000000.0).toLong
        (id, d.toLong) -> ((code, err))
      }
    }
    assert(got === want)
    // every code is on the 0..255 grid; reconstruction error is within
    // one grid step (+1 ppm for the floor)
    got.foreach { case ((id, d), (code, err)) =>
      assert(code >= 0L && code <= 255L)
      val step = (mx(d.toInt) - mn(d.toInt)) / 255.0 * 1000000.0
      withClue(s"vec $id dim $d") { assert(err <= step.toLong + 1L) }
    }
  }

  test("second-wave operators are total on degenerate inputs") {
    val s = spark
    import s.implicits._
    val emptyDocs = docsDf()
    // containment: empty corpus → empty relation, no exception
    assert(Dedup.containmentPairs(emptyDocs).count() === 0L)
    // negatives: a single doc can only ever draw itself → empty out
    assert(TextOps.negatives(docsDf((7L, "only"))).count() === 0L)
    assert(TextOps.negatives(emptyDocs).count() === 0L)
    // winnowing: all docs shorter than the gram width → empty out
    assert(TextOps.winnowing(docsDf((1L, "ab"), (2L, ""))).count() === 0L)
    // bigram LM: single-token docs contribute nothing
    assert(TextOps.bigramLm(docsDf((1L, "solo"), (2L, ""))).count() === 0L)
    // interArrival / anomaly / attribution on zero events
    val noEvents = Seq.empty[(Long, Long, String)]
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("event_id")))
    assert(graft.streaming.Sessionize.interArrival(noEvents).count() === 0L)
    assert(graft.streaming.EventWindows.hourlyAnomaly(noEvents).count() === 0L)
    assert(graft.streaming.EventWindows.attribution(noEvents).count() === 0L)
    assert(graft.streaming.Sessionize.transitions(noEvents).count() === 0L)
    assert(graft.streaming.Sessionize.sessionPaths(noEvents).count() === 0L)
    assert(graft.streaming.EventWindows.activeUsers(noEvents).count() === 0L)
    assert(graft.streaming.Sessionize.transitionsStateful(s, noEvents)
      .count() === 0L)
    assert(graft.streaming.EventWindows.rfm(
      noEvents.withColumn("value", lit(1.0))).count() === 0L)
    // PQ family: empty corpus → empty frames with the gate schemas
    val noEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pqCodes(noEmb).count() === 0L)
    assert(Similarity.knnPq(noEmb).count() === 0L)
    assert(Similarity.knnIvfPq(noEmb, corpusSize = 0L).count() === 0L)
    assert(Similarity.knnBruteL2(noEmb).count() === 0L)
    assert(Similarity.labelCentroids(
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label"))
      .count() === 0L)
    // SCD2 / PIT on an empty update stream
    val noUpdates = Seq.empty[(Long, String, Long, Boolean)]
      .toDF("doc_id", "text", "version", "deleted")
    assert(operators.Snapshot.scd2History(noUpdates).count() === 0L)
    // tie strength on an empty / self-loop-only graph
    val selfOnly = Seq((3L, 3L)).toDF("src", "dst")
    assert(operators.GraphOps.tieStrength(selfOnly).count() === 0L)
    // lang confusion on empty docs
    assert(TextOps.langConfusion(
      emptyDocs.withColumn("lang", lit("en"))).count() === 0L)
  }

  test("langConfusion: cells partition the corpus; fixture guesses land in-cell") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat and the dog with the hat", "en"),
      (2L, "el gato y el perro con la que", "es"),
      (3L, "zzz qqq xxx", "en")) // markerless → guessed und
      .toDF("doc_id", "text", "lang")
    val out = TextOps.langConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.values.sum === 3L)
    assert(out(("en", "en")) === 1L)
    assert(out(("es", "es")) === 1L)
    assert(out(("en", "und")) === 1L)
    // corpus law: cell counts partition the labeled corpus exactly
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val total = TextOps.langConfusion(real).agg(sum(col("n")))
      .collect()(0).getLong(0)
    assert(total === real.count())
  }

  test("quality-by-source composition: monotone pcts, values from the source's set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = TextOps.quality(docs).select(col("doc_id"), col("quality"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val out = TextOps.groupedQuantiles(q, "source", "quality", "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val bySrc = q.collect()
      .map(r => r.getString(2) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.groupBy(_._1).foreach { case (src, rows) =>
      val byPct = rows.sortBy(_._2).map(_._3)
      assert(byPct === byPct.sorted, s"pcts not monotone for $src")
      rows.foreach { case (_, _, v) =>
        assert(bySrc(src).contains(v), s"$src quantile $v not an element")
      }
    }
  }

  test("attribution: fixture windows (zero-touch sentinel, boundary inclusion, brute)") {
    val s = spark
    import s.implicits._
    def ev(rows: (Long, Long, String, Long)*) = // (event_id, user, type, us)
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    val w = graft.streaming.EventWindows.FunnelWindowUs
    val fix = ev(
      (1L, 7L, "click", 100L), (2L, 7L, "click", 200L),
      (3L, 7L, "purchase", 200L + w), // clicks 1 drops (just outside? 100 >= 200+w-w=200? no: 100 < 200 → outside), 2 at boundary stays
      (4L, 8L, "purchase", 500L), // zero-touch
      (5L, 9L, "click", 400L), (6L, 9L, "click", 400L), // same-us tie
      (7L, 9L, "purchase", 450L))
    val out = graft.streaming.EventWindows.attribution(fix).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // conv 3's window is [200, 200+w]: click 2 sits exactly on the
    // lower bound (inclusive), click 1 at 100 is outside
    assert(out(3L) === ((1L, 2L, 2L)))
    assert(out(4L) === ((0L, -1L, -1L)))
    // same-microsecond clicks: id breaks first/last deterministically
    assert(out(7L) === ((2L, 5L, 6L)))
    // brute on random events: every (conv, click) pair in-window
    val rnd = new scala.util.Random(31)
    val rows = (1 to 300).map(i => (i.toLong, rnd.nextInt(6).toLong,
      if (rnd.nextInt(3) == 0) "purchase" else "click",
      rnd.nextInt(200).toLong * (w / 100)))
    val got = graft.streaming.EventWindows.attribution(ev(rows: _*))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val clicks = rows.filter(_._3 == "click")
    val want = rows.filter(_._3 == "purchase").map { case (cid, u, _, cus) =>
      val in = clicks.filter(c => c._2 == u && c._4 >= cus - w && c._4 <= cus)
      if (in.isEmpty) cid -> ((0L, -1L, -1L))
      else cid -> ((in.size.toLong,
        in.minBy(c => (c._4, c._1))._1, in.maxBy(c => (c._4, c._1))._1))
    }.toMap
    assert(got === want)
  }

  test("hourlyAnomaly: trailing RANGE baseline (absent hours = 0, cold start = -1)") {
    val s = spark
    import s.implicits._
    val hourUs = 3600L * 1000000L
    // type A: 10, 10, 40 events in hours 0, 1, 2; then 5 in hour 30 —
    // whose trailing 24h span [6, 29] is EMPTY (RANGE semantics: the
    // three early hours must not slide in the way a ROWS frame would)
    val rows = Seq.fill(10)(0L) ++ Seq.fill(10)(1L) ++ Seq.fill(40)(2L) ++
      Seq.fill(5)(30L)
    val ev = rows.zipWithIndex
      .map { case (h, i) => (i.toLong, h * hourUs + (i % 60).toLong * 1000000L) }
      .toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        lit("A").as("event_type"))
    val out = graft.streaming.EventWindows.hourlyAnomaly(ev).collect()
      .map(r => r.getAs[Long]("hour_epoch") / 3600L ->
        ((r.getAs[Long]("cnt"), r.getAs[Long]("baseline_cnt"),
          r.getAs[Long]("n_baseline_hours"), r.getAs[Long]("ratio_ppm"))))
      .toMap
    assert(out(0L) === ((10L, 0L, 0L, -1L)))
    assert(out(1L) === ((10L, 10L, 1L, 10L * 24L * 1000000L / 10L)))
    assert(out(2L) === ((40L, 20L, 2L, 40L * 24L * 1000000L / 20L)))
    assert(out(30L) === ((5L, 0L, 0L, -1L)))
  }

  test("interArrival: fixture gaps (ties → zero gaps, single event → sentinels)") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 0L), (1L, 10L), (1L, 10L), (1L, 25L), (2L, 5L))
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val out = graft.streaming.Sessionize.interArrival(ev)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // user 1: sorted gaps are 10, 0, 15 (all rapid); user 2: singleton
    assert(out.toSeq === Seq(
      (1L, 4L, 3L, 0L, 15L, 25L, 3L),
      (2L, 1L, 0L, -1L, -1L, 0L, 0L)))
  }

  test("interArrivalBucketed == interArrival: fixture edge cases and random sets across bucket widths") {
    val s = spark
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    // fixture aimed at the carry-in seams: a gap that STRADDLES a
    // bucket boundary (15→25 with width 20), a tie ON a boundary
    // (both 40s share bucket 2), an empty bucket between events
    // (25→95 skips bucket [60,80)), a singleton, and a user whose
    // events all land in one bucket
    val ev = Seq((1L, 0L), (1L, 15L), (1L, 25L), (1L, 40L), (1L, 40L),
      (1L, 95L), (2L, 7L), (3L, 100L), (3L, 101L), (3L, 103L))
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    for (width <- Seq(1L, 3L, 20L, 1000000L)) {
      val flat = rows(graft.streaming.Sessionize.interArrival(ev))
      val bucketed = rows(
        graft.streaming.Sessionize.interArrivalBucketed(ev, width))
      assert(bucketed === flat, s"width=$width")
    }
    // random sets, default width, gaps straddling the rapid threshold
    val rnd = new scala.util.Random(20260816)
    val rapid = graft.streaming.Sessionize.RapidGapUs
    val rev = (1 to 400).map { _ =>
      (rnd.nextInt(12).toLong,
        rnd.nextLong(4L * rapid) + (if (rnd.nextBoolean()) 0L
          else graft.streaming.Sessionize.InterArrivalBucketUs))
    }.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    assert(rows(graft.streaming.Sessionize.interArrivalBucketed(rev)) ===
      rows(graft.streaming.Sessionize.interArrival(rev)))
  }

  test("transitions: session break severs, event_id tiebreak orders, counts sum") {
    val s = spark
    import s.implicits._
    val gap = graft.streaming.Sessionize.GapUs
    def ev(rows: (Long, Long, String, Long)*) = // (event_id, user, type, us)
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    val fix = ev(
      // user 1: a>b>c chain, then a ≥gap break, then c>a — the break
      // adjacency (c at 200, c at 200+gap) must NOT count
      (1L, 1L, "a", 0L), (2L, 1L, "b", 100L), (3L, 1L, "c", 200L),
      (4L, 1L, "c", 200L + gap), (5L, 1L, "a", 200L + gap + 1L),
      // user 2: same-us tie — ids 6,7 share us=50, so order is b(6)>a(7)
      (6L, 2L, "b", 50L), (7L, 2L, "a", 50L), (8L, 2L, "b", 60L),
      // user 3: singleton — contributes nothing
      (9L, 3L, "a", 0L))
    val got = graft.streaming.Sessionize.transitions(fix).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (a,b) appears in user 1's first session AND as user 2's tail → 2
    assert(got === Map(("a", "b") -> 2L, ("b", "c") -> 1L,
      ("c", "a") -> 1L, ("b", "a") -> 1L))
    // exactly a gap-1 adjacency (just inside) counts; a gap-exact one doesn't
    val edge = ev((1L, 9L, "x", 0L), (2L, 9L, "y", gap - 1L),
      (3L, 9L, "z", gap - 1L + gap))
    val got2 = graft.streaming.Sessionize.transitions(edge).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got2 === Map(("x", "y") -> 1L))
  }

  test("transitionsBucketed == transitions: break/tie fixture across bucket widths, and random sets") {
    val s = spark
    import s.implicits._
    val gap = graft.streaming.Sessionize.GapUs
    def ev(rows: (Long, Long, String, Long)*) = // (event_id, user, type, us)
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    // the transitions fixture: session break, same-us event_id tie,
    // singleton — all the rules the bucketed merge must preserve,
    // exercised at widths that put the tie inside one bucket, the
    // break on a boundary, and everything in one bucket
    val fix = ev(
      (1L, 1L, "a", 0L), (2L, 1L, "b", 100L), (3L, 1L, "c", 200L),
      (4L, 1L, "c", 200L + gap), (5L, 1L, "a", 200L + gap + 1L),
      (6L, 2L, "b", 50L), (7L, 2L, "a", 50L), (8L, 2L, "b", 60L),
      (9L, 3L, "a", 0L))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = m(graft.streaming.Sessionize.transitions(fix))
    for (width <- Seq(1L, 60L, 100L, gap, 10L * gap)) {
      assert(m(graft.streaming.Sessionize.transitionsBucketed(fix, width))
        === want, s"width=$width")
    }
    // random sets: gaps straddle the threshold, ids unique, us ties
    val rnd = new scala.util.Random(20260817)
    val rev = ev((1 to 300).map { i =>
      (i.toLong, rnd.nextInt(8).toLong,
        "t" + rnd.nextInt(4),
        rnd.nextLong(3L) * gap / 2L + rnd.nextInt(50).toLong)
    }: _*)
    assert(m(graft.streaming.Sessionize.transitionsBucketed(rev))
      === m(graft.streaming.Sessionize.transitions(rev)))
    // NULL event_type closing a bucket: the flat form drops the pair
    // (lagged type is null), so the bucketed boundary must drop it too
    // — not emit a (null, type) row the shared oracle never produces.
    // width=100 puts the null-typed event (us=90) last in bucket 0 and
    // "b" (us=110) first in bucket 100, 20us apart (well inside gap).
    val withNull = ev((1L, 1L, "a", 0L), (2L, 1L, null, 90L),
      (3L, 1L, "b", 110L))
    val wantNull = m(graft.streaming.Sessionize.transitions(withNull))
    assert(wantNull === Map(("a", null) -> 1L)) // flat keeps only a→null
    assert(m(graft.streaming.Sessionize.transitionsBucketed(withNull, 100L))
      === wantNull)
  }

  test("streaming twins REJECT out-of-order cross-batch input loudly (admission contract)") {
    val s = spark
    import s.implicits._
    def batch(rows: (Long, Long, String, Long)*) =
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    // transitions: batch 2 opens BEHIND the carried state — must fail
    // the loud require, not silently emit pairs batch order never had
    val dir1 = java.nio.file.Files.createTempDirectory("graft-ooo-t").toString
    batch((1L, 7L, "view", 1000L)).write.mode("append").parquet(dir1)
    val schema = spark.read.parquet(dir1).schema
    val q1 = graft.streaming.Sessionize.transitionsStreamingPairs(
        spark, spark.readStream.schema(schema).parquet(dir1))
      .writeStream.format("memory").queryName("ooo_t_out")
      .outputMode("append").start()
    try {
      q1.processAllAvailable()
      batch((2L, 7L, "click", 500L)).write.mode("append").parquet(dir1)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(ex.getMessage.contains("order across micro-batches"), ex.getMessage)
    } finally q1.stop()
    // EXACT REDELIVERY of the already-folded event in a later batch:
    // the tiebreak is strict (event_ids are unique), so a duplicate of
    // the carried state must fail the admission require — admitting it
    // would silently emit a duplicate zero-gap transition
    val dir1b = java.nio.file.Files.createTempDirectory("graft-ooo-td").toString
    batch((1L, 7L, "view", 1000L)).write.mode("append").parquet(dir1b)
    val q1b = graft.streaming.Sessionize.transitionsStreamingPairs(
        spark, spark.readStream.schema(schema).parquet(dir1b))
      .writeStream.format("memory").queryName("ooo_td_out")
      .outputMode("append").start()
    try {
      q1b.processAllAvailable()
      batch((1L, 7L, "view", 1000L)).write.mode("append").parquet(dir1b)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1b.processAllAvailable()
      }
      assert(ex.getMessage.contains("redelivery"), ex.getMessage)
    } finally q1b.stop()
    // funnel: same shape — a batch older than the folded timestamp
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ooo-f").toString
    batch((1L, 7L, "view", 1000L)).write.mode("append").parquet(dir2)
    val q2 = graft.streaming.EventWindows.funnelReached(spark,
        spark.readStream.schema(schema).parquet(dir2))
      .toDF("user_id", "reached")
      .writeStream.format("memory").queryName("ooo_f_out")
      .outputMode("update").start()
    try {
      q2.processAllAvailable()
      batch((2L, 7L, "click", 500L)).write.mode("append").parquet(dir2)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("event-time order across micro-batches"),
        ex.getMessage)
    } finally q2.stop()
  }

  test("transitionsStateful == transitions on random event sets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260814)
    val gap = graft.streaming.Sessionize.GapUs
    // gaps straddle the session threshold; ids unique; some us ties
    val rows = (1L to 600L).map(i => (i, rnd.nextInt(15).toLong,
      s"t${rnd.nextInt(4)}", rnd.nextInt(40).toLong * (gap / 10)))
    val ev = rows.toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = toMap(graft.streaming.Sessionize.transitions(ev))
    val stateful = toMap(graft.streaming.Sessionize.transitionsStateful(s, ev))
    assert(stateful === batch)
    assert(batch.values.sum > 0L, "fixture produced no transitions")
  }

  test("rfm: anchor recency, finiteness guard, null monetary honesty") {
    val s = spark
    import s.implicits._
    val day = 86400000000L
    val ev = Seq(
        // user 1: last at anchor-0 days, finite values 1.5 + 2.25
        (1L, 1L, 10L * day, 1.5), (2L, 1L, 10L * day - 5L, 2.25),
        // user 2: last 2.5 days before anchor → floors to 2; one NaN
        // and one Inf are EXCLUDED from monetary, -0.7 floors to -1
        (3L, 2L, (10L * day) - (5L * day / 2L), -0.7),
        (4L, 2L, 5L * day, Double.NaN), (5L, 2L, 4L * day,
          Double.PositiveInfinity),
        // user 3: only non-finite values → monetary NULL, not 0
        (6L, 3L, 10L * day - 1L, Double.NaN))
      .toDF("event_id", "user_id", "us", "value")
      .select(col("event_id"), col("user_id"), col("value"),
        timestamp_micros(col("us")).as("ts"))
    val out = graft.streaming.EventWindows.rfm(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out(1L) === ((0L, 2L, Some(3750000L))))
    assert(out(2L) === ((2L, 3L, Some(-700000L))))
    assert(out(3L) === ((0L, 1L, None)))
  }

  test("sessionPaths: path strings, tie ordering and the top-k boundary") {
    val s = spark
    import s.implicits._
    val gap = graft.streaming.Sessionize.GapUs
    def ev(rows: (Long, Long, String, Long)*) =
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    val fix = ev(
      // user 1, session 1: a>b ; session 2 (after break): b
      (1L, 1L, "a", 0L), (2L, 1L, "b", 10L), (3L, 1L, "b", 10L + gap),
      // user 2: a>b again (path counted twice overall)
      (4L, 2L, "a", 0L), (5L, 2L, "b", 5L),
      // user 3: same-us tie, id order decides c(6) before a(7)
      (6L, 3L, "c", 0L), (7L, 3L, "a", 0L))
    val all = graft.streaming.Sessionize.sessionPaths(fix).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(all.toSeq === Seq(("a>b", 2L), ("b", 1L), ("c>a", 1L)))
    // k=2 keeps the (count DESC, path ASC) prefix exactly
    val top2 = graft.streaming.Sessionize.sessionPaths(fix, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top2.toSeq === Seq(("a>b", 2L), ("b", 1L)))
  }

  test("activeUsersHll: merged states EXACTLY equal one-shot window states") {
    val s = spark
    import s.implicits._
    import graft.functions.PolyHashFunctions.{poly_hash, poly_hash2}
    val day = 86400L
    val rnd = new scala.util.Random(4107)
    val rows = Seq.fill(2000)((rnd.nextInt(10).toLong * day * 1000000L +
      rnd.nextInt(1000), rnd.nextInt(400).toLong))
    val ev = rows.toDF("us", "user_id")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val got = graft.streaming.EventWindows.activeUsersHll(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // for each reported day: the merged state must be BIT-IDENTICAL to
    // sketching the window's raw items in one shot (max associativity)
    val u = col("user_id").cast("string")
    val premixed = ev.select(
      (unix_micros(col("ts")) / lit(day * 1000000L)).cast("long").as("d"),
      (poly_hash(u) * lit(graft.functions.PolyHashUtil.Mod2) +
        poly_hash2(u)).cast("string").as("item"))
    got.keySet.foreach { de =>
      val d = de / day
      val oneShot = operators.TextOps.hllState(
        premixed.filter(col("d") >= d - 6L && col("d") <= d)
          .select(lit(de).as("day_epoch"), col("item")),
        Seq("day_epoch"), col("item")).collect()(0)
      assert((oneShot.getLong(1), oneShot.getLong(2), oneShot.getLong(3),
        oneShot.getDouble(4)) === got(de), s"day $de")
    }
    // corrected estimates track the exact trailing distincts
    val exact = graft.streaming.EventWindows.activeUsers(ev).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (de, (m, ne, _, raw)) =>
      val est = if (raw <= 2.5 * m && ne > 0)
        m * math.log(m.toDouble / ne) else raw
      assert(est > exact(de) * 0.75 && est < exact(de) * 1.25,
        s"day $de est $est vs exact ${exact(de)}")
    }
  }

  test("activeUsers: fanout distinct == brute trailing-window distinct") {
    val s = spark
    import s.implicits._
    val day = 86400L
    def at(d: Long, u: Long) = (d * day * 1000000L + u, u) // us inside day d
    val rnd = new scala.util.Random(1306)
    val rows = Seq.fill(300)(at(rnd.nextInt(12).toLong, rnd.nextInt(9).toLong))
    val ev = rows.toDF("us", "user_id")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val got = graft.streaming.EventWindows.activeUsers(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val byDay = rows.map { case (us, u) => (us / 1000000L / day, u) }
      .distinct.groupBy(_._1).map { case (d, es) => d -> es.map(_._2).toSet }
    val want = byDay.map { case (d, users) =>
      val wau = (d - 6L to d).flatMap(byDay.getOrElse(_, Set.empty)).toSet
      (d * day) -> ((users.size.toLong, wau.size.toLong,
        users.size.toLong * 1000000L / wau.size.toLong))
    }
    assert(got === want)
  }

  test("interArrival == brute sorted-diff stats on random event sets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260814)
    val rows = Seq.fill(400)((rnd.nextInt(12).toLong,
      rnd.nextInt(3000000).toLong * 2))
    val ev = rows.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val got = graft.streaming.Sessionize.interArrival(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val want = rows.groupBy(_._1).map { case (u, es) =>
      val ts = es.map(_._2).sorted
      val gaps = ts.zip(ts.drop(1)).map { case (a, b) => b - a }
      u -> ((ts.size.toLong, gaps.size.toLong,
        if (gaps.isEmpty) -1L else gaps.min,
        if (gaps.isEmpty) -1L else gaps.max,
        ts.last - ts.head,
        gaps.count(_ < graft.streaming.Sessionize.RapidGapUs).toLong))
    }
    assert(got === want)
  }

  test("winnowing: brute window-min reference + the ≥1-fingerprint guarantee") {
    val rnd = new scala.util.Random(13)
    // short alphabet manufactures repeated k-grams; lengths straddle
    // k (=4 here) and k+w-1 so partial-window docs are exercised
    val docs = (0L until 40L).map(i => (i,
      Seq.fill(rnd.nextInt(30))("ab" (rnd.nextInt(2))).mkString))
    val k = 4
    val w = 3
    val df = docsDf(docs: _*)
    val got = TextOps.winnowing(df, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = df.select(col("doc_id"),
        graft.functions.CharGramHashFunctions.char_gram_hash(col("text"), k)
          .as("hs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = hashes.toSeq.flatMap { case (id, hs) =>
      if (hs.isEmpty) Seq.empty
      else {
        val lo = math.min(w - 1, hs.size - 1)
        (lo until hs.size).map { i =>
          id -> hs.slice(math.max(0, i - w + 1), i + 1).min
        }.distinct
      }
    }.toSet
    assert(got === want)
    // every doc with at least one k-gram yields at least one fingerprint
    val withGram = hashes.filter(_._2.nonEmpty).keySet
    assert(got.map(_._1) === withGram)
  }

  test("bigramLm: counts + Kneser-Ney continuation counts on a fixture") {
    val docs = docsDf((1L, "a b a b c"), (2L, "b c"), (3L, "solo"))
    val out = TextOps.bigramLm(docs, 10)
      .orderBy(col("cnt").desc, col("w1"), col("w2")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // bigrams: (a,b)×2, (b,c)×2, (b,a)×1; continuation counts: every
    // right word here follows exactly one distinct left word
    assert(out.toSeq === Seq(
      ("a", "b", 2L, 1L), ("b", "c", 2L, 1L), ("b", "a", 1L, 1L)))
  }

  test("sessionize: session_window == flatMapGroupsWithState state machine") {
    val ev = Tables_events(spark)
    val a = graft.streaming.Sessionize.sessions(ev)
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq)
    val b = graft.streaming.Sessionize.sessionsStateful(spark, ev).toDF()
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .orderBy("user_id", "session_start_us").collect().map(_.toSeq)
    assert(a.nonEmpty)
    assert(a.toSeq === b.toSeq)
  }

  private def Tables_events(s: org.apache.spark.sql.SparkSession) =
    graft.sources.Tables.events(s, "/root/testdata/sf0.001")

  test("streaming append mode: watermark closes windows across micro-batches") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString
    def batch(rows: (Long, String, Long, String, Double)*) =
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
    // batch 1: two events at 10:xx
    batch((1L, "2024-01-01 10:05:00", 7L, "click", 1.0),
      (2L, "2024-01-01 10:50:00", 8L, "click", 2.0))
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = graft.streaming.EventWindows.hourlyStreaming(
        spark.readStream.schema(schema).parquet(dir))
      .writeStream.format("memory").queryName("append_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark (max 10:50 - 2h) hasn't passed the 10:00 window yet
      assert(spark.sql("select * from append_out").count() === 0)
      // batch 2: an event far enough ahead to close the 10:00 window
      batch((3L, "2024-01-01 14:30:00", 9L, "view", 3.0))
        .write.mode("append").parquet(dir)
      q.processAllAvailable() // ingest + advance watermark
      q.processAllAvailable() // emit closed windows
      val out = spark.sql(
        "select hour_epoch, event_type, n_events from append_out").collect()
      assert(out.length === 1) // only the closed 10:00/click window
      assert(out(0).getLong(2) === 2L)
    } finally q.stop()
  }

  test("streaming sessions: cross-batch session MERGE, watermark-closed emit, parity with batch operator") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ssess").toString
    def batch(rows: (Long, String)*) =
      rows.toDF("user_id", "ts_s")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"))
    // batch 1: user 7 opens a session; user 8 a singleton
    batch((7L, "2024-01-01 10:00:00"), (7L, "2024-01-01 10:10:00"),
      (8L, "2024-01-01 10:50:00"))
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = graft.streaming.Sessionize.sessionsStreaming(
        spark.readStream.schema(schema).parquet(dir))
      .writeStream.format("memory").queryName("ssess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select * from ssess_out").count() === 0)
      // batch 2: 10:25 falls INSIDE user 7's open session (last event
      // 10:10 + 30min gap) — the streaming state store must MERGE it
      // into the stored window, not open a new session; 13:00 starts
      // a genuinely new one
      batch((7L, "2024-01-01 10:25:00"), (7L, "2024-01-01 13:00:00"))
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      // batch 3: a sentinel far enough ahead to close everything real
      batch((99L, "2024-01-02 10:00:00")).write.mode("append").parquet(dir)
      q.processAllAvailable() // ingest + advance watermark
      q.processAllAvailable() // emit closed sessions
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val got = rows(spark.sql("select * from ssess_out where user_id != 99"))
      // the merged session surfaced as ONE 3-event window
      assert(got.exists { case (u, _, _, n) => u == 7L && n == 3L }, got)
      assert(got.size === 3, got) // 7: merged + 13:00 singleton; 8: singleton
      // parity: streaming emit ≡ the batch operator on the same events
      val all = batch((7L, "2024-01-01 10:00:00"), (7L, "2024-01-01 10:10:00"),
        (8L, "2024-01-01 10:50:00"), (7L, "2024-01-01 10:25:00"),
        (7L, "2024-01-01 13:00:00"))
      assert(got === rows(graft.streaming.Sessionize.sessions(all)))
    } finally q.stop()
  }

  test("streaming transitions: state carries the last event across micro-batches; final counts == batch operator") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-strans").toString
    def batch(rows: (Long, Long, String, Long)*) = // (event_id, user, type, us)
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    val gap = graft.streaming.Sessionize.GapUs
    // batch 1: user 7 view→click in-gap; user 8 one view
    val b1 = Seq((1L, 7L, "view", 0L), (2L, 7L, "click", 100L),
      (3L, 8L, "view", 50L))
    // batch 2: user 7's purchase lands IN-GAP after batch 1's click —
    // the boundary pair (click, purchase) only exists if state carried;
    // user 8's next event is ≥gap away, so its boundary pair must NOT
    // count even though state carried it
    val b2 = Seq((4L, 7L, "purchase", 200L), (5L, 8L, "view", 50L + gap))
    batch(b1: _*).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val pairs = graft.streaming.Sessionize.transitionsStreamingPairs(
      spark, spark.readStream.schema(schema).parquet(dir))
    // the full transition-matrix pipeline under one StreamingQuery:
    // state machine (Append) + groupBy/count, Complete-mode sink so
    // each trigger re-emits the whole (tiny, |types|²-bounded) matrix
    val q = pairs.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("strans_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      def counts = spark.sql("select * from strans_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(counts === Map(("view", "click") -> 1L),
        "batch-1 matrix wrong")
      batch(b2: _*).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = counts
      // the boundary pair counted exactly once, the ≥gap one not at all
      assert(got === Map(("view", "click") -> 1L,
        ("click", "purchase") -> 1L), got)
      // parity: streaming end-state == the batch operator on all events
      val batchGot = graft.streaming.Sessionize
        .transitions(batch((b1 ++ b2): _*)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === batchGot)
    } finally q.stop()
  }

  test("streaming funnel: per-user stage state advances across micro-batches; final counts == batch funnel") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sfunnel").toString
    def batch(rows: (Long, Long, String, Long)*) = // (event_id, user, type, us)
      rows.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
    // batch 1: user 7 views; user 8 views+clicks; user 9 clicks only
    // (no view — must never advance past stage 0's requirement)
    val b1 = Seq((1L, 7L, "view", 0L), (2L, 8L, "view", 10L),
      (3L, 8L, "click", 20L), (4L, 9L, "click", 30L))
    // batch 2: user 7's click arrives a batch late — state must carry
    // the view threshold; user 8 completes the funnel
    val b2 = Seq((5L, 7L, "click", 100L), (6L, 8L, "purchase", 120L))
    batch(b1: _*).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // mapGroupsWithState streams in Update mode: each batch re-emits
    // the users it advanced; `reached` is monotone, so the final
    // per-user value is the max over emissions
    val q = graft.streaming.EventWindows.funnelReached(spark,
        spark.readStream.schema(schema).parquet(dir))
      .toDF("user_id", "reached")
      .writeStream.format("memory").queryName("sfunnel_out")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      batch(b2: _*).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val reached = spark.sql(
        "select user_id, max(reached) from sfunnel_out group by user_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(reached === Map(7L -> 2, 8L -> 3, 9L -> 0), reached)
      // parity: stage counts from the streaming end-state == the batch
      // funnel (join form) on the same events
      val stageCounts = reached.values.toSeq
        .flatMap(r => 0 until r).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val batchGot = graft.streaming.EventWindows
        .funnel(batch((b1 ++ b2): _*)).collect()
        .map(r => r.getLong(0).toInt -> r.getLong(2)).toMap
        .filter(_._2 > 0L)
      assert(stageCounts === batchGot, s"$stageCounts vs $batchGot")
    } finally q.stop()
  }

  test("streaming exact dedup drops duplicates across micro-batches") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    batch((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = graft.streaming.StreamDedup.exactStreaming(
        spark.readStream.schema(schema).parquet(dir))
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // in-batch dup (doc 3) collapses
      assert(spark.sql("select * from sdedup_out").count() === 2)
      // cross-batch dup (doc 4 == doc 2's text) collapses; new text passes
      batch((4L, "bbb"), (5L, "ccc")).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val texts = spark.sql("select text from sdedup_out")
        .collect().map(_.getString(0)).sorted
      assert(texts === Array("aaa", "bbb", "ccc"))
      // parity: surviving keys == batch Dedup.exact's groups on the
      // same corpus
      val all = batch((1L, "aaa"), (2L, "bbb"), (3L, "aaa"),
        (4L, "bbb"), (5L, "ccc"))
      assert(Dedup.exact(all).count() === 3L)
    } finally q.stop()
  }

  test("streaming near-dup: LSH band state drops planted near-dups, parity with batch twin") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sneardup").toString
    val base = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "ts_s", "text")
        .select(col("doc_id"), to_timestamp(col("ts_s")).as("ts"), col("text"))
    // one doc per micro-batch where ordering matters: 1 = original,
    // 2 = exact copy (all bands collide), 3 = distinct, 4 = near-copy
    // of 1 (shares most shingles → ≥ 1 band), 5 = too short to shingle
    val feed = Seq(
      (1L, "2024-01-01 10:00:30", base),
      (2L, "2024-01-01 10:02:30", base),
      (3L, "2024-01-01 10:04:30", "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"),
      (4L, "2024-01-01 10:06:30", base.replace("x12", "z12")),
      (5L, "2024-01-01 10:08:30", "hi"))
    val schema = batch(feed.head).schema
    batch(feed.head).write.mode("append").parquet(dir)
    val q = graft.streaming.StreamDedup.nearDupStreaming(
        spark.readStream.schema(schema).parquet(dir),
        "ts", horizon = "10 minutes")
      .writeStream.format("memory").queryName("sneardup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      feed.tail.foreach { r =>
        batch(r).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      // sentinel far ahead: watermark passes every real window
      batch((99L, "2024-01-01 13:00:00", "s1 s2 s3")).write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable()
      val streamed = spark.sql("select doc_id from sneardup_out")
        .collect().map(_.getLong(0)).filter(_ < 99L).sorted.toSeq
      // batch twin on the same corpus (same arrival order by ts)
      val twin = graft.streaming.StreamDedup.nearDupArrivalBatch(
          batch(feed: _*), "ts")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed === twin)
      assert(streamed.contains(1L) && streamed.contains(3L))
      assert(streamed.contains(5L)) // shingle-less docs always pass
      assert(!streamed.contains(2L)) // exact copy: every band collides
      // doc 4 shares 9 of 10 distinct shingles with doc 1 — whether a
      // band collides is fixed by the minhash constants; assert the
      // stream agrees with the twin rather than pinning the outcome,
      // and that the twin itself flags it (planted to collide)
      assert(!twin.contains(4L), "planted near-copy did not collide in any band")
    } finally q.stop()
  }

  test("incremental near-dup: corpus epoch outranks id order") {
    val s = spark
    import s.implicits._
    val base = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    val novel = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12"
    // corpus ids are HIGHER than the fresh ids — the epoch, not the
    // id order, must decide who claims the bands
    val corpus = Seq((10L, base), (12L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (1L, base), // exact copy of corpus doc 10 → dropped despite 1 < 10
      (3L, novel), // novel → admitted
      (5L, novel), // copy of fresh doc 3 (earlier in-batch) → dropped
      (7L, "hi")) // shingle-less: unique per-doc bands → admitted
      .toDF("doc_id", "text")
    val got = graft.streaming.StreamDedup.nearDupIncremental(corpus, fresh)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(3L, 7L))
    // corpus docs are never returned, even when they'd win their bands
    assert(!got.contains(10L) && !got.contains(12L))
    // the stored-keys path (ingest persists bandKeysOf; admission never
    // re-reads corpus text) must be row-identical on the same fixture
    val viaKeys = graft.streaming.StreamDedup.nearDupIncrementalKeys(
        graft.streaming.StreamDedup.bandKeysOf(corpus), fresh)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaKeys === got)
  }

  test("incremental admission over stored band keys equals the text path on a real corpus") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val viaText = graft.streaming.StreamDedup
      .nearDupIncremental(corpus, fresh)
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaKeys = graft.streaming.StreamDedup.nearDupIncrementalKeys(
        graft.streaming.StreamDedup.bandKeysOf(corpus), fresh)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaText.nonEmpty)
    assert(viaKeys === viaText)
  }

  test("chained multi-batch admission == one-shot election over the whole stream") {
    // THE production loop, rehearsed end to end with real persistence:
    // cut the corpus into 3 batches, admit each against the stored key
    // relation, append bandKeysOf(batch) — ALL fresh docs, admitted or
    // not — and re-read the grown relation from parquet for the next
    // cycle. The admitted union must equal the single-shot
    // nearDupArrivalBatch election over the full corpus with
    // batch-index arrival stamps: admission must not depend on where
    // the stream was cut.
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val keysDir = java.nio.file.Files
      .createTempDirectory("graft_chain_keys").toString + "/keys"
    val emptyKeys = graft.streaming.StreamDedup.bandKeysOf(docs.limit(0))
    emptyKeys.write.parquet(keysDir)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    for (i <- 0 to 2) {
      val batch = docs.filter(col("doc_id") % 3 === i)
      val stored = spark.read.parquet(keysDir)
      admitted ++= graft.streaming.StreamDedup
        .nearDupIncrementalKeys(stored, batch)
        .collect().map(_.getLong(0))
      graft.streaming.StreamDedup.bandKeysOf(batch)
        .write.mode("append").parquet(keysDir)
    }
    val oneShot = graft.streaming.StreamDedup.nearDupArrivalBatch(
        docs.withColumn("arrival", col("doc_id") % 3), "arrival")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted.nonEmpty && admitted.size < docs.count())
    assert(admitted.sorted.toSeq === oneShot)
  }

  test("incremental vector admission: epoch outranks id, width pinned, parquet round-trip") {
    val s = spark
    import s.implicits._
    def vec(f: Int => Float) = Array.tabulate(8)(f)
    val v1 = vec(i => if (i == 0) 1f else 0.1f * i)
    val v3 = vec(i => if (i == 3) -1f else 0.2f * (i - 4))
    // corpus ids HIGHER than fresh ids: the epoch must decide
    val corpus = Seq((10L, v1), (12L, vec(i => 0.5f - 0.1f * i)))
      .toDF("vec_id", "embedding")
    val fresh = Seq(
      (1L, v1), // identical to corpus vec 10 → identical sig → rejected
      (3L, v3), // novel → admitted (fixture checked non-colliding below)
      (5L, v3)) // in-batch copy of vec 3 → rejected
      .toDF("vec_id", "embedding")
    import operators.Similarity
    val bb = Similarity.LshBandBits
    // fixture precondition: v3 shares no band with either corpus vector
    val bands = Similarity.vecBandKeysOf(
        corpus.unionByName(Seq((3L, v3)).toDF("vec_id", "embedding")), bb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b3 = bands.filter(_._1 == 3L).map(t => (t._2, t._3)).toSet
    val bc = bands.filter(_._1 != 3L).map(t => (t._2, t._3)).toSet
    assert((b3 & bc).isEmpty, "planted novel vector collides — repick fixture")
    val keysDir = java.nio.file.Files
      .createTempDirectory("graft_veckeys").toString + "/keys"
    Similarity.vecBandKeysOf(corpus, bb).write.parquet(keysDir)
    val got = Similarity.nearDupIncrementalVec(
        spark.read.parquet(keysDir), fresh, bb)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(3L))
    // a mismatched pinned width raises instead of silently not matching
    val e = intercept[Exception] {
      Similarity.nearDupIncrementalVec(
        spark.read.parquet(keysDir), fresh, bb + 1).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("band_bits")), e)
  }

  test("verified vector admission rejects on similarity, not on band collision alone") {
    val s = spark
    import s.implicits._
    import operators.Similarity
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val v1 = Array.tabulate(8)(i => if (i == 0) 1f else 0.1f * i)
    val v2 = Array.tabulate(8)(i => 0.5f - 0.1f * i)
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)
    assert(math.abs(cos(v3, v1)) < 0.3 && math.abs(cos(v3, v2)) < 0.3)
    val corpus = Seq((10L, v1), (12L, v2)).toDF("vec_id", "embedding")
    val fresh = Seq(
      (1L, v1), // identical to corpus → cosine 1.0 → rejected
      (3L, v3), // dissimilar to corpus → admitted even if bands collide
      (5L, v3)) // identical to earlier fresh 3 → in-batch verified reject
      .toDF("vec_id", "embedding")
    val bb = Similarity.LshBandBits
    val got = Similarity.nearDupIncrementalVecVerified(
        Similarity.vecBandKeysOf(corpus, bb), corpus, fresh, bb)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(3L))
    // on a real corpus the verified form admits a strict SUPERSET of
    // the candidate-level form (verified rejections ⊆ band collisions)
    // — the dense-bucket over-rejection the verify exists to remove
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val keys = Similarity.vecBandKeysOf(even, bb)
    val cand = Similarity.nearDupIncrementalVec(keys, odd, bb)
      .collect().map(_.getLong(0)).toSet
    val ver = Similarity.nearDupIncrementalVecVerified(keys, even, odd, bb)
      .collect().map(_.getLong(0)).toSet
    assert(cand.subsetOf(ver))
    assert(ver.size > cand.size, s"verified ${ver.size} vs cand ${cand.size}")
  }

  test("chained exact admission == one-shot; admitted-only keys suffice (transitivity)") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamDedup._
    // plant exact cross-batch duplicates: clones of every 7th doc
    // under fresh ids, so triples repeat across batch boundaries
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val all = base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    def batch(i: Int) = all.filter(col("doc_id") % 3 === i)
    // chain twice: appending keys of the WHOLE batch vs only the
    // ADMITTED docs' keys — for exact dedup they must agree (a
    // rejected doc's triple equals a stored one, so its keys are
    // redundant), unlike the near-dup case pinned below
    def chain(admittedOnly: Boolean): Seq[Long] = {
      var keys = exactKeysOf(all.limit(0))
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      for (i <- 0 to 2) {
        val adm = exactIncrementalKeys(keys, batch(i))
        out ++= adm.collect().map(_.getLong(0))
        val toStore =
          if (admittedOnly) batch(i).join(adm, Seq("doc_id"), "left_semi")
          else batch(i)
        keys = keys.unionByName(exactKeysOf(toStore))
      }
      out.sorted.toSeq
    }
    // one-shot reference: min (batch, doc_id) claimant per triple
    val oneShot = exactKeysOf(all)
      .withColumn("b", col("doc_id") % 3)
      .groupBy("fingerprint", "fp2", "len")
      .agg(min(struct(col("b"), col("doc_id"))).as("w"))
      .select(col("w.doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaAll = chain(admittedOnly = false)
    assert(viaAll === chain(admittedOnly = true))
    assert(viaAll === oneShot)
    // non-vacuous: the planted clones actually deduplicated
    assert(viaAll.size.toLong < all.count())
  }

  test("persisting ALL batch keys (not admitted-only) is what collapses candidate chains") {
    // planted A→B→C chain (searched offline against the frozen LSH
    // constants): B = A's text + C's text shares a band with A AND a
    // band with C, while A and C share none. With the documented loop
    // (append bandKeysOf of the WHOLE batch) C is rejected — B claimed
    // C's band at ingest even though B itself was rejected — exactly
    // the one-shot election. Persisting only ADMITTED docs' keys
    // would admit C: the pinned divergence that makes the choice in
    // bandKeysOf's contract deliberate.
    val s = spark
    import s.implicits._
    val aText = (0 to 11).map(i => s"a59x$i").mkString(" ")
    val cText = (0 to 11).map(i => s"c59y$i").mkString(" ")
    val bText = aText + " " + cText
    def bandsOf(text: String) = graft.streaming.StreamDedup
      .bandKeysOf(Seq((1L, text)).toDF("doc_id", "text"))
      .select("band_idx", "band_sig").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // fixture preconditions — fail loudly if the constants ever change
    val (bA, bB, bC) = (bandsOf(aText), bandsOf(bText), bandsOf(cText))
    assert((bA & bB).nonEmpty, "planted A~B band collision vanished")
    assert((bB & bC).nonEmpty, "planted B~C band collision vanished")
    assert((bA & bC).isEmpty, "A and C must not collide directly")
    val batch1 = Seq((1L, aText)).toDF("doc_id", "text")
    val batch2 = Seq((2L, bText)).toDF("doc_id", "text")
    val batch3 = Seq((3L, cText)).toDF("doc_id", "text")
    def admit(keys: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Seq[Long] =
      graft.streaming.StreamDedup.nearDupIncrementalKeys(keys, b)
        .collect().map(_.getLong(0)).toSeq
    import graft.streaming.StreamDedup.bandKeysOf
    // documented loop: keys accumulate for every ingested doc
    val keysAll12 = bandKeysOf(batch1).unionByName(bandKeysOf(batch2))
    assert(admit(bandKeysOf(batch1.limit(0)), batch1) === Seq(1L))
    assert(admit(bandKeysOf(batch1), batch2) === Seq())    // B ~ A → out
    assert(admit(keysAll12, batch3) === Seq())             // C ~ B → out
    // one-shot election over the full stream agrees: only A survives
    val oneShot = graft.streaming.StreamDedup.nearDupArrivalBatch(
        batch1.unionByName(batch2).unionByName(batch3)
          .withColumn("arrival", col("doc_id")), "arrival")
      .collect().map(_.getLong(0)).toSeq
    assert(oneShot === Seq(1L))
    // admitted-only persistence DIVERGES: B's keys were never stored,
    // so C sails through — the semantics bandKeysOf's doc warns about
    assert(admit(bandKeysOf(batch1), batch3) === Seq(3L))
  }

  test("nearDupIncrementalKeys raises on a stale params fingerprint") {
    val s = spark
    import s.implicits._
    val corpus = Seq((10L, "k1 k2 k3 k4 k5 k6")).toDF("doc_id", "text")
    val fresh = Seq((1L, "n1 n2 n3 n4 n5 n6")).toDF("doc_id", "text")
    val goodKeys = graft.streaming.StreamDedup.bandKeysOf(corpus)
    assert(goodKeys.columns.contains("lsh_params_fp"))
    // current-fingerprint keys pass
    graft.streaming.StreamDedup.nearDupIncrementalKeys(goodKeys, fresh).count()
    // keys stamped by "another build" must fail loudly, not weaken
    val staleKeys = goodKeys.withColumn("lsh_params_fp", lit(12345L))
    val e = intercept[Exception] {
      graft.streaming.StreamDedup.nearDupIncrementalKeys(staleKeys, fresh)
        .count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("different LSH parameters")), e)
    // a bare pre-fingerprint relation (no column) still works
    graft.streaming.StreamDedup.nearDupIncrementalKeys(
      goodKeys.drop("lsh_params_fp"), fresh).count()
  }

  test("the oracle splice rejects regex constructs outside the Java∩RE2 dialect") {
    // every shipped pattern must pass (the text_pii oracle splices
    // them verbatim into DuckDB SQL)...
    operators.TextOps.PiiPatterns.foreach { case (pat, _) =>
      assert(SparkEntry.assertPortableRegex(pat) === pat)
    }
    // ...and each dialect-divergent construct is rejected at splice
    // time, not discovered as a confusing hash mismatch later
    for (bad <- Seq("(?=x)y", "a(?!b)", "(?<tag>x)", "(?<=a)b",
        "(?>ab)c", "[0-9]++", "(a)\\1", "(?i)ssn"))
      intercept[IllegalArgumentException] {
        SparkEntry.assertPortableRegex(bad)
      }
  }

  test("scrubPii: typed tags, order-sensitive shapes, non-PII untouched") {
    val got = operators.TextOps.scrubPii(docsDf(
        1L -> "mail a.b+c@x-y.co.uk now",
        2L -> "ssn 123-45-6789 phone 555-867-5309 or 555.867.5309",
        3L -> "ip 10.0.0.7 not 1234.5.6.7",
        4L -> "clean text, version 1.2 stays"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "mail <EMAIL> now")
    // the SSN shape must win before the phone shape can half-eat it
    assert(got(2L) === "ssn <SSN> phone <PHONE> or <PHONE>")
    // 4-digit first octet: no word boundary match — not an IPv4
    assert(got(3L) === "ip <IP> not 1234.5.6.7")
    assert(got(4L) === "clean text, version 1.2 stays")
  }

  test("asofJoin: inclusive ties, per-key isolation, row-not-value match semantics") {
    val s = spark
    import s.implicits._
    // probe at ts=5 with build at ts=5 → matched (inclusive <=);
    // probe before any build → null; keys never bleed into each other
    val build = Seq(
      (1L, 10L, Some(100L)), (1L, 20L, None), (1L, 30L, Some(300L)),
      (2L, 15L, Some(999L)))
      .toDF("k", "ts", "v")
    val probe = Seq(
      (11L, 1L, 5L), // before all builds → null
      (12L, 1L, 10L), // tie with build ts=10 → inclusive match
      (13L, 1L, 25L), // latest build ROW (ts=20) has v=null → null v,
      // NOT the older non-null 100 — row semantics
      (14L, 1L, 99L), // after all → ts=30 row
      (15L, 2L, 14L), // other key, before its build → null
      (16L, 2L, 15L))
      .toDF("event_id", "k", "ts")
    val got = operators.AsofJoin.asofJoin(probe, build, Seq("k"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got === Map(11L -> None, 12L -> Some(100L), 13L -> None,
      14L -> Some(300L), 15L -> None, 16L -> Some(999L)))
    // plan shape: one window, NO join node — the union-merge form
    val plan = operators.AsofJoin.asofJoin(probe, build, Seq("k"), "ts", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("asofJoinBucketed == asofJoin on random data, across bucket widths") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    (1 to 3).foreach { _ =>
      // duplicate (k, ts) on the PROBE side is fine; the build side is
      // deduped to honor the operators' shared uniqueness precondition
      val build = List.fill(120)(
          (rng.nextInt(5).toLong, rng.nextInt(40).toLong, rng.nextLong(1000)))
        .groupBy(t => (t._1, t._2)).values.map(_.head).toList
        .toDF("k", "ts", "v")
      val probe = List.tabulate(200)(i =>
          (i.toLong, rng.nextInt(5).toLong, rng.nextInt(40).toLong))
        .toDF("event_id", "k", "ts")
      val plain = operators.AsofJoin.asofJoin(
          probe, build, Seq("k"), "ts", Seq("v"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      // width 1 (every ts its own bucket), a mid width, and one wider
      // than the whole ts range (degenerates to the plain partition)
      for (width <- Seq(1L, 7L, 1000L)) {
        val bucketed = operators.AsofJoin.asofJoinBucketed(
            probe, build, Seq("k"), "ts", Seq("v"), width)
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
        assert(bucketed === plain, s"width=$width")
      }
    }
    // the final election really partitions by (key, bucket) — the
    // skew-kill contract, visible in the window spec
    val plan = operators.AsofJoin.asofJoinBucketed(
        Seq((1L, 1L, 1L)).toDF("event_id", "k", "ts"),
        Seq((1L, 1L, 1L)).toDF("k", "ts", "v"),
        Seq("k"), "ts", Seq("v"), 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__asof_bkt"), plan)
  }

  test("bucketed gate queries equal their plain twins on the real events table") {
    // the gate queries run over TimestampType ts (the property tests
    // above use long ts) — pin the bucketed variants to their plain
    // twins on the actual table the driver verifies against
    val d = "/root/testdata/sf0.001"
    def rows(q: String) =
      SparkEntry.queries(q)(spark, d).collect().map(_.toSeq).toSeq
    assert(rows("events_asof_fwd_bucketed") === rows("events_asof_fwd"))
    assert(rows("events_asof_tol_bucketed") === rows("events_asof_tol"))
    assert(rows("events_asof_bucketed") === rows("events_asof"))
    assert(rows("events_asof_fwd_bucketed").nonEmpty)
  }

  test("bucketed forward/tolerance == their plain twins on random data, across widths") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    (1 to 3).foreach { _ =>
      val build = List.fill(120)(
          (rng.nextInt(5).toLong, rng.nextInt(40).toLong, rng.nextLong(1000)))
        .groupBy(t => (t._1, t._2)).values.map(_.head).toList
        .toDF("k", "ts", "v")
      val probe = List.tabulate(200)(i =>
          (i.toLong, rng.nextInt(5).toLong, rng.nextInt(40).toLong))
        .toDF("event_id", "k", "ts")
      def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
        df.collect().map(r => (r.getLong(0),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val fwdPlain = run(operators.AsofJoin.asofJoinForward(
        probe, build, Seq("k"), "ts", Seq("v")))
      val tolBwdPlain = run(operators.AsofJoin.asofJoinTolerance(
        probe, build, Seq("k"), "ts", Seq("v"), 7L))
      val tolFwdPlain = run(operators.AsofJoin.asofJoinTolerance(
        probe, build, Seq("k"), "ts", Seq("v"), 7L, forward = true))
      // width 1 (every ts its own bucket), a mid width smaller than the
      // tolerance (carries must cross in-tolerance boundaries), a width
      // larger than it, and one wider than the whole ts range
      for (width <- Seq(1L, 5L, 13L, 1000L)) {
        assert(run(operators.AsofJoin.asofJoinBucketedForward(
          probe, build, Seq("k"), "ts", Seq("v"), width)) === fwdPlain,
          s"forward width=$width")
        assert(run(operators.AsofJoin.asofJoinBucketedTolerance(
          probe, build, Seq("k"), "ts", Seq("v"), width, 7L)) === tolBwdPlain,
          s"tol-bwd width=$width")
        assert(run(operators.AsofJoin.asofJoinBucketedTolerance(
          probe, build, Seq("k"), "ts", Seq("v"), width, 7L,
          forward = true)) === tolFwdPlain,
          s"tol-fwd width=$width")
      }
    }
  }

  test("asofJoinForward: inclusive ties, earliest-later ROW, null after last build") {
    val s = spark
    import s.implicits._
    val build = Seq(
      (1L, 10L, Some(100L)), (1L, 20L, None), (1L, 30L, Some(300L)),
      (2L, 15L, Some(999L)))
      .toDF("k", "ts", "v")
    val probe = Seq(
      (11L, 1L, 5L), // earliest later build is ts=10
      (12L, 1L, 10L), // tie → inclusive match
      (13L, 1L, 15L), // next build ROW (ts=20) has v=null → null v,
      // NOT the later non-null 300 — row semantics
      (14L, 1L, 99L), // after all builds → null
      (15L, 2L, 16L), // other key, after its only build → null
      (16L, 2L, 15L))
      .toDF("event_id", "k", "ts")
    val got = operators.AsofJoin.asofJoinForward(
        probe, build, Seq("k"), "ts", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got === Map(11L -> Some(100L), 12L -> Some(100L), 13L -> None,
      14L -> None, 15L -> None, 16L -> Some(999L)))
    // same no-join union-merge plan as the backward form
    val plan = operators.AsofJoin.asofJoinForward(
        probe, build, Seq("k"), "ts", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("asof backward/forward/tolerance == brute-force reference on random data") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(47)
    val buildRows = List.fill(150)(
        (rng.nextInt(5).toLong, rng.nextInt(60).toLong, rng.nextLong(1000)))
      .groupBy(t => (t._1, t._2)).values.map(_.head).toList
    val probeRows = List.tabulate(250)(i =>
      (i.toLong, rng.nextInt(5).toLong, rng.nextInt(60).toLong))
    val build = buildRows.toDF("k", "ts", "v")
    val probe = probeRows.toDF("event_id", "k", "ts")
    val byKey = buildRows.groupBy(_._1)
    def refBwd(k: Long, ts: Long, tol: Long): Option[Long] =
      byKey.getOrElse(k, Nil).filter(b => b._2 <= ts && ts - b._2 <= tol)
        .sortBy(_._2).lastOption.map(_._3)
    def refFwd(k: Long, ts: Long, tol: Long): Option[Long] =
      byKey.getOrElse(k, Nil).filter(b => b._2 >= ts && b._2 - ts <= tol)
        .sortBy(_._2).headOption.map(_._3)
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val cases: Seq[(String, Map[Long, Option[Long]], (Long, Long) => Option[Long])] = Seq(
      ("bwd", run(operators.AsofJoin.asofJoin(
        probe, build, Seq("k"), "ts", Seq("v"))),
        (k, ts) => refBwd(k, ts, Long.MaxValue)),
      ("fwd", run(operators.AsofJoin.asofJoinForward(
        probe, build, Seq("k"), "ts", Seq("v"))),
        (k, ts) => refFwd(k, ts, Long.MaxValue)),
      ("bwd tol=7", run(operators.AsofJoin.asofJoinTolerance(
        probe, build, Seq("k"), "ts", Seq("v"), 7L)),
        (k, ts) => refBwd(k, ts, 7L)),
      ("fwd tol=7", run(operators.AsofJoin.asofJoinTolerance(
        probe, build, Seq("k"), "ts", Seq("v"), 7L, forward = true)),
        (k, ts) => refFwd(k, ts, 7L)))
    for ((name, got, ref) <- cases; (id, k, ts) <- probeRows)
      assert(got(id) === ref(k, ts), s"$name: probe $id (k=$k, ts=$ts)")
  }

  test("asof rejects reserved __asof_ input columns; bucketing is exact beyond 2^53") {
    val s = spark
    import s.implicits._
    val build = Seq((1L, 10L, 100L)).toDF("k", "ts", "v")
    val badProbe = Seq((1L, 1L, 5L)).toDF("__asof_tag", "k", "ts")
    intercept[IllegalArgumentException] {
      operators.AsofJoin.asofJoin(badProbe, build, Seq("k"), "ts", Seq("v"))
    }
    intercept[IllegalArgumentException] {
      operators.AsofJoin.asofJoinBucketed(
        badProbe, build, Seq("k"), "ts", Seq("v"), 7L)
    }
    // nanosecond-epoch magnitudes: doubles can no longer represent
    // every long, so the old floor(ts / width) double division could
    // misbucket boundary rows; the integral form must equal the plain
    // operator exactly
    val base = 3000000000000000000L // ~2^61.4
    val rng = new scala.util.Random(48)
    val bigBuild = List.tabulate(40)(i => (1L, base + i * 3L, i.toLong))
      .toDF("k", "ts", "v")
    val bigProbe = List.tabulate(80)(i =>
        (i.toLong, 1L, base + rng.nextInt(130).toLong - 5L))
      .toDF("event_id", "k", "ts")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val plain = run(operators.AsofJoin.asofJoin(
      bigProbe, bigBuild, Seq("k"), "ts", Seq("v")))
    for (width <- Seq(1L, 7L, 64L))
      assert(run(operators.AsofJoin.asofJoinBucketed(
        bigProbe, bigBuild, Seq("k"), "ts", Seq("v"), width)) === plain,
        s"width=$width")
    // ts WITHIN bucketWidth of Long.MinValue: the old pmod-subtraction
    // bucket form wrapped here (t - pmod(t, w) < Long.MinValue); the
    // floor-corrected div must agree with the plain operator exactly
    val loBuild = List.tabulate(6)(i => (1L, Long.MinValue + i * 2L, i.toLong))
      .toDF("k", "ts", "v")
    val loProbe = List.tabulate(12)(i =>
        (i.toLong, 1L, Long.MinValue + i.toLong))
      .toDF("event_id", "k", "ts")
    val loPlain = run(operators.AsofJoin.asofJoin(
      loProbe, loBuild, Seq("k"), "ts", Seq("v")))
    for (width <- Seq(3L, 7L))
      assert(run(operators.AsofJoin.asofJoinBucketed(
        loProbe, loBuild, Seq("k"), "ts", Seq("v"), width)) === loPlain,
        s"minvalue width=$width")
  }

  test("intervalJoin == brute-force theta join on random data, across widths") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val ivRows = List.tabulate(80) { i =>
      val st = rng.nextInt(60).toLong - 10L
      // spans 0..3 buckets at width 7; a few inverted rows match nothing
      val en = if (i % 11 == 0) st - 3L else st + rng.nextInt(20).toLong
      (i.toLong, rng.nextInt(4).toLong, st, en)
    }
    val ptRows = List.tabulate(150)(i =>
      (1000L + i, rng.nextInt(4).toLong, rng.nextInt(70).toLong - 15L))
    val intervals = ivRows.toDF("iv_id", "k", "st", "en")
    val points = ptRows.toDF("pt_id", "k", "ts")
    val expect = (for {
      (pid, pk, ts) <- ptRows
      (iid, ik, st, en) <- ivRows
      if pk == ik && ts >= st && ts <= en
    } yield (pid, iid)).toSet
    assert(expect.nonEmpty)
    for (width <- Seq(1L, 7L, 1000L)) {
      val got = operators.IntervalJoin.intervalJoin(
          points, intervals, Seq("k"), "ts", "st", "en", width)
        .select("pt_id", "iv_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // exactly-once production: no dedup pass exists, so a pair
      // appearing twice would be a real bug, not a cosmetic one
      assert(got.length === got.toSet.size, s"duplicate pairs at width=$width")
      assert(got.toSet === expect, s"width=$width")
    }
    // plan shape: an equi-join on (key, bucket) — never a nested loop,
    // never a cartesian — with the containment predicate as residual
    val plan = operators.IntervalJoin.intervalJoin(
        points, intervals, Seq("k"), "ts", "st", "en", 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("__ivj_bkt"), plan)
  }

  test("intervalOverlapJoin == brute-force intersection theta join, across widths") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(47)
    // two interval relations with negative coords, touching endpoints,
    // zero-length spans, and a few inverted (match-nothing) rows
    val aRows = List.tabulate(70) { i =>
      val st = rng.nextInt(60).toLong - 10L
      val en = if (i % 13 == 0) st - 2L else st + rng.nextInt(18).toLong
      (i.toLong, rng.nextInt(4).toLong, st, en)
    }
    val bRows = List.tabulate(90) { i =>
      val st = rng.nextInt(70).toLong - 15L
      val en = if (i % 11 == 0) st - 1L else st + rng.nextInt(12).toLong
      (1000L + i, rng.nextInt(4).toLong, st, en)
    }
    val a = aRows.toDF("a_id", "k", "a_st", "a_en")
    val b = bRows.toDF("b_id", "k", "b_st", "b_en")
    val expect = (for {
      (aid, ak, ast, aen) <- aRows
      (bid, bk, bst, ben) <- bRows
      if ak == bk && ast <= aen && bst <= ben && ast <= ben && bst <= aen
    } yield (aid, bid)).toSet
    assert(expect.nonEmpty)
    for (width <- Seq(1L, 7L, 1000L)) {
      val got = operators.IntervalJoin.intervalOverlapJoin(
          a, b, Seq("k"), "a_st", "a_en", "b_st", "b_en", width)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // exactly-once: a pair meets in every shared bucket but must be
      // emitted only from the max(start) bucket — duplicates = real bug
      assert(got.length === got.toSet.size, s"duplicate pairs at width=$width")
      assert(got.toSet === expect, s"width=$width")
    }
    // plan shape: equi-join on (key, bucket), residual inside — never
    // a nested loop or cartesian
    val plan = operators.IntervalJoin.intervalOverlapJoin(
        a, b, Seq("k"), "a_st", "a_en", "b_st", "b_en", 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("__ivj_bkt"), plan)
    // guards: reserved namespace, colliding columns, null keys
    intercept[IllegalArgumentException] {
      operators.IntervalJoin.intervalOverlapJoin(
        a.withColumn("__ivj_x", lit(1)), b,
        Seq("k"), "a_st", "a_en", "b_st", "b_en", 7L)
    }
    intercept[IllegalArgumentException] {
      operators.IntervalJoin.intervalOverlapJoin(
        a, b.withColumnRenamed("b_id", "a_id"),
        Seq("k"), "a_st", "a_en", "b_st", "b_en", 7L)
    }
    val na = Seq((1L, None: Option[Long], 0L, 10L)).toDF("a_id", "k", "a_st", "a_en")
    val nb = Seq((9L, None: Option[Long], 5L, 6L)).toDF("b_id", "k", "b_st", "b_en")
    assert(operators.IntervalJoin.intervalOverlapJoin(
      na, nb, Seq("k"), "a_st", "a_en", "b_st", "b_en", 7L).count() === 0L)
  }

  test("intervalJoin rejects colliding/reserved columns; null keys match nothing") {
    val s = spark
    import s.implicits._
    val points = Seq((1L, Some(1L), 5L)).toDF("pt_id", "k", "ts")
    val intervals = Seq((9L, Some(1L), 0L, 10L)).toDF("iv_id", "k", "st", "en")
    intercept[IllegalArgumentException] {
      operators.IntervalJoin.intervalJoin(points,
        intervals.withColumnRenamed("iv_id", "pt_id"),
        Seq("k"), "ts", "st", "en", 7L)
    }
    intercept[IllegalArgumentException] {
      operators.IntervalJoin.intervalJoin(
        points.withColumn("__ivj_x", lit(1)), intervals,
        Seq("k"), "ts", "st", "en", 7L)
    }
    // SQL join semantics on null keys: a null-key point inside a
    // null-key interval still matches nothing
    val np = Seq((1L, None: Option[Long], 5L)).toDF("pt_id", "k", "ts")
    val ni = Seq((9L, None: Option[Long], 0L, 10L)).toDF("iv_id", "k", "st", "en")
    assert(operators.IntervalJoin.intervalJoin(
      np, ni, Seq("k"), "ts", "st", "en", 7L).count() === 0L)
    // inclusive bounds on both ends
    val got = operators.IntervalJoin.intervalJoin(
        Seq((1L, 1L, 0L), (2L, 1L, 10L), (3L, 1L, 11L)).toDF("pt_id", "k", "ts"),
        intervals.na.drop(), Seq("k"), "ts", "st", "en", 7L)
      .select("pt_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L))
  }

  test("streaming interval join matches across micro-batches; parity with batch operator") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sivj").toString
    def ptBatch(rows: (Long, Long, String)*) =
      rows.toDF("pt_id", "k", "ts_s")
        .select(col("pt_id"), col("k"), to_timestamp(col("ts_s")).as("ts"))
    def ivRows = Seq(
      (100L, 1L, "2024-01-01 10:00:00", "2024-01-01 10:20:00"),
      (101L, 1L, "2024-01-01 10:15:00", "2024-01-01 10:45:00"),
      (102L, 2L, "2024-01-01 10:00:00", "2024-01-01 11:00:00"))
    val intervals = ivRows.toDF("iv_id", "k", "st_s", "en_s")
      .select(col("iv_id"), col("k"), to_timestamp(col("st_s")).as("st"),
        to_timestamp(col("en_s")).as("en"))
    val pts = Seq(
      (1L, 1L, "2024-01-01 10:10:00"), // inside 100 only
      (2L, 1L, "2024-01-01 10:18:00"), // inside 100 AND 101 (overlap)
      (3L, 1L, "2024-01-01 10:50:00"), // inside nothing (after both)
      (4L, 2L, "2024-01-01 10:30:00"), // inside 102 (other key)
      (5L, 2L, "2024-01-01 11:30:00")) // after 102
    // ---- STREAM-STREAM: intervals are a stream too (the real
    // deployment shape — live campaign windows joining live events);
    // points arrive across two micro-batches ----
    val ivDir = java.nio.file.Files.createTempDirectory("graft-sivj-iv").toString
    intervals.write.mode("append").parquet(ivDir)
    val ivSchema = spark.read.parquet(ivDir).schema
    ptBatch(pts.take(2): _*).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = graft.streaming.StreamIntervalJoin.intervalJoinStreaming(
        spark.readStream.schema(schema).parquet(dir),
        spark.readStream.schema(ivSchema).parquet(ivDir),
        Seq("k"), "ts", "st", "en", maxSpan = "1 hour")
      .select("pt_id", "iv_id")
      .writeStream.format("memory").queryName("sivj_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ptBatch(pts.drop(2): _*).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.sql("select pt_id, iv_id from sivj_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === Set((1L, 100L), (2L, 100L), (2L, 101L), (4L, 102L)))
      // ---- parity: the batch operator on the same data (micros) ----
      val batchGot = operators.IntervalJoin.intervalJoin(
          ptBatch(pts: _*).select(col("pt_id"), col("k"),
            unix_micros(col("ts")).as("ts_us")),
          intervals.select(col("iv_id"), col("k"),
            unix_micros(col("st")).as("st_us"),
            unix_micros(col("en")).as("en_us")),
          Seq("k"), "ts_us", "st_us", "en_us", 600000000L)
        .select("pt_id", "iv_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchGot === streamed)
    } finally q.stop()
  }

  test("events: batch hourly == streaming hourly (same transform)") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 7L, "click", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), 8L, "click", 2.5),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), 7L, "view", 0.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.streaming.EventWindows.hourly(ev)
      .orderBy("hour_epoch", "event_type").collect()
    assert(batch.length === 2)
    assert(batch(0).getLong(2) === 2L) // two clicks in the 10:00 window
    assert(batch(0).getDouble(4) === 2.5)

    // same transform under Structured Streaming (memory sink, complete;
    // n_users becomes approx_count_distinct — exact distinct is illegal
    // on streams, so compare the exact columns)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    ev.write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(ev.schema).parquet(dir)
    val q = graft.streaming.EventWindows.hourlyStreaming(streamIn)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "select hour_epoch, event_type, n_events, max_value, min_value from hourly_out")
        .orderBy("hour_epoch", "event_type").collect()
      val batchProj = batch.map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(4), r.get(5)))
      assert(streamed.map(_.toSeq).toSeq === batchProj.toSeq)
    } finally q.stop()
  }

  test("quotaSample (TopKPerKey heap) == window row_number reference") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextOps.quotaSample(docs, perLang = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val scored = TextOps.quality(docs).select("doc_id", "quality")
      .join(docs.select("doc_id", "lang"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("quality").desc, col("doc_id").asc)
    val ref = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Double]("quality"), r.getAs[Long]("rank")))
      .toSet
    assert(got.nonEmpty && got === ref)
  }

  test("lengthDeciles == single-node sort-rank reference") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextOps.lengthDeciles(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    val nt = docs
      .select(col("doc_id"), token_count(col("text")).cast("long").as("nt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = nt.sortBy { case (id, n) => (n, id) }
    val n = sorted.length.toLong
    val ref = sorted.zipWithIndex
      .map { case ((_, t), i) => (i.toLong * 10L / n, t) }
      .groupBy(_._1)
      .map { case (d, xs) =>
        val ts = xs.map(_._2)
        (d, ts.length.toLong, ts.min, ts.max, ts.sum)
      }
      .toSet
    assert(got === ref)
  }

  test("mixCorpus: epoch semantics for down-, full- and up-sampling") {
    val s = spark
    import s.implicits._
    val docs = (0L until 300L).map { i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c")
    }.toDF("doc_id", "source")
    val rates = Map("a" -> 2500000L, "b" -> 400000L) // c → default 1.0
    val got = TextOps.mixCorpus(docs, rates).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val copies = got.groupBy(_._1).view.mapValues(_.length).toMap
    val bySrc = got.groupBy(_._2)
    // a: 2.5 epochs → every a-doc has 2 or 3 copies, epochs 0..n-1
    val aDocs = (0L until 300L by 3L).toSet
    assert(aDocs.forall(d => copies.get(d).exists(c => c == 2 || c == 3)))
    val aShare = bySrc("a").length.toDouble / aDocs.size
    assert(aShare > 2.2 && aShare < 2.8, s"a epochs/doc = $aShare")
    // b: 0.4 → subset of docs, exactly 1 copy each
    val bCopies = bySrc("b").groupBy(_._1).view.mapValues(_.length)
    assert(bCopies.values.forall(_ == 1))
    assert(bySrc("b").length > 20 && bySrc("b").length < 60)
    // c: default 1.0 → every c-doc exactly once, epoch 0
    assert(bySrc("c").length === 100 && bySrc("c").forall(_._3 == 0L))
    // epochs are dense from 0
    got.groupBy(t => t._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    // determinism: the exact same row multiset on a re-run
    val again = TextOps.mixCorpus(docs, rates).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.sorted.toSeq === again.sorted.toSeq)
  }

  test("mixCorpus is stream-safe: streaming output == batch output") {
    // the mix is a stateless projection + generator, so the SAME
    // operator body runs under Structured Streaming — new corpus
    // shards can be weighted into the training mix as they land
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 20}"))
      .toDF("doc_id", "source")
    val rates = SparkEntry.MixPpm
    val batch = TextOps.mixCorpus(docs, rates).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-mix").toString
    docs.write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(docs.schema).parquet(dir)
    val q = TextOps.mixCorpus(streamIn, rates)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select doc_id, source, epoch from mix_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
      assert(streamed === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("vocabHll: duplicate docs leave the sketch state unchanged") {
    // MAX per bucket is idempotent — the whole point of the sketch:
    // re-observing a token costs nothing and changes nothing
    def state(df: DataFrame) = TextOps.vocabHll(df).collect()(0).toSeq
    assert(state(docsDf((1L, "x y z w"), (2L, "x y z w"), (3L, "y z"))) ===
      state(docsDf((1L, "x y z w"))))
  }

  test("vocabHll: corrected estimate tracks the true distinct count") {
    // small corpus → linear-counting regime
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val truth = docs.select(explode(tokens(col("text"))).as("t"))
      .distinct().count().toDouble
    val est = TextOps.vocabHllEstimate(docs)
    assert(math.abs(est - truth) <= math.max(5.0, 0.25 * truth),
      s"est=$est truth=$truth")
    // 5000 distinct synthetic tokens → raw-estimator regime (no
    // correction path); m=512 gives ~4.6% stderr, assert within 20%
    val big = docsDf((0 until 50).map(i =>
      (i.toLong, (0 until 100).map(j => s"tok_${i}_$j").mkString(" "))): _*)
    val bigEst = TextOps.vocabHllEstimate(big)
    assert(math.abs(bigEst - 5000.0) <= 1000.0, s"bigEst=$bigEst")
  }

  test("funnel: strict-order greedy semantics, non-increasing counts") {
    import graft.streaming.EventWindows
    def ev(u: Long, t: Int, ty: String) =
      (u, new java.sql.Timestamp(1700000000000L + t * 1000L), ty)
    val events = spark.createDataFrame(Seq(
      // u1 completes in order; u2 clicks BEFORE its view (that click
      // must not count) then buys after a later click; u3 views only;
      // u4 stops after click; u6's click ties its view's ts exactly
      // (strict > rejects it); u5 never enters the funnel
      ev(1L, 0, "view"), ev(1L, 1, "click"), ev(1L, 2, "purchase"),
      ev(2L, 0, "click"), ev(2L, 1, "view"), ev(2L, 2, "click"),
        ev(2L, 3, "purchase"),
      ev(3L, 0, "view"),
      ev(4L, 5, "view"), ev(4L, 6, "click"),
      ev(6L, 7, "view"), ev(6L, 7, "click"),
      ev(5L, 9, "error"))).toDF("user_id", "ts", "event_type")
    val got = EventWindows.funnel(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got === Seq((0L, "view", 5L), (1L, "click", 3L),
      (2L, "purchase", 2L)))
    // single-stage funnel degenerates to distinct-user count
    val one = EventWindows.funnel(events, Seq("error")).collect()
    assert(one.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((0L, "error", 1L)))
  }

  test("property: funnel == sequential brute force on random event streams") {
    import graft.streaming.EventWindows
    val stages = Seq("a", "b", "c")
    def brute(evs: Seq[(Long, Long, String)]): Seq[Long] = {
      val byUser = evs.groupBy(_._1)
      stages.indices.map { k =>
        byUser.values.count { es =>
          // greedy: earliest qualifying event per stage, strictly after
          var thr = Long.MinValue
          var ok = true
          stages.take(k + 1).zipWithIndex.foreach { case (s, i) =>
            if (ok) {
              val cand = es.filter(e => e._3 == s &&
                (if (i == 0) true else e._2 > thr)).map(_._2)
              if (cand.isEmpty) ok = false else thr = cand.min
            }
          }
          ok
        }.toLong
      }
    }
    val rng = new scala.util.Random(43)
    (1 to 3).foreach { _ =>
      val evs = Seq.fill(300)((rng.nextInt(20).toLong,
        rng.nextInt(50).toLong * 1000000L, // whole-second micros
        Seq("a", "b", "c", "x")(rng.nextInt(4))))
      val df = spark.createDataFrame(evs.map { case (u, us, ty) =>
        (u, new java.sql.Timestamp(us / 1000L), ty)
      }).toDF("user_id", "ts", "event_type")
      val got = EventWindows.funnel(df, stages).collect()
        .sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
      withClue(s"events=${evs.take(20)}...") { assert(got === brute(evs)) }
    }
  }

  test("property: funnelWindowed == brute with window; huge window == plain funnel") {
    import graft.streaming.EventWindows
    val stages = Seq("a", "b", "c")
    def brute(evs: Seq[(Long, Long, String)], w: Long): Seq[Long] = {
      val byUser = evs.groupBy(_._1)
      stages.indices.map { k =>
        byUser.values.count { es =>
          var thr = Long.MinValue
          var ok = true
          stages.take(k + 1).zipWithIndex.foreach { case (s, i) =>
            if (ok) {
              val cand = es.filter(e => e._3 == s &&
                (if (i == 0) true else e._2 > thr && e._2 <= thr + w))
                .map(_._2)
              if (cand.isEmpty) ok = false else thr = cand.min
            }
          }
          ok
        }.toLong
      }
    }
    val rng = new scala.util.Random(47)
    (1 to 3).foreach { _ =>
      val evs = Seq.fill(300)((rng.nextInt(20).toLong,
        rng.nextInt(50).toLong * 1000000L,
        Seq("a", "b", "c", "x")(rng.nextInt(4))))
      val df = spark.createDataFrame(evs.map { case (u, us, ty) =>
        (u, new java.sql.Timestamp(us / 1000L), ty)
      }).toDF("user_id", "ts", "event_type")
      val w = 5000000L // 5 s — bites on the 0-49 s event grid
      val got = EventWindows.funnelWindowed(df, stages, w).collect()
        .sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
      withClue(s"events=${evs.take(20)}...") { assert(got === brute(evs, w)) }
      // non-increasing, and never exceeds the unwindowed funnel
      val plain = EventWindows.funnel(df, stages).collect()
        .sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
      got.zip(plain).foreach { case (g, p) => assert(g <= p) }
      // a window wider than the whole stream == no window at all
      val wide = EventWindows.funnelWindowed(df, stages, 1000000000L)
        .collect().sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
      assert(wide === plain)
    }
  }

  test("cooccurrence == brute force; repeats count once; non-top tokens excluded") {
    val rows = Seq(
      (1L, "x y x z rare1"), (2L, "x y"), (3L, "y z"), (4L, "x z"),
      (5L, "rare2 rare2"))
    // k=3 keeps {x:4, y:3, z:3} (occurrence counts incl. repeats);
    // rare1 (1) and rare2 (2) fall outside the head
    def brute(k: Int): Map[(String, String), Long] = {
      val counts = rows.flatMap(_._2.split(" ")).groupBy(identity)
        .view.mapValues(_.size).toSeq
        .sortBy { case (t, n) => (-n, t) }.take(k).map(_._1).toSet
      rows.flatMap { case (_, t) =>
        val ts = t.split(" ").distinct.filter(counts).sorted
        for (i <- ts.indices; j <- (i + 1) until ts.length) yield (ts(i), ts(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val got = TextOps.cooccurrence(docsDf(rows: _*), k = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === brute(3))
    assert(got === Map(("x", "y") -> 2L, ("x", "z") -> 2L, ("y", "z") -> 2L))
  }

  test("groupedQuantiles == brute-force order statistics, nulls excluded") {
    val rng = new scala.util.Random(61)
    val rows = Seq.tabulate(400) { i =>
      (i.toLong, Seq("a", "b", "c")(rng.nextInt(3)),
        if (rng.nextInt(20) == 0) null
        else java.lang.Double.valueOf(rng.nextInt(1000) / 7.0))
    }
    val df = spark.createDataFrame(rows).toDF("event_id", "event_type", "value")
    def brute(pcts: Seq[Int]): Set[(String, Long, Double)] = {
      rows.filter(_._3 != null)
        .groupBy(_._2).flatMap { case (g, rs) =>
          val sorted = rs.map(r => (r._3.doubleValue, r._1)).sorted
          pcts.map { p =>
            val r = math.max(1L, (p.toLong * sorted.size + 99L) / 100L)
            (g, p.toLong, sorted((r - 1).toInt)._1)
          }
        }.toSet
    }
    val got = TextOps.groupedQuantiles(df, "event_type", "value", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute(TextOps.QuantilePcts))
    // tiny group: every pct resolves to the single element, 1 row per pct
    val one = spark.createDataFrame(Seq((1L, "x", 3.5)))
      .toDF("event_id", "event_type", "value")
    val tiny = TextOps.groupedQuantiles(one, "event_type", "value", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tiny === TextOps.QuantilePcts.map(p => ("x", p.toLong, 3.5)).toSet)
  }

  test("quantile sketch: bucket monotone in u, bounds invert the bucket") {
    import graft.operators.QuantileSketch
    // tricky micro-unit values: powers of two ±1 (bucket boundaries),
    // the exact-region edge, zero, and the negative mirrors
    val pows = (0 to 61).map(1L << _)
    val us = (pows.flatMap(p => Seq(p - 1, p, p + 1)) ++
      Seq(0L, 1L, 31L, 32L, 33L, 63L, 64L, 65L, 127L, 128L)).distinct
    val all = (us ++ us.map(-_)).distinct.sorted
    val df = spark.createDataFrame(all.map(Tuple1(_))).toDF("u")
    val rows = df
      .select(col("u"), QuantileSketch.bucketOfU(col("u")).as("b"))
      .select(col("u"), col("b"),
        QuantileSketch.uLo(col("b")).as("lo"),
        QuantileSketch.uHi(col("b")).as("hi"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    rows.foreach { case (u, b, lo, hi) =>
      assert(lo <= u && u <= hi, s"u=$u bucket=$b bounds=[$lo,$hi]")
      // the driver-side Scala mirror (probe-bucket constants for
      // cdfBounds and the oracle) agrees with the Column expression
      assert(QuantileSketch.bucketOfULong(u) === b, s"mirror drift at u=$u")
    }
    // monotone: bucket never decreases as u increases
    rows.map(_._2).toSeq.sliding(2).foreach {
      case Seq(b1, b2) => assert(b1 <= b2)
      case _ =>
    }
    // relative width bound: past the exact region, bucket width ≤ 1/S
    // of the magnitude
    val S = QuantileSketch.QsSubBuckets
    rows.filter(r => math.abs(r._1) >= 2 * S).foreach { case (u, b, lo, hi) =>
      val width = hi - lo + 1
      val mag = math.min(math.abs(lo), math.abs(hi))
      assert(width * S <= mag + S,
        s"u=$u bucket=$b width=$width mag=$mag")
    }
  }

  test("quantile sketch: staged bucket chain equals bucketOfU on the boundary grid") {
    import graft.operators.QuantileSketch
    // the round-21 hot-path rewrite (withBucketStaged — named smear
    // columns instead of one exponentially-inlined tree) must be
    // bit-identical to the pinned bucketOfU Column on the same tricky
    // grid the monotonicity spec uses: powers of two ±1, the
    // exact-region edge, zero, negatives — plus a pseudo-random spray
    val pows = (0 to 61).map(1L << _)
    val us = (pows.flatMap(p => Seq(p - 1, p, p + 1)) ++
      Seq(0L, 1L, 31L, 32L, 33L, 63L, 64L, 65L, 127L, 128L) ++
      (1 to 200).map(i => (i.toLong * 2654435761L) % 9200000000000000L))
      .distinct
    val all = (us ++ us.map(-_)).distinct.sorted
    val df = spark.createDataFrame(all.map(Tuple1(_))).toDF("qs_u")
      .withColumn("tag", col("qs_u") % 7L)
    val got = QuantileSketch.withBucketStaged(df)
      .select(col("qs_u"), col("tag"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // pass-through columns survive; working qs_* columns are dropped
    assert(QuantileSketch.withBucketStaged(df).columns.toSeq ===
      Seq("qs_u", "tag", "bucket"))
    val want = df
      .select(col("qs_u"), col("tag"),
        QuantileSketch.bucketOfU(col("qs_u")).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got === want)
  }

  test("quantile sketch: shard merge exact; quantile interval contains the exact order statistic") {
    import graft.operators.QuantileSketch
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val full = QuantileSketch.sketch(ev, Seq("event_type"), "value")
    def rowsOf(df: DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // mergeability: three event_id shards, merged counters == one-shot
    val shards = (0 until 3).map(i =>
      QuantileSketch.sketch(ev.filter(col("event_id") % 3 === i),
        Seq("event_type"), "value"))
    assert(rowsOf(QuantileSketch.merge(shards, Seq("event_type")))
      === rowsOf(full))
    // calibration: the EXACT per-group order statistic lands inside
    // the sketch's reported micro-unit interval for every (group, pct)
    val exact = graft.operators.TextOps
      .groupedQuantiles(ev, "event_type", "value", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val qs = QuantileSketch.quantiles(full, Seq("event_type")).collect()
    assert(qs.nonEmpty)
    assert(qs.length === exact.size)
    qs.foreach { r =>
      val (g, pct) = (r.getString(0), r.getLong(1))
      val (ulo, uhi) = (r.getLong(3), r.getLong(4))
      val v = exact((g, pct))
      val u = math.floor(v * QuantileSketch.QsScale).toLong
      assert(ulo <= u && u <= uhi,
        s"group=$g pct=$pct exact=$v u=$u interval=[$ulo,$uhi]")
    }
    // fingerprint guard: a state from a different grid raises loudly
    val tampered = full.withColumn("qs_params_fp", col("qs_params_fp") + 1L)
    val ex = intercept[Exception] {
      QuantileSketch.quantiles(tampered, Seq("event_type")).collect()
    }
    assert(ex.getMessage.contains("qs_params_fp"))
    // CDF bounds: for every (group, probe), the EXACT below-probe and
    // at-or-below-probe counts land inside [rank_lo, rank_hi]
    val probes = Seq(-5.0, 0.0, 1.5, 100.0, 1e9)
    val raw = ev.filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val cdf = QuantileSketch.cdfBounds(full, Seq("event_type"), probes)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(cdf.nonEmpty)
    probes.foreach { p =>
      val fp = QuantileSketch.toMicro(p)
      raw.groupBy(_._1).foreach { case (g, vs) =>
        val us = vs.map(v => QuantileSketch.toMicro(v._2))
        val (n, lo, hi) = cdf((g, fp))
        assert(n === us.length.toLong)
        val lt = us.count(_ < fp).toLong
        val le = us.count(_ <= fp).toLong
        assert(lo <= lt && le <= hi,
          s"group=$g probe=$p lt=$lt le=$le bounds=[$lo,$hi]")
      }
    }
    // finiteness contract: NaN/±Infinity rows are excluded (no bucket
    // on the grid), so a poisoned corpus sketches identically to its
    // finite subset — batch and windowed forms alike
    val poisoned = ev.select(col("event_type"), col("ts"), col("value"))
      .unionByName(spark.range(3).select(
        lit("click").as("event_type"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        element_at(array(lit(Double.NaN), lit(Double.PositiveInfinity),
          lit(Double.NegativeInfinity)), (col("id") + 1).cast("int"))
          .as("value")))
    assert(rowsOf(QuantileSketch.sketch(poisoned, Seq("event_type"), "value"))
      === rowsOf(full))
    def wrows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(wrows(QuantileSketch.sketchWindowed(
        poisoned, Seq("event_type"), "value", "ts"))
      === wrows(QuantileSketch.sketchWindowed(
        ev, Seq("event_type"), "value", "ts")))
    // a FINITE value past the micro-unit range raises loudly — it is a
    // real measurement, so neither silent exclusion nor a saturated
    // bucket is acceptable
    val over = ev.select(col("event_type"),
      (col("value") + lit(1.0e13)).as("value"))
    val exOver = intercept[Exception] {
      QuantileSketch.sketch(over, Seq("event_type"), "value").collect()
    }
    assert(exOver.getMessage.contains("micro-unit"))
  }

  test("sourceVocabOverlap == brute top-k Jaccard counts") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "a b c d", "s1"), (2L, "a a b e", "s1"),
      (3L, "a b x y", "s2"), (4L, "x y z", "s2"),
      (5L, "p q", "s3"), (6L, "q r", "s3"),
      (7L, "isolated tokens only", "s4"))
    val docs = rows.toDF("doc_id", "text", "source")
    def brute(k: Int): Set[(String, String, Long, Long, Long)] = {
      val tops = rows.groupBy(_._3).view.mapValues { ds =>
        ds.flatMap(_._2.split(" ")).groupBy(identity)
          .view.mapValues(_.size).toSeq
          .sortBy { case (t, n) => (-n, t) }.take(k).map(_._1).toSet
      }.toMap
      (for {
        a <- tops.keys; b <- tops.keys if a < b
        sh = (tops(a) & tops(b)).size if sh > 0
      } yield (a, b, sh.toLong, tops(a).size.toLong, tops(b).size.toLong))
        .toSet
    }
    for (k <- Seq(2, 3, 100)) {
      val got = TextOps.sourceVocabOverlap(docs, k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      withClue(s"k=$k") { assert(got === brute(k)) }
    }
    // s4 shares nothing → appears in no pair
    val full = TextOps.sourceVocabOverlap(docs, 100).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(!full.exists(p => p._1 == "s4" || p._2 == "s4"))
    assert(full.nonEmpty)
  }

  test("quantile sketch: windowed batch == streaming; window merge == one-shot") {
    import graft.operators.QuantileSketch
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), "click", 250.25),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), "view", -0.5),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 11:06:00"), "view", 1.5))
      .toDF("event_id", "ts", "event_type", "value")
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = rows(QuantileSketch.sketchWindowed(
      ev, Seq("event_type"), "value", "ts"))
    assert(batch.nonEmpty && batch.map(_._1).size >= 2)
    // the SAME transform under Structured Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft-qs-stream").toString
    ev.write.mode("overwrite").parquet(dir)
    val q = QuantileSketch.sketchWindowed(
        spark.readStream.schema(ev.schema).parquet(dir)
          .withWatermark("ts", "2 hours"),
        Seq("event_type"), "value", "ts")
      .writeStream.format("memory").queryName("qs_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(rows(spark.table("qs_out")) === batch)
    } finally q.stop()
    // hourly windowed states merged == the one-shot (windowless) state
    val merged = QuantileSketch.merge(
        Seq(QuantileSketch.sketchWindowed(ev, Seq("event_type"), "value", "ts")
          .drop("window_epoch")),
        Seq("event_type"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val oneShot = QuantileSketch.sketch(ev, Seq("event_type"), "value")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(merged === oneShot)
  }

  test("groupedQuantiles at high group cardinality (prefix-sum offsets)") {
    // 600 groups spread over the 32 range partitions: the old nested
    // offset scan was quadratic in |partitions × occupied groups| on
    // the driver; the prefix-sum build is one sorted pass. Same
    // brute-force contract as the base test, at the cardinality the
    // docstring now explicitly tolerates.
    val rows = Seq.tabulate(6000) { i =>
      (i.toLong, s"g${i % 600}",
        java.lang.Double.valueOf((i * 7919 % 1000) / 3.0))
    }
    val df = spark.createDataFrame(rows).toDF("event_id", "event_type", "value")
    val brute: Set[(String, Long, Double)] =
      rows.groupBy(_._2).flatMap { case (g, rs) =>
        val sorted = rs.map(r => (r._3.doubleValue, r._1)).sorted
        TextOps.QuantilePcts.map { p =>
          val r = math.max(1L, (p.toLong * sorted.size + 99L) / 100L)
          (g, p.toLong, sorted((r - 1).toInt)._1)
        }
      }.toSet
    val got = TextOps.groupedQuantiles(df, "event_type", "value", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute)
  }

  test("contaminationBloom == contamination (prefilter loses nothing real)") {
    // real corpus slice: probes = docs < 10 screened against the rest
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val probes = docs.filter(col("doc_id") < 10)
    def m(df: DataFrame) = df.filter(col("doc_id") >= 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = m(TextOps.contamination(docs, probes))
    val bloom = m(TextOps.contaminationBloom(docs, probes))
    assert(bloom === exact)
    assert(exact.nonEmpty) // the comparison must not be vacuous
    // disjoint corpora: nothing survives the prefilter or the join
    val a = docsDf((1L, "aa bb cc dd ee"), (2L, "ff gg hh ii jj"))
    val b = docsDf((10L, "kk ll mm nn oo"))
    assert(TextOps.contaminationBloom(a, b).count() === 0L)
  }

  test("funnelStateful == funnel on fixtures and random streams (incl. empty stages)") {
    import graft.streaming.EventWindows
    def cmp(df: org.apache.spark.sql.DataFrame, stages: Seq[String]): Unit = {
      val a = EventWindows.funnel(df, stages).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      val b = EventWindows.funnelStateful(spark, df, stages).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(a === b, s"join=$a state=$b")
    }
    val rng = new scala.util.Random(53)
    (1 to 3).foreach { _ =>
      val evs = Seq.fill(250)((rng.nextInt(15).toLong,
        new java.sql.Timestamp(rng.nextInt(40).toLong * 1000L),
        Seq("a", "b", "c", "x")(rng.nextInt(4))))
      cmp(spark.createDataFrame(evs).toDF("user_id", "ts", "event_type"),
        Seq("a", "b", "c"))
    }
    // a stage no user ever reaches must appear as an explicit 0 row
    val tiny = spark.createDataFrame(Seq(
      (1L, new java.sql.Timestamp(0L), "a"))).toDF("user_id", "ts", "event_type")
    cmp(tiny, Seq("a", "b"))
    val z = EventWindows.funnelStateful(spark, tiny, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(z === Seq((0L, "a", 1L), (1L, "b", 0L)))
  }

  test("property: retention == brute force on random activity") {
    import graft.streaming.EventWindows
    val rng = new scala.util.Random(47)
    (1 to 3).foreach { _ =>
      val evs = Seq.fill(200)((rng.nextInt(15).toLong, rng.nextInt(20)))
      def brute(mx: Long): Map[(Long, Long), Long] = {
        val days = evs.map { case (u, d) => (u, d.toLong) }.distinct
        val cohort = days.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
        days.map { case (u, d) => (cohort(u), d - cohort(u)) }
          .filter(_._2 <= mx)
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
      }
      val df = spark.createDataFrame(evs.map { case (u, d) =>
        (u, new java.sql.Timestamp(d * 86400000L + 7200000L))
      }).toDF("user_id", "ts")
      Seq(0L, 7L, 30L).foreach { mx =>
        val got = EventWindows.retention(df, mx).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        withClue(s"mx=$mx evs=${evs.take(20)}...") { assert(got === brute(mx)) }
      }
    }
  }

  test("retention: first-day cohorts, one count per active day, offset cap") {
    import graft.streaming.EventWindows
    val day = 86400000L // ms
    def ev(u: Long, d: Int, ms: Long) =
      (u, new java.sql.Timestamp(d * day + ms))
    val events = spark.createDataFrame(Seq(
      // u1: days 0,1,9 (9 beyond the offset cap of 7); three same-day
      // events on day 0 count once; u2: days 1,2; u3: day 0 only
      ev(1L, 0, 0L), ev(1L, 0, 5000L), ev(1L, 0, 9000L), ev(1L, 1, 0L),
        ev(1L, 9, 0L),
      ev(2L, 1, 100L), ev(2L, 2, 200L),
      ev(3L, 0, 50L))).toDF("user_id", "ts")
    val got = EventWindows.retention(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, 0L) -> 2L, // cohort day0: u1, u3
      (0L, 1L) -> 1L, // u1 back on day 1
      (1L, 0L) -> 1L, // cohort day1: u2
      (1L, 1L) -> 1L)) // u2 back on day 2
  }

  test("hourlyUsersHll: per-hour state == global sketch of that hour's slice") {
    import graft.streaming.EventWindows
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(offsetMin: Int) =
      new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    // hour A: users 1,2,2,3 — hour B: users 2,4
    val events = spark.createDataFrame(Seq(
      (1L, ts(0)), (2L, ts(5)), (2L, ts(59)), (3L, ts(30)),
      (2L, ts(70)), (4L, ts(90)))).toDF("user_id", "ts")
    val got = EventWindows.hourlyUsersHll(events).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.size === 2)
    // the same kernel run globally over one hour's slice must agree —
    // grouping only partitions the stream, it never changes a state
    def globalState(users: Seq[Long]) = {
      val docs = docsDf(users.zipWithIndex.map { case (u, i) =>
        (i.toLong, u.toString) }: _*)
      val r = TextOps.vocabHll(docs).collect()(0)
      (r.getLong(1), r.getLong(2))
    }
    // resolve hour keys from the result (timezone-agnostic): the two
    // hours are adjacent, first = users {1,2,3}, second = {2,4}
    val Seq(hourA, hourB) = got.keySet.toSeq.sorted
    assert(hourB === hourA + 3600)
    assert(got(hourA) === globalState(Seq(1L, 2L, 2L, 3L)))
    assert(got(hourB) === globalState(Seq(2L, 4L)))
  }

  test("salientTerms == driver-side integer tf-idf brute force") {
    val rows = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana date"),
      (3L, "apple date date date"),
      (4L, "unique"))
    def brute(k: Int): Set[(Long, String, Long)] = {
      val tf = rows.flatMap { case (id, t) =>
        t.split("\\s+").groupBy(identity).map { case (w, o) => (id, w, o.length.toLong) }
      }
      val df = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      tf.map { case (id, w, f) => (id, w, f * TextOps.TfidfScale / df(w)) }
        .groupBy(_._1).flatMap { case (_, ts) =>
          ts.sortBy(t => (-t._3, t._2)).take(k)
        }.toSet
    }
    val got = TextOps.salientTerms(docsDf(rows: _*), k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === brute(2))
    // 'unique' (df=1) scores a full TfidfScale — the idf ceiling
    assert(got.contains((4L, "unique", TextOps.TfidfScale)))
  }

  test("cmsTokens: counters sum to total tokens; sketches merge by addition") {
    val a = docsDf((1L, "x y x"), (2L, "y z"))
    val b = docsDf((3L, "z z w"))
    def m(df: DataFrame) = TextOps.cmsTokens(df, width = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (ma, mb) = (m(a), m(b))
    // every row of the sketch accounts for every token occurrence
    (0 until TextOps.CmsDepth).foreach { i =>
      assert(ma.collect { case ((r, _), c) if r == i => c }.sum === 5L)
    }
    // merged corpus sketch == counter-wise sum of the shard sketches
    val merged = m(a.unionByName(b))
    val added = (ma.keySet ++ mb.keySet).map(k =>
      k -> (ma.getOrElse(k, 0L) + mb.getOrElse(k, 0L))).toMap
    assert(merged === added)
  }

  test("cmsTokens runs unchanged on a stream: complete-mode state == batch") {
    // the sketch IS a streaming aggregation — same code path at ingest
    // time; counters in the state store, no text retained
    val docs = docsDf((1L, "x y x"), (2L, "y z w"), (3L, "z z"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)
    val batch = TextOps.cmsTokens(docs, width = 8).collect().map(key).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    docs.write.mode("overwrite").parquet(dir)
    val streamIn = spark.readStream.schema(docs.schema).parquet(dir)
    val q = TextOps.cmsTokens(streamIn, width = 8)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select row_idx, bucket, cnt from cms_stream")
        .collect().map(key).toMap
      assert(streamed === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("cmsEstimateTopK: estimates never undercount, exact at ample width") {
    val docs = docsDf((0 until 30).map(i =>
      (i.toLong, s"tok$i common ${if (i % 2 == 0) "even" else "odd"}")): _*)
    // width 4 forces collisions among 33 distinct tokens
    val tight = TextOps.cmsEstimateTopK(docs, k = 10, width = 4).collect()
    assert(tight.length === 10)
    tight.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"token ${r.getString(0)}: est ${r.getLong(2)} < exact ${r.getLong(1)}")
    }
    // a comfortably wide sketch of a tiny vocabulary collides nowhere,
    // so every estimate is exact — and the top token is 'common' (30)
    val wide = TextOps.cmsEstimateTopK(docs, k = 10, width = 4096).collect()
    wide.foreach(r => assert(r.getLong(2) === r.getLong(1)))
    val common = wide.find(_.getString(0) == "common").get
    assert(common.getLong(1) === 30L)
  }

  test("hourlySliding: every event lands in exactly 60/slide windows; slide=60 == tumbling") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val events = (1 to 200).map { i =>
      (i.toLong, new java.sql.Timestamp(rnd.nextInt(20000000) * 1000L),
        if (i % 2 == 0) "a" else "b")
    }.toDF("event_id", "ts", "event_type")
    val slid = graft.streaming.EventWindows.hourlySliding(events).collect()
    assert(slid.map(_.getLong(2)).sum === 4L * 200)
    // epoch-aligned 15-min grid
    slid.foreach(r => assert(r.getLong(0) % 900L === 0L))
    // slide = 60 min degenerates to the tumbling hourly counts
    val tumb = graft.streaming.EventWindows.hourlySliding(events, 60).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val hourly = events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count().collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime / 1000L,
        r.getString(1)) -> r.getLong(2)).toMap
    assert(tumb === hourly)
  }

  test("hourlySliding runs unchanged on a stream: complete-mode state == batch") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val events = (1 to 120).map { i =>
      (i.toLong, new java.sql.Timestamp(rnd.nextInt(10000000) * 1000L),
        if (i % 3 == 0) "a" else "b")
    }.toDF("event_id", "ts", "event_type")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1)) -> r.getLong(2)
    val batch = graft.streaming.EventWindows.hourlySliding(events)
      .collect().map(key).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-slide").toString
    events.write.mode("overwrite").parquet(dir)
    val q = graft.streaming.EventWindows.hourlySliding(
        spark.readStream.schema(events.schema).parquet(dir))
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "select win_epoch, event_type, n_events from slide_stream")
        .collect().map(key).toMap
      assert(streamed === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("pairSourceMatrix: canonical source pairs, counts per cell") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "s2"), (2L, "s1"), (3L, "s1"), (4L, "s3"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 4L), (2L, 1L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.pairSourceMatrix(pairs, docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (1,2) and (2,1) both canonicalize to (s1, s2)
    assert(out === Map(("s1", "s2") -> 2L, ("s1", "s1") -> 1L,
      ("s2", "s3") -> 1L))
  }

  test("qualityDeciles: balanced 0..9 stamp, best-quality doc in the top bucket") {
    val docs = docsDf((1L to 40L).map(i =>
      (i, Seq.fill(i.toInt)("word").mkString(" "))): _*)
    val out = TextOps.qualityDeciles(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 40)
    val byDecile = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDecile.keySet === (0L to 9L).toSet)
    byDecile.values.foreach(c => assert(c === 4))
    // quality grows with token count up to the 100-token cap, so doc
    // 40 (longest here) must sit in the top decile and doc 1 in the
    // bottom
    assert(out.toMap.apply(40L) === 9L)
    assert(out.toMap.apply(1L) === 0L)
  }

  test("bpePairCounts: frequency-weighted char bigrams, 1-char words excluded") {
    // 'aaab' (f=2) contributes aa twice per occurrence; 'x' (1 char)
    // contributes nothing
    val docs = docsDf((1L, "aaab cd x"), (2L, "aaab x"))
    val out = TextOps.bpePairCounts(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("aa", 4L), ("ab", 2L), ("cd", 1L)))
  }

  test("docKnn == brute-force rare-shingle Jaccard top-k on random docs") {
    val rnd = new scala.util.Random(13081426)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val docs = (1L to 40L).map { i =>
      val len = 4 + rnd.nextInt(10)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 3
    val maxDf = 10L
    // driver-side reference on exact string shingles (operator hashes
    // them — equal modulo a ~1e-9 PolyHash collision)
    val sh = docs.map { case (id, text) =>
      id -> text.split("\\s+").filter(_.nonEmpty).sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val df = sh.values.flatten.groupBy(identity).map { case (s, o) => (s, o.size) }
    val rare = df.collect { case (s, d) if d <= maxDf => s }.toSet
    val ids = docs.map(_._1)
    val expect = ids.flatMap { a =>
      val cands = ids.filter(b => b != a && (sh(a) & sh(b) & rare).nonEmpty)
      val scored = cands.map { b =>
        val shared = (sh(a) & sh(b)).size.toLong
        val union = sh(a).size + sh(b).size - shared
        (b, shared, union, shared * 1000000L / union)
      }
      scored.sortBy(t => (-t._4, t._1)).take(k).zipWithIndex.map {
        case ((b, s, u, j), i) => (a, i + 1L, b, s, u, j)
      }
    }.toSet
    val got = Dedup.docKnn(docsDf(docs: _*), k = k, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got === expect)
  }

  test("mediaDedup: identical payloads collapse to the min-id survivor") {
    val media = operators.Multimodal.mediaTable(docsDf(
      (1L, "same bytes"), (2L, "same bytes"), (5L, "same bytes"),
      (3L, "unique"), (4L, "")))
    val out = operators.Multimodal.mediaDedup(media).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // (survivor, n_bytes, n_copies): 1 survives its 3-copy group
    assert(out === Set((1L, 10L, 3L), (3L, 6L, 1L), (4L, 0L, 1L)))
  }

  test("importanceWeights: target-heavy tokens outscore raw-only; empty doc scores 0") {
    // target = docs 1,2. 'tgt' appears only in target docs, 'raw'
    // only outside, 'both' everywhere — so a doc of 'tgt' must
    // outscore a doc of 'both' must outscore a doc of 'raw'.
    val docs = docsDf(
      (1L, "tgt tgt both"), (2L, "tgt both"),
      (3L, "raw raw both"), (4L, "raw both"),
      (5L, "tgt"), (6L, "raw"), (7L, "both"), (8L, ""))
    val out = TextOps.importanceWeights(docs, col("doc_id") <= 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(8L) === ((0L, 0L)), "empty doc must score 0 over 0 tokens")
    val (pureTgt, pureBoth, pureRaw) = (out(5L)._2, out(7L)._2, out(6L)._2)
    assert(pureTgt > pureBoth && pureBoth > pureRaw,
      s"ordering violated: tgt=$pureTgt both=$pureBoth raw=$pureRaw")
    // mean-of-buckets: mixed docs sit between their pure extremes
    assert(out(1L)._2 > out(3L)._2)
    assert(out(1L)._2 <= pureTgt && out(3L)._2 >= pureRaw)
    // deterministic under re-evaluation
    val again = TextOps.importanceWeights(docs, col("doc_id") <= 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again === out)
  }

  test("knnGraph: self-free, rank-contiguous, pair-symmetric cosines, clustered recall") {
    // the clustered corpus from the trained-IVF tests: bucket-mates
    // collide on bands, so the kNN graph should mostly stay in-cluster
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val g = Similarity.knnGraph(emb, corpusSize = 2000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // no self rows; at most k per query; ranks contiguous from 1
    assert(g.forall { case (q, _, n, _) => q != n })
    g.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= Similarity.DefaultK)
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length).map(_.toLong),
        s"query $q ranks not contiguous")
    }
    // mirrored pairs carry the identical cosine (scored once, mirrored)
    val cosOf = g.map { case (q, _, n, c) => ((q, n), c) }.toMap
    g.foreach { case (q, _, n, c) =>
      cosOf.get((n, q)).foreach(c2 => assert(c2 === c,
        s"asymmetric cosine for ($q,$n)"))
    }
    // recall@k vs the all-queries brute-force graph: the clustered
    // corpus is the favorable case for banded LSH — require a real
    // floor plus a collapse guard (mirrors the knn_recall_lsh pins)
    val truth = Similarity.knnBrute(emb, nQueries = 2000L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = g.map { case (q, _, n, _) => (q, n) }.toSet
    val recall = (approx & truth).size.toDouble / truth.size
    assert(recall >= 0.3, s"knnGraph clustered-corpus recall $recall < 0.3")
  }

  test("profile: nulls, distincts, numeric/string/timestamp views, empty edge") {
    val s = spark
    import s.implicits._
    val df = Seq[(java.lang.Long, String, java.lang.Long)](
        (1L, "a", 10L), (2L, "a", 10L), (3L, null, 30L),
        (null, "b", null), (5L, "b", 10L))
      .toDF("id", "tag", "v")
      .withColumn("ts", when(col("v").isNotNull,
        timestamp_micros(col("v") * 1000000L)))
    val p = operators.Profile.profile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(p("id") === ((5L, 1L, 4L, Some(1.0), Some(5.0))))
    assert(p("tag") === ((5L, 1L, 2L, None, None)))
    assert(p("v") === ((5L, 1L, 2L, Some(10.0), Some(30.0))))
    // timestamp profiles as epoch micros
    assert(p("ts") === ((5L, 1L, 2L, Some(1.0e7), Some(3.0e7))))
    // column subset + unknown-column raise
    val sub = operators.Profile.profile(df, Seq("tag")).collect()
    assert(sub.length === 1 && sub.head.getString(0) === "tag")
    intercept[IllegalArgumentException] {
      operators.Profile.profile(df, Seq("nope"))
    }
    // empty input → empty profile (the HAVING-aligned edge)
    assert(operators.Profile.profile(df.filter(lit(false))).count() === 0L)
  }

  test("expectations: ratio/unique metrics, failing rules, empty + guards") {
    val s = spark
    import s.implicits._
    import operators.Profile.{RatioExpectation, UniqueExpectation}
    val df = Seq[(java.lang.Long, String)](
        (1L, "a"), (2L, "b"), (2L, null), (4L, "d"))
      .toDF("id", "tag")
    val suite = Seq(
      RatioExpectation("tag_not_null", col("tag").isNotNull),
      UniqueExpectation("id_unique", "id"),
      RatioExpectation("id_small", col("id") <= 2L, thresholdPpm = 500000L))
    val got = operators.Profile.expectations(df, suite).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 3/4 non-null tags → 750000 ppm, fails the 1e6 bar
    assert(got("tag_not_null") === ((750000L, 1000000L, 0L)))
    // 3 distinct ids over 4 rows → 750000 ppm, fails
    assert(got("id_unique") === ((750000L, 1000000L, 0L)))
    // 3/4 ids ≤ 2... ids (1,2,2) → 750000 ≥ 500000 passes
    assert(got("id_small") === ((750000L, 500000L, 1L)))
    // empty input → vacuous pass on every rule
    val empty = operators.Profile.expectations(
      df.filter(lit(false)), suite).collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(empty === Set((1000000L, 1L)))
    // guards: empty suite, duplicate rule, bad name, bad threshold,
    // unknown unique column
    intercept[IllegalArgumentException] {
      operators.Profile.expectations(df, Nil)
    }
    intercept[IllegalArgumentException] {
      operators.Profile.expectations(df, Seq(
        RatioExpectation("x", lit(true)), RatioExpectation("x", lit(true))))
    }
    intercept[IllegalArgumentException] {
      operators.Profile.expectations(df,
        Seq(RatioExpectation("Bad Name", lit(true))))
    }
    intercept[IllegalArgumentException] {
      operators.Profile.expectations(df,
        Seq(RatioExpectation("x", lit(true), thresholdPpm = 2000000L)))
    }
    intercept[IllegalArgumentException] {
      operators.Profile.expectations(df,
        Seq(UniqueExpectation("u", "nope")))
    }
    // the documents fixture passes wholesale on the clean test corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fixture = operators.Profile.docsExpectations(docs).collect()
    assert(fixture.length === 7 && fixture.forall(_.getLong(3) === 1L))
  }

  test("eventsExpectations: finite-value + window rules catch each dirt class") {
    val s = spark
    import s.implicits._
    // 8 rows, one dirt class each: NaN value, +Inf value, null value,
    // pre-window ts, post-window ts, unknown type, duplicate
    // event_id, null user_id — plus one fully clean row
    val inWin = operators.Profile.EventsWindowStart + 86400L
    def r(id: java.lang.Long, ts: Long, uid: java.lang.Long, ty: String,
          v: java.lang.Double) = (id, ts, uid, ty, v)
    val df = Seq(
        r(1L, inWin, 10L, "click", 1.0),
        r(2L, inWin, 10L, "view", Double.NaN),
        r(3L, inWin, 10L, "purchase", Double.PositiveInfinity),
        r(4L, inWin, 10L, "signup", null),
        r(5L, operators.Profile.EventsWindowStart - 1L, 10L, "error", 1.0),
        r(6L, operators.Profile.EventsWindowEnd, 10L, "click", 1.0),
        r(7L, inWin, 10L, "hover", 1.0),
        r(7L, inWin, null, "view", 1.0))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val got = operators.Profile.eventsExpectations(df).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(3)))).toMap
    assert(got("event_id_not_null") === ((1000000L, 1L)))
    assert(got("event_id_unique") === ((875000L, 0L)))   // 7 distinct / 8
    assert(got("user_id_not_null") === ((875000L, 0L)))
    assert(got("type_known") === ((875000L, 0L)))        // "hover" fails
    assert(got("value_finite") === ((625000L, 0L)))      // NaN, Inf, null
    assert(got("ts_in_window") === ((750000L, 0L)))      // boundary is half-open
    // the fixture passes wholesale on the clean test corpus (loaded
    // through Tables.events — the NTZ→UTC ts normalization is part of
    // the contract the window rule assumes)
    val ev = sources.Tables.table(spark, "/root/testdata/sf0.001", "events")
    val clean = operators.Profile.eventsExpectations(ev).collect()
    assert(clean.length === 6 && clean.forall(_.getLong(3) === 1L))
  }

  test("tfidfHashed == brute signed feature hashing; zero-sums dropped") {
    val s = spark
    import s.implicits._
    import graft.functions.PolyHashUtil
    import org.apache.spark.unsafe.types.UTF8String
    def ph(t: String, mult: Long, mod: Long): Long =
      PolyHashUtil.hash(UTF8String.fromString(t), mult, mod)
    // doc 4 plants an exact cancellation at dims=7: "aaaaa"/"aaabc"
    // share dim 3 with opposite signs and equal tf·idf — the (4, 3)
    // row must be DROPPED there (and survive at dims=2, where their
    // dims differ)
    val docs = Seq(
        (0L, "aa bb aa cc"), (1L, "bb cc dd"), (2L, "aa"), (3L, ""),
        (4L, "aaaaa aaabc"))
      .toDF("doc_id", "text")
    for (dims <- Seq(2, 7)) {   // dims=2 forces collisions
      val toks = Map(0L -> Seq("aa", "bb", "aa", "cc"),
        1L -> Seq("bb", "cc", "dd"), 2L -> Seq("aa"), 3L -> Seq(),
        4L -> Seq("aaaaa", "aaabc"))
      val n = toks.size.toLong
      val df = toks.values.flatMap(_.distinct).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      def idfBits(d: Long): Long =
        java.lang.Long.toBinaryString((2L * (n - d) + 1L) / (2L * d + 1L)
          + 1L).length.toLong
      val want = toks.toSeq.flatMap { case (id, ts) =>
        ts.groupBy(identity).toSeq.map { case (t, occ) =>
          val sign = 1L - 2L * (ph(t, PolyHashUtil.Mult2,
            PolyHashUtil.Mod2) % 2L)
          ((id, ph(t, PolyHashUtil.Mult, PolyHashUtil.Mod) % dims),
            sign * occ.size.toLong * idfBits(df(t)))
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        .filter(_._2 != 0L)
      val got = operators.TextOps.tfidfHashed(docs, dims = dims).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      withClue(s"dims=$dims") { assert(got === want) }
      // the planted cancellation: doc 4 vanishes at dims=7 only
      withClue(s"dims=$dims") {
        assert(got.keys.exists(_._1 == 4L) === (dims == 2))
      }
    }
    intercept[IllegalArgumentException] {
      operators.TextOps.tfidfHashed(docs, dims = 1)
    }
  }

  test("profileHll: estimates track exact distincts; doubles refused") {
    val s = spark
    import s.implicits._
    val df = spark.range(2000).select(col("id").as("k"),
      (col("id") % 37L).as("rep"),
      concat(lit("v"), col("id") % 500L).as("tag"))
    // the vocabHllEstimate consumer contract: linear-counting
    // correction in the small range, raw estimator past it
    def corrected(r: org.apache.spark.sql.Row): Double = {
      val m = r.getLong(1).toDouble
      val v = r.getLong(2).toDouble
      val raw = r.getDouble(4)
      if (raw <= 2.5 * m && v > 0.0) m * math.log(m / v) else raw
    }
    val got = operators.Profile.profileHll(df).collect()
      .map(r => r.getString(0) -> corrected(r)).toMap
    // 512-bucket HLL: ~5% typical error; assert a generous 25% band
    def near(est: Double, exact: Long) =
      est > exact * 0.75 && est < exact * 1.25
    assert(near(got("k"), 2000L), s"k est ${got("k")}")
    assert(near(got("rep"), 37L), s"rep est ${got("rep")}")
    assert(near(got("tag"), 500L), s"tag est ${got("tag")}")
    // deterministic across evaluations (pure function of the data)
    val again = operators.Profile.profileHll(df).collect()
      .map(r => r.getString(0) -> corrected(r)).toMap
    assert(again === got)
    // engine-unstable renderings are refused, not silently profiled
    intercept[IllegalArgumentException] {
      operators.Profile.profileHll(df.withColumn("d", col("k") * 0.5))
    }
  }

  test("sampleByQuality: clamp arithmetic, coin agreement, determinism, floors") {
    val s = spark
    import s.implicits._
    val docs = docsDf((1L, ""), (2L, "tiny"),
      (3L, Seq.fill(60)("the quick brown fox jumps").mkString(" ")),
      (4L, Seq.fill(200)("assorted high volume filler words here").mkString(" ")),
      (5L, "a b c d e f g h i j k l m n o p q r s t"))
    val out = TextOps.sampleByQuality(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // keep_ppm must equal clamp(floor(quality·1e6)) of the quality op
    val q = TextOps.quality(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val floorPpm = TextOps.SampleFloorPpm
    def ppm(d: Double) =
      math.max(floorPpm, math.min(1000000L, math.floor(d * 1000000.0).toLong))
    out.foreach { case (id, kp) => assert(kp === ppm(q(id)), s"doc $id") }
    // the coin: kept set == {coin < keep_ppm} with the same salted hash
    val coins = docs.select(col("doc_id"),
        (graft.functions.PolyHashFunctions.poly_hash(
          concat(col("doc_id").cast("string"), lit(":smp"))) % 1000000L)
          .as("coin")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantKept = q.keySet.filter(id => coins(id) < ppm(q(id)))
    assert(out.keySet === wantKept)
    // floorPpm = 1e6 keeps everything; determinism across evaluations
    assert(TextOps.sampleByQuality(docs, floorPpm = 1000000L).count() === 5L)
    val again = TextOps.sampleByQuality(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === out)
    intercept[IllegalArgumentException] {
      TextOps.sampleByQuality(docs, floorPpm = 1000001L)
    }
  }

  test("cosineHistogram == brute binning of the candidate pairs; NaN excluded") {
    val s = spark
    import s.implicits._
    val emb = spark.range(300).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
      // one zero vector: its candidate cosines are NaN and must not bin
      .unionByName(Seq((999L, Seq.fill(16)(0.0f))).toDF("vec_id", "embedding"))
    val pairs = Similarity.nearDupPairs(emb, threshold = -1.0,
        corpusSize = 301L).collect().map(_.getDouble(2))
    val finite = pairs.filterNot(_.isNaN)
    val want = finite.map(c => math.min(19L,
        math.floor((c + 1.0) * 10.0).toLong))
      .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val got = Similarity.cosineHistogram(emb, corpusSize = 301L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(g => g._1 -> g._2).toMap === want)
    // n_ge is the suffix sum: at each bin, pairs at-or-above it
    got.foreach { case (b, _, ge) =>
      assert(ge === want.filter(_._1 >= b).values.sum, s"bin $b")
    }
    assert(got.map(_._2).sum === finite.length.toLong)
  }

  test("labelPropagation == brute synchronous simulation; cliques collapse") {
    val s = spark
    import s.implicits._
    // two 4-cliques bridged by one edge: each clique must adopt its
    // own min id, and the bridge must not merge them in 4 rounds
    val cliqueA = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val fix = (cliqueA ++ cliqueB :+ ((3L, 10L))).toDF("src", "dst")
    val got = operators.GraphOps.labelPropagation(fix).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 3L).foreach(v => assert(got(v) === 0L, s"vertex $v"))
    (10L to 13L).foreach(v => assert(got(v) === 10L, s"vertex $v"))
    // brute twin of the exact rule on a random digraph
    val rnd = new scala.util.Random(813)
    val redges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val sym = redges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    (1 to operators.GraphOps.LpaRounds).foreach { _ =>
      lab = adj.map { case (u, vs) =>
        val byLab = vs.map(lab).groupBy(identity)
          .map { case (l, xs) => (l, xs.length) }
        u -> byLab.toSeq.maxBy { case (l, n) => (n.toLong, -l) }._1
      }
    }
    val gotR = operators.GraphOps.labelPropagation(
        redges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotR === lab)
  }

  test("hits == brute fixed-point simulation; star ranks hub over leaves") {
    val s = spark
    import s.implicits._
    // star: 0 → 1..5 plus a stray 1 → 2. Vertex 0 must be the top
    // hub with zero authority; leaves carry the authority mass
    val star = ((1L to 5L).map(v => (0L, v)) :+ ((1L, 2L))).toDF("src", "dst")
    val got = operators.GraphOps.hits(star).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L)._1 > got(1L)._1 && got(0L)._2 === 0L)
    assert(got(2L)._2 > got(3L)._2) // 2 has two in-links
    assert((3L to 5L).map(got(_)._2).distinct.size === 1)
    // brute twin of the exact integer rule on a random digraph
    val rnd = new scala.util.Random(996)
    val redges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val ed = redges.filter(e => e._1 != e._2).distinct
    val vs = ed.flatMap(e => Seq(e._1, e._2)).distinct
    val scale = operators.GraphOps.HitsScale
    var hub = vs.map(_ -> 1L).toMap
    var auth = Map.empty[Long, Long]
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val full = vs.map(v => v -> raw.getOrElse(v, 0L)).toMap
      val tot = full.values.sum
      full.map { case (v, x) => v -> (if (tot == 0L) 0L else x * scale / tot) }
    }
    (1 to operators.GraphOps.HitsRounds).foreach { _ =>
      auth = norm(ed.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => hub(e._1)).sum })
      hub = norm(ed.groupBy(_._1).map { case (v, es) =>
        v -> es.map(e => auth(e._2)).sum })
    }
    val gotR = operators.GraphOps.hits(ed.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotR === vs.map(v => v -> ((hub(v), auth(v)))).toMap)
    // local fast path ≡ the distributed loop (SmallInput.scoped(0)
    // forces the loop — the SCC forcing discipline)
    assert(SmallInput.scoped(0L)(
        operators.GraphOps.hits(ed.toDF("src", "dst"))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      === gotR)
  }

  test("componentSizes: size histogram conserves vertices") {
    val s = spark
    import s.implicits._
    // components: {1,2,3} {10,11} {20,21} {30}
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
        (20L, 20L), (21L, 20L), (30L, 30L))
      .toDF("vertex", "component")
    val h = operators.GraphOps.componentSizes(labels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(3L -> 1L, 2L -> 2L, 1L -> 1L))
    assert(h.map { case (sz, n) => sz * n }.sum === 8L)
  }

  test("mutualKnn == reciprocated subset of the graph, canonical, hub edges dropped") {
    val emb = spark.range(400).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> cast(" +
        "pmod(hash(id % 25 * 16 + i), 1000) / 499.5 - 1.0 + " +
        "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
        .as("embedding"))
    val graph = Similarity.knnGraph(emb, corpusSize = 400L)
    val dir = graph.collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    val dirSet = dir.map(_._1).toSet
    val got = Similarity.mutualKnn(graph).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // exactly the reciprocated unordered pairs, canonical lo < hi,
    // carrying the (symmetric) cosine of the directed relation
    val want = dir.filter { case ((a, b), _) =>
      a < b && dirSet((b, a)) }.toMap
    assert(got.toMap === want)
    assert(got.map(_._1).distinct.length === got.length)
    // one-way edges exist in a real kNN graph (hubness) — the filter
    // must actually drop something, or this test pins nothing
    assert(want.size < dirSet.size / 2,
      s"fixture has no one-way edges to drop (${want.size} vs ${dirSet.size})")
  }

  test("docs_curation composes exactly from its three gated stages") {
    val d = "/root/testdata/sf0.001"
    def run(q: String) =
      try SparkEntry.queries(q)(spark, d).collect()
      finally Caches.clear(spark)
    val cur = run("docs_curation")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val surv = run("dedup_survivors_best").map(_.getLong(0)).toSet
    val smp = run("text_sample_quality")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = run("text_split_leakage")
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = smp.keySet.intersect(surv)
      .map(id => id -> ((split(id), smp(id)))).toMap
    assert(cur === want)
    assert(cur.nonEmpty, "composition produced an empty corpus")
  }

  test("hashSplitLeakageFree: clusters never straddle, singletons == hashSplit") {
    val s = spark
    import s.implicits._
    // three exact-duplicate families + two singletons: ngramJaccard
    // pairs every family internally
    val fam = (0L until 9L).map(i => (i, s"shared dup family text ${i / 3} " +
      "with enough tokens to shingle and verify"))
    val singles = Seq((100L, "completely unrelated singleton alpha beta gamma"),
      (101L, "another lonely document delta epsilon zeta eta"))
    val docs = docsDf((fam ++ singles): _*)
    val clusters = Dedup.dupClusters(Dedup.ngramJaccard(docs))
    val split = TextOps.hashSplitLeakageFree(docs, clusters).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size === 11)
    // every cluster lands on ONE side
    val cl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
    cl.groupBy(_._2).foreach { case (root, members) =>
      val sides = members.map(m => split(m._1)).distinct
      assert(sides.length === 1, s"cluster $root straddles: $sides")
    }
    // docs outside every cluster keep hashSplit's own assignment
    val solo = TextOps.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(100L, 101L).foreach(id => assert(split(id) === solo(id)))
    // and a cluster's side IS its root's hashSplit side
    cl.foreach { case (id, root) => assert(split(id) === solo(root)) }
  }

  test("knnFiltered: pre-filter fills k where post-filtering would starve") {
    val s = spark
    import s.implicits._
    import operators.Similarity
    // query 0 at e0; vec 1-6 nearly parallel to it but DISALLOWED;
    // 10-12 allowed, progressively farther. Post-filtering a top-3 of
    // the unrestricted corpus would keep zero allowed rows; the
    // pre-filtered operator must return exactly the 3 allowed ids in
    // distance order.
    def v(main: Int, eps: Float) =
      Array.tabulate(8)(i => (if (i == 0) 1f else 0f) + (if (i == main % 8) eps else 0f))
    val emb = (Seq(0L -> v(0, 0f)) ++
      (1L to 6L).map(i => i -> v(i.toInt, 0.01f)) ++
      Seq(10L -> v(1, 0.3f), 11L -> v(2, 0.6f), 12L -> v(3, 0.9f)))
      .toDF("vec_id", "embedding")
    val docs = emb.select(col("vec_id").as("doc_id"),
      when(col("vec_id") >= 10, "en").otherwise("zz").as("lang"))
    val got = Similarity.knnFiltered(emb, docs, col("lang") === "en",
        k = 3, nQueries = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1L, 10L), (0L, 2L, 11L), (0L, 3L, 12L)))
  }

  test("knn_filtered_recall floor on sf0.001 — the filtered path's honesty bar") {
    import operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val pred = col("lang") === "en"
    val gate = Similarity.recallAtK(
      Similarity.knnIvfFiltered(emb, docs, pred),
      Similarity.knnFiltered(emb, docs, pred)).collect()(0)
    assert(gate.getLong(2) === 50L) // 10 queries × k=5 exact pairs
    assert(gate.getDouble(3) >= 0.3,
      s"knn_filtered_recall fell below floor: ${gate.getDouble(3)}")
  }

  test("knnIvfFiltered: TRUE-predicate identity and membership under a real filter") {
    val s = spark
    import s.implicits._
    import operators.Similarity
    val rnd = new scala.util.Random(23)
    val emb = (0L until 400L).map { i =>
      i -> Array.fill(8)(rnd.nextFloat() - 0.5f)
    }.toDF("vec_id", "embedding")
    val docs = (0L until 400L).map(i =>
      (i, if (i % 3 == 0) "en" else "zz")).toDF("doc_id", "lang")
    // pred ≡ TRUE reproduces the unfiltered serving path byte-for-byte
    val all = Similarity.knnIvf(emb, corpusSize = 400L).collect().toSeq
    val allF = Similarity.knnIvfFiltered(emb, docs, lit(true),
      corpusSize = 400L).collect().toSeq
    assert(allF === all)
    // under the real filter every neighbor satisfies the predicate and
    // queries (unfiltered) still get served
    val en = Similarity.knnIvfFiltered(emb, docs, col("lang") === "en",
        corpusSize = 400L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(en.nonEmpty)
    assert(en.forall(_._2 % 3 == 0))
    assert(en.map(_._1).distinct.length > 1)
  }

  test("hybridRrf equals the Scala-side fusion of its two modality rankings") {
    val s = spark
    import s.implicits._
    import operators.{Similarity, TextOps}
    val rnd = new scala.util.Random(7)
    val docs = docsDf((0L until 30L).map { i =>
      i -> (0 until 12).map(_ => s"w${rnd.nextInt(9)}").mkString(" ")
    }: _*)
    val emb = (0L until 30L).map { i =>
      i -> Array.fill(8)(rnd.nextFloat() - 0.5f)
    }.toDF("vec_id", "embedding")
    val nq = 3L
    val pool = 5
    val got = Similarity.hybridRrf(docs, emb, k = 4, pool = pool, nQueries = nq)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference fusion: collect both rankings, fuse with integer RRF
    val kw = TextOps.bm25(docs, pool, nq).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = (0L until 30L).zip((0L until 30L).map(i =>
      emb.filter(col("vec_id") === i).collect()(0).getSeq[Float](1).toArray)).toMap
    val vec = (0L until nq).flatMap { q =>
      (nq until 30L).map(c => (q, c, cos(vecs(q), vecs(c))))
        .sortBy { case (_, c, sc) => (-sc, c) }.take(pool).zipWithIndex
        .map { case ((_, c, _), r) => (q, c) -> (r + 1L) }
    }.toMap
    val base = Similarity.RrfBase
    val expect = (0L until nq).flatMap { q =>
      val cands = (kw.keySet ++ vec.keySet).filter(_._1 == q).map(_._2)
      cands.map { c =>
        val sc = kw.get((q, c)).map(r => 1000000L / (base + r)).getOrElse(0L) +
          vec.get((q, c)).map(r => 1000000L / (base + r)).getOrElse(0L)
        (q, c, sc)
      }.toSeq.sortBy { case (_, c, sc) => (-sc, c) }.take(4).zipWithIndex
        .map { case ((qq, c, sc), r) => (qq, r + 1L, c, sc) }
    }
    assert(got.toSeq.sorted === expect.sorted)
  }

  test("sourceOverlapHll: identical sources collapse, merge dominates sides") {
    val s = spark
    import s.implicits._
    import operators.TextOps
    val rnd = new scala.util.Random(17)
    def corpus(tag: String, n: Int) =
      (0 until n).map(i => s"t${tag}_${rnd.nextInt(200)} w$i common").mkString(" ")
    val docs = Seq(
      (0L, corpus("a", 40), "sA"), (1L, corpus("a2", 40), "sA"),
      // sB is an EXACT token-set copy of nothing — its own vocab
      (2L, corpus("b", 40), "sB"),
      // sC duplicates sA's doc 0 text exactly
      (3L, Seq((0 until 40).map(i => s"ta_x"), Seq("fixed")).flatten.mkString(" "), "sC"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlapHll(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // union sketch dominates both sides for every pair
    out.values.foreach { case (a, b, u, _) =>
      assert(u >= math.max(a, b) - 1e-9)
      assert(u <= a + b + 1e-9) // and never exceeds the sum (overlap ≥ ~0)
    }
    // identical token SETS (same source text twice under two names):
    val two = docs.filter(col("source") === "sA")
      .select(col("doc_id"), col("text"), lit("s1").as("source"))
      .unionByName(docs.filter(col("source") === "sA")
        .select((col("doc_id") + 10L).as("doc_id"), col("text"),
          lit("s2").as("source")))
    val eq = TextOps.sourceOverlapHll(two).collect()(0)
    // union of two identical sketches IS the sketch: est_union == est_a
    // == est_b and the estimated overlap equals the shared estimate
    assert(eq.getDouble(2) === eq.getDouble(3))
    assert(eq.getDouble(2) === eq.getDouble(4))
    assert(eq.getDouble(5) === eq.getDouble(2))
  }

  test("mediaSimhashPairs: identical payloads at hamming 0, near copies found, distinct far") {
    val s = spark
    import s.implicits._
    import operators.Multimodal
    val base = ("A" * 200) + ("B" * 200) + ("C" * 200)
    val near = base.dropRight(8) + "XXXXXXXX" // tail-edited copy
    val media = Seq(
      (0L, base.getBytes("UTF-8")), (1L, base.getBytes("UTF-8")),
      (2L, near.getBytes("UTF-8")),
      (3L, (1 to 600).map(i => ('a' + i % 26).toChar).mkString.getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.mediaSimhashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 1L)) === 0L)      // exact copy: hamming 0
    assert(pairs.contains((0L, 2L)))    // tail-edited copy surfaces
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("seasonality: epoch-math dow/hour on known instants") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    // 1970-01-01 (Thursday) 00:30Z → (dow 4, hour 0);
    // 1970-01-04 (Sunday) 23:10Z → (dow 0, hour 23)
    val ev = Seq(
      (1L, new Timestamp(1800000L), 7L),
      (2L, new Timestamp(3L * 86400000L + 83400000L), 7L),
      (3L, new Timestamp(3L * 86400000L + 83410000L), 8L))
      .toDF("event_id", "ts", "user_id")
    val got = graft.streaming.EventWindows.seasonality(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map((4L, 0L) -> ((1L, 1L)), (0L, 23L) -> ((2L, 2L))))
  }

  test("abLift: exposure gating, conversion arithmetic, non-finite revenue excluded") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val t0 = new Timestamp(1700000000000L)
    // users 1, 2 exposed (1 converts with one finite + one NaN value);
    // user 3 purchases but was never exposed → OUT of the population
    val ev = Seq(
      (1L, t0, 1L, "view", 0.0), (2L, t0, 1L, "purchase", 2.5),
      (3L, t0, 1L, "purchase", Double.NaN),
      (4L, t0, 2L, "view", 0.0),
      (5L, t0, 3L, "purchase", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val rows = graft.streaming.EventWindows.abLift(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._2).sum === 2L)       // population = exposed users only
    assert(rows.map(_._3).sum === 1L)       // one conversion
    assert(rows.map(_._5).sum === 2500000L) // NaN purchase contributes 0
    rows.foreach { case (_, u, c, ppm, _) =>
      assert(ppm === (if (u == 0) 0L else c * 1000000L / u))
    }
  }

  test("abCuped: brute CUPED chain, exposure in post only, zero-variance θ=0") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val split = graft.streaming.EventWindows.CupedSplitEpoch
    def pre(off: Long) = new Timestamp((split - 86400L + off) * 1000L)
    def post(off: Long) = new Timestamp((split + off) * 1000L)
    // users 1..4 exposed in post; user 5 viewed only PRE → excluded;
    // user 2's NaN pre-purchase contributes X = 0
    val ev = Seq(
      (1L, pre(0), 1L, "purchase", 10.0), (2L, post(1), 1L, "view", 0.0),
      (3L, post(2), 1L, "purchase", 20.0),
      (4L, pre(0), 2L, "purchase", Double.NaN),
      (5L, post(1), 2L, "view", 0.0), (6L, post(2), 2L, "purchase", 5.0),
      (7L, pre(0), 3L, "purchase", 4.0), (8L, post(1), 3L, "view", 0.0),
      (9L, pre(0), 4L, "purchase", 2.0), (10L, post(1), 4L, "view", 0.0),
      (11L, post(2), 4L, "purchase", 1.5),
      (12L, pre(0), 5L, "view", 0.0), (13L, post(1), 5L, "purchase", 99.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.streaming.EventWindows.abCuped(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // brute: per-user (x, y) milli for users 1..4, θ over the pool
    import graft.functions.PolyHashUtil
    import org.apache.spark.unsafe.types.UTF8String
    val xy = Map(1L -> ((10000L, 20000L)), 2L -> ((0L, 5000L)),
      3L -> ((4000L, 0L)), 4L -> ((2000L, 1500L)))
    val n = BigInt(xy.size)
    val sx = BigInt(xy.values.map(_._1).sum)
    val sy = BigInt(xy.values.map(_._2).sum)
    val sxy = xy.values.map(p => BigInt(p._1) * p._2).sum
    val sxx = xy.values.map(p => BigInt(p._1) * p._1).sum
    val theta = ((n * sxy - sx * sy) * 1000000) / (n * sxx - sx * sx)
    val xbar = (sx * 1000) / n
    val arms = xy.toSeq.groupBy { case (u, _) =>
      PolyHashUtil.hash(UTF8String.fromString(u.toString)) % 2L }
    val want = arms.map { case (v, us) =>
      val nu = us.size.toLong
      val (xs, ys) = (us.map(_._2._1).sum, us.map(_._2._2).sum)
      val ym = ys * 1000L / nu
      val yadj = ym - (theta.toLong * (xs * 1000L / nu - xbar.toLong)) /
        1000000L
      v -> ((nu, xs, ys, ym, yadj, theta.toLong))
    }
    assert(got === want)
    // a constant covariate ⇒ var(X) = 0 ⇒ θ = 0 and yadj ≡ y_mean
    val flat = Seq(
      (1L, pre(0), 1L, "purchase", 3.0), (2L, post(1), 1L, "view", 0.0),
      (3L, post(2), 1L, "purchase", 7.0),
      (4L, pre(0), 2L, "purchase", 3.0), (5L, post(1), 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val fr = graft.streaming.EventWindows.abCuped(flat).collect()
    assert(fr.forall(_.getLong(6) === 0L))
    assert(fr.forall(r => r.getLong(5) === r.getLong(4)))
    // no exposed users → empty read-out
    assert(graft.streaming.EventWindows.abCuped(
      flat.filter(col("event_type") =!= "view")).count() === 0L)
  }

  test("lloydStep == brute flat-argmin assignment + quantize-first means") {
    val s = spark
    import s.implicits._
    import graft.functions.PolyHashUtil
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(59)
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(6)(d => (rng.nextInt(2000) - 1000) / 997.0f)))
    val emb = vecs.toDF("vec_id", "embedding")
    for (k <- Seq(1, 5)) {
      val initIds = vecs.map(_._1).sortBy(id =>
        (PolyHashUtil.hash(UTF8String.fromString(id.toString)), id)).take(k)
      val init = initIds.sorted.map(id =>
        id -> vecs.find(_._1 == id).get._2.map(_.toDouble))
      def d2(a: Array[Float], c: Array[Double]): Double = {
        var acc = 0.0
        var i = 0
        while (i < c.length) {
          val t = a(i).toDouble - c(i); acc += t * t; i += 1
        }
        acc
      }
      val assign = vecs.map { case (id, v) =>
        id -> init.minBy { case (cid, c) => (d2(v, c), cid) }._1
      }.toMap
      val want = vecs.flatMap { case (id, v) =>
        v.zipWithIndex.map { case (x, d) =>
          ((assign(id), d.toLong), math.floor(x.toDouble * 1e6).toLong)
        }
      }.groupBy(_._1).map { case (key, qs) =>
        val sum = qs.map(_._2).sum
        key -> ((qs.size.toLong, sum, sum / qs.size))
      }
      val got = Similarity.lloydStep(emb, k = k).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      withClue(s"k=$k") { assert(got === want) }
    }
    intercept[IllegalArgumentException] { Similarity.lloydStep(emb, k = 0) }
  }

  test("embeddingOutliers surfaces the planted mislabel first") {
    val s = spark
    import s.implicits._
    import operators.Similarity
    // two tight clusters; vec 99 carries cluster-B geometry under
    // label 0 — the planted mislabel must rank first
    def v(base: Float, eps: Float) = Array.tabulate(8)(i => base + eps * i)
    val emb = ((0L until 20L).map(i => (i, v(1f, 0.001f * i.toInt), 0)) ++
      (20L until 40L).map(i => (i, v(-1f, 0.001f * i.toInt), 1)) :+
      ((99L, v(-1f, 0f), 0)))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.embeddingOutliers(emb, k = 3).collect()
    assert(top(0).getLong(0) === 99L)
    // and its distance dwarfs the runner-up's
    assert(top(0).getLong(2) > 10L * top(1).getLong(2))
  }

  test("silhouetteByLabel: tight separated clusters score near 1e6; " +
      "the planted mislabel is the closer-other count") {
    val s = spark
    import s.implicits._
    import operators.Similarity
    def v(base: Float, eps: Float) = Array.tabulate(8)(i => base + eps * i)
    val emb = ((0L until 20L).map(i => (i, v(1f, 0.001f * i.toInt), 0)) ++
      (20L until 40L).map(i => (i, v(-1f, 0.001f * i.toInt), 1)) :+
      ((99L, v(-1f, 0f), 0)))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.silhouetteByLabel(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5))))
      .toMap
    assert(rows.keySet === Set(0L, 1L))
    assert(rows(0L)._1 === 21L && rows(1L)._1 === 20L)
    // label 1 is tight and far from label 0's centroid → mean s ≈ 1
    assert(rows(1L)._2 > 900000L)
    // the planted mislabel (cluster-B geometry under label 0) is the
    // only member closer to a foreign centroid
    assert(rows(0L)._3 === 1L && rows(1L)._3 === 0L)
    // degenerate: a single-label corpus has no "other" centroid —
    // empty relation, not an error
    assert(Similarity.silhouetteByLabel(
      emb.filter($"label" === 0)).count() === 0L)
  }

  test("randomProject preserves planted-cluster retrieval; the sign " +
      "matrix is balanced, not rank-collapsed") {
    val s = spark
    import s.implicits._
    import operators.Similarity
    // sign-matrix sanity: the raw-parity bug made every column
    // identical up to sign — pin per-column balance AND column
    // diversity at the 64×16 production shape
    val m = Array.tabulate(64, 16)((i, j) => Similarity.rpSign(i, j))
    (0 until 16).foreach { j =>
      val bal = (0 until 64).map(i => m(i)(j)).sum
      assert(math.abs(bal) <= 20, s"column $j unbalanced: $bal")
    }
    val distinctCols = (0 until 16)
      .map(j => (0 until 64).map(i => m(i)(j) * m(0)(j)).toVector)
      .distinct.size
    assert(distinctCols === 16, "sign columns collapsed to a low rank")
    // planted clusters: 10 well-separated centers, 8 members each,
    // queries 0..9 land one per cluster — projected retrieval must
    // keep most true neighbors (JL distortion << cluster separation)
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val emb = (0 until 80).map { v =>
      val c = v % 10
      (v.toLong, centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat), c)
    }.toDF("vec_id", "embedding", "label")
    val rec = Similarity.recallAtK(
      Similarity.knnProjected(emb), Similarity.knnBruteL2(emb))
      .collect()(0).getDouble(3)
    assert(rec >= 0.8, s"clustered recall@5 only $rec")
  }

  test("postings: df floor drops hapax terms, lists rank by " +
      "(tf desc, doc_id) and cap at k") {
    import operators.TextOps
    // term "a" in all 5 docs with distinct tfs, "b" in 2 (below the
    // floor), "c" in exactly minDf docs
    val docs = docsDf(
      0L -> "a a a a c b", 1L -> "a a a c", 2L -> "a a c b",
      3L -> "a c", 4L -> "a")
    val got = TextOps.postings(docs, k = 3, minDf = 3L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(!got.exists(_._1 == "b"), "sub-floor term survived")
    val a = got.filter(_._1 == "a").sortBy(_._4)
    // capped at 3 of 5 postings, heaviest docs first
    assert(a.map(x => (x._4, x._5, x._6)).toSeq ===
      Seq((1L, 0L, 4L), (2L, 1L, 3L), (3L, 2L, 2L)))
    assert(a.forall(x => x._2 === 5L && x._3 === 11L))
    // ties (tf=1 everywhere) break by doc_id; the k cap still applies
    val c = got.filter(_._1 == "c")
    assert(c.map(_._5).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(c.forall(x => x._2 === 4L && x._3 === 4L && x._6 === 1L))
  }

  test("postingsDelta: chained delta ≡ one-shot rebuild; untouched terms pass through; depth mismatch raises") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // publish(index) ≡ the one-shot postings build
    assert(rows(TextOps.postingsPublish(TextOps.postingsIndex(docs)))
      === rows(TextOps.postings(docs)))
    // ONE delta ≡ one-shot over the union — full 6-col set equality of
    // the UN-floored index (sub-floor terms must merge exactly too)
    val a = docs.filter(col("doc_id") % 5 =!= 0)
    val b = docs.filter(col("doc_id") % 5 === 0)
    def idxRows(df: org.apache.spark.sql.DataFrame) =
      rows(df.select("token", "df", "cf", "rank", "doc_id", "tf"))
    val oneShot = idxRows(TextOps.postingsIndex(docs))
    // round-trip the stored index through parquet like a real cycle
    val dir = java.nio.file.Files
      .createTempDirectory("graft_postings_rt").toString
    TextOps.postingsIndex(a).write.parquet(dir + "/idx")
    val storedA = spark.read.parquet(dir + "/idx")
    assert(idxRows(TextOps.postingsDelta(storedA, b)) === oneShot)
    // CHAINED: A → +B1 → +B2 ≡ one-shot (the dedup_incremental law)
    val b1 = b.filter(col("doc_id") % 10 === 0)
    val b2 = b.filter(col("doc_id") % 10 =!= 0)
    assert(idxRows(TextOps.postingsDelta(
      TextOps.postingsDelta(storedA, b1), b2)) === oneShot)
    // untouched terms pass through byte-unchanged: every A-only term's
    // rows (incl. rank and stats) appear verbatim in the merged index
    val merged = idxRows(TextOps.postingsDelta(storedA, b))
    val bVocab = b.select(explode(expr("split(text, '\\\\s+')")).as("t"))
      .filter(col("t") =!= "").distinct().collect().map(_.getString(0)).toSet
    idxRows(storedA).filterNot(r => bVocab(r._1)).foreach { r =>
      assert(merged(r), s"untouched row $r lost or altered by the merge")
    }
    // a depth mismatch raises loudly (the fp guard rides the scan)
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val exK = intercept[Exception] {
      TextOps.postingsDelta(storedA, b, k = 7).collect()
    }
    assert(chain(exK).contains("postings_params_fp"), chain(exK))
    // a bare pre-stamp relation (no fp column) skips the check
    assert(idxRows(TextOps.postingsDelta(
      storedA.drop("postings_params_fp"), b)) === oneShot)
  }

  test("docLengthsFromTf ≡ docLengths (zero-token docs included)") {
    import operators.TextOps
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      // a doc whose text tokenizes to NOTHING must land at len_d = 0
      // (it has no tf row — the left-join/coalesce path)
      .unionByName(Seq((999999L, "   ")).toDF("doc_id", "text"))
    val direct = TextOps.docLengths(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromTf = TextOps.docLengthsFromTf(docs, TextOps.batchTfOf(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromTf === direct)
    assert(fromTf.exists { case (id, len) => id == 999999L && len == 0L })
    graft.Caches.clear(spark)
  }

  test("bm25FromIndex: uncapped depth ≡ full-scan bm25; capped serve scores exactly over pruned candidates") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= TextOps.Bm25Queries)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = rows(TextOps.bm25(docs))
    assert(full.nonEmpty)
    // an index DEEPER than any df keeps every posting → the stored
    // serve is bit-identical to the full corpus scan (scores AND ranks)
    val deep = TextOps.postingsIndex(corpus, k = 2000)
    val lens = TextOps.docLengths(corpus)
    assert(rows(TextOps.bm25FromIndex(deep, lens, docs)) === full)
    // round-trip through parquet like a real serving tier
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_idx").toString
    deep.write.parquet(dir + "/idx")
    lens.write.parquet(dir + "/lens")
    assert(rows(TextOps.bm25FromIndex(spark.read.parquet(dir + "/idx"),
      spark.read.parquet(dir + "/lens"), docs)) === full)
    // the depth-capped serve loses exactly the pruned (term, doc)
    // CONTRIBUTIONS: each surviving posting scores bit-identically,
    // so a capped doc's score is a partial sum of its full score —
    // never larger, never invented (reference UNTRUNCATED: a pruned
    // serve can surface a doc the full top-k cut off)
    val capped = TextOps.bm25FromIndex(
      TextOps.postingsIndex(corpus, k = 2), lens, docs)
    val fullScores = rows(TextOps.bm25(docs, k = 100000))
      .map(t => (t._1, t._3) -> t._4).toMap
    capped.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val fs = fullScores.get(key)
      assert(fs.nonEmpty, s"capped serve invented candidate $key")
      assert(r.getLong(3) <= fs.get && r.getLong(3) > 0L,
        s"capped score ${r.getLong(3)} outside (0, ${fs.get}] for $key")
    }
  }

  test("bm25PrfFromIndex: uncapped depth ≡ full bm25Prf; ex = 0 collapses to the indexed single pass") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= TextOps.Bm25Queries)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // an index DEEPER than any df keeps every posting → the stored
    // PRF serve (both passes, feedback pool, stored-df idf) is
    // bit-identical to the full-scan bm25Prf — scores AND ranks
    val deep = TextOps.postingsIndex(corpus, k = 2000)
    val lens = TextOps.docLengths(corpus)
    val full = rows(TextOps.bm25Prf(docs))
    assert(full.nonEmpty)
    assert(rows(TextOps.bm25PrfFromIndex(deep, lens, docs)) === full)
    // no expansion terms → the identity law bm25Prf pins, here on the
    // stored tier: one indexed scoring pass, exactly bm25FromIndex
    assert(rows(TextOps.bm25PrfFromIndex(deep, lens, docs, ex = 0)) ===
      rows(TextOps.bm25FromIndex(deep, lens, docs)))
  }

  test("bm25 incremental refresh: delta-merged index serves bit-identically to the one-shot rebuild") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= TextOps.Bm25Queries)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // one-shot: the indexed serve over the whole corpus at depth 64
    // (capped — so the law is checked on the PRUNED form too, not
    // just the lossless deep index)
    for (depth <- Seq(64, 2000)) {
      val oneShot = rows(TextOps.bm25FromIndex(
        TextOps.postingsIndex(corpus, k = depth),
        TextOps.docLengths(corpus), docs))
      assert(oneShot.nonEmpty)
      // refresh cycle: stored 4/5 index + O(batch) delta of the fifth,
      // forward index appended — scores must be BIT-identical
      val base = corpus.filter(col("doc_id") % 5 =!= 0)
      val batch = corpus.filter(col("doc_id") % 5 === 0)
      val merged = TextOps.postingsDelta(
        TextOps.postingsIndex(base, k = depth), batch, k = depth)
      val lens = TextOps.docLengths(base)
        .unionByName(TextOps.docLengths(batch))
      withClue(s"depth=$depth") {
        assert(rows(TextOps.bm25FromIndex(merged, lens, docs)) === oneShot)
      }
    }
  }

  test("shardAssignment: append-stable within-shard order; positions contiguous from 1") {
    import operators.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def ordered(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val full = ordered(TextOps.shardAssignment(docs))
    // positions are 1..n per shard (the collect above would misorder
    // on gaps/dups only if ranks collided — assert directly)
    TextOps.shardAssignment(docs).collect()
      .groupBy(_.getLong(1)).values.foreach { rows =>
        assert(rows.map(_.getLong(2)).sorted.toSeq ===
          (1L to rows.length.toLong))
      }
    // APPEND STABILITY: the half-corpus ordering is exactly the full
    // ordering restricted to the half's docs — adding documents never
    // reorders existing ones within a shard
    val halfDocs = docs.filter(col("doc_id") % 2 === 0)
    val halfIds = halfDocs.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val half = ordered(TextOps.shardAssignment(halfDocs))
    full.foreach { case (shard, order) =>
      val restricted = order.filter(halfIds)
      assert(half.getOrElse(shard, Seq.empty) === restricted,
        s"shard $shard reordered under append")
    }
  }

  test("curation/hashSplitLeakageFree: a passed-in cluster relation ≡ the default rebuild") {
    import operators.{Dedup, TextOps}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the relation a pipeline would hold from its own dedup pass —
    // IDENTICAL composition to the operators' default
    val pre = Dedup.dupClusters(Dedup.ngramJaccard(docs))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val rebuilt = rows(TextOps.curation(docs))
    assert(rebuilt === rows(TextOps.curation(docs, Some(pre))))
    assert(rebuilt.nonEmpty)
    val split = rows(TextOps.hashSplitLeakageFree(docs))
    assert(split === rows(TextOps.hashSplitLeakageFree(docs, pre)))
    assert(split.nonEmpty)
  }

  test("postingsDelta under streaming foreachBatch ingest ≡ one-shot index") {
    import operators.TextOps
    // the refresh loop a streaming retrieval tier actually runs: the
    // stored index lives on disk, each micro-batch folds in via
    // postingsDelta and writes the next index generation (alternating
    // dirs — never read-modify-write one path)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files
      .createTempDirectory("graft_postings_stream").toString
    TextOps.postingsIndex(docs.filter(col("doc_id") % 5 =!= 0))
      .write.parquet(base + "/idx0")
    @volatile var gen = 0
    val inDir = base + "/in"
    docs.filter(col("doc_id") % 10 === 0).write.mode("append").parquet(inDir)
    val q = spark.readStream.schema(docs.schema).parquet(inDir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          if (!b.isEmpty) {
            val next = gen + 1
            TextOps.postingsDelta(spark.read.parquet(s"$base/idx$gen"), b)
              .write.parquet(s"$base/idx$next")
            gen = next
          }
      }.start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") % 10 === 5).write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    assert(gen >= 1, "no micro-batch was folded in")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val streamed = rows(TextOps.postingsPublish(
      spark.read.parquet(s"$base/idx$gen")))
    assert(streamed === rows(TextOps.postings(docs)))
    assert(streamed.nonEmpty)
  }

  test("qualityCalibration: marginals recover each stamp's decile sizes") {
    import operators.TextOps
    val rnd = new scala.util.Random(41)
    val docs = docsDf((0L until 60L).map { i =>
      i -> (0 until 5 + rnd.nextInt(30))
        .map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    }: _*)
    val m = TextOps.qualityCalibration(docs, buckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m.map(_._3).sum === 60L)
    // every q-decile marginal and s-decile marginal is exactly n/b
    m.groupBy(_._1).values.foreach(g => assert(g.map(_._3).sum === 15L))
    m.groupBy(_._2).values.foreach(g => assert(g.map(_._3).sum === 15L))
  }

  test("bpeTrain == brute reference BPE, incl. consecutive sites and overlap") {
    import operators.TextOps
    // reference trainer over a token bag, greedy left-to-right apply
    def brute(words: Seq[String], rounds: Int): Seq[(Long, String, String, Long)] = {
      var vocab: Map[Vector[String], Long] = words.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
        .map { case (w, f) => w.map(_.toString).toVector -> f }
      val out = scala.collection.mutable.ListBuffer[(Long, String, String, Long)]()
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        vocab.foreach { case (syms, f) =>
          syms.sliding(2).foreach {
            case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
            case _ => ()
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), n) = counts.minBy { case ((x, y), c) => (-c, x, y) }
          out += ((r.toLong, a, b, n))
          vocab = vocab.map { case (syms, f) =>
            val nb = scala.collection.mutable.ListBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                nb += a + b; i += 2
              } else { nb += syms(i); i += 1 }
            }
            nb.toVector -> f
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          r += 1
        }
      }
      out.toSeq
    }
    // 'abab' forces consecutive merge sites; 'aaaa' forces overlap;
    // weights tilt the argmax deterministically
    val words = Seq.fill(5)("abab") ++ Seq.fill(3)("aaaa") ++
      Seq.fill(4)("xaby") ++ Seq("ab")
    val docs = docsDf((words.zipWithIndex.map { case (w, i) =>
      i.toLong -> w
    }): _*).select(col("doc_id"), col("text"))
    val got = TextOps.bpeTrain(docs, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.sortBy(_._1).toSeq === brute(words, 4))
    // exhaustion: single-char words run out of pairs and exit early
    val tiny = TextOps.bpeTrain(docsDf((0L, "a b a b")), rounds = 6).collect()
    assert(tiny.isEmpty)
  }

  test("bpeEncode: bounds, round monotonicity, exact fixture, totality") {
    import operators.TextOps
    // 'abab'×5 + 'ab': round1 merges (a,b) → 'abab' = [ab, ab] (2),
    // 'ab' = [ab] (1); round2 merges (ab, ab) → 'abab' = 1 subword
    val docs = docsDf((0L until 5L).map(i => i -> "abab") :+ (5L -> "ab"): _*)
    val r1 = TextOps.bpeEncode(docs, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r1(0L) === 2L && r1(5L) === 1L)
    val r2 = TextOps.bpeEncode(docs, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r2(0L) === 1L && r2(5L) === 1L)
    // bounds + monotonicity on a mixed corpus incl. an empty doc
    val mixed = docsDf((0L, "alpha beta alpha"), (1L, "beta beta"), (2L, ""))
    val e1 = TextOps.bpeEncode(mixed, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e3 = TextOps.bpeEncode(mixed, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    e1.sortBy(_._1).zip(e3).foreach { case ((_, t1, s1), (_, t3, s3)) =>
      assert(t1 === t3)        // token counts don't depend on merges
      assert(s3 <= s1)         // more merges never add subwords
      assert(s3 >= t3)         // each word is >= 1 subword
    }
    assert(e3.find(_._1 == 2L).get === ((2L, 0L, 0L))) // empty doc total
  }

  test("surprisal: hand-computed fixture + totality on degenerate docs") {
    // doc 0 bigrams: (a,b),(b,a),(a,c),(c,a),(a,b) — corpus counts
    // c12(a,b)=2 c12(b,a)=1 c12(a,c)=1 c12(c,a)=1; contexts c1(a)=3
    // c1(b)=1 c1(c)=1. Bit surprisals: (a,b)=2-2=0, (b,a)=0, (a,c)=2-1=1,
    // (c,a)=0 → doc 0 total 1 over 5 bigrams = 200000 ppm.
    val out = TextOps.surprisal(docsDf(
        (0L, "a b a c a b"), (1L, "solo"), (2L, "")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) === ((5L, 1L, 200000L)))
    // <2-token docs are total: zero bigrams, sentinel ppm
    assert(out(1L) === ((0L, 0L, -1L)))
    assert(out(2L) === ((0L, 0L, -1L)))
  }

  test("surprisal: rare continuations out-score common ones") {
    // 'x' is followed by 'common' 8× and by 'rare' once; the rare-tail
    // doc must carry strictly higher surp_ppm than a common-tail doc
    val docs = docsDf(
      ((0L until 8L).map(i => i -> "x common"): Seq[(Long, String)]) :+
        (8L -> "x rare"): _*)
    val out = TextOps.surprisal(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(8L) > out(0L))
  }

  test("bm25: rare-term targeting, length normalization, corpus restriction") {
    val docs = docsDf(
      (0L, "rare"), (1L, "common"), // probes (nQueries = 2)
      (2L, "rare common common"), (3L, "common common"),
      (4L, "filler filler"))
    val rows = TextOps.bm25(docs, k = 10, nQueries = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    // query 0 ('rare'): only doc 2 contains it
    assert(byQ(0L).map(_._3).toSet === Set(2L))
    // query 1 ('common'): docs 2 and 3 hit, 4 doesn't; shorter doc 3
    // wins on length normalization (same tf, same idf)
    assert(byQ(1L).sortBy(_._2).map(_._3).toSeq === Seq(3L, 2L))
    // probe docs are never results; scores are positive
    assert(rows.forall(r => r._3 >= 2L && r._4 > 0L))
  }

  test("bm25: disjoint query vocabulary yields no rows for that query") {
    val docs = docsDf((0L, "nomatch"), (1L, "alpha"),
      (2L, "alpha beta"), (3L, "beta gamma"))
    val rows = TextOps.bm25(docs, k = 5, nQueries = 2L).collect()
    assert(rows.forall(_.getLong(0) != 0L))
    assert(rows.exists(_.getLong(0) == 1L))
  }
}
