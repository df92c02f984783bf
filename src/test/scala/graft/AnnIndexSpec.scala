package graft

import graft.operators.{Dedup, QuantileSketch, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** The ANN index core keeps one definition of each shared step: a scan
  * of `src/main` finds each one exactly once, the stored-artifact
  * fingerprints keep the values stored relations carry, and the one
  * centroid constructor for stored sets refuses a ragged relation.
  */
class AnnIndexSpec extends SparkSpec {

  test("src/main has one hash-prefix sample, one Lloyd loop, one stamp guard and one fingerprint fold") {
    val sources = SourceScan.mainSources
    // each pattern must match once, in the file that owns it
    val owners = Seq(
      "hash-prefix sample" ->
        ("""(?s)withColumn\([^;]{0,120}?poly_hash\([^;]{0,120}?\.orderBy\(""".r,
          "PolyHash.scala"),
      "Lloyd assignment loop" -> ("""if \(d < bestD\)""".r, "Similarity.scala"),
      "stamp guard" -> ("""raise_error\(format_string\(""".r, "Stamps.scala"),
      "params fingerprint fold" -> ("""foldLeft\(1125899906842597L\)""".r,
        "Stamps.scala"))
    val problems = owners.flatMap { case (what, (re, owner)) =>
      val sites = SourceScan.sites(sources, re)
      if (sites.size == 1 && sites.head.startsWith(owner + ":")) Nil
      else Seq(s"$what (owner $owner): ${sites.mkString(", ")}")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("src/main raises only in Stamps and in QuantileSketch.microOf's value-range guard") {
    // a stored-stamp check goes through Stamps.stampGuard; microOf's
    // overflow guard checks a value, not a stamp
    val Raise = """raise_error\(""".r
    val Def = """\bdef (\w+)""".r
    val sites = SourceScan.mainSources.flatMap { case (name, text) =>
      Raise.findAllMatchIn(text).map { m =>
        val owner = Def.findAllMatchIn(text.substring(0, m.start)).toSeq
          .lastOption.fold("")(_.group(1))
        s"$name:$owner"
      }
    }
    assert(sites.filterNot(_.startsWith("Stamps.scala:")) ===
      Seq("QuantileSketch.scala:microOf"), sites.mkString(", "))
  }

  test("every stored-artifact params fingerprint keeps its value") {
    // stored relations carry these stamps; a changed value strands them
    assert(Similarity.IvfParamsFingerprint === 8406263588393943860L)
    assert(Similarity.PqParamsFingerprint === -8560144208545080665L)
    assert(Dedup.LshParamsFingerprint === -8708493356223397548L)
    assert(QuantileSketch.QsParamsFingerprint === 3191204786238523390L)
    assert(TextOps.postingsParamsFp(TextOps.PostingsK) === 8286341395287245710L)
    assert(TextOps.postingsParamsFp(5) === 9193145241965500646L)
  }

  test("knnIvfPq over a corpus smaller than its codebook, probing every cell, ≡ knnPq") {
    // 10 vectors give 10 codewords per block, not PqCodebookSize: the
    // LUT rows must be indexed by the codebook actually fitted
    val emb = spark.range(10).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), i -> cast(" +
        "pmod(hash(id * 8 + i), 1000) / 500.0 - 1.0 as float))")
        .as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val pq = rows(Similarity.knnPq(emb))
    assert(pq.size === 10 * Similarity.DefaultK)
    assert(rows(Similarity.knnIvfPq(emb, nProbe = 16, corpusSize = 10L)) === pq)
  }

  test("a stored centroid relation of mixed widths is refused, naming both widths") {
    val s = spark
    import s.implicits._
    val emb = spark.range(200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> cast(" +
        "pmod(hash(id * 64 + i), 1000) / 500.0 - 1.0 as float))")
        .as("embedding"))
    val ragged = Seq((0L, Seq.fill(64)(0.5f)), (1L, Seq.fill(63)(-0.5f)))
      .toDF("cent_id", "embedding")
    // the two-level kernel would read dim = 127 / 2 and shift every
    // offset; each stored consumer loads through the same width check
    val serve = intercept[IllegalArgumentException] {
      Similarity.knnIvfFromStored(ragged, emb)
    }
    assert(serve.getMessage.contains("63") && serve.getMessage.contains("64") &&
      serve.getMessage.contains("width"), serve.getMessage)
    intercept[IllegalArgumentException] {
      Similarity.ivfAssignFromStored(ragged, emb)
    }
    intercept[IllegalArgumentException] {
      Similarity.knnIvfFromAssigned(ragged, emb.withColumn("cell", lit(0L)))
    }
    // an even-width set still serves
    val even = Seq((0L, Seq.fill(64)(0.5f)), (1L, Seq.fill(64)(-0.5f)))
      .toDF("cent_id", "embedding")
    assert(Similarity.knnIvfFromStored(even, emb).count() > 0)
  }
}
