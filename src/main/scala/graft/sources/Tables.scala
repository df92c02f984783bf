package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders for the harness parquet testdata (TESTDATA.md) and the
  * reference's raw CSV edge format.
  */
object Tables {

  /** Load one harness table (`region nation customer supplier part orders
    * lineitem events documents embeddings`) from an sf directory.
    * Parquet scans get column pruning + predicate pushdown from Catalyst.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else if (name == "embeddings") embeddings(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** The embeddings table, with the `embedding` element type pinned to
    * FloatType. Defensive dtype normalization, same lesson as `events`:
    * a testdata regeneration flipped `ts`'s physical type between
    * rounds and broke every events plan, and the embedding column is
    * the only other column whose physical type plausibly drifts
    * (float↔double vectors). The cast is applied ONLY when the loaded
    * element type differs — the expected float layout takes the plain
    * scan path untouched (no expression wrapping vec_id/label, no
    * pushdown impact).
    */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(_, _) =>
        raw.withColumn("embedding", org.apache.spark.sql.functions
          .col("embedding").cast(ArrayType(FloatType)))
      case other =>
        throw new IllegalArgumentException(
          s"embeddings: unsupported type for embedding: $other")
    }
  }

  /** The events table's `ts` column has shipped in TWO physical
    * layouts across harness testdata generations — parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * outright) and TIMESTAMP(MICROS) with isAdjustedToUTC=false (which
    * loads as TIMESTAMP_NTZ). This loader normalizes either to the
    * same output contract every downstream operator assumes: `ts` as
    * (microsecond) TimestampType UTC instants — exact for any
    * sub-second aggregation granularity we use. Branching on the
    * LOADED dtype (not the sf dir) keeps the engine agnostic to which
    * generation of testdata it is pointed at.
    *
    * SIDE EFFECT, session-wide and deliberate: this sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the shared session
    * and does NOT restore it. The flag is consulted again at EXECUTION
    * time (each file footer's schema conversion), so a set/read/restore
    * scope would make the returned — lazy — DataFrame fail once the
    * scope closed. Consequence for other reads in the same session:
    * nanos-typed parquet columns load as raw longs instead of raising
    * AnalysisException; micro/milli timestamp columns are unaffected.
    * Callers that need the default behavior back must re-set the flag
    * after their LAST action on this table.
    *
    * The NTZ→LTZ cast reinterprets the stored wall-clock as a SESSION-
    * TIMEZONE instant, so it is only identity when the session runs
    * UTC — which every entry point pins (Verify, Bench, ScaleRehearsal
    * and SparkSpec set `spark.sql.session.timeZone=UTC` explicitly).
    * The require makes a non-UTC caller fail loudly instead of silently
    * shifting every event time.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos via the flag
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS), not UTC-adjusted
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(java.time.ZoneId.of(tz).getRules ==
            java.time.ZoneOffset.UTC.getRules,
          s"events: NTZ→timestamp cast needs a UTC session, got $tz " +
            "(set spark.sql.session.timeZone=UTC)")
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case TimestampType => raw // already instant-typed
      case other =>
        throw new IllegalArgumentException(
          s"events: unsupported physical type for ts: $other")
    }
  }

  /** Schema of the reference's edge list: two integer ids per line,
    * comma-separated, no header; column 0 follows column 1
    * (reference: ExactCardinality.java:35-40, split at
    * SocialTriangle_RS.java:44). Ids are LongType — the reference parses
    * with Integer.parseInt but accumulates counts in longs.
    */
  val edgeCsvSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** Read an edges.csv in the reference's format. Explicit schema (never
    * inferSchema — that is an extra full scan) and no header, matching
    * TextInputFormat + split(",") (SocialTriangle_RS.java:44-46).
    */
  def edgesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(edgeCsvSchema).option("header", "false").csv(path)

  /** Schema of a JSONL documents corpus — the de-facto interchange
    * format of LLM training data (one JSON object per line). Pinned
    * here because a 100 TB read must NEVER infer schema (inference is
    * an extra full scan, and a single malformed line silently widens a
    * column to string for the whole corpus).
    */
  val documentsJsonlSchema: StructType = StructType(Seq(
    // all-nullable on purpose: Spark's JSON reader forces every field
    // nullable regardless of the requested schema (a missing key IS a
    // null), so a non-null pin here would silently not hold anyway
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Read a JSONL documents corpus with the PINNED schema and strict
    * corruption accounting: `PERMISSIVE` with a corrupt-record column
    * would silently null out bad lines — at training-data scale that
    * is data loss with no alarm — so the default here is `FAILFAST`
    * (a malformed line fails the read loudly). Pass
    * `permissive = true` to keep bad lines as nulls + the raw line in
    * `_corrupt_record` for a quarantine pass; splittable/parallel
    * either way (JSONL is line-delimited).
    */
  def documentsJsonl(spark: SparkSession, path: String,
      permissive: Boolean = false): DataFrame = {
    val base = spark.read
      .option("mode", if (permissive) "PERMISSIVE" else "FAILFAST")
    if (permissive)
      base.schema(documentsJsonlSchema
          .add(StructField("_corrupt_record", StringType, nullable = true)))
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    else base.schema(documentsJsonlSchema).json(path)
  }

  /** Write a documents relation as JSONL (one object per line,
    * gzip-free by default so downstream reads stay splittable).
    */
  def writeDocumentsJsonl(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite").json(path)

  /** Persist an edge relation as a BUCKETED table — the co-located-join
    * path for repeated graph queries at scale: both sides of a
    * self-join on the bucket key read pre-shuffled files, so the join
    * plans with zero Exchange (verified in SourcesSpec). At 100 TB,
    * bucketing the canonical edge table once amortizes the dominant
    * shuffle across every subsequent triangle/path query.
    */
  def writeBucketedEdges(edges: org.apache.spark.sql.DataFrame, table: String,
      buckets: Int, key: String = "dst"): Unit =
    edges.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
