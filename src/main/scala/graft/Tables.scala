package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Fixture table loader.
  *
  * The reference pipeline lands opaque files in object storage so the data is
  * "organized and accessible for further analysis" (reference README.md:9).
  * Here the analysis-ready landed data is the driver-generated Parquet star
  * schema described in /root/repo/FIXTURES.md; every query in [[SparkEntry]]
  * reads through this single entry point so schema/pushdown behavior is
  * uniform and scan-level options live in one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table from `sfDir`. Column pruning + predicate pushdown
    * are left to Catalyst — callers express plain `select`/`where` and the
    * Parquet scan picks them up (asserted in PlanShapeSpec).
    *
    * `events.ts` has shipped under two physical encodings across fixture
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized Parquet reader
    * rejects — read as a long via the legacy nanosAsLong conf and truncated
    * to micros, matching DuckDB's micro-precision truncation) and plain
    * TIMESTAMP(MICROS, isAdjustedToUTC=false). The loader's CONTRACT is that
    * `ts` comes out as classic TimestampType (LTZ) under the engine's UTC
    * session timezone — every consumer uses `unix_micros`/`Row.getTimestamp`,
    * which reject TIMESTAMP_NTZ — so NTZ inference is disabled for the scan
    * (the micros value is identical; DuckDB reads the same naive micros) and
    * a residual NTZ column is cast. The loader branches on the loaded type
    * rather than assuming one encoding, so a fixture regeneration is a no-op
    * here.
    */
  /** Per-session memo of the RESOLVED plan, NOT of any data: every
    * `spark.read.parquet` call lists the path and reads the footer on the
    * driver to infer the schema — ~10-40 ms of pure metadata work that the
    * bench/verify drivers would otherwise repeat for every one of the
    * ~400 queries × 1-3 tables each. The cached object is a lazy
    * DataFrame (no persist): every action over it still scans the parquet
    * from disk, so no result or data caching crosses query boundaries.
    */
  private val planCache =
    new PerSession(_ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = planCache(spark)
    val key = s"$sfDir/$name"
    val existing = perSession.get(key)
    if (existing != null) existing
    else {
      val built = load(spark, sfDir, name)
      val prev = perSession.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** JVM-wide memo of inferred fixture schemas, see [[parquetSchema]]. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val inferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** The schema `spark.read.parquet` infers for one fixture table,
    * memoized for the JVM. Inference runs a one-task Spark job per read
    * (about 70 ms at bench scale), and every bench item gets a fresh
    * session, so without the memo that job reran for every table of every
    * item. Keyed by the path, the table's fingerprint (a regenerated table
    * is inferred again) and the two parquet confs that decide how
    * `events.ts` is inferred.
    */
  private[graft] def parquetSchema(spark: SparkSession, sfDir: String,
      name: String): StructType = {
    val path = s"$sfDir/$name.parquet"
    val key = Seq(path, Fixtures.tablesFingerprint(sfDir, Seq(name)),
      spark.conf.get(nanosAsLong), spark.conf.get(inferNtz)).mkString("\u0000")
    val known = schemas.get(key)
    if (known != null) known
    else {
      val inferred = spark.read.parquet(path).schema
      val prev = schemas.putIfAbsent(key, inferred)
      if (prev != null) prev else inferred
    }
  }

  /** The raw `events` schema under the scan confs the loader's contract
    * needs (set on the session), and a function that brings a frame read
    * with it to a classic TimestampType `ts`; shared with the streaming
    * read of the same file.
    */
  private[graft] def eventsRead(spark: SparkSession,
      sfDir: String): (StructType, DataFrame => DataFrame) = {
    spark.conf.set(nanosAsLong, "true")
    spark.conf.set(inferNtz, "false")
    val schema = parquetSchema(spark, sfDir, "events")
    val toTs: DataFrame => DataFrame = schema("ts").dataType match {
      case LongType => _.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => _.withColumn("ts", col("ts").cast(TimestampType))
      case _ => identity
    }
    (schema, toTs)
  }

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      val (schema, toTs) = eventsRead(spark, sfDir)
      toTs(spark.read.schema(schema).parquet(path))
    } else spark.read.schema(parquetSchema(spark, sfDir, name)).parquet(path)
  }
}
