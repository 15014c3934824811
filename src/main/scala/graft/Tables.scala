package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed table catalog over a scale-factor directory
  * (`/root/testdata/sf*`). Mirrors the reference's warehouse reads
  * (`/root/reference/src/pipelines/clustering.py:62-74` reads whole
  * tables from PostgreSQL); here the warehouse layer is columnar
  * parquet so scans prune columns and push filters natively.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** The session conf under which Spark reads a parquet TIMESTAMP(NANOS)
    * column as int64; without it inferring such a file fails. It is the
    * one conf this code sets that changes an inferred schema.
    */
  private[graft] val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** (path, `nanosAsLong` value) → (file fingerprint, inferred schema). */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, StructType)]()

  /** The one way `src/main` resolves a parquet table: schema inference
    * (a footer-reading Spark job) runs once per file fingerprint, later
    * reads pass the remembered schema and submit no job.
    *
    * The memo is JVM-wide, keyed on the path plus the session's
    * [[NanosAsLong]] value, so a schema inferred under one setting is
    * never reused under the other. Each entry holds the
    * [[IndexStore.fingerprint]] (file names, sizes and mtimes, directories
    * walked) taken before the inference; a read whose fingerprint
    * differs infers again and replaces the entry, so a rewritten table is
    * re-resolved. A path the local file system cannot see (a glob, a
    * remote URI) has no fingerprint and is inferred on every read.
    *
    * This is metadata, not result caching: every read still lists and
    * scans the files, so the rows are always the ones on disk.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val local = java.nio.file.Paths.get(path).toAbsolutePath
    if (!java.nio.file.Files.exists(local)) spark.read.parquet(path)
    else {
      val key = (path, spark.conf.get(NanosAsLong, "false"))
      val fp = IndexStore.fingerprint(local.getParent.toString, Seq(local.getFileName.toString))
      Option(schemas.get(key)) match {
        case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(key, (fp, df.schema))
          df
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts has shipped in two physical vintages: parquet
    * TIMESTAMP(NANOS) (which Spark 4 only reads as int64 nanos under the
    * legacy conf) and plain TIMESTAMP(MICROS) without UTC adjustment
    * (which scans as TIMESTAMP_NTZ). Branch on the *scanned* dtype so
    * either vintage normalizes to the same session-TZ microsecond
    * timestamp instead of hard-coding one file layout. The legacy conf
    * is set before the read, so the schema resolves under
    * `nanosAsLong=true`, which [[read]]'s memo key records.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set(NanosAsLong, "true")
    normalizeEventTs(apply(s, d, "events"))
  }

  /** Normalize a scanned `ts` column to a TimestampType microsecond
    * timestamp whatever the file stored:
    *  - int64 (legacy nanos files read under `nanosAsLong`): truncate
    *    `div 1000` — the same truncation DuckDB applies casting
    *    TIMESTAMP_NS → TIMESTAMP, so oracles align. DECLARED
    *    ASSUMPTION: a bare int64 ts is nanos — the only int64 vintage
    *    ever shipped. An int64-MICROS file would be indistinguishable
    *    by dtype and silently land 1000× off; micros data must carry
    *    the parquet TIMESTAMP(MICROS) annotation (→ TIMESTAMP_NTZ
    *    branch below), which every tool that writes micros does;
    *  - TIMESTAMP_NTZ (micros files, isAdjustedToUTC=false): reinterpret
    *    in the session time zone — pinned to UTC everywhere, so the
    *    field values are preserved and DuckDB's naive read matches;
    *  - TimestampType: already canonical.
    * Any other type is a corrupt/mistyped file and fails loudly.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts scanned as unsupported type $other — expected int64 nanos, " +
          "TIMESTAMP_NTZ micros, or TIMESTAMP")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
