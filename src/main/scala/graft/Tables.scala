package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Testdata table loader. One quirk: `events.ts` has shipped in two
  * encodings across driver data refreshes, and the engine normalizes
  * BOTH so downstream operators always see `ts: timestamp` (µs, UTC):
  *
  *  - INT64 TIMESTAMP(NANOS): Spark refuses it outright
  *    (PARQUET_TYPE_ILLEGAL) unless
  *    `spark.sql.legacy.parquet.nanosAsLong=true` is set — our
  *    Verify/Bench/test sessions set it, the column arrives as Long
  *    nanoseconds, and we rebuild a microsecond timestamp (`ts div
  *    1000` in integer math — no double round-trip, no precision loss);
  *  - parquet `timestamp[us]` with no timezone: Spark 4 infers
  *    TIMESTAMP_NTZ, which `unix_millis`/`window`/watermarks reject
  *    (DATATYPE_MISMATCH: requires TIMESTAMP). Every engine entrypoint
  *    pins the session timezone to UTC, so `cast("timestamp")`
  *    reinterprets the wall-clock instant identically — a metadata
  *    change, not an arithmetic one.
  *
  * Two more encodings a driver refresh could plausibly ship — INT96
  * legacy timestamps and tz-aware `timestamp[us, tz=UTC]` — already
  * arrive from Spark's parquet reader as TimestampType, so the
  * normalizer passes them through untouched; TablesSpec pins all four
  * arrival shapes with synthetic parquet fixtures so the next silent
  * refresh is a red test, not a red round.
  *
  * Opening a table runs no Spark job once its schema is known.
  * `spark.read.parquet` infers the schema with one job per call, and a
  * read API that re-opens its table on every request pays that job every
  * time. [[schemaOf]] resolves each path's schema once and reuses it
  * until the files change:
  *
  *  - the cache key is the session confs parquet inference reads
  *    (`inferenceConfs`) plus the sorted (file, length, mtime) list of
  *    the path's leaf data files, so an append, an overwrite or a
  *    compaction changes the key and the next open infers again;
  *  - the cache holds one entry per path, replaced when the key changes,
  *    so it grows with the number of distinct paths, never with the
  *    number of opens or rewrites;
  *  - it holds the schema, not a DataFrame or its plan: every open builds
  *    a fresh relation with fresh attribute ids, so self-joins of two
  *    opens and the plan-shape snapshots are exactly those of an
  *    uncached `spark.read.parquet`.
  *
  * A failed inference (missing path, empty directory) is not cached and
  * throws Spark's own error.
  */
object Tables {

  /** Normalize the `ts` column of an events-shaped schema in place.
    * Shared by the batch loader below and the streaming file source
    * (streaming.EventStreams.readEventStream) so a testdata encoding
    * change can never split the two paths again. Works on batch and
    * streaming DataFrames alike (withColumn only). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** The post-normalization schema `ts` must have. */
  def tsIsNormalized(schema: StructType): Boolean =
    schema.fields.find(_.name == "ts").forall(_.dataType == TimestampType)

  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(s, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** A parquet read whose schema comes from [[schemaOf]]. */
  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(schemaOf(s, path)).parquet(path)

  /** The children of `dir` a parquet read sees: data files and
    * partition directories. Like Spark's file index it skips `_`/`.`
    * names (`_SUCCESS`, `_temporary`, `.crc` files, staging dirs). */
  def dataEntries(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** The session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class SchemaKey(
      confs: Seq[Option[String]], files: Vector[(String, Long, Long)])

  private val schemas = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** The paths with a resolved schema, and that schema. */
  private[graft] def cachedSchemas: Map[String, StructType] = {
    val out = Map.newBuilder[String, StructType]
    schemas.forEach((p, e) => out += p -> e._2)
    out.result()
  }

  /** The schema `spark.read.parquet(path)` infers, run as a Spark job
    * only when the path's files or the inference confs changed since the
    * last call for this path. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer(): StructType = spark.read.parquet(path).schema
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    leafFiles(fs, root) match {
      case None => infer() // missing path: Spark raises its own error
      case Some(files) =>
        val key = SchemaKey(inferenceConfs.map(spark.conf.getOption), files)
        Option(schemas.get(root.toString)).collect {
          case (k, schema) if k == key => schema
        }.getOrElse {
          val schema = infer()
          schemas.put(root.toString, (key, schema))
          schema
        }
    }
  }

  /** The sorted (file, length, mtime) list of the data files under
    * `root`, recursively, or None when `root` does not exist. */
  private def leafFiles(fs: FileSystem, root: Path): Option[Vector[(String, Long, Long)]] = {
    def walk(dir: Path): Seq[FileStatus] = dataEntries(fs, dir).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath) else Seq(st)
    }
    try {
      val st = fs.getFileStatus(root)
      val leaves = if (st.isDirectory) walk(root) else Seq(st)
      Some(leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted)
    } catch { case _: java.io.FileNotFoundException => None }
  }
}
