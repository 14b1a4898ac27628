package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every operator in the engine takes its inputs as plain DataFrames, so
  * at cluster scale these readers are the only place that changes
  * (parquet dir -> partitioned table / catalog). Filters and projections
  * applied downstream push into the parquet scan via Catalyst.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads with the table's schema from [[schemas]], so only the first
    * load of a table runs `spark.read.parquet`'s footer-inference job;
    * operators load tables about 300 times a gate pass. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val stamps =
      try p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
        .toSeq.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      catch { case _: java.io.FileNotFoundException => Nil }
    if (stamps.isEmpty) spark.read.parquet(path)
    else {
      val settings = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.")
      }
      if (schemas.size > 4096) schemas.clear()
      spark.read.schema(schemas.computeIfAbsent((stamps, settings),
        _ => spark.read.parquet(path).schema)).parquet(path)
    }
  }

  /** Inferred schemas keyed by each data file's path, length and
    * modification time plus the session's parquet read settings, so a
    * rewritten table, or a session reading nanos another way, is
    * inferred afresh instead of read with a stale schema. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, StructType]

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events` with `ts` normalized to a nanosecond BIGINT regardless of
    * how the parquet writer encoded it. Generators have shipped the column
    * both as physical INT64 nanos (read as LONG under
    * `spark.sql.legacy.parquet.nanosAsLong`) and as timestamp[us] (read as
    * TIMESTAMP_NTZ); every downstream operator and DuckDB oracle does
    * exact integer arithmetic on nanos (`ts div N` / `epoch_ns(ts) // N`),
    * so the boundary pins one representation. The NTZ->LTZ cast is
    * lossless because the session timezone is UTC (GraftSession). */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType => df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp_ltz")) * 1000L)
      // fail loudly at the boundary: a generator shipping ts as e.g.
      // STRING or DOUBLE would otherwise cast-to-null downstream
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected INT64 nanos " +
          "or timestamp[us]")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  /** CONTRACT: `vec_id` is the table's unique primary key. The
    * similarity operators lean on this structurally — single-query
    * probes carry `filter(vec_id === q).limit(1)` and the batch kNN
    * query side `filter(vec_id < n).limit(n)`, bound declarations
    * that let the plan sweep prove the broadcast sides fixed-size. A
    * duplicate vec_id would make those limits silently DROP rows
    * instead of surfacing the corruption, so uniqueness is gated by a
    * data-quality spec (SimilaritySpec "embeddings vec_id unique"),
    * not just stated here (ADVICE r15). */
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views (used by tests / ad-hoc SQL).
    * `events` goes through its normalizing loader so SQL sees the same
    * nanosecond-BIGINT `ts` the DataFrame operators do. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
