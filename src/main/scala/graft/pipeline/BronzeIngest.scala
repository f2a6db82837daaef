package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bronze layer: raw OHLCV CSV → typed, deduplicated, provenance-stamped
  * rows, upserted idempotently on (symbol, date).
  *
  * Reference: notebooks/bronze/01_ingest_bronze.py. Semantics kept exactly:
  *  - directory glob of `*.csv` with a header row (01:23-27);
  *  - symbol extracted from the filename via `/([^/]+)\.csv$` group 1
  *    (01:33-36); file provenance via input_file_name() (01:28);
  *  - FX files carry no Volume column → typed-null volume (01:49-53);
  *  - rows with null symbol/date/close dropped (01:64-68);
  *  - within-batch dropDuplicates on (symbol,date) — arbitrary survivor by
  *    contract (01:63-68, SURVEY D1);
  *  - MERGE upsert on (symbol,date): re-running the same batch is a no-op
  *    (01:93-107; emulation per SURVEY §7.3).
  *
  * `ingestedAt` is injectable for deterministic tests (the reference bakes
  * current_timestamp() in, SURVEY §7.5).
  */
object BronzeIngest {

  /** Every file is read with the declared [[Schemas.stooqCsv]], never
    * with an inferred one: the reference's "infer, then cast" (01:23-27,
    * 40-53) infers ONE header for the whole glob, and Spark takes it from
    * the largest file, so a large FX file next to a small equity file
    * nulls every equity Volume with only a WARN. Columns bind by
    * position: an FX row ends after Close and reads Volume as null, and a
    * field that does not parse reads as null (a null close is dropped
    * below). No inference pass runs over the batch. */
  def readCsvDir(spark: SparkSession, csvDir: String, source: String,
                 ingestedAt: Timestamp): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.stooqCsv)
      .csv(s"$csvDir/*.csv")
      .withColumn("input_file", input_file_name())
      .withColumn("symbol", regexp_extract(col("input_file"), "/([^/]+)\\.csv$", 1))
      .select(
        col("symbol"),
        col("Date").as("date"),
        col("Open").as("open"),
        col("High").as("high"),
        col("Low").as("low"),
        col("Close").as("close"),
        col("Volume").cast(LongType).as("volume"),
        lit(source).as("source"),
        lit(ingestedAt).as("ingested_at"),
        col("input_file"))
      .filter(col("symbol").isNotNull && col("symbol") =!= "" &&
        col("date").isNotNull && col("close").isNotNull)
      .dropDuplicates("symbol", "date")

  /** Ingest a CSV batch into bronze_prices. Idempotent: the upsert key is
    * (symbol, date), incoming wins. A non-empty `symbols` whitelist and
    * start/end dates (reference config.yaml `data:`) bound the batch at
    * the edge — before the upsert touches any partition. */
  def run(spark: SparkSession, catalog: Catalog, csvDir: String,
          source: String = "stooq",
          ingestedAt: Timestamp = new Timestamp(System.currentTimeMillis()),
          names: TableNames = TableNames(),
          symbols: Seq[String] = Nil,
          startDate: Option[java.sql.Date] = None,
          endDate: Option[java.sql.Date] = None): DataFrame = {
    val all = readCsvDir(spark, csvDir, source, ingestedAt)
    val bySymbol =
      if (symbols.isEmpty) all else all.filter(col("symbol").isin(symbols: _*))
    val incoming = bySymbol
      .filter(startDate.map(d => col("date") >= lit(d)).getOrElse(lit(true)))
      .filter(endDate.map(d => col("date") <= lit(d)).getOrElse(lit(true)))
    catalog.upsert(incoming, names.bronze,
      keys = Seq("symbol", "date"), partitionBy = Seq("symbol"))
    catalog.read(names.bronze)
  }
}
