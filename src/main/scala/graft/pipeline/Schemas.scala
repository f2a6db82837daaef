package graft.pipeline

import org.apache.spark.sql.types._

/** Declared schemas for the five pipeline tables (FIXTURES.md §2; reference
  * DDLs at notebooks/bronze/01_ingest_bronze.py:72-87,
  * notebooks/silver/02_transform_silver.py:99-132,
  * notebooks/gold/03_aggregate_gold.py:19-36,
  * notebooks/gold/04_data_quality_checks.py:23-36).
  *
  * The reference infers the CSV schema at the edge and then casts to
  * these; BronzeIngest instead reads every file with [[stooqCsv]], since
  * one inferred header for a mixed equity/FX batch loses columns.
  */
object Schemas {

  /** Raw Stooq daily bars, in file order (FIXTURES.md §1). FX files carry
    * no Volume column. Volume is read as DOUBLE and cast to BIGINT in
    * bronze, so a fractional volume truncates instead of reading as null. */
  val stooqCsv: StructType = StructType(Seq(
    StructField("Date", DateType),
    StructField("Open", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Close", DoubleType),
    StructField("Volume", DoubleType)))

  val bronze: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType), // nullable: FX feeds carry no volume
    StructField("source", StringType),
    StructField("ingested_at", TimestampType),
    StructField("input_file", StringType)))

  /** Same surface as bronze; grain unique (symbol, date). */
  val silver: StructType = bronze

  val silverRejected: StructType =
    StructType(bronze.fields :+ StructField("reject_reason", StringType))

  val gold: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("close", DoubleType),
    StructField("volume", LongType),
    StructField("return_1d", DoubleType),
    StructField("vol_20d", DoubleType),
    StructField("avg_volume_20d", DoubleType),
    StructField("source", StringType),
    StructField("computed_at", TimestampType)))

  val dataQualityChecks: StructType = StructType(Seq(
    StructField("run_ts", TimestampType),
    StructField("layer", StringType),
    StructField("check_name", StringType),
    StructField("symbol", StringType),
    StructField("check_status", StringType),
    StructField("metric_value", DoubleType),
    StructField("threshold", DoubleType),
    StructField("details", StringType)))

  object tables {
    val bronze = "bronze_prices"
    val silver = "silver_prices_daily"
    val silverRejected = "silver_prices_rejected"
    val gold = "gold_market_features_daily"
    val dq = "data_quality_checks"
  }

  /** Declared schema per table name (lets the catalog read tables whose
    * current image is empty — schema inference has nothing to look at).
    * `names` maps configured physical names back to the logical five. */
  def of(table: String, names: TableNames = TableNames()): Option[StructType] =
    table match {
      case t if t == names.bronze => Some(bronze)
      case t if t == names.silver => Some(silver)
      case t if t == names.silverRejected => Some(silverRejected)
      case t if t == names.gold => Some(gold)
      case t if t == names.dq => Some(dataQualityChecks)
      case _ => None
    }
}
