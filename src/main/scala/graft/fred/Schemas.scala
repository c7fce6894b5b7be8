package graft.fred

import org.apache.spark.sql.types._

/** Explicit per-layer schemas for the FRED-shaped lake.
  *
  * The reference infers dtypes on every read (pandas `read_json`,
  * `transform_fred_data.py:83`), which makes year/month flip between
  * string and int64 per file. We fix that with explicit `StructType`s:
  * bronze is all-string (mirroring `extract_fred_data.py:177-186`,
  * where even `value` is re-stringified at `:175`), silver/gold carry
  * canonical integer year/month and double value
  * (`transform_fred_data.py:124-141`, `aggregate_fred_data.py:121-122`).
  */
object Schemas {

  /** One observation of a FRED `series/observations` response, both
    * fields kept as their JSON text: `'.'` sentinels and unparsable
    * values reach [[graft.fred.ops.Clean]] unchanged, a JSON `null`
    * stays null. */
  val observation: StructType = StructType(Seq(
    StructField("date", StringType, nullable = true),
    StructField("value", StringType, nullable = true)))

  /** Bronze: raw observations, one row per (indicator, date).
    * Columns and order from `extract_fred_data.py:177-186`. */
  val bronze: StructType = StructType(Seq(
    StructField("indicator", StringType, nullable = false),
    StructField("observation_date", StringType, nullable = true),
    StructField("observation_month", StringType, nullable = true),
    StructField("observation_year", StringType, nullable = true),
    StructField("value", StringType, nullable = true),
    StructField("ingested_at", StringType, nullable = true)
  ))

  /** Silver: monthly grain, post group-agg.
    * Columns and order from `transform_fred_data.py:137-141`. */
  val silver: StructType = StructType(Seq(
    StructField("indicator", StringType, nullable = false),
    StructField("observation_year", IntegerType, nullable = true),
    StructField("observation_month", IntegerType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("observation_count", LongType, nullable = true),
    StructField("ingested_at", StringType, nullable = true),
    StructField("processed_at", StringType, nullable = true)
  ))

  /** Gold = silver + `aggregated_at` stamp, value bround(2)
    * (`aggregate_fred_data.py:121-122`). */
  val gold: StructType = StructType(
    silver.fields.toSeq :+ StructField("aggregated_at", StringType, nullable = true))

  /** Natural key of the serving layer: Postgres `ON CONFLICT` key and
    * the Google-Sheet dedup key (`load_fred_data.py:121`,
    * `load_fred_data_to_google.py:185`). */
  val servingKey: Seq[String] =
    Seq("indicator", "observation_year", "observation_month")

  /** Silver `ingested_at` string format — ISO with microseconds and a
    * literal `+00:00` offset (`transform_fred_data.py:131`). */
  val IsoMicrosUtc = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"
}

/** Typed views of the layer rows for `Dataset[T]` API boundaries. */
case class BronzeObservation(
    indicator: String,
    observation_date: String,
    observation_month: String,
    observation_year: String,
    value: String,
    ingested_at: String)

case class SilverObservation(
    indicator: String,
    observation_year: Option[Int],
    observation_month: Option[Int],
    value: Option[Double],
    observation_count: Option[Long],
    ingested_at: Option[String],
    processed_at: Option[String])
