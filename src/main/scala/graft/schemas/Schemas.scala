package graft.schemas

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders + schemas for the driver testdata (TESTDATA.md) and the
  * reference-shaped entities (SURVEY.md §1.2; reference producer dict literals at
  * project/kafka/producer_main.py:52-57,62-71,171-176 and warehouse DDL at
  * project/postgres/postgres-schema.sql:9-48).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan — columnar, supports predicate pushdown + column pruning.
    *
    * The `events` table's `ts` encoding has varied across driver testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects outright — read
    * as raw nanos longs via `spark.sql.legacy.parquet.nanosAsLong` and
    * convert, losslessly at the data's µs resolution), TIMESTAMP(MICROS)
    * without UTC adjustment (arrives as TIMESTAMP_NTZ — cast to session-TZ
    * TimestampType, value-preserving under the UTC session both Verify and
    * Bench pin), or already-adjusted µs. Normalize every variant to µs
    * TimestampType so downstream queries and the DuckDB oracle see one
    * shape. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr}
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }
}

/** Reference-shaped stream schemas (the crawler's topics).
  * Schemas inferred in SURVEY.md §1.2. */
object Entities {
  /** Tagged-union user-stream record (one topic, two shapes —
    * consumer_user.py:79-82): profile fields null for LIKED events and
    * vice versa; `recType` is the discriminator. */
  val userStreamSchema: StructType = StructType(Seq(
    StructField("did", StringType),
    StructField("handle", StringType),
    StructField("display_name", StringType),
    StructField("description", StringType),
    StructField("user_did", StringType),
    StructField("uri", StringType),
    StructField("type", StringType)))

  val postStreamSchema: StructType = StructType(Seq(
    StructField("uri", StringType),
    StructField("cid", StringType),
    StructField("text", StringType),
    StructField("author", StringType)))
}
