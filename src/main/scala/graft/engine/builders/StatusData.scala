package graft.engine.builders

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Manifest

/** The StatusDataTable manifest builder (`update_status_data.py:9-51`,
  * schema `table_list.py:64-68`: year INT, month INT, complete BOOL).
  *
  * Reference semantics — one row per year:
  *   - monthly archive: row becomes (year, month, false) — the month
  *     field holds the LAST loaded month; archives load in
  *     chronological order, so every earlier month is covered too;
  *   - yearly archive: row becomes (year, NULL, true).
  */
object StatusData {

  val schema: StructType = StructType(Seq(
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("complete", BooleanType)))

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Record one loaded archive; replaces the year's row. */
  def markLoaded(existing: DataFrame, year: Int, month: Option[Int]): DataFrame = {
    val spark = existing.sparkSession
    val delta = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        Integer.valueOf(year),
        month.map(Integer.valueOf).orNull,
        java.lang.Boolean.valueOf(month.isEmpty))),
      schema)
    existing.filter(col("year") =!= year).unionByName(delta)
  }

  /** Is this (year, month) archive already covered by the manifest?
    * The row holds the year's LAST loaded month, so every month up to
    * it is covered ([[Manifest.covers]]); a yearly archive is covered
    * only by a complete year. */
  def alreadyLoaded(manifest: DataFrame, year: Int, month: Option[Int]): Boolean = {
    val cond = Manifest.covers(lit(year),
      month.fold(lit(null).cast(IntegerType))(m => lit(m)),
      col("year"), col("month"), col("complete"))
    !manifest.filter(cond).limit(1).isEmpty
  }
}
