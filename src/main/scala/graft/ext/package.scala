package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

package object ext {

  /** The zero-row answer with exactly `fields` as its schema: what an
    * operator returns when its input is empty (or leaves it nothing to
    * train on) instead of planning against no data. */
  private[graft] def emptyFrame(spark: SparkSession, fields: StructField*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(fields))
}
