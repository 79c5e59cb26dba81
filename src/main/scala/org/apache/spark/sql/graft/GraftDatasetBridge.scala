/* Bridge into private[sql] APIs (Dataset.ofRows, the Column→Expression
 * view and the shared Hadoop configuration). This file deliberately lives
 * in the org.apache.spark.sql namespace — the standard technique for
 * third-party Catalyst extensions that build DataFrames from custom
 * LogicalPlans. Nothing here is copied from Spark; it only forwards three
 * calls.
 */
package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.Dataset

object GraftDatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column → fully-converted catalyst Expression (SortOrder preserved). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** The shared state's Hadoop configuration, which every
    * `sessionState.newHadoopConf()` copies.
    */
  def sharedHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.hadoopConf
}
