package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.ChangeLogGen
import graft.operators.CdcApply
import graft.queries.{ContentQueries, EventAnalytics, RelationalCdcQueries}
import graft.table.IceLite

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full CDC engine end-to-end — deterministic change-event
    * log → per-key fold → merge-on-read delta commit → IceLite
    * snapshot → latest-state read-back. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val cfg = ChangeLogGen.GenConfig(numEvents = 20000L, numConvs = 300, maxTurns = 30)
    val log = ChangeLogGen.events(spark, cfg)
    val schema = log.schema("after").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val table = IceLite.create(s"$dir/transcripts", schema, numBuckets = 16)
    // two epochs to exercise cross-batch merge + epoch bookkeeping
    CdcApply.applyBatch(spark, table, log.filter(col("offset") < 10000), epoch = Some(("entry", 0L)))
    CdcApply.applyBatch(spark, table, log.filter(col("offset") >= 10000), epoch = Some(("entry", 1L)))
    table.read(spark)
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data-pipeline operators).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalCdcQueries.queries ++ ContentQueries.queries ++ EventAnalytics.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    RelationalCdcQueries.oracleSql ++ ContentQueries.oracleSql ++ EventAnalytics.oracleSql
}
