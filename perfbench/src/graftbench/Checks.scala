package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleFold
import graft.model.{ChangeEvent, TranscriptTurn}
import graft.table.{IceLite, IceLiteTable}

/** Output checks, all run outside the timed region. */
object Checks {

  /** `n` distinct non-hot conversation ids (c00000000 is the generator's
    * hot key), drawn with `seed` from the generator's id range.
    */
  def sampleConvs(seed: Long, numConvs: Int, n: Int): Seq[String] = {
    val rnd = new java.util.Random(seed)
    Iterator.continually(1 + rnd.nextInt(numConvs - 1)).distinct
      .take(math.min(n, numConvs - 1)).map(i => f"c$i%08d").toSeq
  }

  /** Each conversation's table bucket, from the table's own layout function. */
  def bucketsOf(spark: SparkSession, convs: Seq[String], numBuckets: Int): Map[String, Int] = {
    import spark.implicits._
    convs.toDF("conv_id").select(col("conv_id"), IceLite.bucketOf(col("conv_id"), numBuckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  /** A lookup returns only the requested conversation, each turn once. */
  def lookupOk(rows: Array[Row], conv: String): Boolean = {
    val turns = rows.map(_.getAs[Int]("turn_idx"))
    rows.forall(_.getAs[String]("conv_id") == conv) && turns.distinct.length == turns.length
  }

  /** One point lookup (`IceLiteTable.read` of the conversation's bucket,
    * filtered to it) timed as a span whose Spark jobs carry the span id.
    * Throws when the result fails [[lookupOk]].
    */
  def timedLookup(spark: SparkSession, spans: Spans, table: IceLiteTable, conv: String, bucket: Int,
                  layer: String): Span = {
    val id = spans.nextId()
    val deltas = table.deltaFiles(Some(Set(bucket))).size.toDouble
    val (rows, sp) = spans.time("lookup", layer, id = id,
      counts = (rs: Array[Row]) => Map("rows" -> rs.length.toDouble, "delta_files" -> deltas)) {
      JobListener.tagged(spark, id) { table.read(spark, Some(Set(bucket))).filter(col("conv_id") === conv).collect() }
    }
    if (!lookupOk(rows, conv)) throw new IllegalStateException(s"lookup $conv returned foreign or duplicate rows")
    sp
  }

  /** The table's final state of `convs` equals the sequential reference
    * fold ([[OracleFold]]) over the same log events. `corrupt` damages the
    * expected state, to show the check can fail.
    */
  def stateMatches(spark: SparkSession, table: IceLiteTable, log: DataFrame,
                   convs: Seq[String], corrupt: Boolean): (Boolean, String) = {
    import spark.implicits._
    val events = log.filter(col("conv_id").isin(convs: _*))
      .select(col("partition"), col("offset"), col("ts"), col("op"), col("conv_id"), col("turn_idx"),
        col("after"), col("schema_v").as("schemaV"))
      .as[ChangeEvent].collect().toSeq
    val expected0 = OracleFold.rows(OracleFold.finalState(events))
    val expected =
      if (!corrupt) expected0
      else if (expected0.nonEmpty) expected0.tail
      else Seq(TranscriptTurn(convs.head, 0, "user", "corrupted", null, new java.sql.Timestamp(0L)))
    val buckets = bucketsOf(spark, convs, table.numBuckets).values.toSet
    val got = table.read(spark, Some(buckets)).filter(col("conv_id").isin(convs: _*))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[TranscriptTurn]
      .collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
    val ok = got == expected
    val msg = s"${convs.size} convs, ${events.size} events, ${expected.size} expected rows, ${got.size} table rows" +
      (if (ok) "" else {
        val diff = got.zipAll(expected, null, null).indexWhere { case (a, b) => a != b }
        s"; first difference at row $diff"
      })
    (ok, msg)
  }
}
