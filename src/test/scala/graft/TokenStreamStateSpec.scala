package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.operators.{Dedup, TokenPipeline}
import graft.schema.NearSchemas
import graft.sinks.BalanceUpsert
import graft.streaming.StreamingPipeline

/** The streaming token pipeline's state: one keyed operator on `receipt_id`
  * replaces the three watermarked dedups and the two ±2 s stream-stream
  * joins. Pinned here:
  *
  *   - plan shape: one stateful operator, one store per shuffle partition,
  *     no join or dedup operator, one shuffle below the state;
  *   - bounded state: once the watermark passes a key's max event time +
  *     `dedupDelay`, the key's state is gone;
  *   - a checkpoint written by the dedup+join plan cannot be resumed — the
  *     query fails instead of silently reading a foreign state layout.
  */
class TokenStreamStateSpec extends SparkSpec {
  import spark.implicits._
  import TokenFixture.cfg

  private final class Inputs {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val r: MemoryStream[String] = MemoryStream[String]
    val o: MemoryStream[String] = MemoryStream[String]
    val a: MemoryStream[String] = MemoryStream[String]
    def parsed: (DataFrame, DataFrame, DataFrame) = (
      StreamingPipeline.parseJson(r.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(o.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(a.toDF(), NearSchemas.actionReceiptActions))
    def transfers: DataFrame = {
      val (pr, po, pa) = parsed
      StreamingPipeline.transfers(pr, po, pa, cfg)
    }
    def addFixture(): Unit = {
      r.addData(TokenFixture.receipts(spark).toJSON.collect().toSeq)
      o.addData(TokenFixture.outcomes(spark).toJSON.collect().toSeq)
      a.addData(TokenFixture.actions(spark).toJSON.collect().toSeq)
      ()
    }
  }

  /** The pipeline into a balance store, the production multi-sink shape. */
  private def start(in: Inputs, ck: String, store: BalanceUpsert.MemoryStore): StreamingQuery =
    StreamingPipeline.dualSink(in.transfers, ck)(_ => ()) { deltas =>
      store.upsertAll(deltas.collect().toSeq.map(BalanceUpsert.BalanceRow.fromRow))
    }

  private def walk(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(walk)

  test("plan shape: one keyed stateful operator, one store per partition, one shuffle") {
    val in = new Inputs
    val q = start(in, Files.createTempDirectory("shape-ck").toString,
      new BalanceUpsert.MemoryStore)
    try {
      in.addFixture()
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length === 1, ops.map(_.operatorName).mkString(", "))
      assert(ops.head.numStateStoreInstances ===
        spark.conf.get("spark.sql.shuffle.partitions").toLong)

      val plan = walk(q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan)
      val names = plan.map(_.getClass.getSimpleName)
      assert(!names.contains("StreamingSymmetricHashJoinExec"), names)
      assert(!names.contains("StreamingDeduplicateWithinWatermarkExec"), names)
      val stateful = plan.filter(_.getClass.getSimpleName == "FlatMapGroupsWithStateExec")
      assert(stateful.size === 1, names)
      assert(walk(stateful.head).count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
        names)
    } finally q.stop()
  }

  /** One far-future row per topic, each passing its topic's filter, so that
    * every input's watermark (and hence the min-of-inputs watermark) moves.
    */
  private def sentinels(in: Inputs, offsetSec: Long): Unit = {
    val (id, kind) = ("sentinel", "FUNCTION_CALL")
    def json(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      TokenFixture.df(spark, rows, schema).toJSON.collect().toSeq
    in.r.addData(json(Seq(TokenFixture.receiptRow(
      (s"$id-r", offsetSec, 0, "alice", TokenFixture.Token))), NearSchemas.receipts))
    in.o.addData(json(Seq(TokenFixture.outcomeRow(
      (s"$id-o", offsetSec, "SUCCESS_VALUE"))), NearSchemas.executionOutcomes))
    in.a.addData(json(Seq(Row(s"$id-a", 0, kind, TokenFixture.args("mint", "{}"),
      "alice", TokenFixture.Token, TokenFixture.ns(offsetSec), null)),
      NearSchemas.actionReceiptActions))
    ()
  }

  test("bounded state: the event-time timeout drops every key past the dedup horizon") {
    val in = new Inputs
    val store = new BalanceUpsert.MemoryStore
    val q = start(in, Files.createTempDirectory("bounded-ck").toString, store)
    try {
      in.addFixture()
      q.processAllAvailable()
      // r1..r10 each keep a receipt, an outcome or an action
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 10)
      val balances = store.snapshot

      // fixture event times span T+10..T+100 s; with a 60 minute delay the
      // sentinels at T+3 h move the watermark to T+2 h, past every fixture
      // key's max event time + 60 minutes
      sentinels(in, offsetSec = 3 * 3600L)
      q.processAllAvailable() // the sentinel batch, then the no-data batch
      val last = q.lastProgress
      assert(last.numInputRows === 0, "the last trigger must be the no-data one")
      assert(last.stateOperators.head.numRowsTotal === 3,
        "only the three sentinel keys may remain in state")

      // a redelivery behind the watermark is dropped before it reaches
      // state: the timed-out keys neither come back nor emit again
      in.addFixture()
      q.processAllAvailable()
      val late = q.recentProgress.filter(_.numInputRows > 0).last.stateOperators.head
      assert(late.numRowsDroppedByWatermark > 0)
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 3)
      assert(store.snapshot === balances)
    } finally q.stop()
  }

  test("a checkpoint of the dedup+join plan fails loudly instead of resuming") {
    val in = new Inputs
    val ck = Files.createTempDirectory("old-plan-ck").toString

    // the plan this pipeline ran before the keyed operator: three
    // watermarked dedups feeding two stream-stream interval joins
    val (pr, po, pa) = in.parsed
    def dedup(df: DataFrame, tsCol: String, timeCol: String, ids: Seq[String]) =
      Dedup.withinWatermark(df.withColumn(timeCol, NearSchemas.eventTime(col(tsCol))),
        timeCol, cfg.dedupDelay, ids)
    val old = TokenPipeline.transfers(TokenPipeline.joined(
      dedup(pr, "included_in_block_timestamp", "r_event_time", Seq("receipt_id")),
      dedup(po, "executed_in_block_timestamp", "o_event_time", Seq("receipt_id")),
      dedup(pa, "receipt_included_in_block_timestamp", "a_event_time",
        Seq("receipt_id", "index_in_action_receipt")), cfg), cfg)
    val q0 = old.writeStream.outputMode("append").option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[Row], _: Long) => b.collect(); () }
      .start()
    in.addFixture()
    q0.processAllAvailable()
    q0.stop()

    in.addFixture() // new data, so the resumed query must run a batch
    val store = new BalanceUpsert.MemoryStore
    val q1 = start(in, ck, store)
    try {
      val e = intercept[StreamingQueryException](q1.processAllAvailable())
      assert(e.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"),
        e.getMessage)
    } finally q1.stop()
    assert(store.snapshot.isEmpty, "no batch may commit on a foreign state layout")
  }
}
