package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TokenPipeline
import graft.schema.NearSchemas
import graft.sinks.BalanceUpsert
import graft.streaming.StreamingPipeline

/** Batch ≡ stream parity for the token pipeline — the reference's execution
  * model is streaming (TokenBalance.java:92-122,279-333), so the claim that
  * the same stages run unchanged under Structured Streaming is proven here,
  * not asserted in comments:
  *
  *   - the transfer stream (one keyed state per receipt → fan-out) fed in
  *     multiple micro-batches, with CDC duplicates crossing the batch
  *     boundary and topics skewed against each other, must equal the batch
  *     result (dedup → two interval joins → fan-out);
  *   - the balance changelog via per-batch deltas merged into the upsert
  *     store must equal the batch aggregate;
  *   - a full reset + replay (fresh checkpoint, fresh store, same feed) must
  *     reproduce identical results (§2 #17).
  */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._
  import TokenFixture.cfg

  /** Feed three MemoryStreams with the given JSON feeds in `nChunks` pieces,
    * run the full pipeline, return (collected transfer rows, balance store).
    * `skew` delays each topic's chunks by that many micro-batches
    * (receipts, outcomes, actions).
    */
  private def runStreaming(name: String, nChunks: Int,
                           feeds: (Seq[String], Seq[String], Seq[String]) =
                             (TokenFixture.receipts(spark).toJSON.collect().toSeq,
                              TokenFixture.outcomes(spark).toJSON.collect().toSeq,
                              TokenFixture.actions(spark).toJSON.collect().toSeq),
                           skew: (Int, Int, Int) = (0, 0, 0))
      : (Set[String], Map[String, BalanceUpsert.BalanceRow]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val (rJson, oJson, aJson) = feeds

    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]

    val tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)
    assert(tx.isStreaming, "pipeline must actually run in streaming mode")

    // One query, two sinks: MemoryStream is a single-consumer source (it
    // trims committed batches), so the transfer rows and the balance deltas
    // both come out of the same foreachBatch — the production multi-sink
    // shape (see StreamingPipeline.dualSink).
    val store = new BalanceUpsert.MemoryStore
    val txRows = scala.collection.mutable.Set.empty[String]
    val query = StreamingPipeline.dualSink(tx,
      Files.createTempDirectory(s"$name-ck").toString) { transfers =>
      txRows.synchronized { txRows ++= transfers.toJSON.collect() }
    } { deltas =>
      store.upsertAll(deltas.collect().toSeq.map(BalanceUpsert.BalanceRow.fromRow))
    }

    def chunks(xs: Seq[String]): Seq[Seq[String]] = {
      val size = math.max(1, math.ceil(xs.size.toDouble / nChunks).toInt)
      xs.grouped(size).toSeq
    }
    val feed = (chunks(rJson), chunks(oJson), chunks(aJson))
    val n = Seq(feed._1.size + skew._1, feed._2.size + skew._2, feed._3.size + skew._3).max
    (0 until n).foreach { i =>
      feed._1.lift(i - skew._1).foreach(c => rIn.addData(c))
      feed._2.lift(i - skew._2).foreach(c => oIn.addData(c))
      feed._3.lift(i - skew._3).foreach(c => aIn.addData(c))
      query.processAllAvailable()
    }
    query.stop()

    (txRows.synchronized(txRows.toSet), store.snapshot)
  }

  private def canonical(df: DataFrame): Set[String] = df.toJSON.collect().toSet

  private lazy val batchTransfers =
    TokenPipeline.transfersFromRaw(TokenFixture.receipts(spark),
      TokenFixture.outcomes(spark), TokenFixture.actions(spark), cfg).cache()

  test("streaming transfers across 3 micro-batches equal the batch result") {
    val (streamed, _) = runStreaming("tx_parity", nChunks = 3)
    assert(streamed === canonical(batchTransfers))
    assert(streamed.nonEmpty)
  }

  test("streamed balance deltas merged into the store equal the batch fold") {
    val (_, store) = runStreaming("tx_parity_bal", nChunks = 3)
    val batch = TokenPipeline.balances(batchTransfers).collect()
      .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
    assert(store.keySet === batch.keySet)
    batch.foreach { case (acct, b) =>
      val s = store(acct)
      assert(s.balance.compareTo(b.balance) == 0, s"balance of $acct")
      assert((s.blockTimestamp.compareTo(b.blockTimestamp), s.indexInChunk, s.receiptId)
        === ((0, b.indexInChunk, b.receiptId)), s"provenance of $acct")
    }
  }

  test("topic skew: actions a micro-batch early, outcomes a micro-batch late") {
    // the keyed state must buffer each part until the last of its receipt's
    // three parts arrives, whichever topic that is
    val (streamed, store) = runStreaming("tx_skew", nChunks = 3, skew = (1, 2, 0))
    assert(streamed === canonical(batchTransfers))
    val batch = TokenPipeline.balances(batchTransfers).collect()
      .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b.balance).toMap
    assert(store.keySet === batch.keySet)
    batch.foreach { case (acct, b) =>
      assert(store(acct).balance.compareTo(b) == 0, s"balance of $acct")
    }
  }

  test("reset + replay reproduces identical results (deterministic recovery)") {
    val (t1, s1) = runStreaming("tx_replay_1", nChunks = 2)
    val (t2, s2) = runStreaming("tx_replay_2", nChunks = 4)
    assert(t1 === t2)
    assert(s1.keySet === s2.keySet)
    s1.foreach { case (acct, b1) =>
      val b2 = s2(acct)
      assert(b1.balance.compareTo(b2.balance) == 0)
      assert(b1.receiptId === b2.receiptId)
    }
  }

  /** The exactly-once journal under a REAL engine redelivery: the sink
    * applies its side effects and then crashes before the checkpoint commit
    * (the precise at-least-once hazard window), the query is restarted from
    * the same checkpoint, and Structured Streaming re-runs the batch with
    * the SAME batchId — the journaled store's claim fails and it skips the
    * replay, while a plain at-least-once store visibly double-applies the
    * same deltas. End-to-end over the full pipeline (keyed dedup + joins
    * → fan-out → per-batch balance fold), not a unit call of the protocol.
    */
  test("checkpoint-restart redelivery: journaled store exactly-once, plain store double-applies") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]
    def tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)
    val ck = Files.createTempDirectory("eo-restart-ck").toString
    val journaled = new BalanceUpsert.JournaledStore
    val plain = new BalanceUpsert.MemoryStore
    @volatile var crashed = false
    def start() = tx.writeStream
      .outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = TokenPipeline.balances(batch).collect().toSeq
          .map(BalanceUpsert.BalanceRow.fromRow)
        plain.upsertAll(rows)                      // at-least-once baseline
        journaled.applyBatch("bal", id, rows)      // claim-then-apply
        if (!crashed && rows.nonEmpty) {
          crashed = true
          throw new RuntimeException("injected crash after sink side effects")
        }
        ()
      }
      .start()

    rIn.addData(TokenFixture.receipts(spark).toJSON.collect().toSeq)
    oIn.addData(TokenFixture.outcomes(spark).toJSON.collect().toSeq)
    aIn.addData(TokenFixture.actions(spark).toJSON.collect().toSeq)

    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(crashed, "the injected crash must have fired")

    val q2 = start() // same checkpoint: the engine re-runs the uncommitted batch
    q2.processAllAvailable()
    q2.stop()

    val expected = TokenPipeline.balances(batchTransfers).collect()
      .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
    val eo = journaled.inner.snapshot
    assert(eo.keySet === expected.keySet)
    expected.foreach { case (acct, want) =>
      assert(eo(acct).balance.compareTo(want.balance) == 0,
        s"journaled store drifted on $acct")
    }
    // the hazard is real: the plain store double-applied the replayed batch
    // (every nonzero-delta account in that batch is off by the extra delta)
    val doubled = plain.snapshot.exists { case (acct, got) =>
      expected.get(acct).exists(w => got.balance.compareTo(w.balance) != 0)
    }
    assert(doubled, "plain at-least-once store should have double-applied the redelivered batch")
  }

  /** The PARTITION-PARALLEL exactly-once path end-to-end: the production
    * `balancesToJdbcExactlyOnce` (hash-slice repartition → per-partition
    * connections → per-slice claim transactions, NO driver collect) runs
    * the full pipeline against a transactional fake DB whose commit of a
    * SECOND slice within the batch crashes — the partial-failure window
    * unique to the partition path (some slices committed, one torn down
    * mid-transaction). The restart redelivers the batch: committed slices
    * must fail their claims and skip, the torn slice must apply, and the
    * committed state must equal the batch fold exactly — proving per-slice
    * claims give exactly-once under partial batch failure, not just under
    * whole-batch replay.
    */
  test("partition-parallel exactly-once: torn slice recovers, committed slices skip") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]
    def tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)
    val ck = Files.createTempDirectory("eo-slice-ck").toString
    val db = new TxSliceDb(crashOnSecondCommit = true)
    val dbId = s"slice-db-${System.nanoTime()}"
    SliceDbRegistry.register(dbId, db)
    try {
      // the closure captures only the registry key (serializable); each
      // partition draws its own transactional connection from the fake
      def start() = StreamingPipeline.balancesToJdbcExactlyOnce(
        tx, "balances", "slice_journal", "bal",
        () => SliceDbRegistry.get(dbId).connection(), ck, numSlices = 8)

      rIn.addData(TokenFixture.receipts(spark).toJSON.collect().toSeq)
      oIn.addData(TokenFixture.outcomes(spark).toJSON.collect().toSeq)
      aIn.addData(TokenFixture.actions(spark).toJSON.collect().toSeq)

      val q1 = start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      q1.stop()
      assert(db.crashFired,
        "the injected second-slice commit crash must have fired " +
          "(fixture deltas span >= 2 of the 8 slices)")

      val q2 = start() // same checkpoint: the engine redelivers the batch
      q2.processAllAvailable()
      q2.stop()

      val expected = TokenPipeline.balances(batchTransfers).collect()
        .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
      val got = db.store.snapshot
      assert(got.keySet === expected.keySet)
      expected.foreach { case (acct, want) =>
        assert(got(acct).balance.compareTo(want.balance) == 0,
          s"partition-parallel exactly-once drifted on $acct")
        assert(got(acct).receiptId === want.receiptId, s"provenance of $acct")
      }
      // redelivery actually exercised the claim guard: at least the slice(s)
      // committed before the crash were skipped on replay
      assert(db.skippedClaims >= 1, "replayed committed slices must skip")
      // every committed claim is distinct per (sink@ck, batch, slice)
      val slices = db.committedSlices
      assert(slices.size === slices.map(s => (s._2, s._3)).size)
      assert(slices.forall(_._1 == s"bal@$ck"), "claim key must bind the checkpoint")
    } finally SliceDbRegistry.remove(dbId)
  }

  /** Parity at harness data scale, not just the 10-receipt fixture: the full
    * sf0.001 synthetic CDC feed (1000 events → ~1100 rows per topic with
    * verbatim redelivery, 30-day event-time span) streamed in 4 micro-batches
    * must reproduce the batch transfer set exactly. The feed is time-ordered,
    * so watermarks genuinely advance between chunks — the late re-appended
    * duplicates are evicted/deduped by the watermark exactly as batch dedup
    * removes them, and keyed state actually times out during the run (unlike
    * the fixture, whose span never moves the watermark).
    */
  private def sfParity(name: String): Unit = {
    import graft.sources.{SyntheticCdc, Tables}
    val base = SyntheticCdc.base(Tables(spark, "/root/testdata/sf0.001", "events")).cache()
    try {
      // Feed in event-time order — the CDC contract (Debezium emits in commit
      // order). The raw builders append secondary actions and redelivered
      // rows at the END of the frame; fed verbatim those arrive up to a month
      // late and the watermark CORRECTLY drops them — which is desired
      // semantics, but not a parity test. Ordered, duplicates arrive near
      // their originals (some still straddling chunk boundaries).
      def feed(df: DataFrame, timeCol: String): Seq[String] =
        df.orderBy(org.apache.spark.sql.functions.col(timeCol)).toJSON.collect().toSeq
      val feeds = (
        feed(SyntheticCdc.receiptsWithDups(base), "included_in_block_timestamp"),
        feed(SyntheticCdc.outcomesWithDups(base), "executed_in_block_timestamp"),
        feed(SyntheticCdc.actionsWithDups(base), "receipt_included_in_block_timestamp"))
      val (streamed, store) = runStreaming(name, nChunks = 4, feeds)
      val batch = canonical(TokenPipeline.transfersFromRaw(
        SyntheticCdc.receiptsWithDups(base),
        SyntheticCdc.outcomesWithDups(base),
        SyntheticCdc.actionsWithDups(base), cfg)) // same token address as the fixture cfg
      assert(streamed.size === batch.size,
        s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed === batch)
      assert(store.nonEmpty)
    } finally { base.unpersist(); () }
  }

  test("sf0.001 synthetic feed: streaming equals batch across 4 micro-batches") {
    sfParity("sf_parity")
  }

  /** The same parity on the RocksDB state-store provider (the reference's
    * backend, see RocksDbStateSpec): the keyed state's struct and array
    * state and its event-time timeouts must ride the provider unchanged.
    * The provider is read at query start and restored for the shared session.
    */
  test("sf0.001 synthetic feed on the RocksDB state store equals batch") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val previous = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try sfParity("sf_parity_rocksdb")
    finally previous match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
