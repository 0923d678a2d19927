package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files
import java.time.Instant

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.SparkEntry
import graft.operators.{Lineage, TokenPipeline}
import graft.schema.NearSchemas
import graft.sinks.BalanceUpsert
import graft.sources.{SyntheticCdc, Tables}
import graft.streaming.StreamingPipeline

/** The two CDC workloads over the NEAR token pipeline: dedup ×3 → ±2 s
  * interval joins → fan-out → `dualSink` into a `BalanceUpsert.MemoryStore`,
  * on the default trigger, fed through three MemoryStreams.
  *
  *   - `live` is open loop: one generator thread sends ticks on a fixed
  *     schedule and never waits for the pipeline;
  *   - `catchup` is closed loop: a preloaded backlog drains in a few large
  *     chunks, the next chunk added only when the previous one completed.
  *
  * Both record raw events only (ticks, batches, chunks, progress); the
  * metrics are computed from them outside the JVM.
  */
final class Cdc(spark: SparkSession, a: Main.Args, rec: Records, tracer: Option[Tracer]) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val cfg = TokenPipeline.Config(SyntheticCdc.TokenAddress)
  private val Schemas = Seq(NearSchemas.receipts, NearSchemas.executionOutcomes,
    NearSchemas.actionReceiptActions)
  private val WarmRows = 1000
  /** `live`'s open-loop schedule: mean arrival rate and tick spacing. */
  private val RateRowsPerS = 1660
  private val TickMs = 50.0
  /** `catchup` drains the backlog in this many chunks. */
  private val CatchupChunks = 4

  /** One feed row: shared-clock event time (ns), topic index, JSON value. */
  final case class Row3(tns: Long, topic: Int, json: String)

  /** The CDC feed of the data dir, redeliveries included, every topic in
    * commit order and all three merged on their shared event-time clock.
    */
  def feed(): Array[Row3] = {
    val base = Lineage.cut(SyntheticCdc.base(Tables(spark, a.data, "events")))
    def topic(df: DataFrame, timeCol: String, i: Int): Array[Row3] =
      df.select(col(timeCol).cast("long").as("t"), to_json(struct(df.columns.map(col): _*)).as("j"))
        .orderBy(col("t"), col("j")).as[(Long, String)].collect()
        .map { case (t, j) => Row3(t, i, j) }
    val all = topic(SyntheticCdc.receiptsWithDups(base), "included_in_block_timestamp", 0) ++
      topic(SyntheticCdc.outcomesWithDups(base), "executed_in_block_timestamp", 1) ++
      topic(SyntheticCdc.actionsWithDups(base), "receipt_included_in_block_timestamp", 2)
    all.sortBy(r => (r.tns, r.topic)) // stable: each topic keeps its commit order
  }

  // ---------------------------------------------------------------- pipeline

  /** Source descriptions → topic index, for reading offsets off progress. */
  private val topicOf = TrieMap.empty[String, Int]
  /** Progress events seen per streaming run id. */
  private val progressSeen = TrieMap.empty[String, Int]
  @volatile private var workloadSpan: Option[String] = None

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach(msg => rec.emit("query_failed", "run_id" -> e.runId.toString, "error" -> msg))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def dur(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      val offsets = Array.fill(3)(-1L)
      p.sources.foreach { s =>
        topicOf.get(s.description).foreach { i =>
          offsets(i) = Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L)
        }
      }
      val st = p.stateOperators.toSeq
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val runId = p.runId.toString
      rec.emit("progress", "run_id" -> runId, "batch_id" -> p.batchId,
        "start_ms" -> start, "rows" -> p.numInputRows, "offsets" -> offsets.toSeq,
        "trigger_ms" -> dur("triggerExecution"), "plan_ms" -> dur("queryPlanning"),
        "log_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "source_ms" -> (dur("latestOffset") + dur("getBatch")),
        "add_batch_ms" -> dur("addBatch"),
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
        "state_removal_ms" -> st.map(_.allRemovalsTimeMs).sum,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_late_dropped" -> st.map(_.numRowsDroppedByWatermark).sum)
      progressSeen.updateWith(runId)(n => Some(n.getOrElse(0) + 1))
      tracer.foreach(_.add(Tracer.Span(Tracer.triggerId(runId, p.batchId), workloadSpan,
        s"trigger ${p.batchId}", "streaming", start, start + dur("triggerExecution"),
        Map("rows" -> p.numInputRows))))
    }
  }

  /** A running pipeline over three fresh MemoryStreams into a fresh store. */
  final class Pipeline(val tag: String) {
    val ins: Seq[MemoryStream[String]] = Schemas.map(_ => MemoryStream[String])
    ins.zipWithIndex.foreach { case (m, i) => topicOf.put(m.toString, i) }
    val store = new BalanceUpsert.MemoryStore
    @volatile var legs = 0L
    @volatile var batches = 0
    private val Seq(r, o, x) = ins.zip(Schemas).map { case (m, schema) =>
      StreamingPipeline.parseJson(m.toDF(), schema)
    }
    private val tx = StreamingPipeline.transfers(r, o, x, cfg)

    private def batchKey: (String, Long) = {
      val sc = spark.sparkContext
      (String.valueOf(sc.getLocalProperty("spark.jobGroup.id")),
        Option(sc.getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L))
    }
    @volatile private var stageMs = 0d

    val query: StreamingQuery = StreamingPipeline.dualSink(tx,
      Files.createTempDirectory(new java.io.File(a.work).toPath, s"ck-$tag").toString) { transfers =>
      val (run, b) = batchKey
      val t0 = Clock.nowMs
      legs += Tracer.within(tracer, "sink.stage", "sinks", Some(Tracer.triggerId(run, b))) {
        transfers.count()
      }
      stageMs = Clock.nowMs - t0
    } { deltas =>
      val (run, b) = batchKey
      val parent = Some(Tracer.triggerId(run, b))
      val t0 = Clock.nowMs
      val rows = Tracer.within(tracer, "sink.delta", "sinks", parent) {
        deltas.collect().toSeq.map(BalanceUpsert.BalanceRow.fromRow)
      }
      val t1 = Clock.nowMs
      Tracer.within(tracer, "sink.upsert", "sinks", parent)(store.upsertAll(rows))
      val t2 = Clock.nowMs
      rec.emit("batch", "tag" -> tag, "run_id" -> run, "batch_id" -> b, "end_ms" -> t2,
        "stage_ms" -> stageMs, "delta_ms" -> (t1 - t0), "upsert_ms" -> (t2 - t1),
        "upsert_rows" -> rows.size)
      batches += 1
    }
    rec.emit("pipeline", "tag" -> tag, "run_id" -> query.runId.toString)

    /** Append rows to their topics; returns each topic's latest offset. */
    def add(rows: Seq[Row3], latest: Array[Long]): Unit =
      rows.groupBy(_.topic).toSeq.sortBy(_._1).foreach { case (t, rs) =>
        latest(t) = ins(t).addData(rs.map(_.json)).json.trim.toLong
      }

    /** Stop the query, then wait (up to 5 s) for the progress event of
      * every batch it ran: ticks are attributed through those events.
      */
    def stop(): Unit = {
      query.stop()
      val until = Clock.nowMs + 5000
      while (progressSeen.getOrElse(query.runId.toString, 0) < batches && Clock.nowMs < until)
        Thread.sleep(20)
    }
  }

  /** Warm codegen and the state-store path on a short closed-loop prefix. */
  private def warmUp(rows: Array[Row3]): Unit = {
    val p = new Pipeline("warmup")
    try {
      p.add(rows.take(WarmRows).toSeq, Array.fill(3)(-1L))
      p.query.processAllAvailable()
    } finally p.stop()
  }

  // ------------------------------------------------------------------ checks

  /** Batch `near_balances`/`near_transfers` over the same data dir. */
  private lazy val reference: (Map[String, (JBigDecimal, String)], Long) = {
    val q = SparkEntry.queries
    val bal = q("near_balances")(spark, a.data).collect().map { r =>
      r.getAs[String]("account") ->
        (new JBigDecimal(String.valueOf(r.getAs[Any]("balance"))), r.getAs[String]("receipt_id"))
    }.toMap
    (bal, q("near_transfers")(spark, a.data).count())
  }

  /** The drained store and leg count against the batch twin. */
  private def check(p: Pipeline): Unit = {
    val (want, wantLegs) = reference
    val got = p.store.snapshot.map { case (k, r) => k -> (r.balance, r.receiptId) }
    val wrong = (want.keySet ++ got.keySet).count { k =>
      (want.get(k), got.get(k)) match {
        case (Some((wb, wr)), Some((gb, gr))) => wb.compareTo(gb) != 0 || wr != gr
        case _ => true
      }
    }
    rec.emit("check", "tag" -> p.tag, "ok" -> (wrong == 0 && p.legs == wantLegs),
      "accounts" -> got.size, "accounts_expected" -> want.size,
      "accounts_wrong" -> wrong, "legs" -> p.legs, "legs_expected" -> wantLegs)
  }

  private def setupDone(feedMs: Double): Unit =
    rec.emit("setup", "feed_s" -> feedMs / 1000, "index_s" -> 0d, "end_ms" -> Clock.nowMs)

  // --------------------------------------------------------------- workloads

  /** Open loop: the first [[WarmRows]] rows warm the live query closed
    * loop, then ticks of [[RateRowsPerS]] × [[TickMs]] rows fall due every
    * [[TickMs]] with seeded jitter, for `seconds`; rows beyond the schedule
    * are drained afterwards, untimed, so the check sees the whole feed.
    */
  def live(): Unit = {
    spark.streams.addListener(progressListener)
    val t0 = Clock.nowMs
    val rows = feed()
    val feedMs = Clock.nowMs - t0
    val p = new Pipeline("live")
    val latest = Array.fill(3)(-1L)
    p.add(rows.take(WarmRows).toSeq, latest)
    drain(p)
    settle(p)
    val sched = rows.drop(WarmRows)
    val perTick = math.max(1, math.round(RateRowsPerS * TickMs / 1000).toInt)
    val nTicks = math.min((sched.length + perTick - 1) / perTick,
      math.round(a.seconds * 1000 / TickMs).toInt)
    val rnd = new scala.util.Random(a.seed)
    val dueOffsets = (0 until nTicks).map(k => (k + 0.8 * rnd.nextDouble() - 0.4) * TickMs)
    rec.emit("schedule", "ticks" -> nTicks, "rows_per_tick" -> perTick,
      "tick_ms" -> TickMs, "rate" -> RateRowsPerS, "feed_rows" -> rows.length)
    setupDone(feedMs)
    Tracer.within(tracer, "workload cdc_live", "workload") {
      workloadSpan = tracer.flatMap(_.current)
      val start = Clock.nowMs + TickMs
      val gen = new Thread(() => {
        (0 until nTicks).foreach { k =>
          val due = start + dueOffsets(k)
          val waitMs = due - Clock.nowMs
          if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
          val chunk = sched.slice(k * perTick, (k + 1) * perTick).toSeq
          val sent0 = Clock.nowMs
          p.add(chunk, latest)
          rec.emit("tick", "k" -> k, "due_ms" -> due, "sent_ms" -> sent0,
            "rows" -> chunk.size, "offsets" -> latest.toSeq)
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      rec.emit("schedule_end", "t_ms" -> (start + nTicks * TickMs))
      drain(p)
      rec.emit("measured_end", "t_ms" -> Clock.nowMs)
    }
    finishFeed(p, sched.drop(nTicks * perTick))
  }

  /** Let the watermark-only trigger that follows a drained batch finish, so
    * the schedule starts on an idle query.
    */
  private def settle(p: Pipeline): Unit = {
    val until = Clock.nowMs + 10000
    var quiet = 0
    while (quiet < 3 && Clock.nowMs < until) {
      quiet = if (p.query.status.isTriggerActive) 0 else quiet + 1
      Thread.sleep(100)
    }
  }

  /** Wait until everything added so far has landed; a failed query is
    * recorded (its ticks then count as never consumed), not rethrown.
    */
  private def drain(p: Pipeline): Boolean =
    try { p.query.processAllAvailable(); true }
    catch { case e: Exception =>
      rec.emit("drain_failed", "tag" -> p.tag, "error" -> String.valueOf(e.getMessage).take(300))
      false
    }

  private def finishFeed(p: Pipeline, rest: Array[Row3]): Unit = {
    val ok = {
      if (rest.nonEmpty) p.add(rest.toSeq, Array.fill(3)(-1L))
      drain(p)
    }
    p.stop()
    if (ok) check(p) else rec.emit("check", "tag" -> p.tag, "ok" -> false)
  }

  /** Closed loop: the whole feed is the backlog; drains repeat until
    * `seconds` have passed (or `--drains` is reached), each in
    * [[CatchupChunks]] chunks on a fresh query, store and checkpoint.
    */
  def catchup(): Unit = {
    spark.streams.addListener(progressListener)
    val t0 = Clock.nowMs
    val rows = feed()
    val feedMs = Clock.nowMs - t0
    warmUp(rows)
    val size = math.ceil(rows.length.toDouble / CatchupChunks).toInt
    val chunks = rows.grouped(size).toSeq
    setupDone(feedMs)
    val pipelines = scala.collection.mutable.ArrayBuffer.empty[Pipeline]
    Tracer.within(tracer, "workload cdc_catchup", "workload") {
      workloadSpan = tracer.flatMap(_.current)
      val measureStart = Clock.nowMs
      var d = 0
      def more = if (a.drains > 0) d < a.drains
                 else d == 0 || Clock.nowMs - measureStart < a.seconds * 1000
      while (more) {
        val p = new Pipeline(s"drain$d")
        pipelines += p
        val latest = Array.fill(3)(-1L)
        val start = Clock.nowMs
        var ok = true
        chunks.zipWithIndex.foreach { case (c, i) =>
          if (ok) {
            p.add(c.toSeq, latest)
            ok = drain(p)
            rec.emit("chunk", "drain" -> d, "k" -> i, "rows" -> c.length,
              "due_ms" -> start, "end_ms" -> Clock.nowMs, "ok" -> ok)
          }
        }
        rec.emit("drain", "drain" -> d, "rows" -> rows.length, "start_ms" -> start,
          "end_ms" -> Clock.nowMs, "ok" -> ok)
        p.stop()
        d += 1
      }
      rec.emit("measured_end", "t_ms" -> Clock.nowMs)
    }
    pipelines.foreach(check)
  }
}
