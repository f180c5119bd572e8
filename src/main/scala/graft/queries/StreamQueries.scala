package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, StreamReplay}

/** Driver-checkable rows for the streaming changelog surface: each query
  * runs the REAL Structured Streaming operator (file source → stateful
  * fold → file sink, `Trigger.AvailableNow`) over the batch events table
  * via [[graft.streaming.StreamReplay]], then finishes with the plain
  * batch aggregate its changelog was designed to feed. The DuckDB oracle
  * is the BATCH twin's oracle verbatim — so the stream==batch equality
  * StreamingSpec proves in sbt is now re-proven by the driver's hash gate
  * every round, on a real file-backed stream rather than a MemoryStream.
  *
  * Exactness: every changelog emission is exactly-once and final (the
  * watermark-sealing arguments in EventStreams' scaladoc), so the
  * downstream aggregate over the materialized changelog equals the batch
  * query bit-for-bit — including the doubles, which are single IEEE
  * divisions of exact integers on both engines.
  */
object StreamQueries {

  /** q_retention_cohort's matrix, rebuilt from the streamed
    * [[EventStreams.retentionActivity]] changelog: each (user, cohort,
    * day) cell arrives exactly once, so n_active is a plain count and
    * cohort_size is the count of the users' own offset-0 cells (every
    * user's first active day is their cohort day).
    */
  def qStreamRetention(spark: SparkSession, dir: String): DataFrame = {
    val cells = StreamReplay.replayEvents(spark, dir)(
        EventStreams.retentionActivity(_))
      .filter(col("user_id") >= 0)
    val act = cells
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("day_offset") === 0)
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    act.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** CRASH RECOVERY as a driver row (round 10): the retention fold run as
    * TWO incarnations against one checkpoint — incarnation 1 commits only
    * the first feed chunk and dies with its cohort state held ONLY in the
    * checkpointed RocksDB store, incarnation 2 restarts from the offset
    * WAL, restores state, and seals every day
    * ([[StreamReplay.replayEventsWithRestart]] for the full argument).
    * The matrix below aggregates the union the sink's exactly-once
    * metadata admits across both incarnations; the oracle is
    * q_retention_cohort's SQL verbatim, so a lost state entry, replayed
    * emission, or post-restart watermark regression hash-fails at the
    * driver. The mid-enqueue kill variant with duplicate-delivery
    * assertions stays pinned in StreamingSpec.
    */
  def qStreamRecovery(spark: SparkSession, dir: String): DataFrame = {
    val cells = StreamReplay.replayEventsWithRestart(spark, dir)(
        EventStreams.retentionActivity(_))
      .filter(col("user_id") >= 0)
    val act = cells
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("day_offset") === 0)
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    act.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q_scd2_history from the streamed [[EventStreams.scd2Changelog]]:
    * the stream emits one FINAL row per version (no valid_to — that fact
    * IS the next version's valid_from), so the interval close and
    * is_current flag are a lead() over the materialized changelog,
    * ordered by the version numbers the fold assigned in (ts, event_id)
    * order.
    */
  def qStreamScd2(spark: SparkSession, dir: String): DataFrame = {
    val ch = StreamReplay.replayEvents(spark, dir)(
        EventStreams.scd2Changelog(_))
      .filter(col("user_id") >= 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
    ch.select(col("user_id"), col("event_type"), col("valid_from"),
        lead(col("valid_from"), 1).over(w).as("valid_to"),
        col("version").cast("long").as("version"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("version"))
  }

  /** q_funnel_steps from the streamed [[EventStreams.funnelChangelog]]:
    * snapshots per user are MONOTONE (each step timestamp is set at most
    * once, the stage only advances), so the most-advanced stage is the
    * user's final funnel row — picked with one row_number over the
    * changelog; at most three rows exist per user, the window is cheap.
    */
  def qStreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ch = StreamReplay.replayEvents(spark, dir)(
        EventStreams.funnelChangelog(_))
      .filter(col("user_id") >= 0)
    val prio = when(col("stage") === "purchased", 2)
      .when(col("stage") === "clicked", 1).otherwise(0)
    val w = Window.partitionBy(col("user_id")).orderBy(prio.desc)
    ch.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1)
      .select(col("user_id"), col("signup_ts"), col("first_click_ts"),
        col("first_purchase_ts"), col("stage"))
      .orderBy(col("user_id"))
  }

  /** The gap-fill changelog replayed the same way: the streamed rows ARE
    * the dense calendar rows (activity and gap days alike, each emitted
    * exactly once as its day seals), so no downstream aggregate is needed
    * — just ordering. Value contract: Event.value is primitive, so the
    * replay feed coalesces NULL values to 0.0; the oracle is therefore
    * q_gap_fill's SQL over the COALESCED frame (an all-NULL activity day
    * sums to 0.0 instead of carrying the previous fill — the one
    * documented divergence from the raw-null batch row, see
    * EventStreams.gapFillChangelog).
    */
  def qStreamGapfill(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir)(
        EventStreams.gapFillChangelog(_))
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("day"), col("n_events"),
        col("filled_total"), col("days_since_active"), col("is_active"))
      .orderBy(col("user_id"), col("day"))

  /** q_sessionize from the streamed [[EventStreams.sessionize]]
    * flatMapGroupsWithState fold: sessions close exactly once (gap-advance
    * or event-time timeout), micros-exact boundaries, cents-exact totals
    * (EventStreams.sessionize scaladoc). session_seq is not streaming
    * state — sessions of one user are disjoint intervals, so numbering is
    * a row_number over session_start on the materialized output.
    */
  def qStreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    val sess = StreamReplay.replayEvents(spark, dir)(
        EventStreams.sessionize(_))
      .filter(col("user_id") >= 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    sess.select(col("user_id"),
        row_number().over(w).cast("long").as("session_seq"),
        col("n_events"), col("session_start"), col("session_end"),
        col("total_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Exactly-once ingest from an AT-LEAST-ONCE feed via the built-in
    * `dropDuplicatesWithinWatermark` (r13): every third event is
    * re-delivered (the retry/redelivery shape of real ingestion), and
    * the native TTL-deduplicating state operator keeps first-seen rows,
    * expiring its keys once the watermark passes their event time — the
    * state stays bounded by the watermark horizon instead of growing
    * with the stream (what plain dropDuplicates would do). Output =
    * every distinct event exactly once; a missed duplicate or an evicted-
    * too-early key hash-fails against the plain-table oracle.
    */
  def qStreamDedupTtl(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir) { s =>
      s.toDF()
        .withColumn("__copy",
          explode(when(col("event_id") % 3 === 0, array(lit(0), lit(1)))
            .otherwise(array(lit(0)))))
        .drop("__copy")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    }
      .filter(col("user_id") >= 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Sessionization through the BUILT-IN streaming `session_window`
    * aggregate (r13) — where [[qStreamSessionize]] proves the custom
    * flatMapGroupsWithState operator, this proves the native one: the
    * state store merges gap-bounded windows per user and append mode
    * seals a session when the watermark passes last-event + 30 min.
    * session_end is definitionally last event + gap (the eviction
    * deadline), so the oracle replays MAX(ts) + 30 min — and the split
    * rule is `>=` gap (end-exclusive windows), one tick stricter than
    * the lag-based batch row's `>`.
    */
  def qStreamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir)(s =>
        EventStreams.sessionWindowCells(s.toDF()))
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("v").cast("double").as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** q_window_tumbling from the streamed
    * [[EventStreams.windowedUserCells]]: the built-in watermarked window
    * aggregate in append mode, at (window, type, user) grain so that
    * n_users (no streaming countDistinct) and the order-independent
    * decimal sum both reduce exactly downstream — each cell arrives
    * exactly once, so n_events is a sum of counts, n_users a count of
    * cells, total_value a sum of decimal partials cast once.
    */
  def qStreamWindow(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir)(s =>
        EventStreams.windowedUserCells(s.toDF()))
      .filter(col("user_id") >= 0)
      .groupBy(col("bucket"), col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        sum(col("v")).cast("double").as("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** q_range_join as a STREAM-STREAM interval join
    * ([[EventStreams.attributionJoin]]): both sides are unbounded streams
    * derived from the same replayed feed; the watermark + interval bound
    * lets Spark evict a buffered click once no future purchase can reach
    * it. Inner-join matches emit as they occur, so the result needs no
    * sealing argument — and the event-time-ordered replay guarantees
    * eviction never races a future match (a purchase landing after a
    * click's eviction is > 1h past it by the range-chunk bounds).
    */
  def qStreamAttribution(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir) { s =>
      val clicks = s.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = s.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      EventStreams.attributionJoin(clicks, purchases)
    }
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))

  /** q_range_join's LEFT OUTER form as a stream-stream join
    * ([[EventStreams.attributionJoinOuter]]): clicks with no in-window
    * purchase emit (click, NULL) — and ONLY once the watermark passes
    * click_ts + 1h, because a null row is a claim about the whole future
    * ("no purchase will ever match") that inner-join emission never has
    * to make. That sealing need changes the feed contract: the inner row
    * filters the far-future sentinels out of both branches (matches
    * don't care about eviction), but here BOTH branches pass sentinel
    * rows through (user_id < 0, type 'view' — they match nothing: the
    * two sentinels sit 3 days apart so their own interval test fails),
    * so the per-branch watermarks keep advancing after the last real
    * event and every real unmatched click provably flushes during the
    * second sentinel's batch (watermark by then = sentinel1 − 1h, past
    * every real click_ts + 1h). Sentinel output — matched or sealed-null
    * — is dropped by the user_id >= 0 filter either way, so whether the
    * engine flushes the sentinels' OWN state before termination is
    * immaterial. The oracle is the batch LEFT JOIN twin.
    */
  def qStreamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir) { s =>
      val clicks = s.filter(col("event_type") === "click" ||
          col("user_id") < 0)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = s.filter(col("event_type") === "purchase" ||
          col("user_id") < 0)
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      EventStreams.attributionJoinOuter(clicks, purchases)
    }
      .filter(col("user_id") >= 0)
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))

  /** q_heavy_hitters over a STREAM-MAINTAINED Count-Min store: the
    * documents table is staged as ranged chunks and streamed
    * (Trigger.AvailableNow, one file per micro-batch) through
    * [[graft.streaming.CorpusStreams.cmsStream]] — each batch's sketch
    * lands as an epoch-keyed store increment, exactly the continuous-
    * ingest shape — then the live sketch (cell-wise sum over epochs,
    * EXACT by CMS linearity) answers the same top-20 estimate join as the
    * batch row. No ordering contract is needed at all: CMS folding is
    * commutative, so this row's sealing argument is simply linearity.
    */
  /** CDC APPLY STREAM as a driver row (round 14): q_merge_publish's
    * delta arrives CHUNKED as a file stream and every micro-batch lands
    * as one committed MERGE (`DatalakeStreams.mergeStream` →
    * `mergeTransact`, each epoch a commit-log record). The chunks
    * partition the delta BY KEY, so the serialized per-epoch merges
    * compose to exactly one whole-delta merge — the oracle is the same
    * FULL OUTER JOIN + CASE, and the stream==batch hash equality is the
    * correctness claim. Replay safety comes from the arms being absolute
    * (mergeStream scaladoc), not from sink overwrite.
    */
  def qStreamMerge(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.{CorpusStreams, DatalakeStreams}
    val root = Files.createTempDirectory("graft-smerge-replay")
    StreamReplay.track(root)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    val table = root.resolve("table").toString
    Datalake.publish(o.filter(col("o_orderkey") % 3 =!= 0), table, "1")
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"),
        lit("MERGED").as("o_orderpriority"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("d_op"))
    val feed = root.resolve("feed").toString
    delta.repartitionByRange(2, col("o_orderkey")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    DatalakeStreams.mergeStream(
      CorpusStreams.readDocFiles(sq, feed, delta.schema,
        maxFilesPerTrigger = 1),
      table, Seq("o_orderkey"),
      deleteWhen = Some(col("d_op") === "delete"),
      root.resolve("ck").toString).awaitTermination()
    Datalake.readPublished(spark, table)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** STREAMING twin of q_quarantine (round 14): the order feed arrives
    * as a chunked file stream and every micro-batch runs the SAME
    * validation rules through `CorpusStreams.quarantineStream` — valid
    * rows to one epoch-keyed sink, rejects WITH their reasons to the
    * dead-letter sink (the reference's bulk-error accounting as a
    * stream). The report is then built from the SINKS, and the oracle is
    * q_quarantine's SQL verbatim — stream == batch on identical input is
    * the hash-checked claim, and it holds exactly because the rules are
    * per-row (chunking commutes with the split).
    */
  def qStreamQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.Tables
    import graft.streaming.CorpusStreams
    val root = Files.createTempDirectory("graft-quar-replay")
    StreamReplay.track(root)
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_custkey"),
      col("o_orderdate"))
    val feed = root.resolve("feed").toString
    o.repartitionByRange(2, col("o_orderkey")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val validDir = root.resolve("valid").toString
    val rejectDir = root.resolve("rejects").toString
    CorpusStreams.quarantineStream(
      CorpusStreams.readDocFiles(sq, feed, o.schema, maxFilesPerTrigger = 1),
      Relational.orderValidationRules, validDir, rejectDir,
      root.resolve("ck").toString).awaitTermination()
    Relational.quarantineReport(
      spark.read.parquet(validDir), spark.read.parquet(rejectDir))
  }

  def qStreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.Tables
    import graft.streaming.CorpusStreams
    val root = Files.createTempDirectory("graft-cms-replay")
    StreamReplay.track(root)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val feed = root.resolve("feed").toString
    docs.repartitionByRange(2, col("doc_id")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val stream = CorpusStreams.readDocFiles(sq, feed, docs.schema,
      maxFilesPerTrigger = 1)
    CorpusStreams.cmsStream(stream, root.resolve("store").toString,
      root.resolve("ck").toString, width = 1024).awaitTermination()
    val cms = CorpusStreams.cmsRead(spark, root.resolve("store").toString)
    // exact side: the same one-scan count table as the batch row
    val counts = graft.ops.Checkpoints.checkpoint(
      Tables.documents(spark, dir)
        .select(explode(graft.functions.text.wordShingles(col("text"), 1))
          .as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("exact_cnt")))
    val res = TextQueries.heavyHittersResult(counts, cms)
    graft.ops.Checkpoints.release(counts)
    res
  }

  /** q_drift_psi over a STREAM-MAINTAINED histogram store: events stream
    * through in micro-batches and each batch's (type, bin, cohort)
    * partial counts land as an epoch-keyed store increment (overwrite-
    * on-replay = idempotent, the CMS-store pattern) — the continuous
    * form of the drift gate, where the monitor's histograms accrete as
    * the snapshot arrives instead of in one pass. The live fold is a
    * cell-wise sum over increments, EXACT by count linearity (no
    * ordering contract, no watermark, zero streaming state), and the PSI
    * tail is [[EventQueries.driftPsiFromCounts]] — the batch row's code
    * shared verbatim, so stream and batch cannot disagree on smoothing
    * or snapping. Oracle = q_drift_psi's verbatim.
    */
  def qStreamDrift(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.CorpusStreams
    val root = Files.createTempDirectory("graft-drift-replay")
    StreamReplay.track(root)
    val e = Tables.events(spark, dir)
    val feed = root.resolve("feed").toString
    e.repartitionByRange(2, col("ts"), col("event_id")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val stream = CorpusStreams.readDocFiles(sq, feed, e.schema,
      maxFilesPerTrigger = 1)
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Datalake.writeParquet(
          EventQueries.driftBinned(batch)
            .groupBy(col("event_type"), col("bin"))
            .agg(count(when(col("cohort") === 0L, 1)).as("n0"),
              count(when(col("cohort") === 1L, 1)).as("n1")),
          s"${root.resolve("store")}/epoch=$epoch")
      }
      .start().awaitTermination()
    val folded = spark.read.parquet(root.resolve("store").toString)
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"))
    EventQueries.driftPsiFromCounts(folded)
  }

  /** HLL distinct counting over a STREAM (round 15c): the mergeable-
    * sketch property that makes HLL the 100 TB distinct counter, proven
    * in motion — each micro-batch computes its own per-(type, bucket)
    * register PARTIALS ([[graft.ops.Sketches.hllRegisters]], ≤ m rows
    * per group per batch) and lands them as an epoch-keyed store
    * increment (overwrite-on-replay = idempotent, the CMS-store
    * pattern); the live fold is a cell-wise MAX over all epochs'
    * registers. Because per-bucket max is associative AND idempotent,
    * the fold equals the single-pass batch registers exactly — no
    * ordering contract, no watermark, zero streaming state, and a
    * replayed batch changes nothing (max(x, x) = x; the stronger-than-
    * idempotent-store property unique to sketch maxima). Estimate tail =
    * [[graft.ops.Sketches.hllEstimate]], the batch row's code shared
    * verbatim — so stream == batch bit-for-bit and the oracle is
    * q_hll_distinct's generated SQL unchanged.
    *
    * Scale: per-batch shuffle is register-sized (types × 1024), the
    * store grows by that per epoch (compactable by the same max), and
    * the user_id firehose itself never re-shuffles — the canonical
    * "distinct users per type, continuously" plan.
    */
  def qStreamHll(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.CorpusStreams
    val root = Files.createTempDirectory("graft-hll-replay")
    StreamReplay.track(root)
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val feed = root.resolve("feed").toString
    e.repartitionByRange(2, col("ts"), col("event_id")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val stream = CorpusStreams.readDocFiles(sq, feed, e.schema,
      maxFilesPerTrigger = 1)
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Datalake.writeParquet(
          graft.ops.Sketches.hllRegisters(batch, col("event_type"),
            col("user_id")),
          s"${root.resolve("store")}/epoch=$epoch")
      }
      .start().awaitTermination()
    val folded = spark.read.parquet(root.resolve("store").toString)
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
    val base = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("exact_users"))
    graft.ops.Sketches.hllEstimate(folded)
      .withColumnRenamed("g", "event_type")
      .join(base, "event_type")
      .select(col("event_type"), col("n_events"), col("exact_users"),
        col("hll_est").as("hll_users"), col("est_kind"))
      .orderBy(col("event_type"))
  }

  /** CUSUM over a STREAM-MAINTAINED daily store (round 15c): the
    * change-point monitor runs continuously — each micro-batch lands its
    * (type, day) partial decimal sums as an epoch-keyed store increment
    * (overwrite-on-replay idempotent, the CMS/drift-store pattern); the
    * live fold is a cell-wise SUM over increments, EXACT by decimal
    * linearity (no ordering contract, no watermark, zero streaming
    * state), and the CUSUM tail is
    * [[EventQueries.cusumFromDaily]] — the batch row's code shared
    * VERBATIM, so stream and batch cannot disagree on the recurrence,
    * the scaled exact-decimal arithmetic, or the alarm rule. Oracle =
    * q_cusum_shift's verbatim (the stream==batch claim).
    *
    * Scale: per-batch shuffle is (types × days-touched) cells; the
    * store compacts by the same sum. The monitor's decision is always
    * over the full accreted history — exactly how a production CUSUM
    * gate consumes a firehose.
    */
  def qStreamCusum(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import org.apache.spark.sql.types.DecimalType
    import graft.sources.{Datalake, Tables}
    import graft.streaming.CorpusStreams
    val root = Files.createTempDirectory("graft-cusum-replay")
    StreamReplay.track(root)
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val feed = root.resolve("feed").toString
    e.repartitionByRange(2, col("ts"), col("event_id")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val stream = CorpusStreams.readDocFiles(sq, feed, e.schema,
      maxFilesPerTrigger = 1)
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Datalake.writeParquet(
          batch.groupBy(col("event_type"),
              date_trunc("day", col("ts")).as("day"))
            .agg(sum(col("value").cast(DecimalType(18, 2))).as("v")),
          s"${root.resolve("store")}/epoch=$epoch")
      }
      .start().awaitTermination()
    val folded = spark.read.parquet(root.resolve("store").toString)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("v")).cast(DecimalType(18, 2)).as("v"))
    EventQueries.cusumFromDaily(folded)
  }

  /** The drift monitor over REAL event-time cohorts sealed by watermark
    * (round-11 verdict #7) — where [[qStreamDrift]] folds epoch-keyed
    * processing-time increments, this is the production drift-gate
    * shape: daily event-time windows of (type, bin) counts accumulate in
    * streaming state and emit only when the watermark passes their end
    * ([[graft.streaming.EventStreams.driftWindowCells]], append mode),
    * so the monitor always compares FINAL histograms. Baseline cohort =
    * sealed windows ending at or before the 2024-01-16 cutoff, current =
    * the sealed windows after it; the fold to (type, bin, n0, n1) is
    * exact by count linearity, and the PSI tail is
    * [[EventQueries.driftPsiFromCounts]] — the batch row's code shared
    * verbatim. The replay's far-future sentinels push the final
    * watermark past every real day, so the sealed set is ALL real
    * windows — which is what lets the DuckDB oracle replay the cohorts
    * as plain per-day aggregates (and the n_windows_* evidence columns
    * pin that every expected window actually sealed: a window the
    * watermark failed to seal would be missing and hash-fail).
    *
    * Scale: streaming state is (types × bins × open windows) cells —
    * bounded by the watermark horizon, independent of event volume;
    * each micro-batch contributes map-side partial counts only.
    */
  def qStreamDriftWindows(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val cells = StreamReplay.replayEvents(spark, dir)(s =>
        EventStreams.driftWindowCells(s.toDF()))
      .filter(!col("__sentinel")) // batch-side: see driftWindowCells
    val c = cells.withColumn("cohort",
      when(col("wend") <= cutoff, 0L).otherwise(1L))
    val folded = c.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("cohort") === 0L, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("cohort") === 1L, col("n")).otherwise(0L)).as("n1"))
    val winCounts = c.groupBy(col("event_type"))
      .agg(
        count_distinct(when(col("cohort") === 0L, col("wstart")))
          .as("n_windows_before"),
        count_distinct(when(col("cohort") === 1L, col("wstart")))
          .as("n_windows_after"))
    EventQueries.driftPsiFromCounts(folded)
      .join(broadcast(winCounts), "event_type")
      .select(col("event_type"), col("n_windows_before"),
        col("n_windows_after"), col("n_before"), col("n_after"), col("psi"))
      .orderBy(col("event_type"))
  }

  /** q_dedup_incremental with TODAY'S batch arriving as a stream: the
    * history store is built exactly like the batch row ("yesterday's"
    * job), then the day's documents stream through
    * [[graft.streaming.CorpusStreams.incrementalDedupStream]] — each
    * micro-batch sketched once, landed as an epoch-keyed store increment,
    * and statused against the PERSISTED history inside foreachBatch. The
    * union of per-epoch results equals one batch run EXACTLY because the
    * operator is new-vs-history only (batch-internal duplicates are the
    * classic jobs' business) — the chunking can't change any doc's
    * status. No ordering contract, no watermark: zero streaming state.
    */
  def qStreamDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.ops.Dedup
    import graft.sources.Tables
    import graft.streaming.CorpusStreams
    val docs = Tables.documents(spark, dir)
    val (hist, todayAll) = SimilarityQueries.daySplit(docs, "doc_id")
    val today = todayAll.select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-dedup-replay")
    StreamReplay.track(root)
    // "yesterday's" job — the batch row's store builder verbatim
    val exactPath = root.resolve("exact_fp").toString
    val bandsPath = root.resolve("bands").toString
    SimilarityQueries.writeDedupHistoryStore(hist, exactPath, bandsPath)
    // today's docs arrive as a 2-chunk file stream
    val feed = root.resolve("feed").toString
    today.repartitionByRange(2, col("doc_id")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val resDir = root.resolve("res").toString
    CorpusStreams.incrementalDedupStream(
        CorpusStreams.readDocFiles(sq, feed, today.schema,
          maxFilesPerTrigger = 1),
        spark.read.parquet(exactPath), spark.read.parquet(bandsPath),
        root.resolve("inc").toString, resDir,
        root.resolve("ck").toString)
      .awaitTermination()
    // an empty "today" split drains zero epochs and never creates resDir
    // — match the batch twin (its incrementalDedup over an empty batch is
    // an empty frame) instead of throwing on the missing path
    if (!hadoopExists(spark, resDir))
      Dedup.incrementalDedup(
          Dedup.minhashSketch(today.limit(0), col("doc_id"), col("text")),
          spark.read.parquet(exactPath), spark.read.parquet(bandsPath))
        .orderBy(col("doc_id"))
    else
      spark.read.parquet(resDir)
        .drop("epoch")
        .orderBy(col("doc_id"))
  }

  private def hadoopExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The reference's COMPOSED DAG as a micro-batch stream, driver-checked
    * (r9): the raw JSONL feed is staged as three fetch drops and drained
    * through [[graft.streaming.DatalakeStreams.runBackfill]] — each
    * micro-batch appends its coerced increment to the formatted layer and
    * rebuilds the usage layer with dedup-at-read. After the backlog
    * drains, usage == the batch pipeline over the union (keep-last dedup
    * is a pure function of the accumulated formatted rows — per-batch
    * rebuilds make every intermediate state consistent and the final one
    * exact), so q_datalake_pipeline's oracle applies verbatim.
    */
  def qStreamDatalake(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.Tables
    import graft.streaming.DatalakeStreams
    val root = Files.createTempDirectory("graft-lake-replay")
    StreamReplay.track(root)
    val bulkDir = root.resolve("raw").toString
    graft.sources.Datalake.writeJsonl(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .repartition(3),
      bulkDir)
    val sq = StreamReplay.subSession(spark)
    val usagePath = root.resolve("usage").toString
    DatalakeStreams.runBackfill(
        DatalakeStreams.readRawStream(sq, bulkDir, maxFilesPerTrigger = 1),
        root.resolve("fmt").toString, usagePath,
        root.resolve("ck").toString)
      .awaitTermination()
    spark.read.parquet(usagePath)
      .orderBy(col("event_type"), col("event_date"))
  }

  /** STREAMING PUBLISH (round 11): the composed micro-batch DAG of
    * q_stream_datalake, but every epoch lands the refreshed usage
    * aggregate as an atomic MANIFEST version
    * ([[graft.streaming.DatalakeStreams.runPublishingBackfill]] —
    * epoch-keyed `Datalake.publish`, so crash-replay republishes the same
    * version idempotently and concurrent readers only ever resolve a
    * complete snapshot). After the 3-drop backlog drains, the manifest
    * must point at the final epoch, whose content equals the batch
    * pipeline over the whole feed — q_datalake_pipeline's oracle —
    * and n_versions carries the epoch-history evidence (one published,
    * time-travelable version per micro-batch).
    */
  def qStreamPublish(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.DatalakeStreams
    val root = Files.createTempDirectory("graft-pub-replay")
    StreamReplay.track(root)
    val bulkDir = root.resolve("raw").toString
    Datalake.writeJsonl(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .repartition(3),
      bulkDir)
    val sq = StreamReplay.subSession(spark)
    val tableRoot = root.resolve("usage_table").toString
    DatalakeStreams.runPublishingBackfill(
        DatalakeStreams.readRawStream(sq, bulkDir, maxFilesPerTrigger = 1),
        root.resolve("fmt").toString, tableRoot,
        root.resolve("ck").toString)
      .awaitTermination()
    val versions = Datalake.listVersions(spark, tableRoot)
    Datalake.readPublished(spark, tableRoot)
      .withColumn("n_versions", lit(versions.length.toLong))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** q_dedup_clusters_incremental with the day's vectors arriving as a
    * stream (r9): yesterday's label + bucket stores are built exactly like
    * the batch row, then today's embeddings stream through
    * [[graft.streaming.ClusterStreams.incrementalClusterStream]] — each
    * micro-batch's buckets landed as an epoch increment, its pairs folded
    * into an epoch-versioned labeling by contracted propagation. The final
    * epoch's labeling equals the batch fold (and the from-scratch
    * components) because the labeling is CANONICAL — min label per
    * connected component of the accumulated graph — so the fold order
    * cannot change it; the oracle is the batch row's from-scratch
    * recursive CTE verbatim.
    */
  def qStreamClusters(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.streaming.{ClusterStreams, CorpusStreams}
    val c = SimilarityQueries.corpus(spark, dir)
    val (hist, today) = SimilarityQueries.daySplit(c, "id")
    val root = Files.createTempDirectory("graft-cluster-replay")
    StreamReplay.track(root)
    // "yesterday's" stores — the batch row's store builder verbatim
    val labelsPath = root.resolve("labels").toString
    val bucketsPath = root.resolve("buckets").toString
    SimilarityQueries.writeClusterHistoryStore(hist, labelsPath, bucketsPath)
    // today's vectors as a 2-chunk stream
    val feed = root.resolve("feed").toString
    today.repartitionByRange(2, col("id")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val labelsDir = root.resolve("labels_inc").toString
    ClusterStreams.incrementalClusterStream(
        CorpusStreams.readDocFiles(sq, feed, today.schema,
          maxFilesPerTrigger = 1),
        spark.read.parquet(labelsPath), spark.read.parquet(bucketsPath),
        root.resolve("buckets_inc").toString, labelsDir,
        root.resolve("ck").toString)
      .awaitTermination()
    // an empty "today" split drains zero epochs and never versions the
    // label store — the history labeling IS the current labeling then
    // (the batch twin's fold over an empty batch returns it unchanged)
    if (!hadoopExists(spark, labelsDir))
      spark.read.parquet(labelsPath).orderBy(col("id"))
    else {
      val folded = spark.read.parquet(labelsDir)
      val lastEpoch = folded.agg(max(col("epoch"))).head.get(0)
      folded.filter(col("epoch") === lastEpoch).drop("epoch")
        .orderBy(col("id"))
    }
  }

  /** q_markov_transitions from the streamed
    * [[EventStreams.transitionChangelog]]: each (cur → next) step is
    * emitted exactly once, so the transition matrix is a plain count
    * aggregate with the same int÷int probability.
    */
  def qStreamMarkov(spark: SparkSession, dir: String): DataFrame = {
    val counts = StreamReplay.replayEvents(spark, dir)(
        EventStreams.transitionChangelog(_))
      .filter(col("user_id") >= 0)
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("cur_type"))).cast("double"))
      .orderBy(col("cur_type"), col("next_type"))
  }

  /** STREAMING SOURCE FROM THE LAKE (round 15 — r14 verdict #4): two
    * epoch-committed versions of orders land on a CAS table, then
    * [[graft.streaming.DatalakeStreams.changeFeedStream]] consumes the
    * table's OWN commit log as a file stream — micro-batch 0 emits the
    * initial snapshot as inserts (`_from_version='initial'`), micro-batch
    * 1 emits the e1→e2 change feed — each batch landed on the sink as an
    * epoch version. The full CDC log (union of sink versions) must equal
    * the batch truth: q_change_feed's oracle join, version-relabeled,
    * plus the snapshot inserts — a missed commit, a double-processed
    * record, or a wrong predecessor resolution all change the row mass
    * and hash-fail.
    */
  /** DELETE COMMITS THROUGH THE LAKE STREAM (round 15 — the gap
    * changeFeedStream's first cut skipped loudly, now closed): the
    * source chain is epoch-publish e1 → a DELETION-VECTOR commit
    * (`deleteWhere`, no data file rewritten) → epoch-publish e2. The
    * stream's token-general diff materializes the vector commit as
    * DELETE rows (label `e1+dv` — deterministic, the vector dir's UUID
    * never leaks), and the e2 feed diffs against the DELETED state —
    * so a reader that resurrected hidden rows (raw base scan instead of
    * the snapshot scan) would both emit wrong deletes and corrupt the next
    * diff's preimages.
    */
  def qStreamCdcDelete(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.DatalakeStreams
    val root = Files.createTempDirectory("graft-scdd-replay")
    StreamReplay.track(root)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val table = root.resolve("table").toString
    Datalake.publishEpochCas(o.filter(col("o_orderkey") % 7 =!= 0),
      table, "1")
    Datalake.deleteWhere(spark, table, col("o_orderkey") % 9 === 0)
    Datalake.publishEpochCas(
      o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
            .otherwise(col("o_totalprice")).as("o_totalprice")),
      table, "2")
    val sq = StreamReplay.subSession(spark)
    val sink = root.resolve("cdc_sink").toString
    DatalakeStreams.changeFeedStream(sq, table, Seq("o_orderkey"), sink,
      root.resolve("ck").toString).awaitTermination()
    Datalake.readVersionsMerged(spark, sink,
        Datalake.listVersions(spark, sink))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("_change_type"), col("_from_version"), col("_to_version"))
  }

  /** CDC TABLE REPLICATION end-to-end (round 15): the source takes an
    * epoch publish, a deletion-vector DELETE, and a committed MERGE;
    * [[graft.streaming.DatalakeStreams.replicateStream]] consumes the
    * source's own commit log and applies each commit's feed to a
    * replica IN ORDER under an applied-sequence high-water mark. The
    * hashed output is the REPLICA's content — which must equal the
    * closed form of the source's final state (also what `readPublished`
    * on the source serves), with the replica's per-source-commit
    * version trail as evidence. A skipped commit, an out-of-order
    * apply, a resurrected deleted row, or a double-applied feed all
    * change the row mass.
    */
  def qTableReplicate(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.DatalakeStreams
    val root = Files.createTempDirectory("graft-repl-replay")
    StreamReplay.track(root)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val src = root.resolve("src").toString
    Datalake.publishEpochCas(o.filter(col("o_orderkey") % 7 =!= 0),
      src, "1")
    Datalake.deleteWhere(spark, src, col("o_orderkey") % 9 === 0)
    val delta = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"))
    Datalake.mergeTransact(spark, src, delta, Seq("o_orderkey"))
    val sq = StreamReplay.subSession(spark)
    val rep = root.resolve("replica").toString
    DatalakeStreams.replicateStream(sq, src, Seq("o_orderkey"), rep,
      root.resolve("ck").toString).awaitTermination()
    val nVersions = Datalake.listVersions(spark, rep).length.toLong
    Datalake.readPublished(spark, rep)
      .withColumn("n_replica_versions", lit(nVersions))
  }

  def qStreamChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.DatalakeStreams
    val root = Files.createTempDirectory("graft-scdf-replay")
    StreamReplay.track(root)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val table = root.resolve("table").toString
    Datalake.publishEpochCas(o.filter(col("o_orderkey") % 7 =!= 0),
      table, "1")
    Datalake.publishEpochCas(
      o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
            .otherwise(col("o_totalprice")).as("o_totalprice")),
      table, "2")
    val sq = StreamReplay.subSession(spark)
    val sink = root.resolve("cdc_sink").toString
    DatalakeStreams.changeFeedStream(sq, table, Seq("o_orderkey"), sink,
      root.resolve("ck").toString).awaitTermination()
    Datalake.readVersionsMerged(spark, sink,
        Datalake.listVersions(spark, sink))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("_change_type"), col("_from_version"), col("_to_version"))
  }

  /** STREAMING MODEL SCORING (round 16 — the serving twin of
    * [[Relational.qGbtRegression]], extending the stream==batch family
    * onto the ML surface): the featurized table arrives in file-chunk
    * micro-batches; each batch scores rows with the SAME inlined
    * integer-cents GBT model and lands its per-split exact partial
    * moments (n, Σy, Σy², Σ(y−ŷ)²) as an epoch-keyed store increment
    * (overwrite-on-replay idempotent — the CMS/HLL-store pattern). The
    * live fold is a per-split SUM over increments — EXACT by decimal
    * linearity, no ordering contract, zero streaming state — and the
    * closed-form RMSE/R² tail is the batch row's code, so stream and
    * batch cannot disagree: the oracle is q_gbt_regression's VERBATIM.
    *
    * Scale: per-batch work is one scan + a 2-group aggregate; the
    * store grows one 2-row parquet per epoch and compacts by the same
    * sum — the shape of a continuous model-quality monitor.
    */
  /** SCORE-ON-INGEST (round 17 — the reference's "Ingest Pipeline"
    * integration, ML_ROADMAP.md Phase 3 "Méthode Industrielle": the
    * stored model is attached to the ingest path so documents land WITH
    * their prediction): the trained GBT is first PUBLISHED as a
    * versioned lake artifact (the q_model_serve registry), then the
    * featurized rows arrive in file-chunk micro-batches and every batch
    * is scored with the MANIFEST-CURRENT stored model — resolved ONCE,
    * driver-side, rounds+1 rows — and lands in the formatted layer
    * carrying its `pred` column (epoch-keyed parquet, overwrite-on-
    * replay idempotent). No batch ever touches the trainer.
    *
    * The readback folds the landed rows into per-split exact counts and
    * integer sums of (y, pred): stream == batch because scoring is a
    * pure row-local function of the stored model, so the oracle is the
    * batch aggregate over the SAME inlined model — a drifted stored
    * artifact, a batch scored with a stale model, or a lost/duplicated
    * epoch all hash-fail. Scale: per-batch work is one scan + the
    * closed-form score column; the sink grows one file per epoch and
    * compacts by the same fold.
    */
  def qStreamModelIngest(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.{Datalake, Tables}
    import graft.streaming.CorpusStreams
    import graft.ops.Gbt
    val root = Files.createTempDirectory("graft-ingest-score-replay")
    StreamReplay.track(root)
    // publish the registry artifact (the q_model_serve lifecycle's
    // serving half: the ingest job is a pure CONSUMER of the store)
    val modelRoot = root.resolve("model_store").toString
    val m = Relational.gbtTrainOrGet(spark, dir)
    Datalake.publish(Gbt.modelToDf(spark, m, 0L), modelRoot, "1")
    val (served, _) =
      Gbt.modelFromDf(Datalake.readPublished(spark, modelRoot))
    val t = Gbt.featurize(Tables.part(spark, dir), dir)
    val feed = root.resolve("feed").toString
    t.repartitionByRange(3, col("pk")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val stream = CorpusStreams.readDocFiles(sq, feed, t.schema,
      maxFilesPerTrigger = 1)
    val fmt = root.resolve("fmt").toString
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        Datalake.writeParquet(
          batch.select(col("pk"),
            when(col("is_train"), lit("train")).otherwise(lit("test"))
              .as("split"),
            col("y"), Gbt.fhatCol(served).as("pred")),
          s"$fmt/epoch=$epoch")
      }
      .start().awaitTermination()
    val landed = spark.read.parquet(fmt)
    val nEpochs = landed.select(col("epoch")).distinct().count()
    landed.groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).cast("bigint").as("sum_y"),
        sum(col("pred")).cast("bigint").as("sum_pred"))
      .select(col("split"), col("n"), col("sum_y"), col("sum_pred"),
        lit(nEpochs).as("n_epochs"))
      .orderBy(col("split"))
  }

  def qStreamGbtScore(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import org.apache.spark.sql.types.DecimalType
    import graft.sources.{Datalake, Tables}
    import graft.streaming.CorpusStreams
    import graft.ops.Gbt
    val m = Relational.gbtTrainOrGet(spark, dir)
    val root = Files.createTempDirectory("graft-gbtscore-replay")
    StreamReplay.track(root)
    val t = Gbt.featurize(Tables.part(spark, dir), dir)
    val feed = root.resolve("feed").toString
    t.repartitionByRange(3, col("pk")).write.parquet(feed)
    val sq = StreamReplay.subSession(spark)
    val stream = CorpusStreams.readDocFiles(sq, feed, t.schema,
      maxFilesPerTrigger = 1)
    val store = root.resolve("store").toString
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val scored = batch.select(
          when(col("is_train"), lit("train")).otherwise(lit("test"))
            .as("split"),
          col("y"), Gbt.fhatCol(m).as("fhat"))
        Datalake.writeParquet(
          scored.groupBy(col("split")).agg(
            count(lit(1)).as("n"),
            sum(col("y")).as("sy_e"),
            sum((col("y") * col("y")).cast(DecimalType(25, 0)))
              .as("syy_e"),
            sum(((col("y") - col("fhat")) * (col("y") - col("fhat")))
              .cast(DecimalType(25, 0))).as("sse_e")),
          s"$store/epoch=$epoch")
      }
      .start().awaitTermination()
    val folded = spark.read.parquet(store)
      .groupBy(col("split"))
      .agg(sum(col("n")).as("n"), sum(col("sy_e")).as("sy_e"),
        sum(col("syy_e")).as("syy_e"), sum(col("sse_e")).as("sse_e"))
    val nD = col("n").cast("double")
    val syD = col("sy_e").cast("double")
    val syyD = col("syy_e").cast("double")
    val sseD = col("sse_e").cast("double")
    folded.select(col("split"), col("n"),
        sqrt(sseD / nD).as("rmse"),
        (lit(1.0) - sseD / (syyD - syD * syD / nD)).as("r2"))
      .orderBy(col("split"))
  }
}
