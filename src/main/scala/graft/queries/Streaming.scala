package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Graft._
import graft.streaming.{Drip, EventStreams}

/** Batch twins of the Structured-Streaming operators (unified API: the
  * exact same transform functions run on readStream in
  * graft.StreamingSpec). These rows are what the streaming versions
  * converge to on the bounded events table, so gating them gates the
  * shared logic. The `_live`, ingest and serving gates run the real
  * streaming runtime on the drip harness ([[graft.streaming.Drip]]);
  * each supplies its feed, its transform or `foreachBatch` body, its
  * sink and its read-back.
  */
object Streaming extends QueryGroup {

  /** The state store provider that transformWithState needs: its typed
    * state variables are column-family backed. */
  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val qStreamTumbling = Q(
    "q_stream_tumbling",
    (s, dir) => EventStreams.tumbling(table(s, dir, "events"))
      .orderBy(col("ws"), col("event_type")),
    Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS we,
               event_type, count(*) AS n,
               ${moneySumSql("value")} AS value_sum
             FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type"""))

  private val qStreamSliding = Q(
    "q_stream_sliding",
    (s, dir) => EventStreams.sliding(table(s, dir, "events"))
      .orderBy(col("ws"), col("event_type")),
    Some("""SELECT ws, ws + INTERVAL 1 HOUR AS we, event_type, count(*) AS n
            FROM (
              SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
                       - k.k * INTERVAL 30 MINUTE AS ws,
                     event_type
              FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k) t
            GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** Session windows vs the classic gaps-and-islands SQL formulation.
    * New session when ts >= prev + gap (an event landing exactly on the
    * previous session's end is outside its half-open interval). */
  private val qStreamSession = Q(
    "q_stream_session",
    (s, dir) => EventStreams.sessions(table(s, dir, "events"))
      .orderBy(col("user_id"), col("session_start")),
    Some(s"""WITH o AS (
               SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 lag(CAST(ts AS TIMESTAMP)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events),
             m AS (
               SELECT user_id, ts, value,
                 CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 2 HOUR
                      THEN 1 ELSE 0 END AS new_s
               FROM o),
             g AS (
               SELECT user_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM m)
             SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 2 HOUR AS session_end,
               count(*) AS n, ${moneySumSql("value")} AS value_sum
             FROM g GROUP BY user_id, sid
             ORDER BY user_id, session_start"""))

  /** flatMapGroupsWithState in batch execution (each key once, empty
    * initial state) — gates the stateful streaming code path. */
  private val qStreamStateful = Q(
    "q_stream_stateful",
    (s, dir) => EventStreams.userStats(
        EventStreams.toTyped(table(s, dir, "events")))
      .toDF()
      .orderBy(col("user_id")),
    Some("""SELECT user_id, count(*) AS n,
              min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
              max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_purchase,
              CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value4
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** transformWithState (Spark 4 arbitrary stateful processing v2) in
    * batch execution — gates the typed-state-variable code path
    * (ValueState totals + MapState per-type counts in
    * EventStreams.UserLedgerProcessor). The oracle recomputes the
    * ledger relationally: top_type is the count-max event type with a
    * lexicographic tie-break, so the MapState iteration order cannot
    * leak into the result. Streaming execution (RocksDB-backed, update
    * semantics) is differential-tested in StreamingSpec. */
  private val qStreamTws = Q(
    "q_stream_tws",
    (s, dir) => {
      // transformWithState requires the RocksDB state store provider in
      // BATCH execution too (typed state variables are column-family
      // backed; the HDFS-backed store has none). Scope the provider to
      // this query: the eager localCheckpoint materializes the ledger
      // while the conf is set, and the per-user result is tiny next to
      // the events scan at any scale.
      // The RocksDB maintenance path phones the driver-side
      // StateStoreCoordinator, an endpoint that normally comes to life
      // with the first STREAMING query — in a batch-only session the
      // report throws RpcEndpointNotFoundException out of the task, so
      // the coordinator is force-created first (shim).
      org.apache.spark.sql.classic.GraftDatasetShim.ensureStateStoreCoordinator(s)
      withConf(s, RocksDbProvider) {
        EventStreams.userLedger(EventStreams.toTyped(table(s, dir, "events")))
          .toDF()
          .localCheckpoint()
          .orderBy(col("user_id"))
      }
    },
    Some("""WITH tc AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY 1, 2),
            top AS (
              SELECT user_id, event_type AS top_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY c DESC, event_type) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n_types
              FROM tc)
            SELECT e.user_id, count(*) AS n,
              any_value(t.n_types) AS n_types,
              any_value(t.top_type) AS top_type,
              CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value4
            FROM events e JOIN top t ON t.user_id = e.user_id AND t.rn = 1
            GROUP BY e.user_id ORDER BY e.user_id"""))

  /** Batch twin of the stream-static enrichment join ([[EventStreams
    * .enrichAgg]]): the user-tier dimension is derived deterministically
    * from the corpus (tier = user_id mod 3) and BROADCAST; streaming
    * execution of the same function is differential-tested in
    * StreamingSpec ("stream-static enrichment join"). */
  private val qStreamEnrich = Q(
    "q_stream_enrich",
    (s, dir) => {
      val events = table(s, dir, "events")
      val dim = events.select(col("user_id")).distinct()
        .withColumn("tier", (col("user_id") % 3).cast("long"))
      EventStreams.enrichAgg(events, dim)
        .orderBy(col("tier"), col("event_type"))
    },
    Some(s"""SELECT user_id % 3 AS tier, event_type, count(*) AS n,
               ${moneySumSql("value")} AS value_sum
             FROM events GROUP BY 1, 2 ORDER BY tier, event_type"""))

  private val qStreamJoin = Q(
    "q_stream_join",
    (s, dir) => EventStreams.purchaseSignupJoin(table(s, dir, "events"))
      .orderBy(col("user_id"), col("purchase_id"), col("s_ts")),
    Some("""SELECT p.user_id, p.event_id AS purchase_id,
              p.ts AS p_ts, s.ts AS s_ts
            FROM events p JOIN events s
              ON p.event_type = 'purchase' AND s.event_type = 'signup'
             AND p.user_id = s.user_id
             AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
            ORDER BY p.user_id, purchase_id, s_ts"""))

  /** LEFT OUTER stream-stream join, batch twin (EventStreams
    * .purchaseSignupLeftJoin): every purchase, null-padded when no
    * signup precedes it within 7 days. The outer side is where engines
    * get watermark semantics wrong — the live emission contract
    * (null rows exactly once, only after watermark passage, state
    * evicted) is gated by q_stream_join_outer_live and differential-
    * tested in StreamingSpec; this twin gates the JOIN semantics against
    * the SQL oracle. */
  private val qStreamJoinOuter = Q(
    "q_stream_join_outer",
    (s, dir) => EventStreams.purchaseSignupLeftJoin(table(s, dir, "events"))
      .orderBy(col("user_id"), col("purchase_id"), col("s_ts")),
    Some("""SELECT p.user_id, p.event_id AS purchase_id,
              p.ts AS p_ts, s.ts AS s_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id
             AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
            ORDER BY p.user_id, purchase_id, s_ts"""))

  /** The outer-join family's two flush drops, both with one purchase
    * and one signup sentinel (reserved users −100/−200) a month past
    * max(ts), at the SAME event time. Why they never surface: the
    * outer-join paragraph of [[graft.streaming.Drip]]. */
  private def joinFlush(events: DataFrame): Seq[DataFrame] = {
    import events.sparkSession.implicits._
    val mx = events.agg(
      max(unix_micros(col("ts").cast("timestamp")))).collect()(0).getLong(0)
    val flushUs = mx + 30L * 24 * 3600 * 1000000L
    val sentinels = Seq((-100L, flushUs, "purchase"), (-200L, flushUs, "signup"))
      .toDF("user_id", "ts_us", "event_type")
      .select(lit(-1L).as("event_id"),
        timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"),
        lit(0.0).as("value"), lit("").as("props"))
    Seq(sentinels, sentinels)
  }

  /** The LIVE left-outer stream-stream join under the driver gate — the
    * real streaming runtime (file-source drips, per-side watermarks,
    * state eviction): the events land as ts-range drops, then the
    * two-sided flush drops ([[joinFlush]]). The sentinels never surface
    * (signup sentinels produce no left rows at all), so the converged
    * sink equals the batch twin — same oracle as q_stream_join_outer,
    * produced by the bounded-state append path. */
  private val qStreamJoinOuterLive = Q(
    "q_stream_join_outer_live",
    (s, dir) => {
      val events = table(s, dir, "events")
      Drip(s, "q_stream_join_outer_live").run(dir, events, "ts", joinFlush(events))(
        df => EventStreams.purchaseSignupLeftJoin(df)
          .writeStream.format("memory").queryName("graft_stream_join_outer_sink")
          .outputMode("append").start())
      s.table("graft_stream_join_outer_sink")
        .orderBy(col("user_id"), col("purchase_id"), col("s_ts"))
    },
    Some("""SELECT p.user_id, p.event_id AS purchase_id,
              p.ts AS p_ts, s.ts AS s_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id
             AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
            ORDER BY p.user_id, purchase_id, s_ts"""))

  /** FULL OUTER stream-stream join, batch twin — both unmatched shapes
    * null-pad (see EventStreams.purchaseSignupFullJoin for the per-side
    * eviction reasoning). */
  private val qStreamJoinFull = Q(
    "q_stream_join_full",
    (s, dir) => EventStreams.purchaseSignupFullJoin(table(s, dir, "events"))
      .orderBy(col("user_id"), col("purchase_id"), col("s_ts")),
    Some("""SELECT coalesce(p.user_id, s.user_id) AS user_id,
              p.event_id AS purchase_id, p.ts AS p_ts, s.ts AS s_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            FULL JOIN (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id
             AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
            ORDER BY user_id, purchase_id, s_ts"""))

  /** The LIVE full-outer stream-stream join: same staged drips and
    * two-sided flush sentinels as the left-outer live gate; the full
    * variant additionally emits signup-null rows once the watermark
    * passes s_ts + 7 days. Converged sink == batch twin. */
  private val qStreamJoinFullLive = Q(
    "q_stream_join_full_live",
    (s, dir) => {
      val events = table(s, dir, "events")
      Drip(s, "q_stream_join_full_live").run(dir, events, "ts", joinFlush(events))(
        df => EventStreams.purchaseSignupFullJoin(df)
          .writeStream.format("memory").queryName("graft_stream_join_full_sink")
          .outputMode("append").start())
      s.table("graft_stream_join_full_sink")
        .orderBy(col("user_id"), col("purchase_id"), col("s_ts"))
    },
    Some("""SELECT coalesce(p.user_id, s.user_id) AS user_id,
              p.event_id AS purchase_id, p.ts AS p_ts, s.ts AS s_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            FULL JOIN (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id
             AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
            ORDER BY user_id, purchase_id, s_ts"""))

  /** A LIVE structured stream under the driver gate: the events table is
    * drip-fed through a parquet file source in chronological landed drops (the
    * production shape — a directory accumulating files, each drop a
    * micro-batch), the tumbling aggregation runs in complete mode into a
    * memory sink, and the CONVERGED sink table is what the oracle
    * hash-checks. Complete-mode aggregation makes the final state
    * independent of how rows were chunked into micro-batches, so the
    * result is deterministic even though the execution is genuinely
    * incremental. (The other q_stream_* entries gate the shared transform
    * logic through batch execution; this one gates the streaming RUNTIME
    * path — source discovery, micro-batching, state store.) */
  private val qStreamLive = Q(
    "q_stream_live",
    (s, dir) => {
      val events = table(s, dir, "events")
      Drip(s, "q_stream_live").run(dir, events, "ts")(
        df => EventStreams.tumbling(df)
          .writeStream.format("memory").queryName("graft_stream_live_sink")
          .outputMode("complete").start())
      s.table("graft_stream_live_sink").orderBy(col("ws"), col("event_type"))
    },
    Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS we,
               event_type, count(*) AS n,
               ${moneySumSql("value")} AS value_sum
             FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type"""))

  /** The append family's two flush drops: a `zz_flush` sentinel a month
    * past max(ts), then the same sentinel again beside a `zz_late` row at
    * min(ts). Why neither surfaces: the append paragraph of
    * [[graft.streaming.Drip]]. Scalar min/max only; no data is collected. */
  private def appendFlush(events: DataFrame): Seq[DataFrame] = {
    import events.sparkSession.implicits._
    val b = events.agg(
      min(unix_micros(col("ts").cast("timestamp"))).as("mn"),
      max(unix_micros(col("ts").cast("timestamp"))).as("mx")).collect()(0)
    val (mnUs, mxUs) = (b.getLong(0), b.getLong(1))
    val flushUs = mxUs + 30L * 24 * 3600 * 1000000L
    def sentinel(rows: Seq[(Long, Long, String)]): DataFrame =
      rows.toDF("event_id", "ts_us", "event_type")
        .select(col("event_id"),
          timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
          lit(-1L).as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
    Seq(sentinel(Seq((-1L, flushUs, "zz_flush"))),
      sentinel(Seq((-2L, flushUs, "zz_flush"), (-3L, mnUs, "zz_late"))))
  }

  /** LIVE event-time-timer sessionization — the timer half of
    * transformWithState gated through the driver (the state-variable
    * half is q_stream_tws; the differential-only spec coverage became a
    * gate here): closed sessions are EMITTED BY TIMERS — each user's
    * open session arms one timer at last-event + gap, and the session
    * closes exactly once when the WATERMARK passes that instant (or
    * inline when a later batch straddles the gap). Chronological drops
    * land one micro-batch at a time through the drip harness; the
    * [[appendFlush]] sentinels push the watermark a month past max(ts), firing every
    * remaining timer, so the converged emission set equals the one-shot
    * gaps-and-islands sessionization of the whole table — which is
    * exactly the oracle (same 2 h gap as q_stream_session, emitted as
    * epoch-µs longs; sentinel users filtered). RocksDB provider
    * (transformWithState state variables are column-family backed). */
  private val qStreamSessionTimersLive = Q(
    "q_stream_session_timers_live",
    (s, dir) => {
      val events = table(s, dir, "events")
      withConf(s, RocksDbProvider) {
        Drip(s, "q_stream_session_timers_live").run(dir, events, "ts",
            appendFlush(events))(
          df => EventStreams.sessionTimeoutsAppend(df, gapMinutes = 120)
            .writeStream.format("memory")
            .queryName("graft_stream_session_timers_sink")
            .outputMode("append").start())
        s.table("graft_stream_session_timers_sink")
          .filter(col("user_id") >= 0)
          .orderBy(col("user_id"), col("start_us"))
      }
    },
    Some("""WITH o AS (
              SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value,
                lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            m AS (
              SELECT user_id, us, value,
                CASE WHEN prev IS NULL OR us - prev >= 7200000000
                     THEN 1 ELSE 0 END AS new_s
              FROM o),
            g AS (
              SELECT user_id, us, value,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                  ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
            SELECT user_id, min(us) AS start_us,
              max(us) + 7200000000 AS end_us, count(*) AS n,
              CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value4
            FROM g GROUP BY user_id, sid
            ORDER BY user_id, start_us"""))

  /** The APPEND-MODE live stream — the 100 TB streaming shape under the
    * driver gate. Like q_stream_live the events table is drip-fed through
    * a parquet file source, but the aggregation carries a 1-hour
    * watermark and writes in append mode: each window is emitted exactly
    * once after the watermark passes its end, then its state is evicted —
    * bounded state, unlike complete mode. The chronological ts-range drops
    * and the [[appendFlush]] drops make the converged sink equal the
    * plain tumbling aggregation over events — the same oracle as
    * q_stream_tumbling — produced by the bounded-state append path. */
  private val qStreamLiveAppend = Q(
    "q_stream_live_append",
    (s, dir) => {
      val events = table(s, dir, "events")
      Drip(s, "q_stream_live_append").run(dir, events, "ts", appendFlush(events))(
        df => EventStreams.tumblingAppend(df).writeStream.format("memory")
          .queryName("graft_stream_live_append_sink")
          .outputMode("append").start())
      s.table("graft_stream_live_append_sink").orderBy(col("ws"), col("event_type"))
    },
    Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS we,
               event_type, count(*) AS n,
               ${moneySumSql("value")} AS value_sum
             FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type"""))

  /** Streaming EXACTLY-ONCE into the custom KV sink — the reference's
    * Store layer fed by a live stream, composing three graft surfaces:
    * the watermarked append stream (each closed window emitted exactly
    * once), `foreachBatch` writing every micro-batch's emissions into a
    * per-batch directory of the two-phase-commit KvSink with the batchId
    * recorded as a TRANSACTION ID in the commit-log manifest (the Delta
    * `txn` discipline: a replayed batch detects its id already committed
    * and publishes NOTHING — no wipe, no deletion, at-least-once replay
    * upgraded to exactly-once output; KvStreamRecoverySpec crash-proves
    * it), and the
    * recursive KvSource reading the whole batch tree back. Window bounds
    * travel as epoch-micro longs (the sink's CSV carries
    * long/int/double/string) and are reconstructed on read; the converged
    * result must hash-match the same tumbling oracle as
    * q_stream_live_append. */
  private val qStreamKvSink = Q(
    "q_stream_kv_sink",
    (s, dir) => {
      val events = table(s, dir, "events")
      val drip = Drip(s, "q_stream_kv_sink")
      drip.run(dir, events, "ts", appendFlush(events))(df =>
        EventStreams.tumblingAppend(df)
          .select(
            unix_micros(col("ws").cast("timestamp")).as("ws_us"),
            unix_micros(col("we").cast("timestamp")).as("we_us"),
            col("event_type"), col("n"), col("value_sum"))
          .writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            drip.commit(batch.toDF(), "out", id)
          }
          .start())
      drip.committed("out",
          "ws_us LONG, we_us LONG, event_type STRING, n LONG, value_sum DOUBLE")
        .select(
          timestamp_micros(col("ws_us")).cast("timestamp_ntz").as("ws"),
          timestamp_micros(col("we_us")).cast("timestamp_ntz").as("we"),
          col("event_type"), col("n"), col("value_sum"))
        .orderBy(col("ws"), col("event_type"))
    },
    Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS we,
               event_type, count(*) AS n,
               ${moneySumSql("value")} AS value_sum
             FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type"""))

  /** STREAMING incremental ingestion — the live-crawl pipeline: document
    * deltas arrive as chronological micro-batches; each batch runs one
    * operators/IncrementalIngest round inside `foreachBatch` (dedup
    * against the Store snapshot of all earlier batches, first-occurrence
    * within the batch, accepted fingerprints appended as this batch's
    * Store directory) and lands its accepted rows in a per-batch KvSink
    * output. Both writes carry the batchId as a commit-log TRANSACTION
    * ID — a replayed micro-batch recomputes against the sub-batchId
    * history (its own append is excluded from the snapshot) and its
    * re-writes publish nothing — at-least-once replay becomes
    * exactly-once ingestion without ever deleting, the same txn idiom
    * as q_stream_kv_sink.
    *
    * The oracle is BATCH-BOUNDARY-FREE: drops are range-partitioned on
    * doc_id and land in ascending order, so the store-wins rule (an
    * earlier batch owns a fingerprint) coincides with global min-doc_id
    * per fingerprint — the same group-by the one-shot
    * q_ingest_incremental gates, here produced by the live rounds. */
  private val qStreamIngest = Q(
    "q_stream_ingest",
    (s, dir) => {
      val drip = Drip(s, "q_stream_ingest")
      val store = drip.path("store")
      drip.run(dir, table(s, dir, "documents"), "doc_id")(
        _.select(col("doc_id"), col("lang"),
            graft.operators.PortableHash.charHash(col("text")).as("fp"))
          .writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            drip.commit(graft.operators.IncrementalIngest
              .ingest(batch.sparkSession, store, id, batch.toDF(),
                txn = Some(s"b$id")), "accepted", id)
          }
          .start())
      drip.committed("accepted", "doc_id LONG, lang STRING, fp LONG")
        .orderBy("doc_id")
    },
    Some(s"""WITH fps AS (
               SELECT doc_id, lang, ${graft.operators.PortableHash.charHashSql("text")} AS fp
               FROM documents)
             SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang, fp
             FROM fps GROUP BY fp ORDER BY doc_id"""))

  /** LIVE near-dup ingestion: the q_ingest_neardup rounds run as a real
    * stream — the historical crawl's band keys bootstrap the Store
    * before the stream starts, the delta lands as two doc_id-ranged
    * drops, and every micro-batch is one ingestNearDup round (snapshot
    * filter → first-wins → band append) via foreachBatch. Because the
    * all-seen contract makes doc_id-ordered round decomposition
    * invisible, the converged accepted set equals the one-shot batch
    * gate — same oracle (queries/Training.nearDupIngestOracle). */
  private val qStreamIngestNeardup = Q(
    "q_stream_ingest_neardup",
    (s, dir) => {
      val drip = Drip(s, "q_stream_ingest_neardup")
      val store = drip.path("store")
      val docs = table(s, dir, "documents")
      Training.bandedDocs(docs.filter(col("doc_id") % 3 =!= 0))
        .select("bk").distinct()
        .write.format("graft.sources.KvSinkProvider")
        .option("path", s"$store/batch=0").mode("append").save()
      drip.run(dir, docs.filter(col("doc_id") % 3 === 0), "doc_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            val banded = Training.bandedDocs(batch.toDF())
            drip.commit(graft.operators.IncrementalIngest
              .ingestNearDup(batch.sparkSession, store, id + 1,
                banded.select("doc_id", "lang").distinct(),
                banded.select("doc_id", "bk"), txn = Some(s"b${id + 1}")),
              "accepted", id)
          }
          .start())
      drip.committed("accepted", "doc_id LONG, lang STRING").orderBy("doc_id")
    },
    Some(Training.nearDupIngestOracle))

  /** LIVE visual near-dup ingestion — q_ingest_neardup_phash's rounds
    * run as a real stream, the image twin of q_stream_ingest_neardup:
    * the historical crawl's pHash bands bootstrap the Store before the
    * stream starts, the delta documents land as two doc_id-ranged
    * drops, and every micro-batch DECODES its images and runs one
    * ingestNearDup round (snapshot band filter → first-wins → band
    * append) via foreachBatch. The all-seen contract makes the
    * decomposition invisible: converged accepted set ≡ the one-shot
    * batch gate, same oracle (queries/Llm.phashIngestOracle). */
  private val qStreamIngestNeardupPhash = Q(
    "q_stream_ingest_neardup_phash",
    (s, dir) => {
      val drip = Drip(s, "q_stream_ingest_neardup_phash")
      val store = drip.path("store")
      val docs = table(s, dir, "documents")
      Llm.phashBandedDocs(docs.filter(col("doc_id") % 3 =!= 0))
        .select("bk").distinct()
        .write.format("graft.sources.KvSinkProvider")
        .option("path", s"$store/batch=0").mode("append").save()
      drip.run(dir, docs.filter(col("doc_id") % 3 === 0), "doc_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            val banded = Llm.phashBandedDocs(batch.toDF())
            drip.commit(graft.operators.IncrementalIngest
              .ingestNearDup(batch.sparkSession, store, id + 1,
                banded.select("doc_id", "ahash_lo", "ahash_hi").distinct(),
                banded.select("doc_id", "bk"), txn = Some(s"b${id + 1}")),
              "accepted", id)
          }
          .start())
      drip.committed("accepted", "doc_id LONG, ahash_lo LONG, ahash_hi LONG")
        .select(col("doc_id").as("media_id"), col("ahash_lo"), col("ahash_hi"))
        .orderBy("media_id")
    },
    Some(Llm.phashIngestOracle))

  /** LIVE ANN SERVING — the probe-many lifecycle actually served from a
    * stream: the persisted IVF index ([[graft.operators.AnnIndex]]) is
    * built ONCE before the stream starts; query vectors then arrive as
    * two vec_id-ranged drops and every micro-batch probes the
    * COMMITTED index via foreachBatch (no re-fit ever — the probe plan
    * is aggregate-free and partition-pruned, AnnIndexSpec). Probes are
    * per-query independent, so the converged result set equals a
    * one-shot probe of all queries — the oracle is the same SQL shape
    * as q_sim_ivf_persisted widened to the streamed query range. This
    * is the serving half of a 100 TB retrieval deployment: index
    * maintenance (build/appendDelta, versioned) decoupled from a query
    * stream that only ever reads. */
  private val qStreamAnnProbe = Q(
    "q_stream_ann_probe",
    (s, dir) => {
      val drip = Drip(s, "q_stream_ann_probe")
      val idx = drip.path("index")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.build(e, "vec_id", "embedding",
        (200L until 208L).toSeq, 3, 64, idx)
      drip.run(dir, e.filter(col("vec_id") < 24), "vec_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            drip.commit(graft.operators.AnnIndex.probe(batch.toDF(), idx,
                "vec_id", "embedding", nprobe = 2, topK = 3,
                excludeSelf = true), "results", id)
          }
          .start())
      drip.committed("results",
          "query_id LONG, rk INT, vec_id LONG, list_id LONG, cosine DOUBLE")
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH ${graft.operators.KMeansQuant.oracleCtesSql(200L, 207L, 3, 64,
               normalized = true)},
             probes AS (
               SELECT query_id, cid FROM (
                 SELECT e.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${graft.operators.KMeansQuant.l2qSql(
                       "e.qv", "c.cv", 64)}, c.cid) AS crk
                 FROM eq e CROSS JOIN c2 c WHERE e.vec_id < 24) t
               WHERE crk <= 2),
             scored AS (
               SELECT p.query_id, x.vec_id, x.cid,
                 ${graft.operators.PortableHash.cosineSql(
                   "qe.embedding", "ce.embedding", 64)} AS cosine
               FROM a3 x JOIN probes p
                 ON x.cid = p.cid AND x.vec_id <> p.query_id
               JOIN embeddings qe ON qe.vec_id = p.query_id
               JOIN embeddings ce ON ce.vec_id = x.vec_id),
             ranked AS (
               SELECT query_id, vec_id, cid, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, cid AS list_id, cosine FROM ranked
             WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** LIVE CLASSIFIER SERVING — the model-store twin of
    * q_stream_ann_probe: the NB model ([[graft.operators.ModelStore]])
    * is trained and committed ONCE before the stream starts; held-out
    * documents then arrive as two doc_id-ranged drops and every
    * micro-batch scores against the COMMITTED count tables via
    * foreachBatch (training documents never re-read — ModelStoreSpec
    * pins the score plan's scan set). Scores are per-document
    * independent, so the converged result equals a one-shot scoring of
    * the whole held-out split — which is exactly q_classify_nb's
    * oracle, shared verbatim. The deployment shape: model maintenance
    * (train/appendDelta, versioned) decoupled from a scoring stream
    * that only ever reads model-sized tables. */
  private val qStreamClassify = Q(
    "q_stream_classify",
    (s, dir) => {
      val drip = Drip(s, "q_stream_classify")
      val mdl = drip.path("model")
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
      graft.operators.ModelStore.train(
        docs.filter(col("doc_id") % 5 =!= 0), "lang", "text", mdl)
      val test = docs.filter(col("doc_id") % 5 === 0)
      drip.run(dir, test, "doc_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            drip.commit(graft.operators.ModelStore.score(
              batch.toDF(), "doc_id", "text", mdl), "results", id)
          }
          .start())
      drip.committed("results", "doc_id LONG, pred_cls STRING, total_bits LONG")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang").as("true_lang"),
          col("pred_cls").as("pred_lang"), col("total_bits").as("bits"))
        .orderBy("doc_id")
    },
    Some(Training.nbOracleSql))

  /** LIVE SEARCH SERVING — the text-index twin of q_stream_ann_probe /
    * q_stream_classify, completing live serving across the whole
    * persisted-artifact triple: the inverted index
    * ([[graft.operators.TextIndex]]) is built and committed ONCE before
    * the stream starts; term queries then arrive as chronological drops and
    * every micro-batch searches the COMMITTED postings via foreachBatch
    * (no re-tokenize ever — each search reads only its query terms'
    * `tb` bucket partitions, TextIndexSpec pins the pruned scan).
    * Searches are per-query independent, so the converged result equals
    * a one-shot evaluation of all queries — the oracle is the gated
    * BM25 formula per (query, doc), ranked within query. The 100 TB
    * deployment: index maintenance (build/appendDelta/compact,
    * versioned) decoupled from a query stream that reads only
    * posting-bucket slices. */
  private val qStreamBm25Serve = Q(
    "q_stream_bm25_serve",
    (s, dir) => {
      import s.implicits._
      val drip = Drip(s, "q_stream_bm25_serve")
      val idx = drip.path("index")
      graft.operators.TextIndex.build(
        table(s, dir, "documents"), "doc_id", "text", idx)
      val queries = Seq(
        (0L, Seq("hash", "join", "vector")),
        (1L, Seq("stream", "window")),
        (2L, Seq("merge", "sort", "filter"))).toDF("query_id", "terms")
      drip.run(dir, queries, "query_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], id: Long) =>
            val reqs = batch.collect() // a batch of query REQUESTS — driver-sized by definition
            if (reqs.nonEmpty) {
              val w = Window.orderBy(col("score").desc, col("doc_id"))
              drip.commit(reqs.toSeq.map { r =>
                  val qid = r.getLong(r.fieldIndex("query_id"))
                  val terms = r.getSeq[String](r.fieldIndex("terms"))
                  graft.operators.TextIndex.search(s, idx, terms, topK = 10)
                    .withColumn("query_id", lit(qid))
                    .withColumn("rk", row_number().over(w))
                    .select("query_id", "rk", "doc_id", "score")
                }
                .reduce(_ unionAll _), "results", id)
            }
          }
          .start())
      drip.committed("results", "query_id LONG, rk INT, doc_id LONG, score LONG")
        .orderBy("query_id", "rk")
    },
    Some("""WITH raw AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
            tok AS (SELECT doc_id, term FROM raw WHERE term <> ''),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
            consts AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT sum(dl) FROM dl) AS t_tokens),
            qterms(query_id, term) AS (VALUES
              (0, 'hash'), (0, 'join'), (0, 'vector'),
              (1, 'stream'), (1, 'window'),
              (2, 'merge'), (2, 'sort'), (2, 'filter')),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                   WHERE term IN (SELECT DISTINCT term FROM qterms)
                   GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT q.query_id, tf.doc_id,
                (((n_docs - df.df + 1) * 100000) // (df.df + 1)) *
                ((tf.tf * 22 * t_tokens * 10000) //
                 (10 * t_tokens * tf.tf + 3 * t_tokens + 9 * dl.dl * n_docs)) AS s
              FROM tf JOIN qterms q USING (term) JOIN df USING (term)
                JOIN dl ON tf.doc_id = dl.doc_id, consts),
            agg AS (SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score
                    FROM scored GROUP BY 1, 2),
            ranked AS (
              SELECT query_id, doc_id, score,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rk
              FROM agg)
            SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score
            FROM ranked WHERE rk <= 10 ORDER BY query_id, rk"""))

  /** LIVE INDEX INGESTION — the maintenance half of the text-index
    * lifecycle as a real stream (q_stream_bm25_serve is the read half):
    * document batches arrive as two doc_id-ranged drops and every
    * micro-batch extends the committed index via
    * [[graft.operators.TextIndex.appendDelta]] (first batch bootstraps
    * with build) — absorbed documents are never re-tokenized, each
    * commit is a frozen version. Because drops are doc-disjoint, the
    * converged index is member-union-identical to a one-shot build, so
    * the final search gates against the same BM25 oracle as the batch
    * queries. The 100 TB ingest loop: crawl batches land continuously,
    * the index version advances per batch, searches read whichever
    * version is committed. */
  private val qStreamTextIndexIngest = Q(
    "q_stream_text_index_ingest",
    (s, dir) => {
      val drip = Drip(s, "q_stream_text_index_ingest")
      val idx = drip.path("index")
      drip.run(dir, table(s, dir, "documents").select("doc_id", "text"), "doc_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            if (!batch.isEmpty) {
              if (graft.operators.TextIndex.latestVersion(idx) == 0)
                graft.operators.TextIndex.build(
                  batch.toDF(), "doc_id", "text", idx): Unit
              else
                graft.operators.TextIndex.appendDelta(
                  batch.toDF(), "doc_id", "text", idx): Unit
            }
          }
          .start())
      graft.operators.TextIndex.search(s, idx,
        Seq("hash", "join", "vector"), topK = 10)
    },
    Some(Llm.bm25OracleSql))

  /** LIVE INCREMENTAL TRAINING — the maintenance half of the model
    * lifecycle as a real stream (q_stream_classify is the serving
    * half): labeled training batches arrive as two doc_id-ranged
    * drops and every micro-batch folds its sufficient statistics into
    * the committed model via [[graft.operators.ModelStore.appendDelta]]
    * (first batch bootstraps with train). Count statistics merge
    * exactly, so the converged model is bit-identical to a one-shot
    * train over the union — scoring the held-out split gates against
    * q_classify_nb's oracle verbatim. */
  private val qStreamClassifyTrain = Q(
    "q_stream_classify_train",
    (s, dir) => {
      val drip = Drip(s, "q_stream_classify_train")
      val mdl = drip.path("model")
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
      drip.run(dir, docs.filter(col("doc_id") % 5 =!= 0), "doc_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            if (!batch.isEmpty) {
              if (graft.operators.ModelStore.latestVersion(mdl) == 0)
                graft.operators.ModelStore.train(
                  batch.toDF(), "lang", "text", mdl): Unit
              else
                graft.operators.ModelStore.appendDelta(
                  batch.toDF(), "lang", "text", mdl): Unit
            }
          }
          .start())
      val test = docs.filter(col("doc_id") % 5 === 0)
      graft.operators.ModelStore.score(test, "doc_id", "text", mdl)
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang").as("true_lang"),
          col("pred_cls").as("pred_lang"), col("total_bits").as("bits"))
        .orderBy("doc_id")
    },
    Some(Training.nbOracleSql))

  /** LIVE ANN INGESTION — the maintenance half of the vector-index
    * lifecycle as a real stream (q_stream_ann_probe is the serving
    * half): the coarse quantizer is fit ONCE on the historical corpus
    * (minus the vec_id ∈ [300, 399] block), then the block arrives as
    * two drops and every micro-batch extends the committed index via
    * [[graft.operators.AnnIndex.appendDelta]] — one frozen-centroid
    * assignment pass over the delta, no re-fit ever. Deltas are
    * vec-disjoint, so the converged list union equals the one-shot
    * incremental build — same oracle as q_sim_ivf_incremental. */
  private val qStreamAnnIngest = Q(
    "q_stream_ann_ingest",
    (s, dir) => {
      val drip = Drip(s, "q_stream_ann_ingest")
      val idx = drip.path("index")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.build(
        e.filter(!col("vec_id").between(300, 399)), "vec_id", "embedding",
        (200L until 208L).toSeq, 3, 64, idx)
      drip.run(dir, e.filter(col("vec_id").between(300, 399)), "vec_id")(
        _.writeStream.outputMode("append")
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            if (!batch.isEmpty)
              graft.operators.AnnIndex.appendDelta(
                batch.toDF(), "vec_id", "embedding", idx): Unit
          }
          .start())
      graft.operators.AnnIndex.probe(
        e.filter(col("vec_id") < 8), idx, "vec_id", "embedding",
        nprobe = 2, topK = 3, excludeSelf = true)
    },
    Some(Clustering.ivfIncrementalOracle))

  /** Watermarked streaming dedup, batch twin (EventStreams.dedupEvents —
    * dropDuplicatesWithinWatermark, the bounded-state ingestion guard).
    * Input is events ⊎ its first 200 rows — a deterministic replayed-batch
    * injection — and dedup on event identity must reconstruct the corpus
    * exactly, so the oracle aggregates the CLEAN table. The live-stream
    * half (duplicates arriving across micro-batches, state evicted by the
    * watermark) is differential-tested in StreamingSpec. */
  private val qStreamDedup = Q(
    "q_stream_dedup",
    (s, dir) => {
      val base = table(s, dir, "events")
      val replayed = base.orderBy("event_id").limit(200)
      EventStreams.dedupEvents(base.unionAll(replayed))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("value_sum"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, count(*) AS n,
               ${moneySumSql("value")} AS value_sum
             FROM events GROUP BY event_type ORDER BY event_type"""))

  /** STREAMING FROM THE STORE (r13) — the commit log as a streaming
    * source (sources/KvMicroBatchStream): a store-to-store pipeline where
    * commit-log versions are offsets on BOTH ends. Store A takes three
    * ranged document drops (one before the stream starts — consumed as
    * the snapshot batch — two while it runs, each one delta batch); the
    * stream transforms and txn-commits every batch into store B, so
    * at-least-once replay collapses to exactly-once downstream. The
    * converged content of B equals the batch transform of A — the
    * KvStreamSourceSpec restart/change-commit contracts hold behind it. */
  private val qStreamStoreSource = Q(
    "q_stream_store_source",
    (s, dir) => {
      val root = artifactDir(s, "stream", "q_stream_store_source")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val storeA = s"$root/a"
      val storeB = s"$root/b"
      val ckpt = s"$root/ckpt"
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len"))
      def drop(b: Int): Unit =
        docs.filter(pmod(col("doc_id"), lit(3)) === b)
          .write.format("graft.sources.KvSinkProvider")
          .option("path", storeA).mode("append").save()
      drop(0) // committed before the stream starts: the snapshot batch
      val q = s.readStream.format("graft.sources.KvSourceProvider")
        .option("path", storeA)
        .option("schema", "doc_id LONG, lang STRING, len LONG").load()
        .select(col("doc_id"), col("lang"), (col("len") * 2).as("len2"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          b.write.format("graft.sources.KvSinkProvider")
            .option("path", storeB).option("txnId", s"b$id")
            .mode("append").save()
        }
        .start()
      try {
        q.processAllAvailable()
        drop(1); q.processAllAvailable() // one commit-log delta batch
        drop(2); q.processAllAvailable() // and another
      } finally q.stop()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", storeB)
        .option("schema", "doc_id LONG, lang STRING, len2 LONG").load()
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, length(text) * 2 AS len2
            FROM documents ORDER BY doc_id"""))

  /** CHANGE DATA FEED from the store (sources/KvChangeFeed — the CDC
    * tier every lakehouse ships): a store mutated by append + row-level
    * DELETE + keyed MERGE is consumed as a STREAM of insert/delete
    * events (`_change_type`/`_commit_version`), where the plain
    * streaming source must fail or skip change commits; the downstream
    * multiset fold (`insert − delete`, the canonical CDC apply) over the
    * converged feed reconstructs the final store content EXACTLY — the
    * oracle recomputes that content relationally from the parquet base.
    * The feed's grain is the CoW grain: a mutation feeds whole-file
    * delete+insert pairs, so the fold — not event minimality — is the
    * contract. 100 TB shape: per-trigger planning reads only the NEW
    * manifests; event volume tracks the rewritten files (zone-map-
    * targeted ∝ the change batch), never the store. KvChangeFeedSpec
    * pins snapshot/delta/compaction/restart semantics. */
  private val qStreamStoreCdf = Q(
    "q_stream_store_cdf",
    (s, dir) => {
      val root = artifactDir(s, "stream", "q_stream_store_cdf")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val store = s"$root/store"
      val ckpt = s"$root/ckpt"
      val eventsDir = s"$root/events"
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "o LONG, cust LONG, price4 LONG")
      val orders = table(s, dir, "orders")
        .select(col("o_orderkey").as("o"), col("o_custkey").as("cust"),
          // quantized money (the fixed4 discipline at cents): round on
          // BOTH sides — Spark cast would truncate, DuckDB's would round
          round(col("o_totalprice") * 100, 0).cast("long").as("price4"))
      orders.filter(col("o") % 2 === 0)
        .write.format("graft.sources.KvSinkProvider")
        .option("path", store).mode("append").save() // v1: evens
      // events accumulate in a PARQUET FILE SINK (exactly-once via the
      // sink's own commit log), never on the driver: each trigger's
      // change events are a distributed write, so the gate's shape
      // holds when a commit feeds billions of events (r13 advice —
      // previously a per-batch collect() into a driver queue)
      val q = s.readStream.format("graft.sources.KvSourceProvider")
        .option("path", store)
        .option("schema", "o LONG, cust LONG, price4 LONG")
        .option("readChangeFeed", "true").load()
        .writeStream.outputMode("append")
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", eventsDir)
        .start()
      try {
        q.processAllAvailable() // snapshot batch: v1 as inserts
        orders.filter(col("o") % 2 === 1)
          .write.format("graft.sources.KvSinkProvider")
          .option("path", store).mode("append").save() // v2: odds
        q.processAllAvailable()
        // v3: row-level DELETE (CoW) — drop small orders
        graft.sources.KvStore.deleteWhere(s, store, schema,
          Seq(org.apache.spark.sql.sources.LessThan("o", 1000L))): Unit
        q.processAllAvailable()
        // v4: keyed MERGE — reprice two customers' cheapest bracket
        graft.sources.KvStore.merge(s, store, schema, "o",
          orders.filter(col("o").between(1000L, 1200L))
            .withColumn("price4", lit(0L))): Unit
        q.processAllAvailable()
        // v5: DELETION-VECTOR delete (r14, sources/KvDv) — the stream
        // must consume the `#dv` commit as ROW-PRECISE delete events
        // (the micro-batch planner's running vector state, not the CoW
        // whole-file grain)
        graft.sources.KvStore.deleteWhereDV(s, store, schema,
          Seq(org.apache.spark.sql.sources.LessThan("cust", 100L))): Unit
        q.processAllAvailable()
      } finally q.stop()
      val events = graft.core.Graft.cachedSchemaParquet(s, eventsDir)
      // the canonical CDC apply: multiset fold insert − delete — and a
      // surviving group re-emits its row n TIMES (explode over 1..n),
      // not once: on this data o is unique so n is always 1, but the
      // fold must stay correct for duplicate rows (r13 advice; the
      // KvChangeFeedSpec fold helper pins the same contract)
      events.groupBy("o", "cust", "price4")
        .agg(sum(when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)).as("n"))
        .filter(col("n") > 0L)
        .select(col("o"), col("cust"), col("price4"),
          explode(sequence(lit(1L), col("n"))).as("_dup"))
        .drop("_dup")
        .orderBy("o")
    },
    Some("""SELECT o_orderkey AS o, o_custkey AS cust,
              CASE WHEN o_orderkey BETWEEN 1000 AND 1200 THEN 0
                   ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price4
            FROM orders WHERE o_orderkey >= 1000 AND o_custkey >= 100
            ORDER BY o"""))

  override val queries: Seq[Q] = Seq(
    qStreamTumbling, qStreamSliding, qStreamSession, qStreamStateful,
    qStreamTws,
    qStreamJoin, qStreamJoinOuter, qStreamJoinOuterLive,
    qStreamJoinFull, qStreamJoinFullLive, qStreamEnrich,
    qStreamLive, qStreamLiveAppend, qStreamSessionTimersLive, qStreamKvSink,
    qStreamIngest, qStreamIngestNeardup, qStreamIngestNeardupPhash,
    qStreamAnnProbe, qStreamClassify, qStreamBm25Serve,
    qStreamTextIndexIngest, qStreamClassifyTrain, qStreamAnnIngest,
    qStreamDedup, qStreamStoreSource, qStreamStoreCdf)
}
