package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** GRADED Structured Streaming: these queries run a REAL streaming job —
  * `readStream` file source → event-time aggregation →
  * `Trigger.AvailableNow` drain into a memory sink — and hand the drained
  * result to the same DuckDB hash gate as every batch query. This closes
  * the loop SURVEY §2.10 left to unit tests: the streaming execution path
  * (micro-batch planner, state store, watermark eviction) is now
  * oracle-verified, not just spec-asserted.
  *
  * Determinism rules that make a STREAM hash-gateable:
  *   - `AvailableNow` + a bounded file source ⇒ a fixed batch plan over
  *     fixed input — no timing dependence;
  *   - sums in exact integer cents: state-store partial aggregation
  *     accumulates in arrival order, which differs from DuckDB's scan
  *     order, so double sums would drift in the last ulp (§7.3);
  *   - the append-mode query reports only windows CLOSED by the final
  *     watermark (max event time − delay) — a pure event-time function
  *     of the input, mirrored literally in the oracle's SQL;
  *   - the complete-mode query has no watermark at all.
  *
  * At 100 TB the same topology runs unbounded: the file source becomes a
  * stream, state stores shard per key range across executors, and the
  * memory sink becomes a real sink — nothing in the query body changes.
  */
object StreamQueries extends QueryGroup {

  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  /** events as an UNBOUNDED source with the same ts normalization as
    * Tables.events (readStream needs an explicit schema; file source
    * accepts the single-file path as a one-file glob). */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    graft.Bootstrap.init(s)
    // the file stream source wants a DIRECTORY; the corpus dir holds one
    // file per table, so glob-filter it down to the events file
    val raw = s.read.parquet(s"$d/events.parquet")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => stream
      case _ =>
        stream.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Drain `agg` through a memory sink and return the sink table.
    *
    * State-store instances = shuffle partitions, and each instance pays
    * fixed per-batch cost (open/commit/snapshot), so a stateful drain's
    * parallelism must be sized to the STREAM's volume, not inherited
    * from the batch default: at this fixture scale 32 instances spend
    * 2.4× more wall-clock on state plumbing than 8 (measured by sweeping
    * shuffle partitions: interval join 6.3 s → 2.8 s). On a real
    * cluster the same knob scales UP with key cardinality and arrival
    * rate — the point is that it is a deliberate choice pinned at the
    * first checkpoint, not a default. Partitioning never changes
    * results (hash-by-key either way); the oracle gate re-proves it. */
  private def drain(s: SparkSession, agg: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${ctr.incrementAndGet()}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  val queries: Map[String, QFn] = Map(
    // ---- streamed tumbling counts, complete mode (ORACLE) ---------------
    // Identical event-time semantics to the batch q_tumbling_1h, computed
    // by the micro-batch engine + state store instead of a hash
    // aggregate. Complete mode: every window is in the sink at drain end,
    // so the result equals the batch aggregation exactly.
    "q_stream_tumbling" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      drain(s, agg, "complete")
        .select(fmtTs(col("w.start")).as("window_start"), col("event_type"),
          col("n"), col("sum_cents"))
        .orderBy("window_start", "event_type")
    }),

    // ---- streamed windows under a watermark, append mode (ORACLE) -------
    // The genuinely streaming contract: append mode emits a window ONLY
    // once the watermark (max event time − 17 min) passes its end, and
    // windows still open at drain end are withheld. The oracle states
    // that eviction rule literally: hour buckets whose end <= max(ts) −
    // 17 min. Equality proves the engine's watermark arithmetic — not
    // just the aggregation — matches the declarative definition. (17 min
    // is deliberately not a divisor of the window size, so the watermark
    // never lands exactly on a window boundary where emit-at-equality
    // flavors could differ.)
    "q_stream_window_append" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "17 minutes")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      drain(s, agg, "append")
        .select(fmtTs(col("w.start")).as("window_start"), col("event_type"),
          col("n"), col("sum_cents"))
        .orderBy("window_start", "event_type")
    }),

    // ---- streamed exactly-once dedup (ORACLE) ---------------------------
    // The at-least-once ingestion story: the SAME source unioned with
    // itself simulates a redelivering upstream (every event arrives
    // twice); dropDuplicatesWithinWatermark on the event key must
    // collapse the stream back to exactly-once. The oracle is the plain
    // batch census of the ORIGINAL table — equality proves the dedup
    // state logic removed precisely the redelivered copies.
    "q_stream_dedup" -> ((s, d) => {
      val e = eventsStream(s, d).select(col("event_id"), col("event_type"), col("ts"))
      val redelivered = e.union(e)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      drain(s, redelivered, "complete")
        .select(col("event_type"), col("n"))
        .orderBy("event_type")
    }),

    // ---- streaming sink INTO the transactional table (ORACLE) -----------
    // Exactly-once ingestion where it actually has to live: the TABLE,
    // not the engine. foreachBatch commits each micro-batch to a TxnLog
    // with a (appId, batchId) txn marker; the SAME bounded stream is
    // then drained a SECOND time from a fresh checkpoint — every batch
    // redelivered — and commitIfAbsent must skip them all because the
    // committed marker, not the checkpoint, is the source of truth. The
    // oracle is the plain batch census: equality proves the second drain
    // added exactly zero rows. (This is the sink-side idempotence that
    // makes at-least-once delivery + transactional commit = exactly
    // once at 100 TB.)
    "q_stream_txn_sink" -> ((s, d) => {
      val base = s"/tmp/graft_txn_${Integer.toHexString(d.hashCode)}/events_sink"
      graft.sources.TxnLog.rmrf(base)
      val log = new graft.sources.TxnLog(s, base)
      log.init()
      def drainOnce(): Unit = {
        val ck = java.nio.file.Files.createTempDirectory("graft_txn_sink_ck_").toString
        val q = eventsStream(s, d)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            log.commitIfAbsent("events-sink", id, batch); ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainOnce()
      drainOnce() // full redelivery — the txn markers must absorb it
      log.read()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("event_type")
    }),

    // ---- streaming sink into a FOREIGN (public-spec Delta) table --------
    // q_stream_txn_sink's exactly-once discipline pointed at the OPEN
    // format: foreachBatch commits each micro-batch through
    // DeltaLogWriter.appendIfAbsent, which rides the spec's OWN
    // idempotence protocol — a `txn` (SetTransaction) action per
    // commit, batches skipped when the log already holds the appId's
    // marker at or beyond them. The same bounded stream is drained a
    // SECOND time from a fresh checkpoint (full redelivery) and must
    // add exactly zero rows, because the TABLE is the source of truth,
    // not the engine checkpoint. The graded census reads the final
    // table back through the Delta reader; equality with the plain
    // batch census proves the no-duplicates property — and the emitted
    // table is consumable by any Delta reader downstream.
    "q_stream_delta_sink" -> ((s, d) => {
      val base = s"/tmp/graft_deltaw_${Integer.toHexString(d.hashCode)}/events_sink"
      graft.sources.TxnLog.rmrf(base)
      def drainOnce(): Unit = {
        val ck = java.nio.file.Files.createTempDirectory("graft_delta_sink_ck_").toString
        val q = eventsStream(s, d)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            graft.sources.DeltaLogWriter.appendIfAbsent(s, batch.coalesce(1),
              base, "events-delta-sink", id); ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainOnce()
      drainOnce() // full redelivery — the spec's txn markers must absorb it
      graft.sources.DeltaLogReader.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("event_type")
    }),

    // ---- streaming sink into a Hudi CoW table (upsert idempotence) ------
    // The THIRD exactly-once mechanism in the sink family, and the one
    // key-value ingestion actually relies on: no transaction marker at
    // all — the sink is a KEYED UPSERT, so a redelivered batch rewrites
    // the same keys to the same values and the table converges by
    // CONTENT. Same graded shape as the txn-marker sinks: drain the
    // bounded stream twice from fresh checkpoints (full redelivery),
    // census through the Hudi reader, equal the plain batch census.
    // The non-equal failure mode is real: an append-style sink (or a
    // writer that routed keys to the wrong bucket) doubles the rows.
    "q_stream_hudi_sink" -> ((s, d) => {
      val base = s"/tmp/graft_hudi_${Integer.toHexString(d.hashCode)}/events_sink"
      graft.sources.TxnLog.rmrf(base)
      def drainOnce(): Unit = {
        val ck = java.nio.file.Files.createTempDirectory("graft_hudi_sink_ck_").toString
        val q = eventsStream(s, d)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val exists = java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(base, ".hoodie"))
            if (exists) graft.sources.HudiWriter.upsert(s, batch, base)
            else graft.sources.HudiWriter.create(s, batch, base,
              "events_sink", "event_id", 4)
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainOnce()
      drainOnce() // full redelivery — keyed upserts must converge by content
      graft.sources.HudiReader.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("event_type")
    }),

    // ---- streaming ingest into Hudi MERGE_ON_READ -------------------------
    // The workload MOR exists for: per micro-batch the sink appends ONE
    // avro log file per touched bucket (logCommit — no base file is
    // ever rewritten on the hot path), and compaction folds the logs
    // later, off the ingest path. Idempotence is by CONTENT like the
    // CoW sink: a redelivered batch writes duplicate log records, but
    // the per-key last-writer-wins merge picks the later identical
    // values — the stream drains TWICE from fresh checkpoints and the
    // census must equal the plain batch census. Graded at two phases:
    // the merged SNAPSHOT after both drains, and the read-optimized
    // view after compactMor — equal iff the fold was lossless.
    "q_stream_mor_sink" -> ((s, d) => {
      val base = s"/tmp/graft_hudi_${Integer.toHexString(d.hashCode)}/events_mor_sink"
      graft.sources.TxnLog.rmrf(base)
      def drainOnce(): Unit = {
        val ck = java.nio.file.Files.createTempDirectory("graft_mor_sink_ck_").toString
        val q = eventsStream(s, d)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            if (!batch.isEmpty) {
              val exists = java.nio.file.Files.isDirectory(
                java.nio.file.Paths.get(base, ".hoodie"))
              if (exists) graft.sources.HudiWriter.logCommit(s, base, batch)
              else graft.sources.HudiWriter.createMor(s, batch, base,
                "events_mor_sink", "event_id", 4)
            }
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainOnce()
      drainOnce() // full redelivery — the keyed log merge converges by content
      def census(df: org.apache.spark.sql.DataFrame, phase: Long) =
        df.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .select(lit(phase).as("phase"), col("event_type"), col("n"), col("sum_cents"))
      val snap = census(graft.sources.HudiReader.readMor(s, base), 1L)
      graft.sources.HudiWriter.compactMor(s, base)
      val commits = graft.sources.HudiReader.completedCommits(base)
      val ro = census(graft.sources.HudiReader.readOptimized(s, base, commits.last), 2L)
      snap.unionAll(ro).orderBy("phase", "event_type")
    }),

    // ---- streaming CDC source over the commit log (ORACLE) --------------
    // The read-side completion of the lakehouse streaming story
    // (q_stream_txn_sink is the write side): a custom DataSourceV2
    // MicroBatchStream (graft.sources.TxnLogStreamProvider) whose
    // offsets ARE log versions, streaming one row per manifest action
    // with removes resolved to their retraction pre-image — exactly how
    // an incremental consumer tails a 100 TB table for KB per commit.
    // The fixture replays the CDC lifecycle (append / append / COW
    // delete / append); the streamed per-version row masses are graded
    // against the declarative recompute. Complete-mode aggregation over
    // a 4-version AvailableNow drain: the engine's offset planning (one
    // batch per (start, end] version range) decides what arrives — hash
    // equality proves the source's offset→action algebra, not just the
    // fixture.
    // ---- streaming a FOREIGN (public-spec Delta) commit log (ORACLE) ----
    // The DSv2 MicroBatchStream pointed at a _delta_log: offsets are
    // Delta versions, each batch carries the version's add/remove
    // actions with numRecords resolved (removes get their pre-image
    // from the live-set replay, like the native TxnLog stream). The
    // graded census aggregates file/row mass per version; the oracle
    // rebuilds the expected ledger from `orders` because the fixture's
    // groups are o_orderkey%3 residues with exact stats — so the hash
    // gate grades action parsing, stats extraction AND remove
    // resolution through the streaming engine end to end.
    "q_stream_delta" -> ((s, d) => {
      val base = LakehouseQueries.mkDeltaFixture(s, d, "orders_dls")
      val agg = s.readStream
        .format("graft-delta-stream")
        .option("path", base).load()
        .groupBy("version")
        .agg(
          sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_adds"),
          sum(when(col("action") === "remove", 1L).otherwise(0L)).as("n_removes"),
          sum(when(col("action") === "add", col("num_records"))
            .otherwise(0L)).as("rows_added"),
          sum(when(col("action") === "remove", col("num_records"))
            .otherwise(0L)).as("rows_removed"))
      drain(s, agg, "complete").orderBy("version")
    }),

    // ---- streaming a FOREIGN (public-spec Iceberg) snapshot tree (ORACLE) --
    // The third leg of the lakehouse streaming triad: a DSv2
    // MicroBatchStream whose offsets are SNAPSHOT IDS (gaps after an
    // expiry are fine — batches plan over the declared ids in range),
    // emitting one row per manifest entry each snapshot CHANGED
    // (ADDED → add, DELETED → remove; carried EXISTING entries are not
    // changes). Iceberg manifests carry record_count on the DELETED
    // side too, so retraction pre-images need no live-set replay. The
    // fixture's snapshot 2 is a delete+append overwrite; the oracle
    // rebuilds the expected per-snapshot ledger from `orders`' residue
    // groups — hash equality grades the offset→manifest-diff algebra
    // through the streaming engine end to end.
    "q_stream_iceberg" -> ((s, d) => {
      val base = LakehouseQueries.mkIcebergFixture(s, d, "orders_ics")
      val agg = s.readStream
        .format("graft-iceberg-stream")
        .option("path", base).load()
        .groupBy("snapshot_id")
        .agg(
          sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_adds"),
          sum(when(col("action") === "remove", 1L).otherwise(0L)).as("n_removes"),
          sum(when(col("action") === "add", col("record_count"))
            .otherwise(0L)).as("rows_added"),
          sum(when(col("action") === "remove", col("record_count"))
            .otherwise(0L)).as("rows_removed"))
      drain(s, agg, "complete").orderBy("snapshot_id")
    }),

    "q_stream_txn_source" -> ((s, d) => {
      val base = s"/tmp/graft_txn_${Integer.toHexString(d.hashCode)}/orders_ss"
      graft.sources.TxnLog.rmrf(base)
      val log = new graft.sources.TxnLog(s, base, statCol = Some("o_year"))
      log.init()
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        year(col("o_orderdate")).cast("long").as("o_year"))
        .localCheckpoint(eager = false)
      log.append(o.filter(col("o_year") <= 1996))                // v0
      log.append(o.filter(col("o_year").between(1997, 1998)))    // v1
      log.deleteWhere(col("o_orderstatus") === "F")              // v2
      log.append(o.filter(col("o_year") >= 1999))                // v3
      val agg = s.readStream
        .format("graft-txnlog-stream")
        .option("path", base).load()
        .groupBy("version")
        .agg(sum(when(col("action") === "add", col("file_rows"))
            .otherwise(0L)).as("rows_added"),
          sum(when(col("action") === "remove", col("file_rows"))
            .otherwise(0L)).as("rows_removed"))
      drain(s, agg, "complete")
        .select(col("version"), col("rows_added"), col("rows_removed"),
          (col("rows_added") - col("rows_removed")).as("net_rows"))
        .orderBy("version")
    }),

    // ---- transformWithState profile maintenance (ORACLE) ----------------
    // Spark 4's arbitrary-state API (the map/flatMapGroupsWithState
    // successor) through the hash gate: EventStreams.ProfileProcessor
    // keeps a ValueState (running count/sum) AND a MapState (per-type
    // counts) per user — composite named state, each var its own RocksDB
    // column family, so touching one counter doesn't rewrite the whole
    // blob (the write-amplification fix that matters at 100 TB/day).
    // Update mode emits one profile row per user per batch; profiles are
    // MONOTONE in n_events, so max-per-user = final state whatever the
    // batch split. Graded census: users and event mass by distinct-type
    // count (integers only — the processor's double sum accumulates in
    // iterator order, so floats stay out of the grade; cents discipline
    // lives in the aggregation queries). Requires the RocksDB provider —
    // the off-heap state posture, session-scoped here.
    "q_stream_tws_profile" -> ((s, d) => {
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val evs = eventsStream(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), col("value"))
          .as[graft.streaming.EventStreams.Ev]
        val profiles = graft.streaming.EventStreams.runningProfile(evs).toDF()
        val drained = drain(s, profiles, "update")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_events").desc)
        drained.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("n_types"), expr("n_events div 5").as("events_bucket"))
          .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("total_events"))
          .orderBy("n_types", "events_bucket")
          .localCheckpoint(true) // materialize before the provider conf reverts
      } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }),

    // ---- stream-static dimension join (ORACLE) --------------------------
    // The canonical enrichment topology: an unbounded fact stream joined
    // to a bounded dimension table (broadcast per micro-batch — no
    // stream-stream state). Grades the StreamingSymmetricHashJoin-free
    // fast path end-to-end through the hash gate.
    "q_stream_enrich" -> ((s, d) => {
      val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      drain(s, agg, "complete")
        .select(col("c_mktsegment"), col("event_type"), col("n"), col("sum_cents"))
        .orderBy("c_mktsegment", "event_type")
    }),

    // ---- stream-stream interval join (ORACLE) ---------------------------
    // The hardest streaming topology: two unbounded sources joined on key
    // + an event-time interval (purchases within 30 minutes AFTER a view
    // by the same user), via StreamingSymmetricHashJoin with watermarks
    // on BOTH sides — the interval condition is what lets each side's
    // state evict (a view older than watermark−30min can never match a
    // future purchase). The drained pair set is aggregated per user in
    // batch; with AvailableNow over the bounded source the pair set
    // equals the batch self-join exactly, which is precisely what the
    // oracle states. At 100 TB the same topology runs unbounded with
    // per-key-range sharded join state.
    "q_stream_interval_join" -> ((s, d) => {
      val views = eventsStream(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
        .withWatermark("v_ts", "1 hour")
      val purchases = eventsStream(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withWatermark("p_ts", "1 hour")
      val pairs = views.join(purchases,
        col("v_user") === col("p_user")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      drain(s, pairs, "append")
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("v_id")).as("n_views_matched"),
          countDistinct(col("p_id")).as("n_purchases_matched"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("user_id")
    }),

    // ---- stream-stream LEFT OUTER interval join (ORACLE) ----------------
    // The outer flavor is where streaming semantics genuinely diverge
    // from batch: a view's null-extended row may only be emitted once the
    // watermark PROVES no matching purchase can still arrive (v_ts +
    // 30 min < final watermark = max ts − 1 h). The oracle states that
    // eviction rule literally — matched pairs are the batch join, and the
    // unmatched census counts exactly the views old enough for the state
    // store to have closed them out. Grading this proves the engine's
    // outer-join watermark arithmetic, not just its match plumbing.
    "q_stream_outer_join" -> ((s, d) => {
      val views = eventsStream(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
        .withWatermark("v_ts", "1 hour")
      val purchases = eventsStream(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      drain(s, joined, "append")
        .agg(sum(when(col("p_id").isNotNull, 1L).otherwise(0L)).as("n_matched_pairs"),
          countDistinct(when(col("p_id").isNotNull, col("v_id"))).as("n_views_matched"),
          sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_views_closed_unmatched"))
    }),

    // ---- streamed session windows, append mode (ORACLE) -----------------
    // Dynamic-gap session aggregation on the streaming engine: session
    // state merges as events arrive and a session only emits once the
    // watermark passes its end (last event + 30 min gap). NB the
    // session-break rule is NON-STRICT (an event exactly at
    // last + gap starts a NEW session — [start, last+gap) windows merge
    // only on true overlap), which is the opposite boundary convention
    // from the batch q_session_30m's strict >; the oracle states the
    // streaming rule. Session census per user over CLOSED sessions only
    // (end <= max ts − 17 min), k-bounded output.
    "q_stream_session" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withWatermark("ts", "17 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      drain(s, agg, "append")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"),
          sum(col("sum_cents")).as("sum_cents"),
          max(col("n_events")).as("max_session_events"))
        .orderBy("user_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q_stream_delta" ->
      ("WITH c AS (SELECT o_orderkey % 3 AS g, count(*) AS n FROM orders GROUP BY g) " +
        "SELECT CAST(0 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_adds, CAST(0 AS BIGINT) AS n_removes, " +
        "CAST((SELECT sum(n) FROM c WHERE g IN (0, 1)) AS BIGINT) AS rows_added, CAST(0 AS BIGINT) AS rows_removed " +
        "UNION ALL SELECT 1, 1, 0, CAST((SELECT n FROM c WHERE g = 2) AS BIGINT), 0 " +
        "UNION ALL SELECT 2, 0, 1, 0, CAST((SELECT n FROM c WHERE g = 0) AS BIGINT) " +
        "ORDER BY version"),
    "q_stream_iceberg" ->
      ("WITH c AS (SELECT o_orderkey % 4 AS g, count(*) AS n FROM orders GROUP BY g) " +
        "SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(3 AS BIGINT) AS n_adds, CAST(0 AS BIGINT) AS n_removes, " +
        "CAST((SELECT sum(n) FROM c WHERE g IN (0, 1, 2)) AS BIGINT) AS rows_added, CAST(0 AS BIGINT) AS rows_removed " +
        "UNION ALL SELECT 2, 1, 1, CAST((SELECT n FROM c WHERE g = 3) AS BIGINT), CAST((SELECT n FROM c WHERE g = 0) AS BIGINT) " +
        "ORDER BY snapshot_id"),
    "q_stream_tumbling" ->
      ("SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start, " +
        "event_type, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY 1, event_type ORDER BY window_start, event_type"),
    "q_stream_window_append" ->
      ("WITH e AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS ws, event_type, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '17 minutes' AS w FROM events) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents FROM e, wm " +
        "WHERE ws + INTERVAL '1 hour' <= w " +
        "GROUP BY ws, event_type ORDER BY window_start, event_type"),
    "q_stream_dedup" ->
      ("SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_txn_sink" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_mor_sink" ->
      ("WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events) " +
        "SELECT CAST(1 AS BIGINT) AS phase, event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents FROM e GROUP BY event_type " +
        "UNION ALL SELECT 2, event_type, count(*), CAST(sum(cents) AS BIGINT) FROM e GROUP BY event_type " +
        "ORDER BY phase, event_type"),
    "q_stream_hudi_sink" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_delta_sink" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_txn_source" ->
      ("WITH o AS (SELECT o_orderstatus AS st, year(o_orderdate) AS yr FROM orders) " +
        "SELECT CAST(0 AS BIGINT) AS version, " +
        "(SELECT count(*) FROM o WHERE yr <= 1996) AS rows_added, " +
        "CAST(0 AS BIGINT) AS rows_removed, " +
        "(SELECT count(*) FROM o WHERE yr <= 1996) AS net_rows " +
        "UNION ALL SELECT 1, (SELECT count(*) FROM o WHERE yr BETWEEN 1997 AND 1998), " +
        "CAST(0 AS BIGINT), (SELECT count(*) FROM o WHERE yr BETWEEN 1997 AND 1998) " +
        "UNION ALL SELECT 2, (SELECT count(*) FROM o WHERE yr <= 1998 AND st <> 'F'), " +
        "(SELECT count(*) FROM o WHERE yr <= 1998), " +
        "(SELECT count(*) FROM o WHERE yr <= 1998 AND st <> 'F') - (SELECT count(*) FROM o WHERE yr <= 1998) " +
        "UNION ALL SELECT 3, (SELECT count(*) FROM o WHERE yr >= 1999), " +
        "CAST(0 AS BIGINT), (SELECT count(*) FROM o WHERE yr >= 1999) " +
        "ORDER BY version"),
    "q_stream_tws_profile" ->
      ("WITH u AS (SELECT user_id, count(*) AS n_events, count(DISTINCT event_type) AS n_types " +
        "FROM events GROUP BY user_id) " +
        "SELECT n_types, n_events // 5 AS events_bucket, count(*) AS n_users, " +
        "CAST(sum(n_events) AS BIGINT) AS total_events " +
        "FROM u GROUP BY 1, 2 ORDER BY n_types, events_bucket"),
    "q_stream_enrich" ->
      ("SELECT c_mktsegment, event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type"),
    "q_stream_interval_join" ->
      ("SELECT v.user_id AS user_id, count(*) AS n_pairs, " +
        "count(DISTINCT v.event_id) AS n_views_matched, " +
        "count(DISTINCT p.event_id) AS n_purchases_matched, " +
        "CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events v JOIN events p ON v.user_id = p.user_id " +
        "AND v.event_type = 'view' AND p.event_type = 'purchase' " +
        "AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP) " +
        "AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL '30 minutes' " +
        "GROUP BY v.user_id ORDER BY user_id"),
    // the final global watermark is the MIN of the two sides' (max event
    // time - 1h); a view's null row emits only once v_ts + 30min passes it
    "q_stream_outer_join" ->
      ("WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'), " +
        "wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p)) - INTERVAL '1 hour' AS w), " +
        "m AS (SELECT v.event_id AS v_id, p.event_id AS p_id FROM v JOIN p ON v.user_id = p.user_id " +
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes') " +
        "SELECT (SELECT count(*) FROM m) AS n_matched_pairs, " +
        "(SELECT count(DISTINCT v_id) FROM m) AS n_views_matched, " +
        "(SELECT count(*) FROM v, wm WHERE v.ts + INTERVAL '30 minutes' < wm.w " +
        "AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id " +
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes')) AS n_views_closed_unmatched"),
    // streaming session semantics: NON-STRICT break (gap >= 30 min starts
    // a new session); a session is reported only once closed by the final
    // watermark (last event + 30 min <= max ts - 17 min)
    "q_stream_session" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "wm AS (SELECT max(ts) - INTERVAL '17 minutes' AS w FROM e), " +
        "flagged AS (SELECT user_id, ts, cents, " +
        "CASE WHEN lag(ts, 1) OVER win IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER win) >= 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, ts, cents, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged), " +
        "per_s AS (SELECT user_id, sid, count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        "max(ts) + INTERVAL '30 minutes' AS s_end FROM sess GROUP BY user_id, sid) " +
        "SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events, " +
        "CAST(sum(sum_cents) AS BIGINT) AS sum_cents, CAST(max(n_events) AS BIGINT) AS max_session_events " +
        "FROM per_s, wm WHERE s_end <= w GROUP BY user_id ORDER BY user_id"),
  )
}
