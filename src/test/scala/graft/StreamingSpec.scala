package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** SURVEY §2.10/§5.4 — true Structured Streaming semantics with
  * MemoryStream: watermark late-drop, window finalization, stream dedup,
  * and custom stateful sessionization across micro-batches. */
class StreamingSpec extends SparkSpec {

  // offset from epoch 0: the initial watermark is 0 and the stateful-op
  // late filter is strict, so an event at exactly t=0 would be dropped
  private val Base = 1200L * 60000L // 20:00 — hour-aligned so window starts land on Base
  private def ts(minute: Int): Timestamp = new Timestamp(Base + minute * 60000L)

  private def runBatches[T](stream: MemoryStream[Ev], out: org.apache.spark.sql.DataFrame,
                            mode: OutputMode, batches: Seq[Seq[Ev]], name: String): Seq[org.apache.spark.sql.Row] = {
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("tumbling window finalizes after watermark passes; late rows dropped") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val rows = runBatches(st, EventStreams.tumblingCounts(st.toDF()), OutputMode.Append, Seq(
      Seq(Ev(1, 1, "click", ts(5), 1.0), Ev(2, 1, "click", ts(20), 1.0)),
      // advance event time far past hour 0 + 10min watermark -> finalize window 0
      Seq(Ev(3, 1, "click", ts(95), 1.0)),
      // LATE arrival for window 0 (watermark already at 85min) -> dropped
      Seq(Ev(4, 1, "click", ts(10), 99.0), Ev(5, 1, "click", ts(130), 1.0)),
      Seq(Ev(6, 1, "click", ts(200), 1.0)),
    ), "t_tumbling")
    val w0 = rows.find(_.getTimestamp(0).getTime == Base)
    assert(w0.isDefined, s"window 0 not finalized: $rows")
    assert(w0.get.getLong(2) == 2, s"late row was not dropped: ${w0.get}")
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val rows = runBatches(st, EventStreams.dedupEvents(st.toDF()), OutputMode.Append, Seq(
      Seq(Ev(1, 1, "click", ts(1), 1.0), Ev(1, 1, "click", ts(1), 1.0), Ev(2, 1, "click", ts(2), 1.0)),
      Seq(Ev(2, 1, "click", ts(3), 1.0), Ev(3, 1, "click", ts(4), 1.0)),
    ), "t_dedup")
    assert(rows.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L), s"got $rows")
  }

  test("custom sessionizer closes sessions on 30-minute gaps across batches") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val rows = runBatches(st, EventStreams.customSessionize(st.toDS()).toDF(), OutputMode.Append, Seq(
      // session A: user 7, minutes 0-10 (3 events)
      Seq(Ev(1, 7, "click", ts(0), 1.0), Ev(2, 7, "click", ts(5), 2.0)),
      Seq(Ev(3, 7, "click", ts(10), 3.0)),
      // 40-min gap -> closes session A, opens session B
      Seq(Ev(4, 7, "click", ts(50), 4.0)),
      // push watermark far ahead so timeouts fire
      Seq(Ev(5, 8, "click", ts(200), 1.0)),
      Seq(Ev(6, 8, "click", ts(400), 1.0)),
    ), "t_sessions")
    val u7 = rows.filter(_.getLong(0) == 7L)
    assert(u7.exists(r => r.getLong(3) == 3 && math.abs(r.getDouble(4) - 6.0) < 1e-9),
      s"session A (3 events, sum 6.0) missing: $rows")
  }

  test("stream-static enrichment broadcasts the dimension") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val dims = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = EventStreams.enrich(st.toDF(), dims, "user_id")
    val q = out.writeStream.format("memory").queryName("t_enrich").outputMode(OutputMode.Append).start()
    try {
      st.addData(Seq(Ev(1, 1, "click", ts(1), 1.0), Ev(2, 3, "click", ts(2), 1.0)))
      q.processAllAvailable()
      // after a USING join the key column leads: (user_id, ..., tier)
      val rows = spark.table("t_enrich").collect()
        .map(r => r.getLong(0) -> Option(r.getString(5)).orNull).toMap
      assert(rows(1L) == "gold", "known user enriched")
      assert(rows(3L) == null, "unknown user survives left join")
    } finally q.stop()
  }

  test("foreachBatch hands batches to arbitrary sink logic with epochs") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (epoch, rows)
    val q = EventStreams.toForeachBatch(st.toDF(),
      (df, epoch) => seen.synchronized { seen += ((epoch, df.count())) }).start()
    try {
      st.addData(Seq(Ev(1, 1, "click", ts(1), 1.0), Ev(2, 1, "click", ts(2), 1.0)))
      q.processAllAvailable()
      st.addData(Seq(Ev(3, 1, "click", ts(3), 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.map(_._2).sum == 3, s"rows across batches: $seen")
    assert(seen.map(_._1).distinct.size == seen.size, "epochs are distinct")
  }

  test("foreachBatch streaming upsert maintains a latest-per-key parquet snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the standard streaming-CDC recipe: every micro-batch is reduced to
    // latest-per-key, then MERGEd into the parquet snapshot exactly like
    // the batch q_merge_upsert (anti-join on the delta's keys + union).
    // The merged frame is materialized via localCheckpoint BEFORE the
    // overwrite — a lazy read of the same path it's about to replace is
    // the classic self-overwrite corruption.
    val st = MemoryStream[Ev](spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_supsert").toString + "/snap"
    val q = EventStreams.toForeachBatch(st.toDF(), (df, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      val delta = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val merged =
        if (new java.io.File(dir).exists) {
          val target = df.sparkSession.read.parquet(dir)
          target.join(delta.select("user_id"), Seq("user_id"), "left_anti")
            .unionByName(delta)
        } else delta
      merged.localCheckpoint(true).write.mode("overwrite").parquet(dir)
    }).start()
    try {
      st.addData(Seq(Ev(1, 1, "click", ts(1), 1.0), Ev(2, 2, "view", ts(2), 2.0)))
      q.processAllAvailable()
      st.addData(Seq(Ev(3, 1, "purchase", ts(5), 9.0), Ev(4, 3, "click", ts(6), 3.0)))
      q.processAllAvailable()
      st.addData(Seq(Ev(5, 2, "purchase", ts(9), 7.0)))
      q.processAllAvailable()
    } finally q.stop()
    val snap = spark.read.parquet(dir)
      .select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(snap == Set((1L, "purchase", 9.0), (2L, "purchase", 7.0), (3L, "click", 3.0)),
      s"snapshot is not latest-per-user: $snap")
  }

  test("built-in session_window aggregates per user") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val rows = runBatches(st, EventStreams.sessionWindows(st.toDF()), OutputMode.Append, Seq(
      Seq(Ev(1, 9, "click", ts(0), 1.0), Ev(2, 9, "click", ts(10), 1.0)),
      Seq(Ev(3, 9, "click", ts(120), 1.0)),
      Seq(Ev(4, 9, "click", ts(300), 1.0)),
    ), "t_swin")
    assert(rows.exists(r => r.getLong(0) == 9L && r.getLong(3) == 2L),
      s"first session (2 events) not emitted: $rows")
  }

  test("mapGroupsWithState maintains running per-user totals across batches") {
    import spark.implicits._
    val st = MemoryStream[Ev](spark)
    val out = EventStreams.runningTotals(st.toDS()).toDF()
    val q = out.writeStream.format("memory").queryName("t_totals")
      .outputMode(OutputMode.Update).start()
    try {
      st.addData(Seq(Ev(1, 5, "click", ts(1), 2.0), Ev(2, 5, "click", ts(2), 3.0)))
      q.processAllAvailable()
      st.addData(Seq(Ev(3, 5, "click", ts(3), 5.0)))
      q.processAllAvailable()
      // Update mode: memory sink keeps each emitted update; the LAST row
      // for user 5 must carry the cumulative state (3 events, 10.0)
      val rows = spark.table("t_totals").collect()
        .filter(_.getLong(0) == 5L).map(r => (r.getLong(1), r.getDouble(2)))
      assert(rows.contains((3L, 10.0)), s"running total missing: ${rows.toSeq}")
      assert(rows.contains((2L, 5.0)), s"first-batch emission missing: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import spark.implicits._
    val clicks = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val out = EventStreams.clickAttribution(clicks.toDF(), purchases.toDF())
    val q = out.writeStream.format("memory").queryName("t_attr")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: click @5, purchase @20 (within 30m) -> attributed
      // user 2: click @0, purchase @45 (gap 45m)     -> NOT attributed
      clicks.addData(Seq(Ev(11, 1, "click", ts(5), 0.0), Ev(12, 2, "click", ts(0), 0.0)))
      purchases.addData(Seq(Ev(21, 1, "purchase", ts(20), 9.99), Ev(22, 2, "purchase", ts(45), 5.0)))
      q.processAllAvailable()
      // advance both watermarks so pending state resolves
      clicks.addData(Seq(Ev(13, 3, "click", ts(300), 0.0)))
      purchases.addData(Seq(Ev(23, 3, "purchase", ts(301), 1.0)))
      q.processAllAvailable()
      val rows = spark.table("t_attr").collect()
      val attributed = rows.map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(attributed.contains((21L, 11L)), s"in-window purchase not attributed: ${rows.toSeq}")
      assert(!attributed.exists(_._1 == 22L), s"out-of-window purchase attributed: ${rows.toSeq}")
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched purchases with nulls after the watermark") {
    import spark.implicits._
    val clicks = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val out = EventStreams.clickAttribution(clicks.toDF(), purchases.toDF(), "leftOuter")
    val q = out.writeStream.format("memory").queryName("t_attr_outer")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: click @5, purchase @20  -> attributed immediately
      // user 2: purchase @45, no click  -> must still appear, nulls, but
      //         only once the click watermark passes 45 (no match can
      //         still arrive)
      clicks.addData(Seq(Ev(11, 1, "click", ts(5), 0.0)))
      purchases.addData(Seq(Ev(21, 1, "purchase", ts(20), 9.99), Ev(22, 2, "purchase", ts(45), 5.0)))
      q.processAllAvailable()
      // advance BOTH watermarks far past 45 + 10min delay
      clicks.addData(Seq(Ev(13, 3, "click", ts(300), 0.0)))
      purchases.addData(Seq(Ev(23, 3, "purchase", ts(301), 1.0)))
      q.processAllAvailable()
      clicks.addData(Seq(Ev(14, 4, "click", ts(600), 0.0)))
      purchases.addData(Seq(Ev(24, 4, "purchase", ts(601), 1.0)))
      q.processAllAvailable()
      val rows = spark.table("t_attr_outer").collect()
      val byPurchase = rows.map(r => r.getLong(1) -> r).toMap
      assert(byPurchase.contains(21L) && byPurchase(21L).getLong(2) == 11L,
        s"matched purchase lost or unattributed: ${rows.toSeq}")
      assert(byPurchase.contains(22L), s"unmatched purchase dropped by outer join: ${rows.toSeq}")
      assert(byPurchase(22L).isNullAt(2),
        s"unmatched purchase should carry null click_id: ${byPurchase(22L)}")
    } finally q.stop()
  }

  test("stateful aggregation runs on the RocksDB state store (off-heap state posture)") {
    // At 100 TB/day the streaming state outgrows executor heaps; RocksDB
    // keeps it on local disk with incremental checkpointing. Same
    // transform, same results — only the state backend changes, which is
    // exactly the property worth pinning.
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val st = MemoryStream[Ev](spark)
      val rows = runBatches(st, EventStreams.tumblingCounts(st.toDF()), OutputMode.Append, Seq(
        Seq(Ev(1, 1, "click", ts(5), 1.0), Ev(2, 1, "click", ts(20), 2.0)),
        Seq(Ev(3, 1, "click", ts(95), 1.0)),
        Seq(Ev(4, 1, "click", ts(200), 1.0)),
      ), "t_rocksdb")
      val w0 = rows.find(_.getTimestamp(0).getTime == Base)
      assert(w0.isDefined, s"window 0 not finalized under RocksDB: $rows")
      assert(w0.get.getLong(2) == 2 && w0.get.getDouble(3) == 3.0,
        s"RocksDB-backed aggregate differs: ${w0.get}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState keeps composite ValueState+MapState per user across batches") {
    // The Spark 4 arbitrary-state API (successor to mapGroupsWithState):
    // ProfileProcessor maintains a running (count, sum) ValueState and a
    // per-event-type MapState under one key. Requires RocksDB.
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val st = MemoryStream[Ev](spark)
      val rows = runBatches(st, EventStreams.runningProfile(st.toDS()).toDF(),
        OutputMode.Update, Seq(
          Seq(Ev(1, 7, "click", ts(1), 1.0), Ev(2, 7, "view", ts(2), 2.0),
            Ev(3, 8, "click", ts(3), 5.0)),
          Seq(Ev(4, 7, "click", ts(4), 3.0)),
          Seq(Ev(5, 8, "purchase", ts(5), 7.0), Ev(6, 8, "click", ts(6), 1.0)),
        ), "t_tws")
      // memory sink in Update mode appends each batch's emission; the
      // LAST row per user is the current profile
      val last = rows.zipWithIndex.groupBy(_._1.getLong(0))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      assert(last(7L).getLong(1) == 3 && last(7L).getDouble(2) == 6.0 &&
        last(7L).getLong(3) == 2, s"user 7 profile wrong: ${last(7L)}")
      assert(last(8L).getLong(1) == 3 && last(8L).getDouble(2) == 13.0 &&
        last(8L).getLong(3) == 2, s"user 8 profile wrong: ${last(8L)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState event-time timers close sessions in parity with flatMapGroupsWithState") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batches = Seq(
        Seq(Ev(1, 7, "click", ts(0), 1.0), Ev(2, 7, "click", ts(5), 2.0)),
        Seq(Ev(3, 7, "click", ts(10), 3.0)),
        Seq(Ev(4, 7, "click", ts(50), 4.0)), // 40-min gap closes session A
        Seq(Ev(5, 8, "click", ts(200), 1.0)),
        Seq(Ev(6, 8, "click", ts(400), 1.0)),
      )
      val st = MemoryStream[Ev](spark)
      val rows = runBatches(st, EventStreams.sessionizeTws(st.toDS()).toDF(),
        OutputMode.Append, batches, "t_tws_sessions")
      // session A: 3 events, sum 6.0 — the same closure the
      // flatMapGroupsWithState test pins, now driven by a registered timer
      val u7 = rows.filter(_.getLong(0) == 7L)
      assert(u7.exists(r => r.getLong(3) == 3 && math.abs(r.getDouble(4) - 6.0) < 1e-9),
        s"timer-closed session A (3 events, sum 6.0) missing: $rows")
      // session B (single event at minute 50) closes once the watermark
      // from minute 400 passes its gap timer
      assert(u7.exists(r => r.getLong(3) == 1 && math.abs(r.getDouble(4) - 4.0) < 1e-9),
        s"timer-closed session B (1 event, sum 4.0) missing: $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState ListState keeps a bounded last-3 buffer per user") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val st = MemoryStream[Ev](spark)
      val rows = runBatches(st, EventStreams.recentAverages(st.toDS()).toDF(),
        OutputMode.Update, Seq(
          Seq(Ev(1, 5, "click", ts(1), 2.0), Ev(2, 5, "click", ts(2), 4.0)),
          Seq(Ev(3, 5, "click", ts(3), 6.0)),
          // 4th value evicts the first: buffer = (4, 6, 8), avg 6.0
          Seq(Ev(4, 5, "click", ts(4), 8.0)),
        ), "t_tws_recent")
      val last = rows.zipWithIndex.filter(_._1.getLong(0) == 5L).maxBy(_._2)._1
      assert(last.getLong(1) == 3, s"buffer not trimmed to 3: $last")
      assert(math.abs(last.getDouble(2) - 6.0) < 1e-9,
        s"rolling avg should be (4+6+8)/3 = 6.0: $last")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState initial state seeds totals from a batch snapshot") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // historical batch snapshot: user 7 already has 5 events / 10.0
      val snapshot = Seq(EventStreams.UserTotal(7L, 5L, 10.0)).toDS()
      val st = MemoryStream[Ev](spark)
      val rows = runBatches(st,
        EventStreams.bootstrappedTotals(st.toDS(), snapshot).toDF(),
        OutputMode.Update, Seq(
          Seq(Ev(1, 7, "click", ts(1), 2.0)),          // seeded user continues
          Seq(Ev(2, 8, "click", ts(2), 1.0)),          // unseeded user starts at 0
        ), "t_tws_boot")
      val last = rows.zipWithIndex.groupBy(_._1.getLong(0))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      assert(last(7L).getLong(1) == 6 && math.abs(last(7L).getDouble(2) - 12.0) < 1e-9,
        s"bootstrap (5, 10.0) + stream (1, 2.0) expected: ${last(7L)}")
      assert(last(8L).getLong(1) == 1 && math.abs(last(8L).getDouble(2) - 1.0) < 1e-9,
        s"unseeded user should start fresh: ${last(8L)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("Trigger.AvailableNow drains incrementally with exactly-once across restarts") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_stream_eo").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    Files.createDirectories(Paths.get(in))
    def writeFile(name: String, ids: Seq[Long]): Unit =
      Files.write(Paths.get(in, name), ids.map(i =>
        s"""{"event_id":$i,"user_id":${i % 3},"event_type":"click","value":1.5}""")
        .mkString("\n").getBytes)
    writeFile("a.json", 1L to 5L)
    writeFile("b.json", 4L to 8L) // ids 4,5 duplicate a.json's
    EventStreams.exactlyOnceDrain(spark, in, out, ck).awaitTermination()
    val r1 = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0)).sorted
    assert(r1.toSeq == (1L to 8L), s"first drain emitted wrong set: ${r1.toSeq}")
    // restart with the same checkpoint: only the new file is processed,
    // and ids 7,8 (already emitted in run 1) stay deduped via restored state
    writeFile("c.json", Seq(7L, 8L, 9L, 10L))
    EventStreams.exactlyOnceDrain(spark, in, out, ck).awaitTermination()
    val r2 = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0)).sorted
    assert(r2.toSeq == (1L to 10L), s"restart re-emitted or missed rows: ${r2.toSeq}")
  }

  test("writeStream.format(graft-delta-stream): exactly-once Delta sink") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = "/tmp/graft_stream_sink_fmt/t"
    graft.sources.TxnLog.rmrf("/tmp/graft_stream_sink_fmt")
    val srcDir = "/tmp/graft_stream_sink_fmt/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    spark.range(0, 50).select(col("id"), (col("id") % 3).as("g"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    def drain(ck: String): Unit = {
      val q = spark.readStream
        .schema("id BIGINT, g BIGINT").parquet(srcDir)
        .writeStream.format("graft-delta-stream")
        .option("path", base).option("appId", "sink-fmt-test")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val ck1 = java.nio.file.Files.createTempDirectory("graft_sinkfmt_ck_").toString
    drain(ck1)
    assert(graft.sources.DeltaLogReader.read(spark, base).count() == 50L)
    // same checkpoint: no new input, nothing commits
    drain(ck1)
    assert(graft.sources.DeltaLogReader.read(spark, base).count() == 50L)
    // FRESH checkpoint = full redelivery of batch 0 — the TABLE's txn
    // marker absorbs it (the engine checkpoint is not the source of
    // truth; exactly-once survives checkpoint loss)
    val ck2 = java.nio.file.Files.createTempDirectory("graft_sinkfmt_ck_").toString
    drain(ck2)
    assert(graft.sources.DeltaLogReader.read(spark, base).count() == 50L)
    // new data + a later batch id on the original checkpoint appends
    spark.range(50, 70).select(col("id"), (col("id") % 3).as("g"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain(ck1)
    assert(graft.sources.DeltaLogReader.read(spark, base).count() == 70L)
  }

  test("writeStream.format(graft-iceberg-stream): exactly-once via snapshot summaries") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = "/tmp/graft_stream_sink_ice/t"
    graft.sources.TxnLog.rmrf("/tmp/graft_stream_sink_ice")
    val srcDir = "/tmp/graft_stream_sink_ice/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    spark.range(0, 40).select(col("id"), (col("id") % 5).as("g"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    def drain(ck: String): Unit = {
      val q = spark.readStream
        .schema("id BIGINT, g BIGINT").parquet(srcDir)
        .writeStream.format("graft-iceberg-stream")
        .option("path", base).option("appId", "ice-sink-test")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val ck1 = java.nio.file.Files.createTempDirectory("graft_icesink_ck_").toString
    drain(ck1)
    assert(graft.sources.IcebergReader.read(spark, base).count() == 40L)
    // the committed snapshot carries the (appId, batchId) summary marker
    assert(graft.sources.IcebergStreamSink.lastBatch(
      graft.sources.IcebergReader.load(base), "ice-sink-test") == 0L)
    // FRESH checkpoint = full redelivery of batch 0 — the summary
    // marker absorbs it (exactly-once survives checkpoint loss)
    val ck2 = java.nio.file.Files.createTempDirectory("graft_icesink_ck_").toString
    drain(ck2)
    assert(graft.sources.IcebergReader.read(spark, base).count() == 40L)
    // later data commits snapshot 2 with its own marker
    spark.range(40, 55).select(col("id"), (col("id") % 5).as("g"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain(ck1)
    assert(graft.sources.IcebergReader.read(spark, base).count() == 55L)
    assert(graft.sources.IcebergStreamSink.lastBatch(
      graft.sources.IcebergReader.load(base), "ice-sink-test") == 1L)
  }
}
