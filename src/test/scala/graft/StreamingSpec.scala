package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream-driven specs for graft.streaming: windowed aggregation
  * with watermark, streaming dedup, and keyed running state. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("versionedSource: each commit a micro-batch; checkpoint resumes; non-append fails") {
    import org.apache.spark.sql.SaveMode
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-vsrc")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0

    // parquet sink: the memory sink refuses checkpoint RECOVERY, and
    // resume-from-offset is exactly what this spec proves
    val out = s"$base/out"
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
    def ids() = spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq

    // initial batch = the snapshot; later batches = appended files only
    val q = sink(Streaming.versionedSource(spark, root)).start()
    try {
      q.processAllAvailable()
      assert(ids() === Seq(1L, 2L))
      vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v1
      vt.write(Seq((4L, "d")).toDF("id", "s"), SaveMode.Append) // v2
      q.processAllAvailable()
      assert(ids() === Seq(1L, 2L, 3L, 4L))
    } finally q.stop()

    // restart from the checkpoint: ONLY versions committed after the
    // stop arrive (offsets are versions; a snapshot re-read would
    // duplicate ids 1-4 here)
    vt.write(Seq((5L, "e")).toDF("id", "s"), SaveMode.Append) // v3
    val q2 = sink(Streaming.versionedSource(spark, root)).start()
    try {
      q2.processAllAvailable()
      assert(ids() === Seq(1L, 2L, 3L, 4L, 5L), "exactly-once across restart")
    } finally q2.stop()

    // a non-append commit breaks file-to-row identity: the stream must
    // fail loudly without ignoreChanges...
    vt.compact() // v4 rewrites everything
    val q3 = sink(Streaming.versionedSource(spark, root)).start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable(); q3.awaitTermination(30000)
    }
    assert(failed.getMessage.contains("append-only") ||
      Option(failed.getCause).exists(_.getMessage.contains("append-only")))

    // ...and proceed under ignoreChanges: the compaction's rewritten
    // files replay as "added" (the documented at-least-once caveat)
    val q4 = sink(Streaming.versionedSource(spark, root,
      ignoreChanges = true)).start()
    try {
      q4.processAllAvailable()
      assert(ids() === Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L, 5L, 5L))
    } finally q4.stop()
  }

  test("startingVersion skips the snapshot: the stream subscribes " +
    "from a version (plain and change-feed modes)") {
    import org.apache.spark.sql.SaveMode
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-vsrc-sv")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0 snapshot
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v1
    vt.write(Seq((4L, "d")).toDF("id", "s"), SaveMode.Append) // v2
    def drain(df: org.apache.spark.sql.DataFrame, tag: String) = {
      val out = s"$base/out-$tag"
      val q = df.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$base/ckpt-$tag")
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out)
    }
    // plain mode from v1: the v0 snapshot must NOT replay
    val plain = drain(Streaming.versionedSource(spark, root,
      startingVersion = Some(1L)), "plain")
    assert(plain.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(3L, 4L))
    // change feed from v2: only v2's inserts
    val cdf = drain(Streaming.changeFeedSource(spark, root,
      startingVersion = Some(2L)), "cdf")
    assert(cdf.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((4L, "insert")))
  }

  test("maxVersionsPerBatch rate-limits catch-up into bounded " +
    "micro-batches (admission control: the cap survives restarts)") {
    import org.apache.spark.sql.SaveMode
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-vsrc-rate")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    val out = s"$base/out"
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
    def ids() = spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val q = sink(Streaming.versionedSource(spark, root,
      maxVersionsPerBatch = Some(2L))).start()
    try { q.processAllAvailable() } finally q.stop() // snapshot batch
    assert(ids() === Seq(1L, 2L))
    // the stream falls 5 versions behind while it is down
    (3L to 7L).foreach { i =>
      vt.write(Seq((i, s"v$i")).toDF("id", "s"), SaveMode.Append)
    }
    val q2 = sink(Streaming.versionedSource(spark, root,
      maxVersionsPerBatch = Some(2L))).start()
    try {
      q2.processAllAvailable()
      assert(ids() === (1L to 7L), "catch-up delivers exactly once")
      val batches = q2.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3,
        s"5 versions at cap 2 must take >= 3 micro-batches, got $batches")
    } finally q2.stop()
  }

  test("windowedAgg: hourly counts per key from a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = graft.streaming.Streaming.windowedAgg(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", "event_type", "value", "1 hour", "10 minutes")
    val q = df.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0),
        (ts("2024-01-01 10:20:00"), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2))
      assert(rows.toSeq === Seq(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 8.0),
        ("2024-01-01 11:00:00.0", "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("dedupStream: duplicate keys within watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = graft.streaming.Streaming.dedupStream(
      input.toDF().toDF("ts", "event_id", "payload"),
      "ts", Seq("event_id"), "1 hour")
    val q = df.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:01:00"), 1L, "a-dup"),
        (ts("2024-01-01 10:02:00"), 2L, "b"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:03:00"), 2L, "b-dup"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(1)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("runningTotals: keyed state accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{KeyedEvent, KeyedRunning}
    val input = MemoryStream[KeyedEvent]
    val out = graft.streaming.Streaming.runningTotals(input.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(KeyedEvent("a", 1.0), KeyedEvent("a", 2.0),
        KeyedEvent("b", 10.0))
      q.processAllAvailable()
      input.addData(KeyedEvent("a", 4.0))
      q.processAllAvailable()
      val latest = spark.table("running").collect()
        .map(r => KeyedRunning(r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_.key).view.mapValues(_.maxBy(_.n)).toMap
      assert(latest("a") === KeyedRunning("a", 3L, 7.0))
      assert(latest("b") === KeyedRunning("b", 1L, 10.0))
    } finally q.stop()
  }

  test("runningTotalsEvicting: idle key's state is evicted; totals restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{TimedKeyedEvent, KeyedRunning}
    val input = MemoryStream[TimedKeyedEvent]
    val out = graft.streaming.Streaming.runningTotalsEvicting(
      input.toDS(), watermarkDelay = "0 seconds", idleTimeoutMs = 60000L)
    val q = out.writeStream.format("memory").queryName("running_evict")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(TimedKeyedEvent("idle", 5.0, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // another key far past idle's timeout advances the watermark;
      // the next batch fires idle's event-time timeout and evicts
      input.addData(TimedKeyedEvent("busy", 1.0, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      input.addData(TimedKeyedEvent("busy", 1.0, ts("2024-01-01 11:00:01")))
      q.processAllAvailable()
      // idle returns AFTER eviction: totals restart from zero —
      // proof the state was dropped, not retained NoTimeout-style
      input.addData(TimedKeyedEvent("idle", 7.0, ts("2024-01-01 11:00:02")))
      q.processAllAvailable()
      val rows = spark.table("running_evict").collect()
        .map(r => KeyedRunning(r.getString(0), r.getLong(1), r.getDouble(2)))
      val idleRows = rows.filter(_.key == "idle").sortBy(_.total)
      assert(idleRows.toSeq === Seq(
        KeyedRunning("idle", 1L, 5.0), KeyedRunning("idle", 1L, 7.0)),
        s"expected fresh totals after eviction; got ${rows.mkString(",")}")
    } finally q.stop()
  }
  test("sessionize: gap closes a session; new session opens; within-batch order-free") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{SessionEvent, sessionize}
    val input = MemoryStream[SessionEvent]
    val out = sessionize(input.toDS(), gapMs = 60000L, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events 30s apart (one session), deliberately out of order
      input.addData(
        SessionEvent("u1", ts("2024-01-01 10:00:30")),
        SessionEvent("u1", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0, "session still open")
      // batch 2: 10 minutes later -> gap exceeded, first session emits
      input.addData(SessionEvent("u1", ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
      assert(rows.toSeq === Seq(
        ("u1", "2024-01-01 10:00:00.0", "2024-01-01 10:00:30.0", 2L)))
    } finally q.stop()
  }

  test("sessionize: idle session closes via event-time timeout when watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{SessionEvent, sessionize}
    val input = MemoryStream[SessionEvent]
    val out = sessionize(input.toDS(), gapMs = 60000L, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessions_timeout")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(SessionEvent("idle", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // another key's much-later events advance the watermark past
      // idle's last + gap; the NEXT batch fires the timeout
      input.addData(SessionEvent("busy", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      input.addData(SessionEvent("busy", ts("2024-01-01 11:00:01")))
      q.processAllAvailable()
      val keys = spark.table("sessions_timeout").collect().map(_.getString(0))
      assert(keys.contains("idle"),
        s"idle session not closed by timeout; emitted keys: ${keys.mkString(",")}")
    } finally q.stop()
  }

  test("sessionize: streaming sessions == batch sessionizeEvents on random traffic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{SessionEvent, sessionize}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // seeded random traffic: 5 users, gaps straddling the 1-min session gap
    val rnd = new scala.util.Random(42)
    val base = ts("2024-01-01 10:00:00").getTime
    val events = (1 to 200).map { i =>
      val key = (1 + rnd.nextInt(5)).toString
      val t = base + rnd.nextInt(3600) * 1000L // 1h span, second granularity
      (key, i.toLong, new Timestamp(t))
    }
    // streaming pass: all events in one batch, then a far-future flush
    // key advances the watermark so every real session times out
    val input = MemoryStream[SessionEvent]
    val out = sessionize(input.toDS(), gapMs = 60000L,
      watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessions_parity")
      .outputMode(OutputMode.Append()).start()
    val got = try {
      input.addData(events.map { case (k, _, t) => SessionEvent(k, t) })
      q.processAllAvailable()
      input.addData(SessionEvent("flush", ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      input.addData(SessionEvent("flush", ts("2024-01-02 00:00:01")))
      q.processAllAvailable()
      spark.table("sessions_parity").collect()
        .filter(_.getString(0) != "flush")
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3))).toSet
    } finally q.stop()
    // batch pass over the same events (user_id long <- key)
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType)))
    val batchDf = spark.createDataFrame(
      events.map { case (k, i, t) => Row(k.toLong, i, t) }.asJava, schema)
    val expected = graft.queries.Analytics.sessionizeEvents(batchDf, gapMin = 1)
      .collect()
      // columns: user_id, session_seq, n_events, session_start, session_end
      .map(r => (r.getLong(0).toString, r.getTimestamp(3), r.getTimestamp(4),
        r.getLong(2)))
      .toSet
    assert(got === expected,
      s"streaming/batch divergence: only-streaming=${got -- expected}, " +
        s"only-batch=${expected -- got}")
  }

  test("changeFeedSource: appends stream as inserts, DV deletes as " +
    "delete rows, OPTIMIZE windows silent, rewrites fail loudly") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdfsrc")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    // one multi-row file: a DV delete must stay PARTIAL (a fully
    // masked file drops from the manifest — the documented
    // full-kill limitation of the manifest-derived feed)
    vt.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .coalesce(1)) // v0
    val out = s"$base/out"
    def drain(): Unit = {
      val q = Streaming.changeFeedSource(spark, root).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rows() = spark.read.parquet(out)
      .select("id", "s", "_change_type")
      .as[(Long, String, String)].collect().toSeq.sorted
    drain()
    val snap = Seq((1L, "a", "insert"), (2L, "b", "insert"),
      (3L, "c", "insert"))
    assert(rows() === snap)
    vt.write(Seq((4L, "d")).toDF("id", "s"), SaveMode.Append) // v1
    vt.deleteVectorized("id", 2.0, 2.0) // v2
    drain() // one batch spanning append + DV delete
    assert(rows() === (snap ++ Seq((2L, "b", "delete"),
      (4L, "d", "insert"))).sorted)
    vt.compact(targetFileMB = 1) // v3: pure rewrite — silent
    drain()
    assert(rows() === (snap ++ Seq((2L, "b", "delete"),
      (4L, "d", "insert"))).sorted, "OPTIMIZE must emit nothing")
    vt.write(Seq((9L, "z")).toDF("id", "s")) // v4: overwrite
    intercept[Exception](drain())
  }

  test("changeFeedSource: a window whose DV delete EMPTIES a file (a DV " +
    "death under the chain cap) streams the same rows as batch changes") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdf-death")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    // two files split by id range: F holds [0,100), G holds [100,200)
    vt.write((0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(2, col("id"))) // v0
    vt.deleteVectorized("id", 0, 4) // v1: partial mask on F
    vt.deleteVectorized("id", 5, 99) // v2: F fully dead -> dropped
    assert(vt.manifestEntries(2L).size == 1, "F must be dropped at v2")
    val q = Streaming.changeFeedSource(spark, root, startingVersion = Some(1L))
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "s", "_change_type").as[(Long, String, String)]
        .collect().toSeq.sorted
    val streamed = rows(spark.read.parquet(s"$base/out"))
    assert(streamed === rows(vt.changes(0L, 2L)))
    assert(streamed === (0L to 99L).map(i => (i, s"v$i", "delete")))
  }

  test("intervalJoinLeftOuter: unmatched rows emit ONLY after the " +
    "watermark passes their join horizon") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // clicks: A matches a view; B unmatched, horizon PASSED by the
    // final watermark; C unmatched, horizon NOT passed (1 h before
    // the watermark frontier); L pushes the click-side watermark.
    // view VZ pushes the view-side watermark (user nobody matches).
    val t0 = ts("2024-06-01 00:00:00")
    def plus(base: Timestamp, h: Double): Timestamp =
      new Timestamp(base.getTime + (h * 3600000).toLong)
    val tLate = plus(t0, 80.0)
    val dir = Fixtures.tempDir("outer-join-src")
    val clicks0 = Seq(
      ("a", 1L, t0),
      ("b", 2L, plus(t0, 1.0)),
      ("c", 3L, plus(tLate, -1.0)),
      ("l", 4L, tLate))
    val views0 = Seq(
      ("a", 100L, plus(t0, 0.5)),
      ("zz", 101L, tLate))
    clicks0.toDF("user_id", "click_id", "click_ts")
      .write.parquet(s"$dir/clicks")
    views0.toDF("v_user_id", "view_id", "view_ts")
      .write.parquet(s"$dir/views")
    val clicks = spark.readStream
      .schema("user_id string, click_id long, click_ts timestamp")
      .parquet(s"$dir/clicks")
    val views = spark.readStream
      .schema("v_user_id string, view_id long, view_ts timestamp")
      .parquet(s"$dir/views")
    val joined = graft.streaming.Streaming.intervalJoinLeftOuter(
      clicks, "click_ts", "0 seconds", views, "view_ts", "0 seconds",
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
    val mem = "outer_join_spec"
    spark.catalog.dropTempView(mem)
    val q = joined.writeStream.format("memory").queryName(mem)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table(mem)
      .select(col("click_id"), col("view_id"))
      .as[(Long, Option[Long])].collect().toSet
    // watermark = min(max click_ts, max view_ts) = tLate.
    // A: matched. B: horizon t0+25h < tLate → null row emitted.
    // C: horizon tLate+23h > tLate → suppressed (a view could still
    // come). L: horizon not passed either → suppressed.
    assert(rows === Set((1L, Some(100L)), (2L, None)),
      s"got $rows — unmatched rows must emit exactly when the " +
        "watermark passes their horizon, never before")
  }

  test("intervalJoinRightOuter mirrors the left-outer semantics with " +
    "the roles swapped") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // views: A matched; B unmatched with horizon passed (its own ts,
    // for a view-side window [view_ts-24h, view_ts]); C at the
    // frontier, horizon not passed.
    val t0 = ts("2024-06-01 00:00:00")
    def plus(base: Timestamp, h: Double): Timestamp =
      new Timestamp(base.getTime + (h * 3600000).toLong)
    val tLate = plus(t0, 80.0)
    val dir = Fixtures.tempDir("router-join-src")
    Seq(("a", 1L, t0), ("l", 4L, tLate))
      .toDF("user_id", "click_id", "click_ts")
      .write.parquet(s"$dir/clicks")
    Seq(("a", 100L, plus(t0, 0.5)), ("b", 101L, plus(t0, 1.0)),
      ("c", 102L, tLate))
      .toDF("v_user_id", "view_id", "view_ts")
      .write.parquet(s"$dir/views")
    val clicks = spark.readStream
      .schema("user_id string, click_id long, click_ts timestamp")
      .parquet(s"$dir/clicks")
    val views = spark.readStream
      .schema("v_user_id string, view_id long, view_ts timestamp")
      .parquet(s"$dir/views")
    val joined = graft.streaming.Streaming.intervalJoinRightOuter(
      clicks, "click_ts", "0 seconds", views, "view_ts", "0 seconds",
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
    val mem = "router_join_spec"
    spark.catalog.dropTempView(mem)
    val q = joined.writeStream.format("memory").queryName(mem)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table(mem)
      .select(col("view_id"), col("click_id"))
      .as[(Long, Option[Long])].collect().toSet
    // watermark = tLate. A: matched. B: horizon (its own ts + 0) well
    // before tLate -> null row. C: at the frontier -> suppressed.
    assert(rows === Set((100L, Some(1L)), (101L, None)),
      s"got $rows — right-outer must mirror left-outer emission")
  }

  test("sessionize rejects a non-positive gap") {
    import spark.implicits._
    import graft.streaming.Streaming.{SessionEvent, sessionize}
    intercept[IllegalArgumentException] {
      sessionize(spark.emptyDataset[SessionEvent], gapMs = 0L,
        watermarkDelay = "0 seconds")
    }
  }

  test("dedupStreamNearDup: same-signature near-dups collapse; distinct texts survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val nearDup = base + "extra"
    val distinct = "completely different content about entirely other topics " * 20
    // precondition: the near-dup pair must actually share a signature
    // (one extra token in 180 can't flip any 28-bit majority), the
    // distinct text must not
    val sigs = Seq(base, nearDup, distinct).toDF("text")
      .select(graft.dedup.Dedup.simhash(
        org.apache.spark.sql.functions.col("text"), 28))
      .collect().map(_.getInt(0))
    assert(sigs(0) === sigs(1) && sigs(0) != sigs(2),
      s"fixture assumption broken: ${sigs.mkString(",")}")
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = graft.streaming.Streaming.dedupStreamNearDup(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "1 hour")
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L, base))
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 10:01:00"), 2L, nearDup), // near-dup: dropped
        (ts("2024-01-01 10:02:00"), 3L, distinct)) // novel: kept
      q.processAllAvailable()
      val ids = spark.table("neardup_stream").collect().map(_.getLong(1)).sorted
      assert(ids.toSeq === Seq(1L, 3L), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("versionedAppendBatch: streams commit as versions; replayed batch skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Fixtures.tempDir("graft-stream-vt") + "/tbl"
    val sink = graft.streaming.Streaming.versionedAppendBatch(root, "t1")
    val input = MemoryStream[Int]
    val q = input.toDS().toDF("n").writeStream.foreachBatch(sink).start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4, 5)
      q.processAllAvailable()
      val vt = new graft.io.VersionedTable(spark, root)
      assert(vt.read().collect().map(_.getInt(0)).sorted.toSeq === (1 to 5))
      assert(vt.currentVersion === Some(1L), "one version per micro-batch")
      // at-least-once replay: re-invoking with an already-committed
      // batch id must NOT append again
      sink(Seq(4, 5).toDF("n"), 1L)
      assert(vt.read().count() === 5, "replayed batch must be skipped")
      assert(vt.currentVersion === Some(1L))
      // but the next batch id commits normally
      sink(Seq(6).toDF("n"), 2L)
      assert(vt.read().count() === 6)
      // a DIFFERENT appId restarts batch ids at 0 (fresh checkpoint)
      // without being mistaken for a replay of the old stream
      val sink2 = graft.streaming.Streaming.versionedAppendBatch(root, "t2")
      sink2(Seq(7).toDF("n"), 0L)
      assert(vt.read().count() === 7,
        "fresh-appId batch 0 must commit, not be dropped as a replay")
    } finally q.stop()
  }

  test("dedupStreamByContent: identical texts collapse across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = graft.streaming.Streaming.dedupStreamByContent(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "1 hour")
    val q = out.writeStream.format("memory").queryName("content_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "same text"),
        (ts("2024-01-01 10:01:00"), 2L, "same text"),
        (ts("2024-01-01 10:02:00"), 3L, "other text"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:03:00"), 4L, "same text"))
      q.processAllAvailable()
      val texts = spark.table("content_dedup").collect().map(_.getString(2))
      assert(texts.sorted.toSeq === Seq("other text", "same text"),
        s"got: ${texts.mkString("|")}")
    } finally q.stop()
  }

  test("startingTimestamp subscribes from an instant and resumes " +
    "across restarts; instants ahead of history wait for new commits") {
    import org.apache.spark.sql.SaveMode
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-vsrc-st")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0 snapshot
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v1
    vt.write(Seq((4L, "d")).toDF("id", "s"), SaveMode.Append) // v2
    val ts1 = vt.history(limit = Int.MaxValue)
      .find(_.version == 1L).get.timestamp
    def drain(tag: String, startTs: String): Seq[Long] = {
      val out = s"$base/out-$tag"
      val q = Streaming.versionedSource(spark, root,
          startingTimestamp = Some(startTs))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$base/ckpt-$tag")
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
    }
    // subscribe at t(v1): v1 and v2 arrive, the snapshot does NOT
    assert(drain("a", ts1) === Seq(3L, 4L))
    // restart from the same checkpoint: only the new commit arrives
    vt.write(Seq((5L, "e")).toDF("id", "s"), SaveMode.Append) // v3
    assert(drain("a", ts1) === Seq(3L, 4L, 5L),
      "resume-from-timestamp must not re-deliver")
    // an instant AHEAD of all history fails loudly (Delta's contract —
    // the only restart-stable resolution: the engine replays planned
    // batches from the offset log, so "wait for the next commit"
    // would resolve differently per restart and corrupt the range)
    val future = java.time.Instant
      .parse(vt.history(limit = 1).head.timestamp)
      .plusSeconds(3600).toString
    val err = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("b", future)
    }
    assert(err.getMessage.contains("after the newest commit") ||
      Option(err.getCause).exists(
        _.getMessage.contains("after the newest commit")))
    // the options are mutually exclusive
    intercept[IllegalArgumentException] {
      new org.apache.spark.sql.graftbridge.VersionedStreamSource(
        spark, root, ignoreChanges = false,
        startingVersion = Some(1L), startingTimestamp = Some(ts1))
    }
  }

  test("maxFilesPerBatch admits whole versions by cumulative file " +
    "count; an oversized single commit still makes progress") {
    import org.apache.spark.sql.SaveMode
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-vsrc-files")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "s").coalesce(1)) // v0: 1 file
    val out = s"$base/out"
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append)
    def ids() = spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val q = sink(Streaming.versionedSource(spark, root,
      maxFilesPerBatch = Some(3L))).start()
    try q.processAllAvailable() finally q.stop() // snapshot batch
    assert(ids() === Seq(1L))
    // fall behind: v1/v2 add 2 files each, v3 adds 4 (over the cap)
    vt.write(Seq((2L, "b"), (3L, "c")).toDF("id", "s").repartition(2),
      SaveMode.Append) // v1
    vt.write(Seq((4L, "d"), (5L, "e")).toDF("id", "s").repartition(2),
      SaveMode.Append) // v2
    vt.write(Seq((6L, "f"), (7L, "g"), (8L, "h"), (9L, "i"))
      .toDF("id", "s").repartition(4), SaveMode.Append) // v3
    val q2 = sink(Streaming.versionedSource(spark, root,
      maxFilesPerBatch = Some(3L))).start()
    try {
      q2.processAllAvailable()
      assert(ids() === (1L to 9L), "catch-up delivers exactly once")
      // v1 (2 files) alone fits; v1+v2 (4) would not -> batch 1 = v1;
      // batch 2 = v2; batch 3 = v3 alone (4 files > cap, but a single
      // commit must still be admitted or the stream stalls forever)
      val batches = q2.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3,
        s"2+2+4 files at cap 3 must take >= 3 micro-batches, got $batches")
    } finally q2.stop()
  }

  test("versionedApplyChangesBatch: SCD1 fold with stored sequences; " +
    "replays are no-ops; late older rows cannot clobber") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-sink")
    val root = s"$base/tbl"
    val sink = Streaming.versionedApplyChangesBatch(root, "t3",
      Seq("k"), "seq", "op")
    val vt = new VersionedTable(spark, root)
    def state(): Map[Long, (String, Long)] = vt.read().collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("v"), r.getAs[Long]("seq"))).toMap

    // batch 0: two upserts, out of order within the batch
    sink(Seq((1L, "x1", 2L, "upsert"), (1L, "x0", 1L, "upsert"),
      (2L, "y0", 1L, "upsert")).toDF("k", "v", "seq", "op"), 0L)
    assert(state() === Map(1L -> ("x1", 2L), 2L -> ("y0", 1L)))
    val vAfter0 = vt.currentVersion.get

    // replay of batch 0 (foreachBatch's at-least-once): a no-op
    sink(Seq((1L, "poison", 9L, "upsert")).toDF("k", "v", "seq", "op"), 0L)
    assert(vt.currentVersion.get === vAfter0, "replayed batch must skip")
    assert(state() === Map(1L -> ("x1", 2L), 2L -> ("y0", 1L)))

    // batch 1: a delete, a new key, and a LATE row older than k=1's
    // stored seq 2 — it must lose to the state, not clobber it
    sink(Seq((2L, "", 3L, "delete"), (3L, "z0", 3L, "upsert"),
      (1L, "late", 1L, "upsert")).toDF("k", "v", "seq", "op"), 1L)
    assert(state() === Map(1L -> ("x1", 2L), 3L -> ("z0", 3L)))
  }

  test("endingVersion bounds the stream: AvailableNow drains to the " +
    "bound and stops; a restart past more commits delivers nothing new") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = Fixtures.tempDir("graft-bounded")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "s")) // v0
    vt.write(Seq((2L, "b")).toDF("id", "s"), SaveMode.Append) // v1
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v2
    val out = s"$base/out"
    def drain(): Unit = {
      val q = Streaming.versionedSource(spark, root,
          endingVersion = Some(1L))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def ids() = spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    drain()
    assert(ids() === Seq(1L, 2L), "snapshot as of the BOUND, v2 excluded")
    vt.write(Seq((4L, "d")).toDF("id", "s"), SaveMode.Append) // v3
    drain() // restart: the bound still holds
    assert(ids() === Seq(1L, 2L), "nothing past the bound, ever")
  }

  test("endingTimestamp: the bounded change-feed stream equals " +
    "changesBetweenTimestamps over the same window") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = Fixtures.tempDir("graft-bounded-ts")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "s")) // v0
    vt.write(Seq((2L, "b")).toDF("id", "s"), SaveMode.Append) // v1
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v2
    val ts = vt.history(limit = Int.MaxValue)
      .map(h => h.version -> h.timestamp).toMap
    val out = s"$base/out"
    val q = Streaming.changeFeedSource(spark, root,
        startingVersion = Some(1L), endingTimestamp = Some(ts(1L)))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("id", "s", "_change_type").collect()
      .map(_.mkString("|")).sorted.toSeq
    val batch = (vt.changes _).tupled(vt.versionsBetween(ts(1L), ts(1L)))
      .select("id", "s", "_change_type").collect()
      .map(_.mkString("|")).sorted.toSeq
    assert(streamed === batch)
    assert(streamed === Seq("2|b|insert"))
  }

  test("bounded replay guards: ending/starting combinations") {
    import graft.streaming.Streaming
    import graft.io.VersionedTable
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = Fixtures.tempDir("graft-bounded-guards")
    val root = s"$base/tbl"
    new VersionedTable(spark, root).write(Seq((1L, "a")).toDF("id", "s"))
    def run(ev: Option[Long], et: Option[String],
        sv: Option[Long] = None): Unit = {
      val q = Streaming.versionedSource(spark, root, startingVersion = sv,
          endingVersion = ev, endingTimestamp = et)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt-${ev.getOrElse(et)}-$sv")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Some(2L), Some("2020-01-01T00:00:00Z")) // mutually exclusive
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Some(1L), None, sv = Some(2L)) // empty window
    }
  }

  test("versionedApplyChangesBatch: a narrow batch rewrites only the " +
    "files whose key range it may touch; the rest survive byte-identical") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-pruned")
    val root = s"$base/tbl"
    val sink = Streaming.versionedApplyChangesBatch(root, "t4",
      Seq("k"), "seq", "op")
    val vt = new VersionedTable(spark, root)
    // seed a key-clustered state table: 4 files with disjoint k ranges
    // (at spec scale AQE would coalesce the sink's own range shuffle
    // into one file — correct for tiny data, useless for this assert)
    vt.write((1L to 400L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "seq")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k")),
      org.apache.spark.sql.SaveMode.Overwrite)
    val before = vt.manifestEntries(vt.currentVersion.get)
    assert(before.size > 1, "seed must produce several files")
    // batch 0 touches only [10, 20]
    sink((10L to 20L).map(k => (k, s"u$k", 2L, "upsert"))
      .toDF("k", "v", "seq", "op"), 0L)
    val after = vt.manifestEntries(vt.currentVersion.get)
    val afterPaths = after.map(_.relPath).toSet
    val (touched, untouched) = before.partition(e =>
      e.stats.get("k").forall { case (mn, mx) => mx >= 10.0 && mn <= 20.0 })
    assert(untouched.nonEmpty, "some files must be provably outside [10,20]")
    untouched.foreach(e => assert(afterPaths.contains(e.relPath),
      s"${e.relPath} is outside the batch's key range and must be " +
        "re-referenced, not rewritten"))
    touched.foreach(e => assert(!afterPaths.contains(e.relPath),
      s"${e.relPath} overlaps the batch's key range and must be rewritten"))
    // and the fold is still exact
    val st = vt.read().collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(st.size === 400)
    assert(st(9L) === "v9" && st(10L) === "u10" && st(20L) === "u20" &&
      st(21L) === "v21")
  }

  test("versionedApplyChangesBatch: equal-sequence collisions resolve " +
    "deterministically (batch beats state; in-batch delete beats upsert)") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-ties")
    val root = s"$base/tbl"
    val sink = Streaming.versionedApplyChangesBatch(root, "t5",
      Seq("k"), "seq", "op")
    val vt = new VersionedTable(spark, root)
    def state(): Map[Long, String] = vt.read().collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    sink(Seq((1L, "x", 2L, "upsert"), (2L, "y", 2L, "upsert"))
      .toDF("k", "v", "seq", "op"), 0L)
    // k=1: batch row at the SAME seq as stored state — the batch wins
    // (a re-delivered change converges); k=2 untouched
    sink(Seq((1L, "tie", 2L, "upsert")).toDF("k", "v", "seq", "op"), 1L)
    assert(state() === Map(1L -> "tie", 2L -> "y"))
    // k=2: one batch carries BOTH a delete and an upsert at the same
    // seq — the delete wins (op asc), deterministically
    sink(Seq((2L, "z", 3L, "upsert"), (2L, "", 3L, "delete"))
      .toDF("k", "v", "seq", "op"), 2L)
    assert(state() === Map(1L -> "tie"))
  }

  test("versionedApplyChangesBatch: non-insert _change_type rows fail " +
    "loudly instead of folding as upserts") {
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-guard")
    val sink = Streaming.versionedApplyChangesBatch(s"$base/tbl", "t6",
      Seq("k"), "seq", "op")
    val bad = Seq((1L, "x", 1L, "upsert", "insert"),
      (2L, "y", 1L, "upsert", "delete"))
      .toDF("k", "v", "seq", "op", "_change_type")
    val e = intercept[IllegalArgumentException] { sink(bad, 0L) }
    assert(e.getMessage.contains("non-insert _change_type"))
  }

  test("ignoreDeletes: delete-only commits admit nothing, appends " +
    "stream, rewrite commits still fail loudly") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = Fixtures.tempDir("graft-ignoredel")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = Streaming.versionedSource(spark, root, ignoreDeletes = true)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("k").as[Long].collect().foreach(seen.add); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    vt.write((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")) // v0
    drain()
    assert(seen.size === 10)
    vt.deleteVectorized("k", 3, 5) // v1: DV-only delete commit
    vt.write(Seq((11L, "v11")).toDF("k", "v"),
      org.apache.spark.sql.SaveMode.Append) // v2: append
    drain() // the delete admits nothing, the append streams
    assert(seen.size === 11)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet === ((1L to 11L).toSet))
    // a REWRITE commit (remove + add) still fails loudly
    vt.updateBetween("k", 7, 7, Map("v" ->
      org.apache.spark.sql.functions.lit("x"))) // v3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getMessage.contains("rewrite commit") ||
      Option(e.getCause).exists(_.getMessage.contains("rewrite commit")))
  }

  test("skipChangeCommits: rewrite commits are invisible wholesale; " +
    "append commits stream") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = Fixtures.tempDir("graft-skipchange")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def drain(): Unit = {
      val q = Streaming.versionedSource(spark, root,
          skipChangeCommits = true)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("k", "v").as[(Long, String)].collect()
            .foreach(seen.add); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    vt.write((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")) // v0
    drain()
    // v1: a rewrite (UPDATE rewrites files) — must be invisible, its
    // ADDED files included; v2: a plain append — must stream
    vt.updateBetween("k", 2, 4, Map("v" ->
      org.apache.spark.sql.functions.lit("rewritten")))
    vt.write(Seq((11L, "v11")).toDF("k", "v"),
      org.apache.spark.sql.SaveMode.Append)
    drain()
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSeq
    assert(rows.size === 11)
    assert(!rows.exists(_._2 == "rewritten"),
      "the rewrite commit's added files must never stream")
    assert(rows.toMap.apply(11L) === "v11")
    // mutually exclusive with ignoreChanges (one policy at a time);
    // the guard fires at source construction = stream start
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val bad = Streaming.versionedSource(spark, root,
          ignoreChanges = true, skipChangeCommits = true)
        .writeStream.option("checkpointLocation", s"$base/ckpt-bad")
        .format("noop").trigger(Trigger.AvailableNow()).start()
      bad.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("supersedes")))
  }

  test("versionedApplyChangesBatch: STRING keys prune via string " +
    "stats — files outside the batch's key range are re-referenced") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-strprune")
    val root = s"$base/tbl"
    val sink = Streaming.versionedApplyChangesBatch(root, "t7",
      Seq("k"), "seq", "op")
    val vt = new VersionedTable(spark, root)
    // doc-id-keyed dimension state, range-clustered into several files
    vt.write((1 to 400).map(i => (f"doc$i%04d", s"v$i", 1L))
      .toDF("k", "v", "seq")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k")),
      org.apache.spark.sql.SaveMode.Overwrite)
    val before = vt.manifestEntries(vt.currentVersion.get)
    assert(before.size > 1, "seed must produce several files")
    assert(before.forall(_.strStats.contains("k")),
      "short-ASCII keys must carry string stats")
    // the batch touches only ["doc0010", "doc0020"]
    sink((10 to 20).map(i => (f"doc$i%04d", s"u$i", 2L, "upsert"))
      .toDF("k", "v", "seq", "op"), 0L)
    val after = vt.manifestEntries(vt.currentVersion.get)
    val afterPaths = after.map(_.relPath).toSet
    val (touched, untouched) = before.partition(e =>
      e.strStats.get("k").forall { case (mn, mx) =>
        mx >= "doc0010" && mn <= "doc0020" })
    assert(untouched.nonEmpty, "some files must be provably outside")
    untouched.foreach(e => assert(afterPaths.contains(e.relPath),
      s"${e.relPath} is outside the batch's string key range and must " +
        "be re-referenced, not rewritten"))
    touched.foreach(e => assert(!afterPaths.contains(e.relPath),
      s"${e.relPath} overlaps the batch's key range and must be rewritten"))
    val st = vt.read().collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    assert(st.size === 400)
    assert(st("doc0009") === "v9" && st("doc0010") === "u10" &&
      st("doc0020") === "u20" && st("doc0021") === "v21")
  }

  test("versionedApplyChangesBatchDv: fold ≡ rewrite sink; NO stored " +
    "file is ever rewritten — untouched keys' rows stay in place") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-dvfold")
    val rootA = s"$base/rewrite"
    val rootB = s"$base/dv"
    val sinkA = Streaming.versionedApplyChangesBatch(rootA, "ta",
      Seq("k"), "seq", "op")
    val sinkB = Streaming.versionedApplyChangesBatchDv(rootB, "tb",
      Seq("k"), "seq", "op")
    def feed(i: Long): org.apache.spark.sql.DataFrame = i match {
      case 0L => (1L to 400L).map(k => (k, s"v$k", 1L, "upsert"))
        .toDF("k", "v", "seq", "op")
      case 1L => ((10L to 20L).map(k => (k, s"u$k", 2L, "upsert")) ++
        Seq((100L, "", 2L, "delete"), (999L, "new", 2L, "upsert")))
        .toDF("k", "v", "seq", "op")
      case _ => Seq((15L, "late", 1L, "upsert")) // must LOSE to seq 2
        .toDF("k", "v", "seq", "op")
    }
    (0L to 2L).foreach { i => sinkA(feed(i), i); sinkB(feed(i), i) }
    val a = new VersionedTable(spark, rootA).read().collect()
      .map(_.toSeq).toSet
    val vtB = new VersionedTable(spark, rootB)
    val b = vtB.read().collect().map(_.toSeq).toSet
    assert(b === a, "DV fold must equal the rewrite fold row-for-row")
    // file contract: every file the seed batch wrote is STILL
    // referenced at HEAD (batches only masked + appended)
    val seedFiles = vtB.manifestEntries(0L).map(_.relPath).toSet
    val headFiles = vtB.manifestEntries(vtB.currentVersion.get)
    assert(seedFiles.subsetOf(headFiles.map(_.relPath).toSet),
      "the DV fold must never rewrite a stored file")
    // masks: batch 1 touched 11 updates + 1 delete = 12 stored rows;
    // batch 2's late row re-masked k=15 (already masked rows carry
    // over) — total masked rows = 12 + 1 new image of k=15
    assert(headFiles.map(_.dvRows).sum === 13L)
    // null-key batches fall back to the full fold, exactly once each
    sinkB(Seq((Option.empty[Long], "n", 3L, "upsert"))
      .toDF("k", "v", "seq", "op"), 3L)
    assert(vtB.read().filter(
      org.apache.spark.sql.functions.col("k").isNull).count() === 1L)
    assert(vtB.read().count() === 401L) // 400 +999 -100 deleted +null
  }

  test("versionedApplyChangesBatch: a batch with NULL keys falls back " +
    "to the full fold — the stored null-key row is never duplicated") {
    import graft.io.VersionedTable
    import graft.streaming.Streaming
    import spark.implicits._
    val base = Fixtures.tempDir("graft-cdc-nullkey")
    val root = s"$base/tbl"
    val sink = Streaming.versionedApplyChangesBatch(root, "t8",
      Seq("k"), "seq", "op")
    val vt = new VersionedTable(spark, root)
    // state: numeric-clustered files PLUS one null-key row — the null
    // row's file stats ignore NULLs, so a numeric envelope could
    // prove it absent while the batch's null row folds blind
    vt.write(((1 to 200).map(i => (Some(i.toLong), s"v$i", 1L)) :+
      ((Option.empty[Long], "vnull", 1L))).toDF("k", "v", "seq")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k")),
      org.apache.spark.sql.SaveMode.Overwrite)
    // batch mixes a narrow numeric key with a NULL key update
    sink(Seq((Some(10L), "u10", 2L, "upsert"),
      (Option.empty[Long], "unull", 2L, "upsert"))
      .toDF("k", "v", "seq", "op"), 0L)
    val nulls = vt.read()
      .filter(org.apache.spark.sql.functions.col("k").isNull).collect()
    assert(nulls.length === 1, "exactly one null-key row must survive")
    assert(nulls.head.getAs[String]("v") === "unull")
    assert(vt.read().count() === 201L)
    // and keys beyond 2^53 fold exactly too (full-fold fallback)
    val big = Long.MaxValue - 10
    sink(Seq((Some(big), "ubig", 3L, "upsert"))
      .toDF("k", "v", "seq", "op"), 1L)
    assert(vt.read().filter(
      org.apache.spark.sql.functions.col("k") === big).count() === 1L)
    assert(vt.read().count() === 202L)
  }

  test("dirBytes sizes a path through the session's Hadoop conf") {
    import graft.streaming.Streaming
    // the scheme is registered in this session's conf only: a probe
    // through a fresh Configuration cannot resolve it and reads -1
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fixedsize.impl", classOf[FixedSizeFs].getName)
    conf.setBoolean("fs.fixedsize.impl.disable.cache", true)
    try assert(Streaming.dirBytes(spark, "fixedsize:///feed") === 4242L)
    finally {
      conf.unset("fs.fixedsize.impl")
      conf.unset("fs.fixedsize.impl.disable.cache")
    }
  }

  test("adaptiveStatePartitions: unmeasurable source fails OPEN to the cap") {
    import graft.streaming.Streaming
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a bogus/non-local path must never size the drain at 1 state
    // partition — unknown size (-1) takes the session's parallelism
    val bogus = Streaming.dirBytes(spark, "/definitely/not/a/real/dir/xyzzy")
    assert(bogus === -1L, "unreadable path must report UNKNOWN, not 0")
    assert(Streaming.adaptiveStatePartitions(spark, bogus) === cap)
    // measurable sources still derive from bytes: tiny → 1
    val tiny = Fixtures.tempDir("graft-adapt")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tiny, "f.bin"), Array.fill(128)(1.toByte))
    assert(Streaming.dirBytes(spark, tiny) === 128L)
    assert(Streaming.adaptiveStatePartitions(spark, 128L) === 1)
    // and a 100 TB source saturates the cap
    assert(Streaming.adaptiveStatePartitions(spark, 100L << 40) === cap)
    // the explicit override wins over everything
    spark.conf.set("spark.graft.stream.statePartitions", "3")
    try assert(Streaming.adaptiveStatePartitions(spark, -1L) === 3)
    finally spark.conf.unset("spark.graft.stream.statePartitions")
  }

}

/** A file system only a session's Hadoop conf knows: every path is a
  * 4,242-byte file, nothing can be written. */
final class FixedSizeFs extends org.apache.hadoop.fs.FileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream,
    FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  private def readOnly = throw new UnsupportedOperationException("read-only")
  override def getUri: java.net.URI = java.net.URI.create("fixedsize:///")
  override def getFileStatus(p: Path): FileStatus =
    new FileStatus(4242L, false, 1, 4242L, 0L, p)
  override def listStatus(p: Path): Array[FileStatus] = Array(getFileStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream = readOnly
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = readOnly
  override def append(p: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = readOnly
  override def rename(src: Path, dst: Path): Boolean = readOnly
  override def delete(p: Path, recursive: Boolean): Boolean = readOnly
  override def mkdirs(p: Path, perm: FsPermission): Boolean = readOnly
  override def setWorkingDirectory(p: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("fixedsize:///")
}
