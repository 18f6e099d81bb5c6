package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Ohlcv
import graft.streaming.Streams

/** Streaming ≡ batch equivalence on the driver fixture: the T1 file
  * source + checkpoint, T4 key dedup, streaming windowed candles, and the
  * T5 stateful continuity operator (carry across micro-batches).
  */
class StreamingSpec extends AnyFunSuite {

  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Landing dir containing the fixture events parquet file(s). */
  private lazy val landing: String = {
    val dir = tmpDir("graft-landing")
    val src = Paths.get(s"$sfDir/events.parquet")
    if (Files.isDirectory(src)) {
      val it = Files.list(src).iterator()
      while (it.hasNext) {
        val f = it.next()
        if (f.toString.endsWith(".parquet"))
          Files.copy(f, Paths.get(dir, f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
      }
    } else Files.copy(src, Paths.get(dir, "events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("eventsStream on an empty landing dir fails fast unless the ts " +
      "type is pinned") {
    val empty = tmpDir("graft-landing-empty")
    val e = intercept[IllegalStateException](
      Streams.eventsStream(spark, empty))
    assert(e.getMessage.contains("cannot probe ts type"))
    val pinned = Streams.eventsStream(spark, empty,
      tsTypeIfEmpty = Some(org.apache.spark.sql.types.TimestampNTZType))
    assert(pinned.isStreaming)
    assert(pinned.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = pinned.writeStream
      .format("memory").queryName("empty_landing_out")
      .option("checkpointLocation", tmpDir("graft-ckpt-empty"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("empty_landing_out").count() == 0)
  }

  test("T4: streaming key dedup matches batch distinct") {
    val stream = Streams.dedupeKeys(
      Streams.eventsStream(spark, landing), Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    val q = stream.writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt-dedup"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup_out").as[(Long, String)].collect().toSet
    val want = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(got == want)
  }

  test("streaming windowed candles == batch candle build") {
    val stream = Streams.windowedCandles(
      Streams.eventsStream(spark, landing), Seq("event_type"), 3600L)
    val q = stream.writeStream
      .format("memory").queryName("candles_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("candles_out")
      .select("event_type", "bucket_ts", "open", "high", "low", "close",
        "volume", "trade_count")
      .collect().map(_.toSeq).toSet
    val want = Ohlcv.candles(Tables.events(spark, sfDir), Seq("event_type"),
      col("ts"), col("event_id"), col("value"), col("value"), 3600L)
      .select("event_type", "bucket_ts", "open", "high", "low", "close",
        "volume", "trade_count")
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming session windows == batch sessionization (>= gap rule)") {
    val stream = Streams.sessionized(
      Streams.eventsStream(spark, landing), 1800L, "1 hour")
    val q = stream.writeStream
      .format("memory").queryName("sess_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_out")
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    // batch reference with session_window's boundary rule: an event
    // exactly gap after its predecessor opens a NEW session (>= gap),
    // unlike w7's lag form (> gap) — the spec pins the exclusive end
    val gapUs = 1800L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts_us") - col("prev") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("seq", sum(col("new_sess")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("seq"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("T4 at scale: watermarked dedup matches batch distinct on fixture") {
    val stream = Streams.dedupeKeysWatermarked(
      Streams.eventsStream(spark, landing), "ts", "1 hour",
      Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    val q = stream.writeStream
      .format("memory").queryName("wm_dedup_out").outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt-wmdedup"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("wm_dedup_out").as[(Long, String)].collect().toSet
    val want = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(got == want)
  }

  test("RocksDB state store: watermarked dedup and cross-batch continuity " +
      "produce identical results on the disk-backed provider") {
    // The default HDFSBackedStateStoreProvider keeps each store's full
    // key map in executor memory — the genuine limiter for stateful
    // streaming at 100 TB (dedup state ~ one entry per key in the
    // watermark window). Spark ships a RocksDB provider (off-heap,
    // spills to local disk, bounded block cache); the engine's stateful
    // operators must be provider-agnostic, so both state shapes used by
    // the production chain — dropDuplicatesWithinWatermark's key store
    // and flatMapGroupsWithState's carry store — rerun here on RocksDB
    // with the same assertions as their in-memory twins.
    val prov = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(prov)
    spark.conf.set(prov, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val stream = Streams.dedupeKeysWatermarked(
        Streams.eventsStream(spark, landing), "ts", "1 hour",
        Seq("user_id", "event_type"))
        .select("user_id", "event_type")
      val q = stream.writeStream
        .format("memory").queryName("rocks_dedup_out").outputMode("append")
        .option("checkpointLocation", tmpDir("graft-ckpt-rocks"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("rocks_dedup_out")
        .as[(Long, String)].collect().toSet
      val want = Tables.events(spark, sfDir)
        .select("user_id", "event_type").distinct()
        .as[(Long, String)].collect().toSet
      assert(got == want)

      val in = tmpDir("graft-rocks-in")
      val ckpt = tmpDir("graft-rocks-ck")
      val outDir = tmpDir("graft-rocks-out")
      def writeBatch(name: String, rows: Seq[Streams.Tick]): Unit =
        rows.toDS().toDF().coalesce(1).write.mode("overwrite")
          .parquet(s"$in/$name")
      def runOnce(): Unit = {
        val ticks = spark.readStream
          .schema("key STRING, bucketTs BIGINT, ord BIGINT, price DOUBLE")
          .option("recursiveFileLookup", "true")
          .parquet(in).as[Streams.Tick]
        val q2 = Streams.candlesWithContinuity(ticks).toDF()
          .writeStream.format("parquet").option("path", outDir)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination()
      }
      writeBatch("b1", Seq(Streams.Tick("p1", 0L, 1L, 10.0),
        Streams.Tick("p1", 60L, 2L, 15.0)))
      runOnce()
      writeBatch("b2", Seq(Streams.Tick("p1", 120L, 3L, 18.0)))
      runOnce()
      val candles = spark.read.parquet(outDir)
        .select("bucket_ts", "open", "close")
        .as[(Long, Double, Double)].collect().sortBy(_._1)
      // cross-batch carry (120 opens at 60's close) survives the RocksDB
      // checkpoint round-trip exactly as on the in-memory provider
      assert(candles.toSeq == Seq((0L, 10.0, 10.0), (60L, 10.0, 15.0),
        (120L, 15.0, 18.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(prov, v)
        case None => spark.conf.unset(prov)
      }
    }
  }

  test("T2: two-phase sink lands dims before facts, every batch") {
    val dimPath = tmpDir("graft-t2-dim") + "/dims"
    val factPath = tmpDir("graft-t2-fact") + "/facts"
    val q = Streams.twoPhaseSink(
      Streams.eventsStream(spark, landing), "user_id",
      dimPath, factPath, tmpDir("graft-t2-ckpt"))
    q.awaitTermination()
    val dims = spark.read.parquet(dimPath).as[Long].collect().toSet
    val factKeys = spark.read.parquet(factPath)
      .select("user_id").as[Long].collect().toSet
    assert(factKeys.nonEmpty && factKeys.subsetOf(dims))
  }

  test("T7: fast-track stream triggers refresh for exactly the new keys") {
    val in = tmpDir("graft-t7-in")
    val ckpt = tmpDir("graft-t7-ckpt")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def land(name: String, ids: Seq[Long]): Unit =
      ids.toDF("pool_id").coalesce(1).write.mode("overwrite")
        .parquet(s"$in/$name")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("pool_id BIGINT")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streams.fastTrackSink(stream, "pool_id", ckpt)(seen += _)
      q.awaitTermination()
    }
    land("b1", Seq(7L, 9L, 7L))
    runOnce()
    land("b2", Seq(11L))
    runOnce()
    assert(seen.toSeq == Seq(Seq(7L, 9L), Seq(11L)))
  }

  test("streaming as-of enrichment == batch as-of join on the fixture") {
    val out = tmpDir("graft-asof-out")
    val ref = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id").as("r_user"), col("ts").as("r_ts"))
      .agg(max(col("value")).as("ref_value"))
    val facts = Streams.eventsStream(spark, landing)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val q = Streams.enrichAsOfSink(facts, ref,
      Seq("user_id"), Seq("r_user"), "ts", "r_ts",
      out, tmpDir("graft-ckpt-asof"))
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select($"event_id", $"ref_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val batchFacts = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val want = graft.plans.AsOf.joinBackward(batchFacts, ref,
        Seq("user_id"), Seq("r_user"), "ts", "r_ts")
      .select($"event_id", $"ref_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("stream-stream as-of == batch as-of when refs land before facts") {
    val in = tmpDir("graft-ss-in")
    val ckpt = tmpDir("graft-ss-ckpt")
    val outDir = tmpDir("graft-ss-out")
    def land(name: String, rows: Seq[(Long, Long, Boolean, Long, Double)]): Unit =
      rows.toDF("key", "t", "isLeft", "id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/$name")
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("key BIGINT, t BIGINT, isLeft BOOLEAN, id BIGINT, v DOUBLE")
        .option("recursiveFileLookup", "true").parquet(in)
      val facts = src.filter(col("isLeft")).select("key", "t", "id")
      val refs = src.filter(!col("isLeft")).select("key", "t", "v")
      val q = Streams.asOfStreamStream(facts, refs, retention = 1000L)
        .toDF().writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: the reference history for keys 1 and 2
    land("b1", Seq((1L, 10L, false, 0L, 1.0), (1L, 20L, false, 0L, 2.0),
      (2L, 15L, false, 0L, 9.0)))
    runOnce()
    // batch 2: facts probing before/at/after the refs + an unmatched key,
    // plus a ref update consumed by a same-batch fact (batch atomicity)
    land("b2", Seq((1L, 5L, true, 100L, 0.0), (1L, 20L, true, 101L, 0.0),
      (1L, 25L, true, 102L, 0.0), (2L, 14L, true, 103L, 0.0),
      (3L, 50L, true, 104L, 0.0),
      (1L, 24L, false, 0L, 3.0)))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("id", "ref").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    // batch twin over the same data
    val refs = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 15L, 9.0),
      (1L, 24L, 3.0)).toDF("rkey", "rt", "v")
    val facts = Seq((1L, 5L, 100L), (1L, 20L, 101L), (1L, 25L, 102L),
      (2L, 14L, 103L), (3L, 50L, 104L)).toDF("key", "t", "id")
    val want = graft.plans.AsOf.joinBackward(facts, refs,
        Seq("key"), Seq("rkey"), "t", "rt")
      .select("id", "v").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got == want && got.size == 5)
    // and explicitly: the late ref (t=24) reached only the t=25 fact
    assert(got.contains((102L, Some(3.0))) && got.contains((101L, Some(2.0))))
  }

  test("stream-stream as-of: late refs don't rewrite answered facts; state prunes but keeps prevailing") {
    val in = tmpDir("graft-ss2-in")
    val ckpt = tmpDir("graft-ss2-ckpt")
    val outDir = tmpDir("graft-ss2-out")
    def land(name: String, rows: Seq[(Long, Long, Boolean, Long, Double)]): Unit =
      rows.toDF("key", "t", "isLeft", "id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/$name")
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("key BIGINT, t BIGINT, isLeft BOOLEAN, id BIGINT, v DOUBLE")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streams.asOfStreamStream(
          src.filter(col("isLeft")).select("key", "t", "id"),
          src.filter(!col("isLeft")).select("key", "t", "v"),
          retention = 100L)
        .toDF().writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: one old ref + a fact answered with it
    land("b1", Seq((1L, 10L, false, 0L, 1.0), (1L, 500L, true, 200L, 0.0)))
    runOnce()
    // batch 2: a LATE ref at t=400 (before the already-answered fact) and
    // a much newer ref pushing the retention horizon past t=400; then a
    // fact at t=450 — answered by the late ref (forward-only absorb),
    // while fact 200's answer stays the batch-1 value
    land("b2", Seq((1L, 400L, false, 0L, 4.0), (1L, 2000L, false, 0L, 9.0),
      (1L, 450L, true, 201L, 0.0)))
    runOnce()
    // batch 3: a fact far in the future — the t=10 and t=400 entries are
    // outside retention (2000-100), but the newest pre-cutoff entry
    // survives pruning, so the prevailing value is 9.0, not null
    land("b3", Seq((1L, 3000L, true, 202L, 0.0)))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("id", "ref").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(got == Map(200L -> Some(1.0), 201L -> Some(4.0),
      202L -> Some(9.0)))
  }

  test("event-time stream-stream as-of absorbs LATE reference rows (watermark-gated)") {
    val in = tmpDir("graft-et-in")
    val ckpt = tmpDir("graft-et-ckpt")
    val outDir = tmpDir("graft-et-out")
    def land(name: String, rows: Seq[(Long, Long, Boolean, Long, Double)]): Unit =
      rows.toDF("key", "t", "isLeft", "id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/$name")
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("key BIGINT, t BIGINT, isLeft BOOLEAN, id BIGINT, v DOUBLE")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streams.asOfStreamStreamEventTime(
          src.filter(col("isLeft")).select("key", "t", "id"),
          src.filter(!col("isLeft")).select("key", "t", "v"),
          delay = "10 seconds")
        .toDF().writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def got(): Map[Long, Option[Double]] = {
      val dir = new java.io.File(outDir)
      if (!dir.exists ||
          !dir.listFiles.exists(_.getName.endsWith(".parquet")))
        Map.empty
      else spark.read.parquet(outDir).select("id", "ref").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
        .toMap
    }
    // batch 1: a fact at t=100 with NO reference yet — must NOT be
    // answered (watermark 0 < 100): held in state, not emitted as a miss.
    // Watermark after this batch: 100 - 10 = 90.
    land("b1", Seq((1L, 100L, true, 1L, 0.0)))
    runOnce()
    assert(!got().contains(1L), "fact answered before its watermark")
    // batch 2: the matching reference arrives AFTER the fact in
    // processing order but before it in event time (t=95 ∈ (90, 100] —
    // within the watermark delay, so it must not be dropped), plus
    // traffic at t=200 advancing the watermark to 190 for the next batch.
    // Processing-order semantics would have answered the fact with None.
    land("b2", Seq((1L, 95L, false, 0L, 5.0), (2L, 200L, false, 0L, 9.0)))
    runOnce()
    // batch 3: unrelated traffic; watermark 190 >= 100, so key 1's
    // pending fact flushes via its event-time timeout — answered with
    // the arrival-late reference, exactly as the batch as-of would.
    // Watermark after: 290.
    land("b3", Seq((2L, 300L, false, 0L, 9.5)))
    runOnce()
    assert(got().get(1L).contains(Some(5.0)),
      s"late ref not absorbed: ${got()}")
    // a new fact far past the reference's time: the pre-watermark history
    // was pruned to its newest entry, which still answers as prevailing
    land("b4", Seq((1L, 295L, true, 2L, 0.0), (2L, 400L, false, 0L, 9.9)))
    runOnce()
    land("b5", Seq((2L, 500L, false, 0L, 10.0)))
    runOnce()
    assert(got().get(2L).contains(Some(5.0)),
      s"pruned history lost the prevailing value: ${got()}")
  }

  test("T10: alert throttle fires at most once per window, across batches") {
    val in = tmpDir("graft-t10-in")
    val ckpt = tmpDir("graft-t10-ckpt")
    val outDir = tmpDir("graft-t10-out")
    def land(name: String, rows: Seq[Streams.AlertEvent]): Unit =
      rows.toDS().toDF().coalesce(1).write.mode("overwrite")
        .parquet(s"$in/$name")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("ruleId BIGINT, ts BIGINT")
        .option("recursiveFileLookup", "true").parquet(in)
        .as[Streams.AlertEvent]
      val q = Streams.throttleAlerts(stream, throttleSec = 300L).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: rule 1 fires at 0 and 100 (throttled) and 400 (allowed)
    land("b1", Seq(Streams.AlertEvent(1L, 0L), Streams.AlertEvent(1L, 100L),
      Streams.AlertEvent(1L, 400L), Streams.AlertEvent(2L, 50L)))
    runOnce()
    // batch 2: rule 1 at 500 (throttled vs 400, ACROSS batches) and 750
    land("b2", Seq(Streams.AlertEvent(1L, 500L), Streams.AlertEvent(1L, 750L)))
    runOnce()
    val got = spark.read.parquet(outDir).as[Streams.AlertEvent]
      .collect().map(e => (e.ruleId, e.ts)).toSet
    assert(got == Set((1L, 0L), (1L, 400L), (1L, 750L), (2L, 50L)))
  }

  test("T9: the forming bucket's bar UPDATES as later micro-batches land") {
    // the WS delta loop's in-engine half: a windowed candle aggregate in
    // complete mode re-emits the open bucket with refreshed OHLCV as new
    // trades arrive — batch 2 must revise batch 1's forming bar, not
    // append a duplicate
    val in = tmpDir("graft-t9-in")
    def land(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$in/$name")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    land("b1", Seq(
      (1L, ts(100L), 1L, "purchase", 10.0, "{}"),
      (2L, ts(200L), 1L, "purchase", 14.0, "{}")))
    val stream = Streams.windowedCandles(
      spark.readStream.option("recursiveFileLookup", "true")
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
          "event_type STRING, value DOUBLE, props STRING")
        .parquet(in),
      Seq("event_type"), 3600L)
    val q1 = stream.writeStream.format("memory").queryName("t9_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val bar1 = spark.table("t9_out")
      .select("bucket_ts", "open", "high", "close", "trade_count")
      .as[(Long, Double, Double, Double, Long)].collect()
    assert(bar1.toSeq == Seq((0L, 10.0, 14.0, 14.0, 2L)))
    // more trades land in the SAME (still-forming) bucket
    land("b2", Seq(
      (3L, ts(300L), 1L, "purchase", 9.0, "{}"),
      (4L, ts(400L), 1L, "purchase", 12.0, "{}")))
    val q2 = stream.writeStream.format("memory").queryName("t9_out2")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val bar2 = spark.table("t9_out2")
      .select("bucket_ts", "open", "high", "low", "close", "trade_count")
      .as[(Long, Double, Double, Double, Double, Long)].collect()
    // one row, same bucket, revised: low and close reflect the new ticks
    assert(bar2.toSeq == Seq((0L, 10.0, 14.0, 9.0, 12.0, 4L)))
  }

  test("streaming near-dup ingest: greedy online dedup matches the " +
      "scalar oracle across ticks; index rejects span micro-batches") {
    // corpus-ingest twin of d2: docs arrive over two ticks; a doc is
    // accepted unless it near-dups (true shingle Jaccard >= theta) an
    // already-accepted index doc or a lower-id mate of its own batch.
    // The oracle replays exactly that rule in plain Scala over the same
    // crafted corpus: exact dups, >theta near-dups, <theta edits, and a
    // cross-tick replay.
    val vocab = (1 to 40).map(i => s"w$i")
    def edit(base: Seq[String], at: Int, w: String): String =
      base.updated(at, w).mkString(" ")
    val baseA = vocab
    val baseB = vocab.reverse
    val docs = Seq(
      1L -> baseA.mkString(" "),
      2L -> edit(baseA, 19, "zz"), // 1-word edit: j ~ 0.85 -> mate-reject
      3L -> baseB.mkString(" "),
      4L -> baseA.mkString(" "), // exact dup of 1 -> mate-reject
      5L -> baseA.take(20).mkString(" "), // j ~ 0.45 vs 1 -> accept
      // tick 2
      6L -> baseA.mkString(" "), // replay of 1 -> INDEX-reject
      7L -> (1 to 40).map(i => s"q$i").mkString(" "), // unique -> accept
      8L -> edit((1 to 40).map(i => s"q$i"), 5, "yy"), // mate-reject vs 7
      9L -> edit(baseB, 0, "kk")) // near-dup of 3 -> index-reject
    val (t1, t2) = docs.partition(_._1 <= 5L)

    def shset(t: String): Set[String] = {
      val ws = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      if (ws.size < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    def near(a: String, b: String): Boolean = {
      val (sa, sb) = (shset(a), shset(b))
      val u = (sa ++ sb).size
      u > 0 && (sa & sb).size.toDouble / u >= 0.8
    }
    val byId = docs.toMap
    var oracle = Set.empty[Long]
    for (tick <- Seq(t1, t2)) {
      val prev = oracle
      oracle ++= tick.map(_._1).sorted.filter { id =>
        !prev.exists(p => near(byId(p), byId(id))) &&
        !tick.exists { case (m, mt) => m < id && near(mt, byId(id)) }
      }
    }
    // the crafted corpus must exercise all three outcomes
    assert(oracle == Set(1L, 3L, 5L, 7L))

    val land = tmpDir("graft-ndi-land")
    val index = tmpDir("graft-ndi-index") + "/idx"
    val outDir = tmpDir("graft-ndi-out") + "/accepted"
    val ckpt = tmpDir("graft-ndi-ckpt")
    def tick(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$land/$name")
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("recursiveFileLookup", "true").parquet(land)
      val q = Streams.neardupIngest(stream, index, outDir, ckpt)
      q.awaitTermination()
    }
    tick("t1", t1)
    tick("t2", t2)
    val got = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(got == oracle)
    // the index carries exactly the accepted docs' shingle sets
    assert(spark.read.parquet(s"$index/shingles")
      .select("doc_id").as[Long].collect().toSet == oracle)

    // checkpoint-identity guard: a FRESH checkpoint pointed at these
    // populated dirs would restart batch ids at 0 and silently overwrite
    // the run above's batch partitions — the _stream_id marker must turn
    // that into a loud failure before any write happens
    val before = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    val freshCkpt = tmpDir("graft-ndi-ckpt2")
    val stream2 = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("recursiveFileLookup", "true").parquet(land)
    val q2 = Streams.neardupIngest(stream2, index, outDir, freshCkpt)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    assert(ex.getMessage.contains("would overwrite"))
    // nothing was clobbered
    assert(spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet == before)

    // fail-CLOSED on unmarked dirs: batch partitions without a marker
    // (a pre-marker run, or the marker was deleted) must refuse, not
    // silently adopt-and-clobber
    for (d <- Seq(s"$index/shingles", s"$index/bands", outDir))
      new java.io.File(d, "_stream_id").delete()
    val stream3 = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("recursiveFileLookup", "true").parquet(land)
    val q3 = Streams.neardupIngest(stream3, index, outDir,
      tmpDir("graft-ndi-ckpt3"))
    val ex3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.awaitTermination()
    }
    assert(ex3.getMessage.contains("no _stream_id marker"))
    assert(spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet == before)

    // the refusal covers PLAIN content too, not just batch= partitions:
    // an unmarked dir of flat parquet files (a batch job's output) must
    // refuse — batch= dirs landing beside flat files would corrupt the
    // layout into mixed depths
    val plainOut = tmpDir("graft-ndi-plain") + "/accepted"
    Seq(99L).toDF("doc_id").write.parquet(plainOut)
    val q4 = Streams.neardupIngest(
      spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("recursiveFileLookup", "true").parquet(land),
      tmpDir("graft-ndi-idx4") + "/idx", plainOut,
      tmpDir("graft-ndi-ckpt4"))
    val ex4 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.awaitTermination()
    }
    assert(ex4.getMessage.contains("pre-existing content"))
    assert(spark.read.parquet(plainOut).count() == 1)
  }

  test("streaming ANN index maintenance: incrementally grown artifacts " +
      "serve identically to a from-scratch build") {
    // train on the initial corpus, stream the rest in two ticks through
    // annIndexMaintenance, then serve from the grown cells/codes — the
    // result must match both the batch artifact build over the full
    // corpus and the in-query composite (train rarely, encode
    // continuously, never rebuild)
    import graft.operators.Similarity
    val all = Tables.embeddings(spark, sfDir)
    val initial = all.filter(col("vec_id") < 300)
    val arriving = all.filter(col("vec_id") >= 300)
    val centroids = initial.filter(col("vec_id") % 50 === 0)
    val dir = tmpDir("graft-annm")
    centroids.write.parquet(s"$dir/centroids")
    val cb = Similarity.pqTrain(initial, m = 8, iters = 2)
    cb.write.parquet(s"$dir/codebook")
    Similarity.ivfCells(initial, centroids)
      .write.parquet(s"$dir/cells/batch=-1")
    Similarity.pqEncode(initial, cb).write.parquet(s"$dir/codes/batch=-1")

    val land = tmpDir("graft-annm-land")
    val ckpt = tmpDir("graft-annm-ckpt")
    def tick(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      rows.coalesce(1).write.parquet(s"$land/$name")
      val stream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
        .option("recursiveFileLookup", "true").parquet(land)
      val q = Streams.annIndexMaintenance(stream, s"$dir/centroids",
        s"$dir/codebook", s"$dir/cells", s"$dir/codes", ckpt)
      q.awaitTermination()
    }
    tick("t1", arriving.filter(col("vec_id") < 400))
    tick("t2", arriving.filter(col("vec_id") >= 400))

    // grown artifacts == batch build over the full corpus
    assert(spark.read.parquet(s"$dir/cells").select("vec_id", "cid")
      .as[(Long, Long)].collect().toSet ==
      Similarity.ivfCells(all, centroids).as[(Long, Long)].collect().toSet)
    assert(spark.read.parquet(s"$dir/codes")
      .select("vec_id", "sub", "code").as[(Long, Int, Long)]
      .collect().toSet ==
      Similarity.pqEncode(all, cb).as[(Long, Int, Long)].collect().toSet)
    // and the served search over the GROWN artifacts matches a
    // from-scratch batch build under the same training (the codebook and
    // centroids are train-time constants — that is the maintenance claim)
    val probes = all.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val served = rows(Similarity.ivfPqTopKFromCodes(probes, all, centroids,
      spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"), k = 5, nprobe = 8))
    val rebuilt = rows(Similarity.ivfPqTopKFromCodes(probes, all, centroids,
      Similarity.ivfCells(all, centroids), cb,
      Similarity.pqEncode(all, cb), k = 5, nprobe = 8))
    assert(served == rebuilt)
    // compaction invariance (stream drained): cells + codes slices fold
    // into one batch partition each without moving a served bit
    Streams.compactAnnArtifacts(spark, s"$dir/cells", s"$dir/codes")
    assert(rows(Similarity.ivfPqTopKFromCodes(probes, all, centroids,
      spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"), k = 5, nprobe = 8)) == served)
  }

  test("streaming SQ8 index maintenance: incrementally grown byte codes " +
      "serve identically to a from-scratch encode under the same bounds") {
    // train the per-dim bounds on the initial corpus, stream the rest in
    // two ticks through sq8IndexMaintenance, serve from the grown codes
    // — must match the batch encode of the full corpus under the SAME
    // frozen bounds (train rarely, encode continuously)
    import graft.operators.Similarity
    val all = Tables.embeddings(spark, sfDir)
    val initial = all.filter(col("vec_id") < 300)
    val arriving = all.filter(col("vec_id") >= 300)
    val dir = tmpDir("graft-sq8m")
    val stats = Similarity.sq8Stats(initial)
    stats.write.parquet(s"$dir/stats")
    Similarity.sq8Encode(initial, stats)
      .write.parquet(s"$dir/codes/batch=-1")

    val land = tmpDir("graft-sq8m-land")
    val ckpt = tmpDir("graft-sq8m-ckpt")
    def tick(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      rows.coalesce(1).write.parquet(s"$land/$name")
      Streams.sq8IndexMaintenance(
        spark.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .option("recursiveFileLookup", "true").parquet(land),
        s"$dir/stats", s"$dir/codes", ckpt).awaitTermination()
    }
    tick("t1", arriving.filter(col("vec_id") < 400))
    tick("t2", arriving.filter(col("vec_id") >= 400))

    val statsR = spark.read.parquet(s"$dir/stats")
    // grown codes == batch encode of the full corpus under frozen bounds
    // (vectors outside the trained range clamp — same bytes both paths)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), hex(col("codes")))
        .as[(Long, String)].collect().toSet
    assert(codeSet(spark.read.parquet(s"$dir/codes")) ==
      codeSet(Similarity.sq8Encode(all, statsR)))
    // served search over the grown artifact == from-scratch build
    val probes = all.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    assert(rows(Similarity.sq8TopKFromCodes(probes, statsR,
        spark.read.parquet(s"$dir/codes"), k = 5)) ==
      rows(Similarity.sq8TopKFromCodes(probes, statsR,
        Similarity.sq8Encode(all, statsR), k = 5)))
    // an empty tick (a landing file with zero rows) writes an empty
    // slice and leaves the served artifact unchanged
    tick("t3", arriving.filter(col("vec_id") >= 400).limit(0))
    assert(spark.read.parquet(s"$dir/codes").count() == all.count())
    // compaction invariance (stream drained): the slices fold into one
    // batch partition without moving a served bit
    val before = rows(Similarity.sq8TopKFromCodes(probes, statsR,
      spark.read.parquet(s"$dir/codes"), k = 5))
    Streams.compactSq8Codes(spark, s"$dir/codes")
    assert(rows(Similarity.sq8TopKFromCodes(probes, statsR,
      spark.read.parquet(s"$dir/codes"), k = 5)) == before)
    assert(spark.read.parquet(s"$dir/codes").count() == all.count())
  }

  test("streaming packed-PQ index maintenance: incrementally grown byte " +
      "cells serve identically to a from-scratch pack under the same " +
      "codebook") {
    // train the codebook on the initial corpus, stream the rest in two
    // ticks through pqPackedIndexMaintenance, serve from the grown
    // packed artifact — must match the one-shot encode+pack of the full
    // corpus under the SAME frozen codebook (packing is per-vector
    // deterministic, so batch slices compose exactly)
    import graft.operators.Similarity
    val all = Tables.embeddings(spark, sfDir)
    val initial = all.filter(col("vec_id") < 300)
    val arriving = all.filter(col("vec_id") >= 300)
    val dir = tmpDir("graft-pqm")
    val cb = Similarity.pqTrainSampled(initial, m = 4, iters = 2)
    cb.write.parquet(s"$dir/codebook")
    val cbR = spark.read.parquet(s"$dir/codebook")
    Similarity.pqPackCodes(Similarity.pqEncode(initial, cbR), cbR)
      .write.parquet(s"$dir/packed/batch=-1")

    val land = tmpDir("graft-pqm-land")
    val ckpt = tmpDir("graft-pqm-ckpt")
    def tick(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      rows.coalesce(1).write.parquet(s"$land/$name")
      Streams.pqPackedIndexMaintenance(
        spark.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .option("recursiveFileLookup", "true").parquet(land),
        s"$dir/codebook", s"$dir/packed", ckpt).awaitTermination()
    }
    tick("t1", arriving.filter(col("vec_id") < 400))
    tick("t2", arriving.filter(col("vec_id") >= 400))

    // grown packed cells == one-shot pack of the full corpus under the
    // frozen codebook, byte for byte
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), hex(col("pcodes")))
        .as[(Long, String)].collect().toSet
    val oneShot =
      Similarity.pqPackCodes(Similarity.pqEncode(all, cbR), cbR)
    assert(cellSet(spark.read.parquet(s"$dir/packed")) ==
      cellSet(oneShot))
    // served search over the grown artifact == from-scratch build
    val probes = all.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val served = rows(Similarity.pqTopKFromPackedCodes(probes, all, cbR,
      spark.read.parquet(s"$dir/packed"), k = 5))
    assert(served ==
      rows(Similarity.pqTopKFromPackedCodes(probes, all, cbR, oneShot,
        k = 5)))
    // compaction invariance (stream drained): slices fold into one
    // partition without moving a served bit
    Streams.compactPackedCodes(spark, s"$dir/packed")
    assert(rows(Similarity.pqTopKFromPackedCodes(probes, all, cbR,
      spark.read.parquet(s"$dir/packed"), k = 5)) == served)
    assert(spark.read.parquet(s"$dir/packed").count() == all.count())
  }

  test("streaming two-level cell maintenance: route-selected grown cells " +
      "match the one-shot auto assignment and serve through the SQ8 path") {
    // train the adaptive geometry on the initial corpus, persist its
    // three artifacts (centroids, coarse layer, parents), stream the
    // rest in two ticks through twoLevelIndexMaintenance — the stream
    // picks flat/two-hop FROM the persisted nlist (autoRouteCells, r15;
    // at this fixture nlist=18 < 256 so it routes flat, the measured
    // winner at small indexes), and the grown (vec_id, cid) cells must
    // equal the one-shot auto assignment of the full corpus against the
    // SAME artifacts (per-vector routing, no cross-vector state); the
    // geometry-agnostic SQ8 serve path must read the grown cells
    // unchanged
    import graft.operators.Similarity
    val all = Tables.embeddings(spark, sfDir)
    val initial = all.filter(col("vec_id") < 300)
    val arriving = all.filter(col("vec_id") >= 300)
    val dir = tmpDir("graft-tlm")
    val (cent, l1, parents) = Similarity.twoLevelGeom(initial)
    cent.write.parquet(s"$dir/centroids")
    l1.write.parquet(s"$dir/l1")
    parents.write.parquet(s"$dir/parents")
    Similarity.autoRouteCells(initial, cent, l1, parents)
      .write.parquet(s"$dir/cells/batch=-1")

    val land = tmpDir("graft-tlm-land")
    val ckpt = tmpDir("graft-tlm-ckpt")
    def tick(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      rows.coalesce(1).write.parquet(s"$land/$name")
      Streams.twoLevelIndexMaintenance(
        spark.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .option("recursiveFileLookup", "true").parquet(land),
        s"$dir/centroids", s"$dir/l1", s"$dir/parents",
        s"$dir/cells", ckpt).awaitTermination()
    }
    tick("t1", arriving.filter(col("vec_id") < 400))
    tick("t2", arriving.filter(col("vec_id") >= 400))

    // grown cells == one-shot two-hop assignment of the full corpus
    // against the same train-time artifacts
    val centR = spark.read.parquet(s"$dir/centroids")
    val l1R = spark.read.parquet(s"$dir/l1")
    val parR = spark.read.parquet(s"$dir/parents")
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid").as[(Long, Long)].collect().toSet
    assert(cellSet(spark.read.parquet(s"$dir/cells")) ==
      cellSet(Similarity.autoRouteCells(all, centR, l1R, parR)))
    // the route pin itself: below the crossover the auto path IS the
    // flat assignment; forcing the threshold to 1 makes it the two-hop
    // one — both sides byte-equal to their named routes
    assert(cellSet(Similarity.autoRouteCells(all, centR, l1R, parR)) ==
      cellSet(Similarity.ivfCells(all, centR)))
    assert(cellSet(Similarity.autoRouteCells(all, centR, l1R, parR,
        flatBelowNlist = 1L)) ==
      cellSet(Similarity.ivfCellsTwoLevel(all, centR, l1R, parR)))
    // the serve side never sees the geometry: ivfSq8TopKFromCodes over
    // the GROWN two-level cells == over the batch-assigned cells
    val stats = Similarity.sq8Stats(all)
    val codes = Similarity.sq8Encode(all, stats)
    val probes = all.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    assert(rows(Similarity.ivfSq8TopKFromCodes(probes, centR,
        spark.read.parquet(s"$dir/cells"), stats, codes,
        k = 5, nprobe = 8)) ==
      rows(Similarity.ivfSq8TopKFromCodes(probes, centR,
        Similarity.autoRouteCells(all, centR, l1R, parR), stats, codes,
        k = 5, nprobe = 8)))
    // an empty tick (a landing file with zero rows) writes an empty
    // slice and leaves the grown cells unchanged
    tick("t3", arriving.filter(col("vec_id") >= 400).limit(0))
    assert(spark.read.parquet(s"$dir/cells").count() == all.count())
    // compaction invariance: the cells slices fold into one partition
    // without moving an assignment
    val before = cellSet(spark.read.parquet(s"$dir/cells"))
    Streams.compactAnnCells(spark, s"$dir/cells")
    assert(cellSet(spark.read.parquet(s"$dir/cells")) == before)
  }

  test("T5: stateful continuity carries close across micro-batches") {
    // two landing dirs processed as two micro-batches of one stream:
    // batch 2's first candle must open at batch 1's last close (the
    // reference's lastCloseByPool map, persisted in the checkpoint)
    val in = tmpDir("graft-t5-in")
    val ckpt = tmpDir("graft-t5-ckpt")
    val outDir = tmpDir("graft-t5-out")
    def writeBatch(name: String, rows: Seq[Streams.Tick]): Unit =
      rows.toDS().toDF().coalesce(1).write.mode("overwrite")
        .parquet(s"$in/$name")

    // land files sequentially and run AvailableNow twice against the SAME
    // checkpoint — run 2 resumes from run 1's committed state (memory
    // sink can't recover a checkpoint; the parquet sink can)
    writeBatch("b1", Seq(
      Streams.Tick("p1", 0L, 1L, 10.0), Streams.Tick("p1", 0L, 2L, 12.0),
      Streams.Tick("p1", 60L, 3L, 15.0)))
    def runOnce(): Unit = {
      val ticks = spark.readStream
        .schema("key STRING, bucketTs BIGINT, ord BIGINT, price DOUBLE")
        .option("recursiveFileLookup", "true")
        .parquet(in).as[Streams.Tick]
      val q = Streams.candlesWithContinuity(ticks).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    writeBatch("b2", Seq(
      Streams.Tick("p1", 120L, 4L, 20.0), Streams.Tick("p1", 120L, 5L, 18.0)))
    runOnce()
    val candles = spark.read.parquet(outDir)
      .select("key", "bucket_ts", "open", "close")
      .as[(String, Long, Double, Double)].collect().sortBy(_._2)
    assert(candles.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 10.0, 12.0),   // first candle keeps its own open
        (60L, 12.0, 15.0),    // intra-batch carry
        (120L, 15.0, 18.0)))  // cross-batch carry via checkpointed state
  }

  test("end-to-end chain: landing → watermarked dedup → continuity " +
      "candles → rollup refresh → alert fire → throttle; batch ≡ stream " +
      "on the final alert set") {
    // the full production deploy composed from the individually-proven
    // stages, run over three ingest ticks with in-batch AND cross-batch
    // replays. Rule 1: key A's latest rollup close > 100, throttle 600 s.
    val rawLand = tmpDir("graft-chain-raw")
    val cleanDir = tmpDir("graft-chain-clean") + "/t"
    val candleDir = tmpDir("graft-chain-candles") + "/t"
    val rollupDir = tmpDir("graft-chain-rollup") + "/t"
    val firedLand = tmpDir("graft-chain-fired")
    val alertsDir = tmpDir("graft-chain-alerts") + "/t"
    val ck1 = tmpDir("graft-chain-ck1")
    val ck2 = tmpDir("graft-chain-ck2")
    val ck3 = tmpDir("graft-chain-ck3")
    // event times sit well past epoch 0: a row whose event time equals
    // the INITIAL watermark (0) is filtered as late by
    // dropDuplicatesWithinWatermark before any state is consulted
    val b1 = Seq((1L, 3600L, "A", 100.0), (2L, 3660L, "A", 110.0),
      (3L, 3720L, "A", 120.0), (2L, 3660L, "A", 110.0), // in-batch dup
      (4L, 3600L, "B", 5.0))
    val b2 = Seq((2L, 3660L, "A", 110.0), (3L, 3720L, "A", 120.0), // replays
      (5L, 3900L, "A", 130.0), (6L, 3900L, "B", 6.0))
    val b3 = Seq((7L, 4500L, "A", 140.0), (5L, 3900L, "A", 130.0)) // replay
    val rules = Seq((1L, "A", 100.0), (2L, "B", 1000.0))
      .toDF("rule_id", "key", "threshold")
    def tick(name: String, rows: Seq[(Long, Long, String, Double)]): Unit = {
      rows.toDF("event_id", "sec", "key", "price")
        .write.parquet(s"$rawLand/$name")
      // stage 1: dedup-on-write into the clean zone (T4, watermarked —
      // replay state is bounded AND carried across micro-batches)
      val raw = spark.readStream
        .schema("event_id BIGINT, sec BIGINT, key STRING, price DOUBLE")
        .option("recursiveFileLookup", "true").parquet(rawLand)
        .withColumn("ts", timestamp_seconds(col("sec")))
      val q1 = Streams.dedupeKeysWatermarked(raw, "ts", "1 hour",
          Seq("event_id"))
        .drop("ts")
        .writeStream.format("parquet").option("path", cleanDir)
        .outputMode("append").option("checkpointLocation", ck1)
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      // stage 2: continuity candles over the clean zone (T5 state)
      val clean = spark.readStream
        .schema("event_id BIGINT, sec BIGINT, key STRING, price DOUBLE")
        .parquet(cleanDir)
        .select(col("key"), (col("sec") - col("sec") % 60).as("bucketTs"),
          col("event_id").as("ord"), col("price"))
        .as[Streams.Tick]
      val q2 = Streams.candlesWithContinuity(clean).toDF()
        .writeStream.format("parquet").option("path", candleDir)
        .outputMode("append").option("checkpointLocation", ck2)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      // stage 3: rollup refresh — the 60 s matrix job shape: latest state
      // per key recomputed from the candle table, snapshot-overwritten
      val rollup = spark.read.parquet(candleDir)
        .groupBy(col("key"))
        .agg(max_by(col("close"), col("bucket_ts")).as("last_close"),
          max(col("bucket_ts")).as("last_ts"))
      rollup.write.mode("overwrite").parquet(rollupDir)
      // stage 4: alert evaluation over the rollup (t10 shape) → fired
      // events land for the throttle stage
      spark.read.parquet(rollupDir).join(rules, Seq("key"))
        .filter(col("last_close") > col("threshold"))
        .select(col("rule_id").as("ruleId"), col("last_ts").as("ts"))
        .write.parquet(s"$firedLand/$name")
      // stage 5: throttled alert emission (T10 scheduler state)
      val fired = spark.readStream.schema("ruleId BIGINT, ts BIGINT")
        .option("recursiveFileLookup", "true").parquet(firedLand)
        .as[Streams.AlertEvent]
      val q3 = Streams.throttleAlerts(fired, throttleSec = 600L).toDF()
        .writeStream.format("parquet").option("path", alertsDir)
        .outputMode("append").option("checkpointLocation", ck3)
        .trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination()
    }
    tick("b1", b1); tick("b2", b2); tick("b3", b3)
    // replays never reached the clean zone (7 distinct events landed)
    assert(spark.read.parquet(cleanDir).count() == 7)
    assert(spark.read.parquet(cleanDir).select("event_id")
      .distinct().count() == 7)
    // continuity held ACROSS ticks: A's bucket-300 candle (tick 2) opens
    // at tick 1's last close, bucket 900 (tick 3) at tick 2's
    val aOpens = spark.read.parquet(candleDir)
      .filter(col("key") === "A").select("bucket_ts", "open")
      .as[(Long, Double)].collect().toMap
    assert(aOpens(3900L) == 120.0 && aOpens(4500L) == 130.0)
    val streamed = spark.read.parquet(alertsDir)
      .as[Streams.AlertEvent].collect().map(e => (e.ruleId, e.ts)).toSet
    // batch twin: replay the three tick evaluations with the BATCH
    // operators (distinct → Ohlcv.candles → rollup → rule eval), then
    // fold the throttle over the fired sequence
    val prefixes = Seq(b1, b1 ++ b2, b1 ++ b2 ++ b3)
    val firedSeq = prefixes.flatMap { rows =>
      val ev = rows.distinct.toDF("event_id", "sec", "key", "price")
        .withColumn("ts", timestamp_seconds(col("sec")))
      Ohlcv.candles(ev, Seq("key"), col("ts"), col("event_id"),
          col("price"), col("price"), 60L)
        .groupBy(col("key"))
        .agg(max_by(col("close"), col("bucket_ts")).as("last_close"),
          max(col("bucket_ts")).as("last_ts"))
        .join(rules, Seq("key"))
        .filter(col("last_close") > col("threshold"))
        .select(col("rule_id"), col("last_ts"))
        .as[(Long, Long)].collect().sorted.toSeq
    }
    val lastEmit = scala.collection.mutable.Map.empty[Long, Long]
    val batchAlerts = firedSeq.filter { case (rule, ts) =>
      val ok = lastEmit.get(rule).forall(l => ts - l >= 600L)
      if (ok) lastEmit(rule) = ts
      ok
    }.toSet
    // tick 1 fires at 3720; tick 2's fire at 3900 is inside the 600 s
    // throttle (Δ180); tick 3's at 4500 clears it (Δ780)
    assert(batchAlerts == Set((1L, 3720L), (1L, 4500L)))
    assert(streamed == batchAlerts)
  }

  test("event-time end-to-end chain: watermarked dedup → event-time " +
      "stream-stream as-of → alert eval; batch ≡ stream on the final " +
      "alert set; beyond-delay straggler dropped per contract") {
    // the event-time variant of the chain above (r9 verdict #7): stage 1
    // dedups replays with a LONG (1 h) watermark delay, stage 2 is the
    // watermark-gated as-of with a SHORT (300 s) delay — so the injected
    // straggler (id 9, 400 s behind the as-of watermark at arrival)
    // SURVIVES dedup into the clean zone but is dropped by the as-of
    // stage's standard late-data filter, exactly the documented contract
    // boundary of asOfStreamStreamEventTime.
    val factsLand = tmpDir("graft-etc-facts")
    val refsLand = tmpDir("graft-etc-refs")
    val cleanDir = tmpDir("graft-etc-clean") + "/t"
    val matchDir = tmpDir("graft-etc-match") + "/t"
    val ck1 = tmpDir("graft-etc-ck1")
    val ck2 = tmpDir("graft-etc-ck2")
    def tick(name: String, facts: Seq[(Long, Long, Long)],
             refs: Seq[(Long, Long, Double)]): Unit = {
      if (facts.nonEmpty)
        facts.toDF("key", "t", "id").coalesce(1)
          .write.parquet(s"$factsLand/$name")
      if (refs.nonEmpty)
        refs.toDF("key", "t", "v").coalesce(1)
          .write.parquet(s"$refsLand/$name")
      // stage 1: watermarked dedup into the clean zone (replays and
      // in-batch dups absorbed; 1 h delay keeps the straggler eligible)
      val raw = spark.readStream
        .schema("key BIGINT, t BIGINT, id BIGINT")
        .option("recursiveFileLookup", "true").parquet(factsLand)
        .withColumn("ts", timestamp_seconds(col("t")))
      val q1 = Streams.dedupeKeysWatermarked(raw, "ts", "1 hour", Seq("id"))
        .drop("ts")
        .writeStream.format("parquet").option("path", cleanDir)
        .outputMode("append").option("checkpointLocation", ck1)
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      // stage 2: event-time as-of over clean facts × refs (300 s delay)
      val cleanFacts = spark.readStream
        .schema("key BIGINT, t BIGINT, id BIGINT").parquet(cleanDir)
      val refStream = spark.readStream
        .schema("key BIGINT, t BIGINT, v DOUBLE")
        .option("recursiveFileLookup", "true").parquet(refsLand)
      val q2 = Streams.asOfStreamStreamEventTime(
          cleanFacts, refStream, delay = "300 seconds")
        .toDF().writeStream.format("parquet").option("path", matchDir)
        .outputMode("append").option("checkpointLocation", ck2)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
    }
    // watermark (delay 300 s) advances tick-over-tick; each tick flushes
    // the pending facts its START-of-batch watermark has passed
    tick("b1", Seq((1L, 1000L, 1L), (1L, 1300L, 2L), (1L, 1300L, 2L)),
      Seq((1L, 900L, 10.0), (1L, 1200L, 20.0)))          // wm 0 → 1000
    tick("b2", Seq((1L, 1600L, 3L), (1L, 1300L, 2L),     // replay of id 2
        (1L, 600L, 9L)),                                 // straggler: 600 < wm 1000
      Seq((1L, 1500L, 30.0)))                            // wm 1000 → 1300; id 1 flushed
    tick("b3", Seq((1L, 2000L, 4L)), Seq((1L, 1900L, 40.0))) // wm 1300→1700; id 2 flushed
    tick("b4", Seq.empty, Seq((1L, 2400L, 50.0)))        // wm 1700→2100; id 3 flushed
    tick("b5", Seq.empty, Seq((1L, 2700L, 60.0)))        // wm 2100→2400; id 4 flushed
    // dedup held: replays collapsed, straggler PRESENT in the clean zone
    // (it is not late for the 1 h dedup delay)
    val clean = spark.read.parquet(cleanDir).select("id")
      .as[Long].collect().toSeq
    assert(clean.sorted == Seq(1L, 2L, 3L, 4L, 9L))
    // batch twin: distinct facts, minus the contract-dropped straggler,
    // each matched to the prevailing ref at its event time in plain Scala
    val refs = Seq((900L, 10.0), (1200L, 20.0), (1500L, 30.0),
      (1900L, 40.0), (2400L, 50.0), (2700L, 60.0))
    val eligible = Seq((1000L, 1L), (1300L, 2L), (1600L, 3L), (2000L, 4L))
    val batchMatches = eligible.map { case (t, id) =>
      id -> refs.filter(_._1 <= t).lastOption.map(_._2)
    }.toMap
    val streamMatches = spark.read.parquet(matchDir)
      .select("id", "ref").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    assert(streamMatches == batchMatches,
      s"stream $streamMatches != batch $batchMatches")
    // the straggler was dropped by the as-of stage, not answered-with-miss
    assert(!streamMatches.contains(9L))
    // alert eval (rule: enriched value >= 20) — batch ≡ stream on the
    // final alert set
    val streamAlerts = spark.read.parquet(matchDir)
      .filter(col("ref") >= 20.0).select("id").as[Long].collect().toSet
    val batchAlerts = batchMatches.collect {
      case (id, Some(v)) if v >= 20.0 => id
    }.toSet
    assert(batchAlerts == Set(2L, 3L, 4L))
    assert(streamAlerts == batchAlerts)
  }

  test("streaming CDC ingest: shift-robust chunk dedup across and " +
      "within micro-batches") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen green bottles stand quietly on the ancient stone wall " +
      "near the harbour and the fishermen mend their long woven nets " +
      "under a pale morning sky as gulls wheel slowly above the cold " +
      "grey water waiting for the boats to return with the morning catch"
    val other = "completely different content about distributed query " +
      "engines partitioning shuffles and columnar storage formats with " +
      "vectorized execution kernels and adaptive runtime replanning " +
      "across many executors reading compressed immutable row groups " +
      "while the optimizer prunes partitions and pushes predicates down"
    val third = "a third unrelated passage concerning alpine meadows " +
      "where marmots whistle between granite boulders and slow glaciers " +
      "carve wide valleys beneath ridgelines traversed by climbers who " +
      "started before dawn carrying rope and tea in battered steel flasks"
    // sanity: the prefix-INSERTED copy re-synchronizes onto base's
    // boundaries (the CDC property fixed windows lack) — they must share
    // enough chunks to reject
    val shifted = "xyzzy plugh " + base
    val pairSanity = Dedup.cdcNearDup(
      Seq((1L, base), (3L, shifted)).toDF("doc_id", "text"),
      minShared = 3, maxDocsPerChunk = None).collect()
    assert(pairSanity.length == 1,
      s"insertion did not re-sync: ${pairSanity.toSeq}")

    val land = tmpDir("graft-cdci-land")
    val index = tmpDir("graft-cdci-idx") + "/idx"
    val outDir = tmpDir("graft-cdci-out") + "/accepted"
    val ckpt = tmpDir("graft-cdci-ckpt")
    def tick(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$land/$name")
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("recursiveFileLookup", "true").parquet(land)
      Streams.cdcIngest(stream, index, outDir, ckpt).awaitTermination()
    }
    // tick 1: 1 accepted; 2 (exact copy) and 3 (prefix-inserted copy)
    // rejected against batch-mate 1; 5 (unrelated) accepted
    tick("t1", Seq((1L, base), (2L, base), (3L, shifted), (5L, other)))
    // tick 2: 7 (copy of base) rejected against the INDEX from tick 1;
    // 8 (copy of other) likewise; 9 (unrelated) accepted
    tick("t2", Seq((7L, base), (8L, other), (9L, third)))
    val got = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 5L, 9L))
    // the chunk index holds exactly the accepted docs' chunks
    assert(spark.read.parquet(s"$index/chunks")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 9L))
  }

  test("streamed BPE word-count slices retrain the merge table " +
      "bit-identically to batch training") {
    import graft.operators.Tokenize
    val docs = Tables.documents(spark, sfDir)
    val land = tmpDir("graft-bpe-land")
    val idx = tmpDir("graft-bpe-idx") + "/bpe"
    val ckpt = tmpDir("graft-bpe-ckpt")
    val docsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docsSchema)
        .option("recursiveFileLookup", "true").parquet(land)
      Streams.bpeVocabMaintenance(stream, idx, ckpt).awaitTermination()
    }
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.parquet(s"$land/t1")
    runOnce()
    docs.filter(col("doc_id") % 3 =!= 0).coalesce(1)
      .write.parquet(s"$land/t2")
    runOnce()
    val served = Tokenize.serveMerges(spark, idx, 4).orderBy(col("step"))
      .collect().toSeq
    val direct = SparkEntry.queries("t27_bpe_merges")(spark, sfDir)
      .orderBy(col("step")).collect().toSeq
    assert(served == direct)
    // retry idempotence: no new files → no batch → unchanged merges
    runOnce()
    assert(Tokenize.serveMerges(spark, idx, 4).orderBy(col("step"))
      .collect().toSeq == served)
  }

  test("streamed DSIR model slices serve bit-identically to the " +
      "batch t29 weights") {
    import graft.operators.Selection
    val docs = Tables.documents(spark, sfDir)
    val land = tmpDir("graft-dsir-land")
    val idx = tmpDir("graft-dsir-idx") + "/dsir"
    val ckpt = tmpDir("graft-dsir-ckpt")
    val docsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"
    val bucket = Selection.md5Bucket(1024)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docsSchema)
        .option("recursiveFileLookup", "true").parquet(land)
      Streams.dsirMaintenance(stream, col("lang") === "en", bucket,
        idx, ckpt).awaitTermination()
    }
    // two ticks with an uneven split (the en/other mix differs per
    // batch, so folded counts must equal the corpus counts, not any
    // single batch's)
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.parquet(s"$land/t1")
    runOnce()
    docs.filter(col("doc_id") % 3 =!= 0).coalesce(1)
      .write.parquet(s"$land/t2")
    runOnce()
    val served = Selection.serve(docs, bucket, idx)
      .orderBy(col("doc_id")).collect().toSeq
    val direct = SparkEntry.queries("t29_dsir_weights")(spark, sfDir)
      .orderBy(col("doc_id")).collect().toSeq
    assert(served == direct) // doubles included — integer model fold
    // exactly-once under a checkpoint retry: no new files → no batch
    runOnce()
    assert(Selection.serve(docs, bucket, idx)
      .orderBy(col("doc_id")).collect().toSeq == served)
    // the standing-selection serving shape: NEW docs score against the
    // accumulated model without re-ingesting them — same weights the
    // batch model assigns (the new docs are not part of the counts)
    val novel = Seq((900001L, "new document scored against the model"))
      .toDF("doc_id", "text")
    val scored = Selection.serve(novel, bucket, idx).collect()
    assert(scored.length == 1 && scored(0).getLong(1) > 0)
  }

  test("streamed dataset-card slices serve bit-identically to the " +
      "batch t24 report") {
    import graft.operators.CorpusCard
    val docs = Tables.documents(spark, sfDir)
    val land = tmpDir("graft-card-land")
    val idx = tmpDir("graft-card-idx") + "/card"
    val ckpt = tmpDir("graft-card-ckpt")
    val docsSchema = "doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docsSchema)
        .option("recursiveFileLookup", "true").parquet(land)
      Streams.cardMaintenance(stream, idx, ckpt).awaitTermination()
    }
    // two ticks against the same checkpoint → two batch=<id> slices;
    // the fixture's duplicate texts land in BOTH ticks, so corpus-wide
    // dup exposure must fold across slice boundaries, not within one
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$land/t1")
    runOnce()
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$land/t2")
    runOnce()
    val served = CorpusCard.serve(spark, idx)
      .orderBy(col("source"), col("lang")).collect().toSeq
    val direct = SparkEntry.queries("t24_dataset_card")(spark, sfDir)
      .orderBy(col("source"), col("lang")).collect().toSeq
    // bit-identical, doubles included: integer-unit quality sums and
    // the histogram median reproduce the batch card's exact doubles
    assert(served == direct)
    // exactly-once under a checkpoint retry: re-running the SAME
    // landing content against the same checkpoint replays nothing
    // (AvailableNow with no new files → no batch), and the served card
    // is unchanged
    runOnce()
    val again = CorpusCard.serve(spark, idx)
      .orderBy(col("source"), col("lang")).collect().toSeq
    assert(again == served)

    // compaction invariance: fold the accumulated slices into one
    // partition per artifact (stream stopped — AvailableNow drained);
    // the served card must not move by a bit
    CorpusCard.compactSlices(spark, idx)
    val compacted = CorpusCard.serve(spark, idx)
      .orderBy(col("source"), col("lang")).collect().toSeq
    assert(compacted == served)
    for (sub <- Seq("counters", "hist", "fp")) {
      val dirs = new java.io.File(s"$idx/$sub")
        .listFiles().filter(_.getName.startsWith("batch="))
      assert(dirs.length == 1, s"$sub not folded: ${dirs.toSeq}")
    }
    // the stream keeps appending ABOVE the folded partition: a third
    // tick with NEW docs lands a fresh batch id (same checkpoint), and
    // the served card equals the batch card over the widened corpus
    val extra = Seq((100001L, "entirely new appended document text",
        "en", "extra", 37L),
      (100002L, "another appended document", "de", "extra", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    extra.coalesce(1).write.parquet(s"$land/t3")
    runOnce()
    val widened = CorpusCard.serve(spark, idx)
      .orderBy(col("source"), col("lang")).collect().toSeq
    val widenedDirect = CorpusCard.card(
        CorpusCard.signals(docs.unionByName(extra)))
      .orderBy(col("source"), col("lang")).collect().toSeq
    assert(widened == widenedDirect)
  }

  test("streamed Misra–Gries slices + exact recount reproduce the batch " +
      "a23 heavy hitters under uneven batching and compaction") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
    val land = tmpDir("graft-hh-land")
    val idx = tmpDir("graft-hh-idx") + "/hh"
    val ckpt = tmpDir("graft-hh-ckpt")
    val k = 128
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("event_type STRING, user_id BIGINT")
        .option("recursiveFileLookup", "true").parquet(land)
      Streams.heavyHittersMaintenance(stream, "event_type", "user_id",
        k, idx, ckpt).awaitTermination()
    }
    // three deliberately uneven ticks: per-batch item counts differ, so
    // the folded union exercises the pigeonhole, not a single sketch
    ev.filter(col("user_id") % 5 < 2).coalesce(1).write.parquet(s"$land/t1")
    runOnce()
    ev.filter(col("user_id") % 5 === 2).coalesce(1).write.parquet(s"$land/t2")
    runOnce()
    ev.filter(col("user_id") % 5 > 2).coalesce(1).write.parquet(s"$land/t3")
    runOnce()
    def recounted(): Seq[String] = {
      val cand = Streams.serveHeavyHitters(spark, idx)
        .withColumnRenamed("grp", "event_type")
        .withColumnRenamed("item", "user_id")
      ev.join(broadcast(cand.select("event_type", "user_id")),
          Seq("event_type", "user_id"), "left_semi")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(cand.select(col("event_type"), col("user_id"),
          col("n").as("n_type"))), Seq("event_type", "user_id"))
        .filter(col("cnt") * 100L > col("n_type"))
        .select(col("event_type"), col("user_id"), col("cnt"),
          col("n_type"))
        .collect().map(_.toString).sorted.toSeq
    }
    val served = recounted()
    val direct = SparkEntry.queries("a23_heavy_hitters")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(served == direct,
      "streamed sketch + recount diverged from batch a23")
    assert(served.nonEmpty)
    // candidate volume stays sketch-bounded: ≤ k per group per batch
    val candCount = Streams.serveHeavyHitters(spark, idx).count()
    assert(candCount <= 3L * k * 5,
      s"candidate volume $candCount exceeds the k·batches·groups bound")
    // retry idempotence: no new files → no batch → unchanged serve
    runOnce()
    assert(recounted() == served)
    // compaction folds slices without changing a single served value
    Streams.compactHeavyHitterSlices(spark, idx)
    assert(recounted() == served)
    val entrySlices = new java.io.File(s"$idx/entries").listFiles()
      .count(_.getName.startsWith("batch="))
    assert(entrySlices == 1, s"expected one folded slice, got $entrySlices")
  }
}
