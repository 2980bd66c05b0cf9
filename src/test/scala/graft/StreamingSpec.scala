package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def eventsBatch() = {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    (0 until 300).map { i =>
      val ts = new java.sql.Timestamp(base.getTime + i.toLong * 4 * 60 * 1000) // 4-min cadence
      (i.toLong, ts, (i % 7).toLong, if (i % 2 == 0) "click" else "view", i.toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("windowedCounts on a real stream (file source → memory sink)") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/data"
    eventsBatch().write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    assert(stream.isStreaming)
    val q = EventStreams.windowedCounts(stream, "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val out = spark.table("win_out")
    // 300 events * 4 min = 20h span; append mode emits watermark-closed
    // windows (the final ones stay open) — expect most hours present
    assert(out.count() >= 15 * 2, s"got ${out.count()} windows")
    val total = out.agg(sum("n")).head().getLong(0)
    assert(total > 200)
    assert(out.columns.contains("window_start"))
  }

  test("cellHeatmap: streamed H3 heatmap matches its batch twin") {
    val geo = eventsBatch()
      .withColumn("lon", (col("user_id") % 350).cast("double") - 175.0 + 0.5)
      .withColumn("lat", (col("event_id") % 170).cast("double") - 85.0 + 0.25)
    val dir = java.nio.file.Files.createTempDirectory("geoev").toString + "/data"
    geo.write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    assert(stream.isStreaming)
    val q = EventStreams.cellHeatmap(stream)
      .writeStream.format("memory").queryName("hm_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val streamed = spark.table("hm_out").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = EventStreams.cellHeatmap(spark.read.parquet(dir)).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    // append mode holds back windows the watermark hasn't closed; every
    // emitted (window, cell) group must agree with the batch twin exactly
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, n) => assert(batch.get(k).contains(n), s"$k") }
    // 20h span, 2h watermark: the bulk of the stream must have emitted
    assert(streamed.values.sum > batch.values.sum / 2)
    // the lattice makes each (window, cell) group a distinct lattice point
    assert(batch.keySet.map(_._2).forall(graft.geom.H3Lib.isValidCell))
  }

  test("hllWindowRegisters: streamed sketch registers match the batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("hllev").toString + "/data"
    eventsBatch().write.parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    assert(stream.isStreaming)
    val q = EventStreams.hllWindowRegisters(stream, "event_id",
        window_ = "4 hours", watermark = "1 hour")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val streamed = spark.table("hll_out").collect()
      .map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getInt(2)).toMap
    val batch = EventStreams.hllWindowRegisters(eventsBatch(), "event_id",
        window_ = "4 hours", watermark = "1 hour").collect()
      .map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getInt(2)).toMap
    // every emitted (window, register) MAX must agree with batch exactly
    // (monotone MAX makes the sketch safe under any micro-batch split)
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, mx) =>
      assert(batch.get(k).contains(mx), s"register $k diverged") }
    // per-window state is bounded at 256 registers
    assert(batch.groupBy(_._1._1).forall(_._2.size <= 256))
    // and the estimate from a closed window's registers is sane: 60
    // distinct event_ids per full 4h window (4-min cadence)
    val firstWin = batch.keys.map(_._1).minBy(_.getTime)
    val regs = batch.collect { case ((w, reg), mx) if w == firstWin =>
      (reg, mx) }.toSeq
    val est = graft.operators.Sketch.hllEstimate(
      regs.toDF("reg", "mx")).collect().head.getDouble(2)
    assert(math.abs(est - 60.0) / 60.0 < 0.25, s"window est: $est")
  }

  test("countMinWindowTable: streamed sketch matches the batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("cmev").toString + "/data"
    eventsBatch().write.parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = EventStreams.countMinWindowTable(stream, "event_type",
        d = 2, hexChars = 2, window_ = "4 hours", watermark = "1 hour")
      .writeStream.format("memory").queryName("cm_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getTimestamp(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)
    val streamed = spark.table("cm_out").collect().map(key).toMap
    val batch = EventStreams.countMinWindowTable(eventsBatch(), "event_type",
      d = 2, hexChars = 2, window_ = "4 hours", watermark = "1 hour")
      .collect().map(key).toMap
    // SUM-mergeable counts: every emitted cell must equal the batch twin
    // exactly under any micro-batch split
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, c) =>
      assert(batch.get(k).contains(c), s"cell $k diverged") }
    // per-window state bounded at d * 16^hexChars cells
    assert(batch.groupBy(_._1._1).forall(_._2.size <= 2 * 256))
    // heavy-hitter probe on one closed window: est >= true, and for
    // d=2/w=256 over 2 keys, exact (no collisions to inflate)
    val firstWin = batch.keys.map(_._1).minBy(_.getTime)
    val tab = batch.collect { case ((w, i, b), c) if w == firstWin =>
      (i, b, c) }.toSeq.toDF("i", "bucket", "cnt")
    val probe = Seq("click", "view").toDF("k")
    val est = graft.operators.Sketch.countMinEstimate(tab, probe, "k",
        d = 2, hexChars = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // first 4h window: 60 events, alternating types -> 30 each
    assert(est("click") == 30L && est("view") == 30L, est.toString)
  }

  test("driftMonitor: streamed windowed PSI matches its batch twin") {
    val ev = eventsBatch()
    val base = ev.filter(col("event_id") % 2 === 0)
    val cur = ev.filter(col("event_id") % 2 === 1)
    val shares = EventStreams.baselineShares(base, "value", 0.0, 500.0, 10)
    assert(math.abs(shares.sum - 1.0) < 1e-12, s"shares sum ${shares.sum}")
    val dir = java.nio.file.Files.createTempDirectory("driftev").toString + "/data"
    cur.write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = EventStreams.driftMonitor(stream, shares, 0.0, 500.0)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val streamed = spark.table("drift_out").collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = EventStreams.driftMonitor(
        spark.read.parquet(dir), shares, 0.0, 500.0).collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (w, (n, psi)) =>
      val (bn, bpsi) = batch(w)
      assert(n == bn && math.abs(psi - bpsi) < 1e-12, s"window $w")
    }
    // direction check: a genuinely shifted current (all mass pushed into
    // the top bucket) must alarm well above the same-distribution halves
    // (whose per-window PSI is only small-sample noise)
    val shifted = EventStreams.driftMonitor(
        spark.read.parquet(dir).withColumn("value", col("value") + 450.0),
        shares, 0.0, 500.0, window_ = "1 day").collect().map(_.getDouble(2))
    val sameDay = EventStreams.driftMonitor(
        spark.read.parquet(dir), shares, 0.0, 500.0, window_ = "1 day")
      .collect().map(_.getDouble(2))
    assert(shifted.min > sameDay.max,
      s"shifted must dominate: ${shifted.min} vs ${sameDay.max}")
  }

  test("DocStreams.intake: quality floor + hash dedup on a real stream") {
    import graft.streaming.DocStreams
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val good = "the quick brown fox jumps over the lazy dog and this text " +
      "is long enough to pass the quality floor with stopwords in it " * 3
    val docs = (0 until 60).map { i =>
      val ts = new java.sql.Timestamp(base.getTime + i.toLong * 60 * 1000)
      // ids 0..39: 20 distinct good texts, each EXACTLY duplicated once
      // (i and i+20 share text); ids 40..59: junk that fails the floor
      val text = if (i < 40) s"$good variant ${i % 20}" else "x!!"
      (i.toLong, ts, text)
    }.toDF("doc_id", "ingest_ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("docs").toString + "/data"
    docs.write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    assert(stream.isStreaming)
    val q = DocStreams.intake(stream, minQuality = 0.5)
      .writeStream.format("memory").queryName("doc_intake")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val out = spark.table("doc_intake")
    // 20 distinct good texts survive; dups and junk are gone
    assert(out.count() == 20, s"got ${out.count()}")
    assert(out.select("content_hash").distinct().count() == 20)
    assert(out.agg(min("quality")).head().getDouble(0) >= 0.5)
    // windowedStats over the same data in batch mode (dedup-within-
    // watermark itself is streaming-only by Spark's contract)
    val stats = DocStreams.windowedStats(docs, "1 hour").collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum == 60)
    assert(stats.forall(_.getAs[Long]("sum_tokens") > 0))
  }

  test("correlate joins two real streams within the time bound") {
    // left: one click per user per hour; right: purchases 10 min after some
    // clicks (in-bound) and 90 min after others (out-of-bound)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60 * 1000)
    val clicks = (0 until 20).map { i =>
      (100L + i, ts(i.toLong * 60), (i % 4).toLong, "click", 0.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val purchases = (0 until 20).map { i =>
      val gap = if (i % 2 == 0) 10L else 90L // odd ones fall outside 1 hour
      (500L + i, ts(i.toLong * 60 + gap), (i % 4).toLong, "purchase", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dirL = java.nio.file.Files.createTempDirectory("corr_l").toString + "/d"
    val dirR = java.nio.file.Files.createTempDirectory("corr_r").toString + "/d"
    clicks.write.parquet(dirL); purchases.write.parquet(dirR)
    val sl = spark.readStream.schema(clicks.schema).parquet(dirL)
    val sr = spark.readStream.schema(purchases.schema).parquet(dirR)
    assert(sl.isStreaming && sr.isStreaming)
    val q = EventStreams.correlate(sl, sr, within = "1 hour")
      .writeStream.format("memory").queryName("corr_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val streamed = spark.table("corr_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch twin must agree exactly (same code path, no watermark effects
    // at AvailableNow completion)
    val batched = EventStreams.correlate(clicks, purchases, within = "1 hour")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batched, s"stream $streamed vs batch $batched")
    // every in-bound pair present with the exact 10-min gap; no out-of-bound
    val direct = (0 until 20).filter(_ % 2 == 0)
      .map(i => ((i % 4).toLong, 100L + i, 500L + i, 600L)).toSet
    assert(direct.subsetOf(batched), s"missing planted pairs: ${direct -- batched}")
    assert(batched.forall { case (_, _, _, g) => g > 0 && g <= 3600 })
  }

  test("sessionize groups events by 30-minute gaps") {
    // batch-mode check of the same code path: users 0..6, 4-min cadence per
    // global stream → per-user cadence 28 min < 30 min gap → 1 session each
    val sess = EventStreams.sessionize(eventsBatch()).collect()
    assert(sess.length == 7)
    assert(sess.map(_.getAs[Long]("n_events")).sum == 300)
    // larger gap data: two bursts an hour apart → 2 sessions
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val twoBursts = (0 until 10).map { i =>
      val off = if (i < 5) i * 60000L else 3600000L + i * 60000L
      (i.toLong, new java.sql.Timestamp(base.getTime + off), 1L, "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val s2 = EventStreams.sessionize(twoBursts).collect()
    assert(s2.length == 2)
  }

  test("statefulUserTotals: custom keyed state across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("events3").toString + "/data"
    // two files → two micro-batches with MaxFilesPerTrigger=1: state must
    // carry counts across batches
    eventsBatch().filter($"event_id" < 150).write.parquet(dir)
    eventsBatch().filter($"event_id" >= 150).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = EventStreams.statefulUserTotals(stream)
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val out = spark.table("state_out")
    // last update per user must equal the full batch totals
    val fin = out.groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = eventsBatch().groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == expect, s"$fin vs $expect")
  }

  test("cdcLatestState: upsert state across micro-batches; late lower-seq " +
    "arrivals never overwrite, tombstones persist") {
    val dir = java.nio.file.Files.createTempDirectory("cdc").toString + "/data"
    // batch 1: key 1 v@seq2, key 2 v@seq5, key 3 delete@seq4
    Seq((1L, 2L, "U", 12L), (2L, 5L, "U", 25L), (3L, 4L, "D", 0L))
      .toDF("id", "seq", "op", "value").write.parquet(dir)
    // batch 2 (later micro-batch, out-of-order seqs): key 1 NEWER update
    // (wins), key 2 OLDER update (must lose), key 3 straggler update older
    // than the tombstone (must stay dead), key 4 fresh insert
    Seq((1L, 7L, "U", 17L), (2L, 3L, "U", 23L), (3L, 1L, "U", 31L),
      (4L, 1L, "I", 41L))
      .toDF("id", "seq", "op", "value").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = EventStreams.cdcLatestState(stream)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    // final state = the last update emitted per key
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("seq").desc)
    val fin = spark.table("cdc_out")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(fin(1L) == ((7L, "U", 17L)), s"newer update must win: $fin")
    assert(fin(2L) == ((5L, "U", 25L)), s"late lower seq must lose: $fin")
    assert(fin(3L) == ((4L, "D", 0L)), s"tombstone must persist: $fin")
    assert(fin(4L) == ((1L, "I", 41L)), s"fresh insert: $fin")
  }

  test("streaming materialized view: incrementalAgg inside foreachBatch " +
    "maintains a rollup across micro-batches equal to a full recompute") {
    import graft.operators.Changelog
    val dir = java.nio.file.Files.createTempDirectory("mv").toString + "/data"
    // micro-batch 1: inserts into groups A and B
    Seq(("A", "I", 0L, 10L), ("A", "I", 0L, 20L), ("B", "I", 0L, 5L))
      .toDF("g", "op", "before", "after").write.parquet(dir)
    // micro-batch 2: update in A, delete empties B, insert opens C
    Seq(("A", "U", 10L, 13L), ("B", "D", 5L, 0L), ("C", "I", 0L, 7L))
      .toDF("g", "op", "before", "after")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // the maintained view: starts empty, folds each micro-batch through
    // incrementalAgg (the stream IS the changelog — no snapshot rescan)
    var rollup = Seq.empty[(String, Long, Long)].toDF("g", "n", "total")
    var batches = 0
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rollup = Changelog.incrementalAgg(rollup, b, "g", "op",
          "before", "after").localCheckpoint(true)
        batches += 1
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val got = rollup.orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A", 2L, 33L), ("C", 1L, 7L)), got.toSeq)
  }

  test("dedupWithinWatermark on a stream keeps one row per key") {
    val dir = java.nio.file.Files.createTempDirectory("events2").toString + "/data"
    eventsBatch().write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.dedupWithinWatermark(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val out = spark.table("dedup_out")
    assert(out.count() == 14) // 7 users × 2 event types
  }

  test("ivfIntake: new embeddings probe the existing index across micro-batches, no retrain") {
    // corpus: 40 deterministic 8-dim vectors; new batches are exact copies
    // (re-id'd), landing in TWO files so maxFilesPerTrigger=1 forces at
    // least two micro-batches through ONE query — the same baked centroids
    // serve both (nothing retrains between triggers)
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(j => math.sin(i * 8 + j + 1).toFloat)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("annstream").toString + "/data"
    (0 until 4).map(i => (i.toLong + 10000, vec(i)))
      .toDF("vec_id", "embedding").write.parquet(dir)
    (4 until 8).map(i => (i.toLong + 10000, vec(i)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    assert(stream.isStreaming)
    val q = graft.streaming.VectorStreams.ivfIntake(stream, corpus, k = 1,
        nlist = 8, nprobe = 2, trainSample = 40, iters = 3)
      .writeStream.format("memory").queryName("ann_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "ann intake stream timed out")
    val out = spark.table("ann_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 8, s"8 probes answered: ${out.size}")
    (0 until 8).foreach { i =>
      val (nid, cos) = out(i.toLong + 10000)
      assert(nid == i.toLong, s"probe ${i + 10000} must find its twin: $nid")
      assert(math.abs(cos - 1.0) < 1e-9, s"twin cosine: $cos")
    }
  }

  test("nearDupIntake: stream probes the corpus band lattice; exact verify; one row per pair") {
    // corpus: 40 docs of 30 tokens over DISJOINT per-doc word ranges —
    // cross-doc jaccard is 0, exact copies 1.0, perturbed copies 28/30,
    // so minJaccard 0.8 separates them deterministically
    def text(i: Int, extra: String = ""): String =
      (0 until 30).map(j => s"w${i * 40 + j}").mkString(" ") + extra
    val corpus = (0 until 40).map(i => (i.toLong, text(i)))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ndstream").toString + "/data"
    // two files → ≥ two micro-batches: exact copies, then perturbed docs
    (0 until 4).map(i => (i.toLong + 10000, text(i)))
      .toDF("doc_id", "text").write.parquet(dir)
    (4 until 8).map(i => (i.toLong + 10000, text(i, " w60 w61")))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    assert(stream.isStreaming)
    val q = graft.streaming.DocStreams.nearDupIntake(stream, corpus,
        minJaccard = 0.8)
      .writeStream.format("memory").queryName("nd_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "neardup intake stream timed out")
    val rows = spark.table("nd_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // the first-shared-band filter keeps exactly ONE copy per pair
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length,
      s"duplicate pair rows: ${rows.mkString(",")}")
    val byQ = rows.groupBy(_._1)
    (0 until 8).foreach { i =>
      val hits = byQ.getOrElse(i.toLong + 10000,
        Array.empty[(Long, Long, Double)]).toSeq
      assert(hits.map(_._2) == Seq(i.toLong),
        s"probe ${i + 10000} must hit exactly its source: $hits")
      val j = hits.head._3
      if (i < 4) assert(j == 1.0, s"exact copy jaccard: $j")
      else assert(j >= 0.9 && j < 1.0, s"perturbed jaccard: $j")
    }
  }

  test("quotaIntake: transformWithState per-domain cap across checkpointed runs") {
    // the arbitrary-state v2 operator requires the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = java.nio.file.Files.createTempDirectory("docsq").toString
      val dir = root + "/data"
      val ckpt = root + "/ckpt"
      def docs(rows: Seq[(String, Long)]) = rows.toDF("source", "doc_id")
      // wave 1: domain a over cap (5 > 3), b under (2)
      docs((0L until 5L).map(i => ("a", i)) ++ Seq(("b", 100L), ("b", 101L)))
        .write.mode("append").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      def run(name: String): Map[String, Seq[Long]] = {
        // memory sink can't recover from a checkpoint; foreachBatch can
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
        val stream = spark.readStream.schema(schema).parquet(dir)
        val q = graft.streaming.DocStreams.quotaIntake(stream, cap = 3)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.DocStreams.AdmittedDoc], _: Long) =>
            batch.collect().foreach(d => buf.add((d.domain, d.rank_in_domain)))
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(60000), s"stream $name timed out after 60s")
        import scala.jdk.CollectionConverters._
        buf.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      }
      val out1 = run("quota_out1")
      assert(out1("a") == Seq(1L, 2L, 3L), s"a capped at 3: $out1")
      assert(out1("b") == Seq(1L, 2L), s"b admits both: $out1")
      // wave 2: a already exhausted, b has 1 slot left, c fresh — the TTL'd
      // RocksDB counter must survive the checkpoint restart
      docs(Seq(("a", 200L), ("a", 201L), ("b", 202L), ("b", 203L), ("c", 204L)))
        .write.mode("append").parquet(dir)
      val out2 = run("quota_out2")
      assert(!out2.contains("a"), s"a is at cap, admits nothing: $out2")
      assert(out2("b") == Seq(3L), s"b admits exactly one more: $out2")
      assert(out2("c") == Seq(1L), s"fresh domain admits: $out2")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("classifierIntake: broadcast-model scoring is stateless across micro-batches") {
    import spark.implicits._
    // train once on a planted separable corpus; the model rides the
    // expression, so the stream stage must report ZERO state rows
    val train = (0 until 120).map { i =>
      (i.toLong, i % 2, s"common filler words ${i % 7} " +
        (if (i % 2 == 1) "qgood" else "qbad") + (i % 3))
    }.toDF("doc_id", "label", "text")
    val m = graft.text.TextClassifier.train(train, "text", "label",
      nBuckets = 256, bigrams = false, epochs = 40)
    val dir = java.nio.file.Files.createTempDirectory("clfstream").toString + "/d"
    // two files → maxFilesPerTrigger=1 forces two micro-batches
    // stream docs reuse TRAINING vocabulary (class-balanced filler whose
    // weights cancel + the class marker) so the cut is decided by the
    // learned marker weights, not by hash collisions of unseen tokens
    (0 until 30).map(i => (i.toLong, s"common filler qgood${i % 3}"))
      .toDF("doc_id", "text").write.parquet(dir)
    (30 until 60).map(i => (i.toLong, s"common filler qbad${i % 3}"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    assert(stream.isStreaming)
    val q = graft.streaming.DocStreams.classifierIntake(stream, m, minScore = 0.0)
      .writeStream.format("memory").queryName("clf_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "classifier intake stream timed out")
    // stateless: no stateful operator ran in any progress event
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      s"stateless stage grew state: ${q.lastProgress}")
    val kept = spark.table("clf_out").collect().map(_.getLong(0)).toSet
    // only the qgood micro-batch survives the positive-logit cut
    assert(kept == (0 until 30).map(_.toLong).toSet, s"kept: $kept")
    // stream results ≡ batch results through the same call
    val batchKept = graft.streaming.DocStreams.classifierIntake(
        spark.read.parquet(dir), m, minScore = 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == kept, "stream must equal batch")
  }

  test("geofenceIntake: stream-static geodetic join is stateless; " +
    "stream equals batch (anti-meridian fence included)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("geofence")
      .toString + "/pts"
    // two files → two micro-batches; points straddle the anti-meridian
    // and a high-lat band so the geodetic keys do real work
    (0 until 40).map(i =>
      (i.toLong, -179.8 + (i % 8) * 51.3, -60.0 + (i / 8) * 27.0))
      .toDF("id", "lon", "lat").write.parquet(dir)
    (40 until 80).map(i =>
      (i.toLong, 179.9 - (i % 5) * 0.05, 46.0 + (i % 7) * 0.1))
      .toDF("id", "lon", "lat").write.mode("append").parquet(dir)
    val fences = Seq((1L, 179.95, 46.2), (2L, -179.8, -60.0),
      (3L, 0.0, 0.0)).toDF("fid", "flon", "flat")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    assert(stream.isStreaming)
    val q = graft.streaming.EventStreams.geofenceIntake(
        stream, fences, 100000.0)
      .writeStream.format("memory").queryName("geofence_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "geofence stream timed out")
    // stateless: stream-static join must not grow a state store
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      s"stateless stage grew state: ${q.lastProgress}")
    val got = spark.table("geofence_out")
      .select("id", "fid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.streaming.EventStreams.geofenceIntake(
        spark.read.parquet(dir), fences, 100000.0)
      .select("id", "fid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch, "stream must equal batch")
    // the wrap fence matched second-file points across the seam
    assert(got.exists { case (_, f) => f == 1L }, "no wrap match")
    assert(got.exists { case (_, f) => f == 2L })
    assert(got.nonEmpty && got.size < 80 * 3, "degenerate fixture")
  }

  test("bloomBlocklistIntake: baked-bitmap gate is stateless, no false leaks") {
    import spark.implicits._
    import graft.operators.Sketch
    // blocklist = every 5th id; the bitmaps bake into the plan as literals
    val bad = (0 until 200 by 5).map(i => s"$i").toDF("k")
    val bitmaps = Sketch.bloomBitmaps(
      Sketch.bloomTable(bad, "k", d = 3, hexChars = 4), 3, 4)
    val dir = java.nio.file.Files.createTempDirectory("bloomstream")
      .toString + "/d"
    (0 until 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(dir)
    (100 until 200).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.streaming.DocStreams.bloomBlocklistIntake(
        stream, bitmaps, 4)
      .writeStream.format("memory").queryName("bloom_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "bloom intake stream timed out")
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty,
      s"stateless stage grew state: ${q.lastProgress}")
    val kept = spark.table("bloom_out").collect().map(_.getLong(0)).toSet
    // no false negatives in the filter sense: every blocklisted id is out
    (0 until 200 by 5).foreach(i =>
      assert(!kept(i.toLong), s"blocked id $i leaked through"))
    // false positives are rare: nearly all clean ids survive
    val clean = (0 until 200).filterNot(_ % 5 == 0)
    assert(clean.count(i => kept(i.toLong)) >= clean.size - 3,
      s"too many clean ids dropped: ${clean.count(i => !kept(i.toLong))}")
    // stream ≡ batch through the same call
    val batchKept = graft.streaming.DocStreams.bloomBlocklistIntake(
        spark.read.parquet(dir), bitmaps, 4)
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == kept, "stream must equal batch")
  }

  test("rulesIntake: Gopher+C4 gating is stateless across micro-batches") {
    import spark.implicits._
    // good docs: 60 punctuated 6-word lines with stop-words; bad docs
    // trip g_words (too short) or c_brace (code tell)
    def goodText(i: Int) = (1 to 12).map(k =>
      s"the words of line $k go on and that way here$i.").mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("rulestream")
      .toString + "/d"
    ((0 until 10).map(i => (i.toLong, goodText(i))) ++
      (10 until 15).map(i => (i.toLong, "the short one.")))
      .toDF("doc_id", "text").write.parquet(dir)
    (15 until 20).map(i => (i.toLong, goodText(i) + "\ncode { x }."))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.streaming.DocStreams.rulesIntake(stream)
      .select("doc_id", "pass", "keep")
      .writeStream.format("memory").queryName("rules_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "rules intake stream timed out")
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      s"stateless stage grew state: ${q.lastProgress}")
    val kept = spark.table("rules_out").collect().map(_.getLong(0)).toSet
    assert(kept == (0 until 10).map(_.toLong).toSet, s"kept: $kept")
    val batchKept = graft.streaming.DocStreams.rulesIntake(
      spark.read.parquet(dir)).collect().map(_.getLong(0)).toSet
    assert(batchKept == kept, "stream must equal batch")
  }

  test("TableLogSink: a REPLAYED micro-batch (checkpoint recovery) commits " +
    "exactly one version — no double rows, version count unchanged") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("tlsink").toString
    val dataDir = root + "/data"
    val ckpt = root + "/ckpt"
    val table = root + "/table"
    (0L until 10L).map(i => (i, s"d$i")).toDF("id", "s")
      .write.mode("append").parquet(dataDir)
    val schema = spark.read.parquet(dataDir).schema
    def run(): Unit = {
      val q = graft.streaming.TableLogSink.start(
        spark.readStream.schema(schema).parquet(dataDir),
        table, txnId = "ingest", checkpoint = ckpt)
      assert(q.awaitTermination(60000), "stream timed out")
    }
    run()
    assert(TableLog.currentVersion(table) == 1)
    assert(TableLog.read(spark, table).count() == 10)
    assert(TableLog.snapshot(table).txn == Map("ingest" -> 0L))
    // REAL crash-between-sink-and-checkpoint-commit: wave 2 arrives, the
    // sink applies batch 1 to the table, then the query dies BEFORE the
    // streaming commit marker lands — the at-least-once window
    (10L until 15L).map(i => (i, s"d$i")).toDF("id", "s")
      .write.mode("append").parquet(dataDir)
    val crashing = spark.readStream.schema(schema).parquet(dataDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        TableLog.appendExactlyOnce(batch, table, "ingest", id)
        throw new RuntimeException("injected crash after sink write")
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashing.awaitTermination(60000); crashing.stop()
    }
    assert(TableLog.currentVersion(table) == 2,
      "the crashed run had already applied batch 1")
    assert(TableLog.snapshot(table).txn == Map("ingest" -> 1L))
    // recovery re-executes batch 1 (same id, same offsets) — the sink
    // must recognize it against the log and commit NOTHING new
    run()
    assert(TableLog.currentVersion(table) == 2,
      "replayed batch must not commit a second version")
    assert(TableLog.read(spark, table).count() == 15, "rows doubled")
    assert(TableLog.snapshot(table).txn == Map("ingest" -> 1L))
    // fresh data still advances normally after the recovery
    (15L until 18L).map(i => (i, s"d$i")).toDF("id", "s")
      .write.mode("append").parquet(dataDir)
    run()
    assert(TableLog.currentVersion(table) == 3)
    assert(TableLog.read(spark, table).count() == 18)
    assert(TableLog.snapshot(table).txn == Map("ingest" -> 2L))
    // the feed is incremental: version 1 still reads the first wave only
    assert(TableLog.read(spark, table, 1).count() == 10)
  }

  test("TableLogSink + concurrent OPTIMIZE loop: no appended row is ever " +
    "lost, file count stays bounded (guaranteed-progress compaction)") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("tlsinkopt").toString
    val srcDir = root + "/src"
    val ckpt = root + "/ckpt"
    val table = root + "/table"
    // wave 0 establishes the table so the optimizer loop has a head
    (0L until 20L).map(i => (i, s"d$i")).toDF("id", "s")
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runSink(): Unit = {
      val q = graft.streaming.TableLogSink.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        table, txnId = "ingest", checkpoint = ckpt,
        optimizeEvery = 2, optimizeMaxRows = 1000000L)
      assert(q.awaitTermination(120000), "stream timed out")
    }
    runSink()
    // an EXTERNAL compaction loop races the streaming writer: the
    // sink's appendExactlyOnce must rebase through the optimizer's
    // commits (never lose a batch), and the optimizer must rebase
    // through the appends (never abort on a non-conflict); a true
    // conflict (two optimizes racing) may skip a round, never a row
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val optErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val optimizer = new Thread(() => {
      try {
        while (!stop.get()) {
          try TableLog.optimize(spark, table, maxRows = 1000000L,
            maxRetries = 200)
          catch { case _: IllegalStateException => () } // true conflict: skip
          Thread.sleep(50)
        }
      } catch { case t: Throwable => optErr.compareAndSet(null, t) }
    })
    optimizer.start()
    try {
      (1 to 4).foreach { wave =>
        (0L until 10L).map(i => (wave * 1000L + i, s"w$wave-$i"))
          .toDF("id", "s")
          .write.mode("append").parquet(srcDir)
        runSink() // several micro-batches, sink-side optimize every 2nd
      }
    } finally { stop.set(true); optimizer.join() }
    assert(optErr.get() == null, s"optimizer loop died: ${optErr.get()}")
    // row set EXACT: 20 seed + 4 waves x 10, each exactly once
    val got = TableLog.read(spark, table).select("id")
      .collect().map(_.getLong(0)).sorted
    val want = ((0L until 20L) ++
      (1 to 4).flatMap(w => (0L until 10L).map(w * 1000L + _))).sorted
    assert(got.toSeq == want.toSeq,
      s"rows lost/duplicated: got ${got.length}, want ${want.length}")
    // file count bounded: one quiesced pass collapses the tail
    TableLog.optimize(spark, table, maxRows = 1000000L)
    assert(TableLog.snapshot(table).files.size <= 2,
      s"compaction never caught up: ${TableLog.snapshot(table).files.size}")
  }

  test("anomalyLegsState: baseline state carries across micro-batches and " +
    "matches the batch form") {
    val dir = java.nio.file.Files.createTempDirectory("anom").toString + "/ev"
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // batch 1: ten alternating 10.00/12.00 observations for user 1
    val wave1 = (0 until 10).map(i =>
      (1L, i.toLong, ts(i), if (i % 2 == 0) 10.0 else 12.0))
    wave1.toDF("user_id", "event_id", "ts", "value")
      .coalesce(1).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSet
    val firstFiles = parquetFiles
    // batch 2: the spike — its baseline must be the TEN batch-1 legs
    Seq((1L, 10L, ts(10), 50.0))
      .toDF("user_id", "event_id", "ts", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    // FileStreamSource orders files by modification time; back-to-back
    // writes can tie on coarse-mtime filesystems, which would let the
    // spike process first — pin the order explicitly
    val t0 = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    val t1 = java.nio.file.attribute.FileTime.fromMillis(1000000005000L)
    firstFiles.foreach(f => java.nio.file.Files
      .setLastModifiedTime(f.toPath, t0))
    (parquetFiles -- firstFiles).foreach(f => java.nio.file.Files
      .setLastModifiedTime(f.toPath, t1))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false").parquet(dir)
    val q = EventStreams.anomalyLegsState(stream)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream timed out")
    val streamed = spark.table("anom_out").collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(streamed.size == 11, s"expected 11 scored events: $streamed")
    // spike legs: n=10, sum = 5*1000 + 5*1200, sumsq from the alternation
    assert(streamed(10L) == ((5000L, 10L, 11000L,
      5L * 1000L * 1000L + 5L * 1200L * 1200L)), streamed(10L).toString)
    // batch form over the union produces the identical legs
    val batch = EventStreams.anomalyLegsState(
      spark.read.parquet(dir)).collect()
      .map(r => r.event_id -> ((r._c, r._bn, r._bs, r._bq))).toMap
    assert(batch == streamed, s"batch/stream legs differ:\n$batch\n$streamed")
  }

  test("graft-lake stream widens a narrower file but fails loudly on a " +
    "file type that cannot widen to the stream schema") {
    import graft.operators.TableLog
    val root = java.nio.file.Files.createTempDirectory("lakedrift").toString
    val dir = root + "/t"
    TableLog.append(Seq((1L, 10L)).toDF("id", "v"), dir)
    TableLog.append(Seq((2L, 20)).toDF("id", "v"), dir) // int widens
    def drain(): Unit = spark.readStream.schema("id bigint, v bigint")
      .format("graft-lake").load(dir)
      .writeStream.format("parquet")
      .option("path", root + "/sink")
      .option("checkpointLocation", root + "/cp")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    drain()
    assert(spark.read.parquet(root + "/sink").orderBy("id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (2L, 20L)))
    TableLog.append(Seq((3L, "x")).toDF("id", "v"), dir) // cannot widen
    val ex = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](drain())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[org.apache.spark.sql.execution
      .datasources.SchemaColumnConvertNotSupportedException]), ex)
  }
}
