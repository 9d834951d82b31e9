package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** Batch/stream parity: the streaming windowed aggregation and the
  * stateful sessionization must reproduce the batch queries' results on
  * the same input (q18/q19 semantics).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("streaming windowed agg matches batch q18") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))

    // complete mode: append would withhold the windows still inside the
    // watermark, which on a static source is the final 2 hours of data
    val streamed = Streaming.runToCompletion(
      Streaming.windowedAgg(Streaming.readEvents(spark, streamDir)),
      "win_agg_test", outputMode = "complete")
    val batch = SparkEntry.queries("q18_event_window")(spark, dir)

    val s = streamed.orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val b = batch.collect().map(_.toSeq).toSeq
    assert(s == b, s"stream rows ${s.size} vs batch ${b.size}")
  }

  test("stateful sessionization matches batch q19") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))

    val events = Streaming.readEvents(spark, streamDir)
      .select($"event_id", $"ts", $"user_id").as[Streaming.Event]
    val streamed = Streaming.runToCompletion(
      Streaming.sessionize(events).toDF(), "sess_test", outputMode = "update")
    // update mode: last row per user wins
    val finalRows = streamed.groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))

    val batch = SparkEntry.queries("q19_sessionize")(spark, dir)
    val s = finalRows.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(s == b, s"stream ${s.take(3)}... vs batch ${b.take(3)}...")
  }

  test("streaming weekly percentile bands: final rows equal batch q171") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sband")
    val p = spark.read.parquet(s"$dir/events.parquet")
      .filter($"event_type" === "purchase")
      .select(expr("unix_timestamp(CAST(ts AS TIMESTAMP)) DIV 604800")
        .as("week"),
        round($"value" * 100).cast("long").as("cents"))
    p.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val stream = spark.readStream.schema(p.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.WeekCents]
    val streamed = Streaming.runToCompletion(
      Streaming.weeklyBands(stream).toDF(), "sband_test",
      outputMode = "update")
    // histogram state is order-independent; the memory sink may hold one
    // emission per micro-batch — the FINAL (largest-n) row per (week, p)
    // is the converged one
    val fin = streamed.groupBy("week", "p")
      .agg(max(struct($"n_purchases", $"cents_at")).as("r"))
      .select($"week", $"p", $"r.n_purchases", $"r.cents_at")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = SparkEntry.queries("q171_weekly_bands")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(fin == batch, s"stream ${fin.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming audio gate: complete-mode report equals the batch q179 " +
      "aggregation of the same payloads") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_saudio")
    val media = graft.ops.Multimodal.withSyntheticWav(
      spark.range(0, 200).toDF("doc_id"), "doc_id")
    media.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val stream = spark.readStream.schema(media.schema)
      .parquet(streamDir.toString + "/in")
    val report = Streaming.audioGate(stream, "payload")
      .groupBy($"reason")
      .agg(count(lit(1)).as("n_docs"), sum($"n_samples").as("total_samples"),
        max($"peak").as("max_peak"))
    val streamed = Streaming.runToCompletion(report, "saudio_test",
        outputMode = "complete")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = graft.ops.Multimodal.withAudioGate(media, "payload")
      .groupBy($"reason")
      .agg(count(lit(1)).as("n_docs"), sum($"n_samples").as("total_samples"),
        max($"peak").as("max_peak"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch)
    assert(batch.map(_._1) == Set("clipping", "too_short", "low_energy", "keep"),
      s"fixture must exercise every rule: $batch")
  }

  test("streaming video frame stats equal the batch q181 rows; streaming " +
      "audio dedup keeps one clip per fingerprint like the batch op") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_svid")
    val vids = graft.ops.Multimodal.withSyntheticGif(
      spark.range(0, 60).toDF("doc_id"), "doc_id")
    vids.write.mode("overwrite").parquet(streamDir.toString + "/vin")
    val vstream = spark.readStream.schema(vids.schema)
      .parquet(streamDir.toString + "/vin")
    val streamedV = Streaming.runToCompletion(
      Streaming.videoFrameStats(vstream, "payload", "doc_id"), "svid_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batchV = graft.ops.Multimodal.sampleGifFrameStats(
        vids, "payload", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamedV == batchV && batchV.nonEmpty)

    val clips = graft.ops.Multimodal.withSyntheticClassWav(
        spark.range(0, 80).toDF("doc_id"), "doc_id", classes = 10)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    clips.write.mode("overwrite").parquet(streamDir.toString + "/ain")
    val astream = spark.readStream.schema(clips.schema)
      .parquet(streamDir.toString + "/ain")
    val kept = Streaming.runToCompletion(
      Streaming.audioDedup(astream, "payload", "ts"), "saudiodedup_test")
    // one survivor per distinct fingerprint, same fingerprint set as batch
    val batchSig = graft.ops.Multimodal.withAudioFingerprint(
        clips, "payload")
      .select(col("audio_fp")).collect().map(_.getLong(0)).toSet
    val streamedFps = kept.select(col("audio_fp"))
      .collect().map(_.getLong(0))
    assert(streamedFps.toSet == batchSig)
    assert(streamedFps.length == streamedFps.toSet.size)
    assert(batchSig.size < 80, "classes must collapse to shared fingerprints")
  }

  test("streaming real resize + lum features equal the batch q188 rows " +
      "(stateless map twin)") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_srsz")
    val media = graft.ops.Multimodal.withSyntheticClassPng(
      spark.range(0, 60).toDF("doc_id"), "doc_id", 10)
    media.write.mode("overwrite").parquet(streamDir.toString + "/rin")
    val mstream = spark.readStream.schema(media.schema)
      .parquet(streamDir.toString + "/rin")
    def chain(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Multimodal.withLumSum(
        graft.ops.Multimodal.withResized(df, "payload", 4, 4), "payload")
        .select(col("doc_id"), col("dec_w"), col("dec_h"), col("lum_sum"))
    val streamed = Streaming.runToCompletion(chain(mstream), "sresize_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = chain(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.forall { case (_, w, h, _) => w == 4 && h == 4 })
  }

  test("streaming scene cuts equal the batch q184 rows; streaming frame " +
      "dedup keeps one row per distinct frame hash like the batch index") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_svcut")
    val vids = graft.ops.Multimodal.withSyntheticSceneGif(
      spark.range(0, 50).toDF("doc_id"), "doc_id")
    vids.write.mode("overwrite").parquet(streamDir.toString + "/cin")
    val cstream = spark.readStream.schema(vids.schema)
      .parquet(streamDir.toString + "/cin")
    val streamedC = Streaming.runToCompletion(
      Streaming.sceneCuts(cstream, "payload", "doc_id"), "scut_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batchC = graft.ops.Multimodal.sceneChangeStats(
        vids, "payload", "doc_id", 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamedC == batchC && batchC.nonEmpty)

    // frame dedup: same-class videos re-deliver the shared class frames;
    // the stream keeps each distinct frame hash exactly once
    val cvids = graft.ops.Multimodal.withSyntheticClassGif(
        spark.range(0, 40).toDF("doc_id"), "doc_id", classes = 8)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    cvids.write.mode("overwrite").parquet(streamDir.toString + "/fin")
    val fstream = spark.readStream.schema(cvids.schema)
      .parquet(streamDir.toString + "/fin")
    val kept = Streaming.runToCompletion(
      Streaming.frameDedup(fstream, "payload", "doc_id", "ts"), "sfdedup_test")
    val streamedF = kept.select(col("frame_hi"), col("frame_lo"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val batchF = graft.ops.Multimodal.withFrameHashes(
        cvids, "payload", "doc_id")
      .select(col("frame_hi"), col("frame_lo"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedF.toSet == batchF)
    assert(streamedF.length == streamedF.toSet.size)
    // the class structure must actually collapse frames (40 videos of
    // 4-8 frames share their class frames)
    assert(batchF.size < 40L * 4)
  }

  test("streaming exact dedup keeps one row per digest like the batch op") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sdedup")
    // duplicated payloads with distinct ids and a timestamp column
    val docs = spark.range(0, 300).toDF("doc_id")
      .withColumn("text", concat(lit("payload "), col("doc_id") % 60))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream
      .schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.dedupExact(stream, "text", "ts"), "dedup_test")
    assert(out.count() == 60)
    // digest set matches the batch operator's
    val streamed = out.select(md5(graft.ops.Dedup.normalize($"text")))
      .collect().map(_.getString(0)).toSet
    val batch = graft.ops.Dedup.exact(docs, "text", "doc_id")
      .select(md5(graft.ops.Dedup.normalize($"text")))
      .collect().map(_.getString(0)).toSet
    assert(streamed == batch)
  }

  test("streaming cross-corpus dedup keeps what the batch op marks kept") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sxdedup")
    // 40 distinct payloads; ids 0..119 → three copies of each payload.
    // Base corpus = payloads 0..19 (already accepted); the stream must
    // drop rows whose payload is in the base AND within-stream repeats.
    val docs = spark.range(0, 120).toDF("doc_id")
      .withColumn("text", concat(lit("payload "), col("doc_id") % 40))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val base = spark.range(0, 20).toDF("b")
      .select(concat(lit("payload "), col("b")).as("text"))
    val baseDigests = base
      .select(md5(graft.ops.Dedup.normalize($"text")).as("digest"))

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.crossDedup(stream, baseDigests, "text", "ts"), "xdedup_test")
    // batch twin on the same split
    // first-ARRIVAL wins in the stream (parquet file order, not id
    // order), so parity is on the kept CONTENT set, not the kept ids —
    // the same contract as the exact-dedup twin above
    val batch = graft.ops.Dedup.crossDedup(base, docs, "text", "doc_id")
    val batchKept = batch.filter($"status" === "kept")
      .select($"digest").collect().map(_.getString(0)).toSet
    val streamedKept = out
      .select(md5(graft.ops.Dedup.normalize($"text")))
      .collect().map(_.getString(0)).toSet
    assert(streamedKept == batchKept)
    assert(streamedKept.size == 20) // payloads 20..39, one copy each
    // and the batch op labels the rest correctly
    val statuses = batch.groupBy($"status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses("dup_of_base") == 60) // 3 copies x 20 base payloads
    assert(statuses("dup_in_batch") == 40) // copies 2,3 of payloads 20..39
    assert(statuses("kept") == 20)
  }

  test("streaming bloom-prefiltered ingestion keeps the crossDedup set") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sbloom")
    val docs = spark.range(0, 120).toDF("doc_id")
      .withColumn("text", concat(lit("payload "), col("doc_id") % 40))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val base = spark.range(0, 20).toDF("b")
      .select(concat(lit("payload "), col("b")).as("text"))
    val baseDigests = base
      .select(md5(graft.ops.Dedup.normalize($"text")).as("digest"))
    // the production artifact: bitmap built once from the digest set
    val bitmap = graft.ops.Dedup.bloomBitmap(baseDigests, "digest",
      mBits = 1 << 14, k = 4)

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.bloomCrossDedup(stream, baseDigests, bitmap, "text", "ts"),
      "bloom_xdedup_test")
    val streamedKept = out
      .select(md5(graft.ops.Dedup.normalize($"text")))
      .collect().map(_.getString(0)).toSet
    // identical kept CONTENT set as the non-bloom streaming twin's
    // contract: batch crossDedup's kept statuses
    val batchKept = graft.ops.Dedup.crossDedup(base, docs, "text", "doc_id")
      .filter($"status" === "kept")
      .select($"digest").collect().map(_.getString(0)).toSet
    assert(streamedKept == batchKept)
    assert(streamedKept.size == 20)
    // and the batch bloom op agrees with itself on the same split
    val bb = graft.ops.Dedup.bloomCrossDedup(base, docs, "text", "doc_id",
        mBits = 1 << 14, k = 4)
      .filter($"status" === "dup_of_base").count()
    assert(bb == 60) // 3 copies x 20 base payloads
  }

  test("streaming block scrub reproduces the batch survival + reassembly") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sblk")
    // shared 10-token header across docs 1-3 (the q79 boilerplate
    // shape) + unique tails; doc 4 is a full duplicate of doc 1
    val header = (1 to 10).map(i => s"nav$i").mkString(" ")
    val docs = Seq(
      (1L, s"$header alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, s"$header one two three four five six seven eight nine ten"),
      (3L, header),
      (4L, s"$header alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Doc]
    val decisions = Streaming.runToCompletion(
      Streaming.scrubDuplicateBlocks(stream, blockTokens = 10,
          horizon = java.time.Duration.ofDays(365)).toDF(),
      "sblk_test", outputMode = "update")
    // downstream reassembly: the batch op's doc-keyed aggregation over
    // the kept decisions
    val streamed = decisions.groupBy($"doc_id").agg(
      count(lit(1)).as("n_blocks"),
      sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
      md5(array_join(transform(
        array_sort(collect_list(when($"kept", struct($"idx", $"blk")))),
        s => s.getField("blk")), " ")).as("scrubbed_digest"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val batch = graft.ops.Dedup.scrubDuplicateBlocks(
        docs.select($"doc_id", $"text"), "text", "doc_id", 10)
      .filter($"n_blocks" > 0) // zero-block docs emit no stream rows
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(streamed == batch,
      s"streamed ${streamed.toSeq.sortBy(_._1)} vs batch ${batch.toSeq.sortBy(_._1)}")
    // the fixture plants real scrubbing: doc 4 loses everything, docs
    // 2-3 lose the shared header
    assert(batch(4L)._2 == 0L && batch(2L)._2 == 1L && batch(3L)._2 == 0L)
  }

  test("streaming boilerplate strip reproduces the batch df-threshold rule") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sstrip")
    // header reaches df=3 -> boilerplate, stripped EVERYWHERE including
    // its first two (initially kept, retroactively flipped) occurrences;
    // pair stops at df=2 -> kept
    val header = (1 to 10).map(i => s"nav$i").mkString(" ")
    val pair = (1 to 10).map(i => s"pair$i").mkString(" ")
    val docs = Seq(
      (1L, s"$header alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, s"$header $pair one two three four five six seven eight nine ten"),
      (3L, header),
      (4L, s"$pair uno dos tres cuatro cinco seis siete ocho nueve diez"))
      .toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Doc]
    val decisions = Streaming.runToCompletion(
      Streaming.stripBoilerplateBlocks(stream, blockTokens = 10, minDf = 3,
          horizon = java.time.Duration.ofDays(365)).toDF(),
      "sstrip_test", outputMode = "update")
    // Update-mode upsert: the LATEST decision per (doc, idx) wins (seq
    // is per digest key, and a (doc, idx) belongs to exactly one digest)
    val last = decisions.groupBy($"doc_id", $"idx")
      .agg(max_by(struct($"kept", $"blk"), $"seq").as("d"))
      .select($"doc_id", $"idx", $"d.kept".as("kept"), $"d.blk".as("blk"))
    val streamed = last.groupBy($"doc_id").agg(
      count(lit(1)).as("n_blocks"),
      sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
      md5(array_join(transform(
        array_sort(collect_list(when($"kept", struct($"idx", $"blk")))),
        s => s.getField("blk")), " ")).as("scrubbed_digest"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val batch = graft.ops.Dedup.stripBoilerplateBlocks(
        docs.select($"doc_id", $"text"), "text", "doc_id", 10, minDf = 3)
      .filter($"n_blocks" > 0) // zero-block docs emit no stream rows
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(streamed == batch,
      s"streamed ${streamed.toSeq.sortBy(_._1)} vs batch ${batch.toSeq.sortBy(_._1)}")
    // the fixture plants real retroactive stripping: doc 3 (header only)
    // loses everything, doc 1 keeps only its tail, the df=2 pair block
    // survives in docs 2 and 4
    assert(batch(3L)._2 == 0L && batch(1L)._2 == 1L &&
      batch(2L)._2 == 2L && batch(4L)._2 == 2L)
  }

  test("streaming CMS counter table equals the batch sketch") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_scms")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val streamed = Streaming.runToCompletion(
      Streaming.cmsCounters(stream, "text", width = 256, depth = 4),
      "scms_test", outputMode = "complete")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Cms.counterTable(
        graft.ops.Cms.termCounts(docs, "text"), width = 256, depth = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} cells vs batch ${batch.size}")
    assert(batch.nonEmpty && batch.values.sum > 0)
  }

  test("streaming shard manifest snapshot equals the batch manifest") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sshm")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val streamed = Streaming.runToCompletion(
      Streaming.shardManifest(stream, "text", "doc_id", nShards = 8),
      "sshm_test", outputMode = "complete")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val batch = graft.ops.Shards.manifest(docs, "text", "doc_id", nShards = 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} shards vs batch ${batch.size}")
    assert(batch.size == 8)
  }

  test("streaming hll registers snapshot equals batch sketch and estimate") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_shll")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"text")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val term = explode(filter(split(lower($"text"), "\\s+"), t => t =!= ""))

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val snap = Streaming.runToCompletion(
      Streaming.hllRegisters(stream.select($"source", term.as("term")),
        "source", $"term"),
      "shll_test", outputMode = "complete")
    val streamedRegs = snap.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val batchRegs = graft.ops.Hll.registers(
        docs.select($"source", term.as("term")), $"source", $"term", "source")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(streamedRegs == batchRegs)
    // the snapshot finisher reproduces the certified q102 estimates
    val est = graft.ops.Hll.estimateFromRegisters(snap, "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val q102 = graft.ops.Hll.distinctPerGroup(
        docs.select($"source", term.as("term")), $"source", $"term", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(est == q102)
  }

  test("streaming minhash near-dup finds the batch operator's pairs") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_smh")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Doc]
    val streamed = Streaming.runToCompletion(
      Streaming.minhashNearDups(stream,
          horizon = java.time.Duration.ofDays(365)).toDF(),
      "smh_test", outputMode = "update")
      .select($"id_a", $"id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Dedup.minhashNearDups(docs, "text", "doc_id")
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty) // fixture plants near-duplicates
  }

  test("idle near-dup bucket state is evicted at the event-time horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Streaming.Doc]
    val q = Streaming.minhashNearDups(in.toDS(),
        horizon = java.time.Duration.ofMinutes(10)).toDF()
      .writeStream.format("memory").queryName("smh_evict")
      .outputMode("update").start()
    def stateRows: Long = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    try {
      def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
      // 20 unique docs -> hundreds of one-off band buckets
      in.addData((0 until 20).map(i => Streaming.Doc(i.toLong,
        s"unique document number $i with words ${i * 7} ${i * 13} ${i * 31}",
        t(i))))
      q.processAllAvailable()
      val before = stateRows
      assert(before > 100, s"expected many live buckets, got $before")
      // advance the watermark far past every batch-1 timeout, then one
      // more batch so the timeout pass actually runs
      in.addData(Seq(Streaming.Doc(999L, "advance the watermark", t(100000))))
      q.processAllAvailable()
      in.addData(Seq(Streaming.Doc(1000L, "another tick", t(100001))))
      q.processAllAvailable()
      val after = stateRows
      // only the two fresh docs' buckets may remain — before the
      // EventTimeTimeout fix every batch-1 bucket lived forever
      assert(after < before && after <= 2 * 32,
        s"state rows $before -> $after; idle buckets must be evicted")
    } finally q.stop()
  }

  test("streaming embedding near-dup finds the batch operator's pairs") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_semb")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"vec_id"))
    vecs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(vecs.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Vec]
    val streamed = Streaming.runToCompletion(
      Streaming.embeddingNearDups(stream, threshold = 0.4,
          bits = 24, bands = 4,
          horizon = java.time.Duration.ofDays(365)).toDF(),
      "semb_test", outputMode = "update")
      .select($"id_a", $"id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Dedup.embeddingNearDups(vecs, "embedding",
        "vec_id", threshold = 0.4, bits = 24, bands = 4)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming perceptual-hash near-dup equals the batch q175 pairs " +
      "exactly (ids AND hamming)") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sph")
    val media = graft.ops.Multimodal.withSyntheticClassPng(
        spark.read.parquet(s"$dir/documents.parquet")
          .select($"doc_id").limit(120), "doc_id", 40)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    media.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(media.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Media]
    val streamed = Streaming.runToCompletion(
      Streaming.phashNearDups(stream,
          horizon = java.time.Duration.ofDays(365)).toDF(),
      "sph_test", outputMode = "update")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = graft.ops.Multimodal.withAHash(media.drop("ts"), "payload")
      .select($"doc_id", $"ahash_hi", $"ahash_lo")
    val batch = graft.ops.Multimodal.phashNearDups(sig, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // first-agreeing-band dedupe on both sides -> exact multiset parity
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming winnowing near-dup finds the batch shared-fingerprint pairs") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_swin")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Doc]
    val streamed = Streaming.runToCompletion(
      Streaming.winnowNearDups(stream,
          horizon = java.time.Duration.ofDays(365)).toDF(),
      "swin_test", outputMode = "update")
      .select($"id_a", $"id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: the q70 shared-fingerprint relation as distinct pairs
    val fps = docs.select($"doc_id",
      explode(graft.functions.SketchExpressions.winnow($"text", 3, 4))
        .as("fp"))
    val batch = fps.as("a").join(fps.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty) // fixture plants near-duplicate passages
  }

  test("streaming minhash hot bucket is capped: newest-K survive, no wedge") {
    // 10 identical documents -> every band bucket receives all 10; with
    // maxBucket=4 each arrival pairs against at most the 4 newest
    // residents: distinct pairs = sum_i min(i, 4) = 30 (uncapped: 45)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_smh_hot")
    val text = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(0, 10).toDF("doc_id")
      .withColumn("text", lit(text))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.Doc]
    val pairs = Streaming.runToCompletion(
      Streaming.minhashNearDups(stream,
          horizon = java.time.Duration.ofDays(365), maxBucket = 4).toDF(),
      "smh_hot_test", outputMode = "update")
      .select($"id_a", $"id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      i <- 1 until 10
      j <- math.max(0, i - 4) until i
    } yield (j.toLong, i.toLong)).toSet
    assert(pairs == want, s"got ${pairs.size} pairs, want ${want.size}")
  }

  test("streaming winnow and embedding hot buckets are capped like minhash's") {
    // 10 identical records -> every bucket receives all 10; with
    // maxBucket=4 each arrival pairs against at most the 4 newest
    // residents: distinct pairs = sum_i min(i, 4) = 30 (uncapped: 45)
    val want = (for {
      i <- 1 until 10
      j <- math.max(0, i - 4) until i
    } yield (j.toLong, i.toLong)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame, name: String) =
      Streaming.runToCompletion(df, name, outputMode = "update")
        .select($"id_a", $"id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val year = java.time.Duration.ofDays(365)

    val docDir = java.nio.file.Files.createTempDirectory("graft_swin_hot")
    val docs = spark.range(0, 10).toDF("doc_id")
      .withColumn("text", lit((1 to 40).map(i => s"boiler$i").mkString(" ")))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(docDir.toString + "/in")
    val docStream = spark.readStream.schema(docs.schema)
      .parquet(docDir.toString + "/in").as[Streaming.Doc]
    val winnow = pairs(Streaming.winnowNearDups(docStream, horizon = year,
      maxBucket = 4).toDF(), "swin_hot_test")
    assert(winnow == want, s"winnow: got ${winnow.size} pairs, want ${want.size}")

    val vecDir = java.nio.file.Files.createTempDirectory("graft_semb_hot")
    val vecs = spark.range(0, 10).toDF("vec_id")
      .withColumn("embedding", array((1 to 8).map(j => lit(j.toFloat)): _*))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"vec_id"))
    vecs.write.mode("overwrite").parquet(vecDir.toString + "/in")
    val vecStream = spark.readStream.schema(vecs.schema)
      .parquet(vecDir.toString + "/in").as[Streaming.Vec]
    val emb = pairs(Streaming.embeddingNearDups(vecStream, horizon = year,
      maxBucket = 4).toDF(), "semb_hot_test")
    assert(emb == want, s"embedding: got ${emb.size} pairs, want ${want.size}")
  }

  test("streaming per-group top-k matches the batch TopK aggregate") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stopk")
    val rows = spark.range(0, 500).toDF("id")
      .withColumn("grp", concat(lit("g"), col("id") % 3))
      .withColumn("score", (col("id") * 2654435761L % 100003).cast("double"))
    rows.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(rows.schema)
      .parquet(streamDir.toString + "/in")
      .selectExpr("grp", "id", "score").as[Streaming.Scored]
    // update mode re-emits ranks per batch; the memory sink keeps every
    // update, so take each (grp, rank)'s LAST emission as the final state
    val updates = Streaming.runToCompletion(
      Streaming.topKPerGroup(stream, k = 4).toDF(), "topk_test",
      outputMode = "update")
    val finals = updates.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap // later updates overwrite earlier ones in map order? enforce:
    // memory sink appends in emission order, so rebuild keeping last
    val lastPerRank = updates.collect().zipWithIndex
      .groupBy(r => (r._1.getString(0), r._1.getInt(1)))
      .map { case (key, arr) => key -> arr.maxBy(_._2)._1 }
    val got = lastPerRank.map { case ((grp, rank), r) =>
      (grp, rank, r.getLong(2), r.getDouble(3))
    }.toSet
    val want = graft.ops.TopK.perGroup(rows, Seq("grp"),
        Seq((col("score"), true), (col("id"), false)), 4, "rank")
      .collect().map(r => (r.getString(1), r.getInt(3),
        r.getLong(0), r.getDouble(2))).toSet
    assert(got == want, s"\ngot  $got\nwant $want")
    assert(finals.size == 12) // 3 groups x 4 ranks survived
  }

  test("streaming decontamination matches the batch shingle-probe") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sdecon")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    val evalDocs = docs.filter($"doc_id" % 50 === 0)
    val train = docs.filter($"doc_id" % 50 =!= 0)
    train.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(train.schema)
      .parquet(streamDir.toString + "/in")
    // complete mode: append would withhold windows still inside the
    // watermark (on a static source: all of them)
    val streamed = Streaming.runToCompletion(
      Streaming.decontaminate(stream, evalDocs, "text", "doc_id", "ts"),
      "decon_test", outputMode = "complete")
      // output now leads with window_start (r11: multi-window rows are
      // distinguishable); the fixture spans one window, so summing per
      // id equals the batch total
      .collect().groupBy(_.getLong(1))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).sum }
    // batch formulation (the q50 shape)
    val sh = graft.functions.SketchExpressions.word_shingles($"text", 4)
    val evalSh = evalDocs.select(explode(sh).as("sh")).distinct()
    val batch = train.select($"doc_id", explode(sh).as("sh"))
      .join(broadcast(evalSh), "sh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty) // near-dups of eval docs exist in the fixture
  }

  test("streaming keep-best dedup converges to the batch exactBest winner") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sbest")
    // the fixture has no exact duplicates — plant some: every 10th doc
    // re-appears twice more under HIGHER ids (later in replay order);
    // within each planted group the copies tie on quality, so the batch
    // (em, -id) rule keeps the ORIGINAL lowest id and the streaming
    // state must refuse the later equal-quality copies
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val dup1 = orig.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val dup2 = orig.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 20000).as("doc_id"), $"text")
    // punctuation-only suffix: the NORMALIZED digest is unchanged (same
    // dedup group) but the raw-text char entropy rises, so the batch
    // winner is this LATE high-id copy — exercising the retroactive
    // re-emit that emit-once streaming dedup cannot express
    val dup3 = orig.filter($"doc_id" % 10 === 5)
      .select(($"doc_id" + 30000).as("doc_id"),
        concat($"text", lit(" ;;;!!!???")).as("text"))
    val docs = orig.union(dup1).union(dup2).union(dup3)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in").as[Streaming.Doc]
    // update-mode upsert: downstream keeps the LAST emission per digest
    val updates = Streaming.runToCompletion(
      Streaming.dedupBest(stream).toDF(), "best_test",
      outputMode = "update").collect().zipWithIndex
    val got = updates.groupBy(_._1.getString(0))
      .map { case (dg, arr) =>
        val r = arr.maxBy(_._2)._1; dg -> (r.getLong(1), r.getLong(2))
      }
    // batch winner under the same (em, -id) ordering (the q117 chain)
    val em = round(round(element_at(graft.functions.SketchExpressions
      .char_entropy(lower(coalesce($"text", lit("")))), 2), 6) * 1e6)
      .cast("long")
    val want = graft.ops.Dedup.exactBest(
        docs.withColumn("em", em), "text", "doc_id", "em")
      .withColumn("digest", md5(graft.ops.Dedup.normalize($"text")))
      .collect().map(r => r.getAs[String]("digest") ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("em"))).toMap
    assert(got == want)
    assert(got.size < docs.count()) // the planted duplicates collapsed
    // the retroactive path fired: some winners are the late punctuated
    // copies, and the tie path held: no equal-quality late copy won
    assert(got.values.count(_._1 >= 30000) > 0)
    assert(got.values.count(v => v._1 >= 10000 && v._1 < 30000) == 0)
  }

  test("keep-best dedup merges null and empty text into ONE group like " +
      "the batch exactBest normalizeNN contract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Streaming.Doc]
    val q = Streaming.dedupBest(in.toDS()).toDF()
      .writeStream.format("memory").queryName("best_null")
      .outputMode("update").start()
    try {
      def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
      in.addData(Seq(
        Streaming.Doc(1L, null, t(0)), Streaming.Doc(2L, null, t(1)),
        Streaming.Doc(3L, "", t(2)), Streaming.Doc(4L, "   ", t(3))))
      q.processAllAvailable()
      val rows = spark.table("best_null").collect().zipWithIndex
      val winners = rows.groupBy(r => r._1.getString(0))
        .map { case (dg, arr) => dg -> arr.maxBy(_._2)._1.getLong(1) }
      // batch exactBest digests via normalizeNN: null == "" == "   ",
      // so all four docs are ONE dedup group; equal entropy quality
      // (all empty after normalize) ties break to the LOWEST id (1)
      assert(winners.size == 1, s"exactly one group: $winners")
      assert(winners.values.head == 1L, s"winner: $winners")
      // and the batch side agrees end-to-end
      import spark.implicits._
      val batch = graft.ops.Dedup.exactBest(
        Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
          (3L, ""), (4L, "   ")).toDF("doc_id", "text"),
        "text", "doc_id", "doc_id").collect()
      // (quality=doc_id here, so batch keeps id 4 — the point is ONE group)
      assert(batch.length == 1, s"one batch group: ${batch.toSeq}")
    } finally q.stop()
  }

  test("streaming length-drift monitor matches the batch KS per window") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_drift")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    // reference = the "accepted corpus" histogram artifact
    val ref = Streaming.lengthHistogram(docs.filter($"doc_id" % 3 === 0), "text")
    // delivery stream: two 1-hour windows of new docs
    val delivery = docs.filter($"doc_id" % 3 =!= 0)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) +
        when($"doc_id" % 2 === 0, 0L).otherwise(3600L)))
    delivery.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(delivery.schema)
      .parquet(streamDir.toString + "/in")
    val updates = Streaming.runToCompletion(
      Streaming.lengthDrift(stream, "text", "ts", ref).toDF(),
      "drift_test", outputMode = "update").collect().zipWithIndex
    val finals = updates.groupBy(_._1.getTimestamp(0))
      .map { case (ws, arr) =>
        val r = arr.maxBy(_._2)._1
        ws.getTime -> (r.getLong(1), r.getDouble(3), r.getLong(4))
      }
    assert(finals.size == 2)

    // batch expectation per window: the q120 integer formula between
    // the window's docs and the reference histogram
    val refDf = ref.toSeq.toDF("len", "nb")
    finals.foreach { case (wsMs, (nGot, ksGot, atGot)) =>
      val slice = delivery.filter(unix_micros($"ts") / 1000L === wsMs ||
          (unix_micros($"ts") / 1000L >= wsMs &&
            unix_micros($"ts") / 1000L < wsMs + 3600000L))
        .select(size(filter(split($"text", "\\s+"), t => t =!= ""))
          .cast("long").as("len"))
      val hist = slice.groupBy($"len").agg(count(lit(1)).as("na"))
        .join(refDf.withColumnRenamed("len", "rlen"),
          $"len" === $"rlen", "full")
        .select(coalesce($"len", $"rlen").as("l"),
          coalesce($"na", lit(0L)).as("na"),
          coalesce($"nb", lit(0L)).as("nb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod($"l", lit(1))).orderBy($"l")
      val tot = slice.count()
      val refN = ref.values.sum
      val cum = hist.withColumn("ca", sum($"na").over(w))
        .withColumn("cb", sum($"nb").over(w))
        .withColumn("d", abs($"ca" * refN - $"cb" * tot))
      val mx = cum.agg(max($"d")).head().getLong(0)
      val atLen = cum.filter($"d" === mx).agg(min($"l")).head().getLong(0)
      val ksWant = BigDecimal(mx.toDouble / tot / refN)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(nGot == tot, s"window $wsMs n: $nGot vs $tot")
      assert(ksGot == ksWant, s"window $wsMs ks: $ksGot vs $ksWant")
      assert(atGot == atLen, s"window $wsMs at: $atGot vs $atLen")
      assert(ksGot > 0.0) // slices genuinely differ in this fixture
    }
  }

  test("streaming nb scoring matches the batch train+score under a fixed model") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_snb")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    // the production artifact: weights trained once on the batch corpus
    val w = graft.ops.NaiveBayes.trainWeights(docs, "text",
      when($"lang" === "en", 1.0).otherwise(0.0), dims = 64)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val streamed = Streaming.runToCompletion(
      Streaming.nbScore(stream, "text", w, dims = 64)
        .select($"doc_id", $"nb_score", $"pred_en"),
      "snb_test")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    val batch = graft.ops.NaiveBayes.trainScore(docs, "text",
        when($"lang" === "en", 1.0).otherwise(0.0), dims = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(streamed == batch, s"n=${streamed.size} vs ${batch.size}")
    assert(batch.values.exists(_._2) && batch.values.exists(!_._2))
  }

  test("streaming logreg scoring matches the batch expression under a fixed model") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_slr")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    // the production artifact: micro-unit weights trained once in batch
    val wRows = graft.ops.LogReg.train(docs, "text",
      when($"lang" === "en", 1.0).otherwise(0.0), dims = 64, iters = 2)
      .collect()
    val w = new Array[Long](65)
    wRows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val streamed = Streaming.runToCompletion(
      Streaming.logRegScore(stream, "text", w, dims = 64)
        .select($"doc_id", $"p_pos", $"pred_pos"),
      "slr_test")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    val batch = docs.select($"doc_id",
        round(graft.ops.LogReg.scoreExpr($"text", w, 64), 6).as("p"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(1) > 0.5))).toMap
    assert(streamed == batch, s"n=${streamed.size} vs ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming bm25 scoring matches the batch formula under frozen stats") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sbm")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val terms = Seq("the", "data")
    // the production artifact: corpus stats frozen once in batch
    val st = graft.ops.Bm25.stats(docs, "text", terms)
    assert(st.n == docs.count())
    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val streamed = Streaming.runToCompletion(
      Streaming.bm25Score(stream, "text", st, terms)
        .select($"doc_id", $"score", $"relevant"),
      "sbm_test")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    val batch = docs.select($"doc_id",
        graft.ops.Bm25.scoreExpr($"text", st, terms).as("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(1) > 0.0))).toMap
    assert(streamed == batch, s"n=${streamed.size} vs ${batch.size}")
    assert(batch.values.exists(_._2))
    // the frozen stats match q91's broadcast-aggregate formulation: the
    // batch top-20 by the frozen-stats expression equals Bm25.score's
    val viaOp = graft.ops.Bm25.score(docs, "text", "doc_id", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val viaExpr = docs.select($"doc_id",
        graft.ops.Bm25.scoreExpr($"text", st, terms).as("s"))
      .orderBy($"s".desc, $"doc_id").limit(20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaOp == viaExpr)
  }

  test("streaming pii scrub is the stateless batch projection") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_spii")
    val docs = spark.range(0, 50).toDF("doc_id")
      .withColumn("text", concat(lit("reach me at u"), $"doc_id",
        lit("@x.org or 10.0."), $"doc_id" % 256, lit(".7 / +1-555-0042")))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + $"doc_id"))
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")

    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.piiScrub(stream, "text"), "spii_test")
    assert(out.count() == 50)
    val bad = out.filter($"redacted".contains("@") ||
      $"redacted".rlike("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}") ||
      $"redacted".contains("+1-555"))
    assert(bad.count() == 0)
    assert(out.filter($"redacted".contains("<EMAIL>") &&
      $"redacted".contains("<IP>") &&
      $"redacted".contains("<PHONE>")).count() == 50)
  }

  test("streaming funnel state matches the batch stage times exactly") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sfunnel")
    val ev = graft.queries.JoinQueries.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    ev.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val steps = Seq("view", "click", "purchase")
    val H = 604800000000L
    val stream = spark.readStream.schema(ev.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.FunnelEvent]
    val out = Streaming.runToCompletion(
      Streaming.funnelStages(stream, steps, H).toDF(),
      "sfunnel_test", outputMode = "update")
    // update mode: keep the final row per user (max stage)
    val s = out.groupBy("user_id")
      .agg(max("stage").as("stage"), max("t_last").as("t_last"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val batch = graft.ops.Funnel.stageTimes(ev, "user_id", "event_type",
      "us", steps, H).collect().map { r =>
      val times = (0 until steps.size).map(i => Option(r.get(i + 1)))
      val stage = times.takeWhile(_.isDefined).size
      r.getLong(0) -> (stage,
        times.takeWhile(_.isDefined).lastOption.flatten
          .map(_.asInstanceOf[Long]).getOrElse(0L))
    }.toMap
    val bReached = batch.filter(_._2._1 > 0)
    assert(bReached.nonEmpty)
    bReached.foreach { case (uid, (stage, tLast)) =>
      assert(s.get(uid).contains((stage, tLast)),
        s"user $uid: stream ${s.get(uid)} vs batch ($stage, $tLast)")
    }
    // users that never start the funnel emit nothing on the stream
    batch.filter(_._2._1 == 0).keys.foreach(uid => assert(!s.contains(uid)))
  }

  test("streaming embed-decontam matches the batch annotation exactly") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sdecon")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val evalDf = emb.filter(col("vec_id") % 50 === 0)
    corpus.write.mode("overwrite").parquet(streamDir.toString + "/in")
    // the between-restarts artifact: the eval set collected once
    val evalVecs = evalDf.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val stream = spark.readStream.schema(corpus.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.embedDecontam(stream, "embedding", evalVecs), "sdecon_test")
    val batch = graft.ops.Ann.semanticDecontam(corpus, evalDf, "embedding")
    val key = Seq("vec_id", "max_sim_u").map(col)
    assert(out.select(key: _*).except(batch.select(key: _*)).isEmpty)
    assert(batch.select(key: _*).except(out.select(key: _*)).isEmpty)
    assert(out.count() == corpus.count())
  }

  test("streaming gopher gate matches the batch rule projection") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sgopher")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.gopherGate(stream, "text"), "sgopher_test")
    val batch = graft.ops.Gopher.withRules(docs, "text")
    val key = Seq("doc_id", "r_wordcount", "r_meanlen", "r_alpha",
      "r_stop", "r_symbol", "pass").map(col)
    assert(out.select(key: _*).except(batch.select(key: _*)).isEmpty)
    assert(batch.select(key: _*).except(out.select(key: _*)).isEmpty)
    // the gate does real work on this corpus: both verdicts occur
    val n = batch.count()
    val p = batch.filter(col("pass")).count()
    assert(p > 0 && p < n, s"degenerate gate: $p of $n pass")
  }

  test("streaming markov transitions match the batch lead() pairs") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_smarkov")
    val ev = graft.queries.JoinQueries.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    ev.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val stream = spark.readStream.schema(ev.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.FunnelEvent]
    val out = Streaming.runToCompletion(
      Streaming.markovTransitions(stream).toDF(), "smarkov_test")
    val s = out.groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // batch side under q137's exact (us, event_id) tie order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val batch = ev.withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(s == batch)
    assert(batch.values.sum > 0)
  }

  test("streaming markov tie-break matches batch lead() on same-us events") {
    // three same-timestamp events per user whose event_id order differs
    // from their lexicographic type order: only the (us, event_id) sort
    // reproduces q137's lead() pairs (a (us, event_type) sort would emit
    // a→b→c instead of c→a→b for user 1)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_smtie")
    val rows = Seq(
      (1L, "c", 1000L, 10L), (1L, "a", 1000L, 11L), (1L, "b", 1000L, 12L),
      (2L, "b", 2000L, 20L), (2L, "a", 2000L, 21L), (2L, "c", 3000L, 22L))
    val ev = rows.toDF("user_id", "event_type", "us", "event_id")
    ev.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val stream = spark.readStream.schema(ev.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.FunnelEvent]
    val out = Streaming.runToCompletion(
      Streaming.markovTransitions(stream).toDF(), "smtie_test")
    val got = out.select("user_id", "from_type", "to_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "c", "a"), (1L, "a", "b"),
      (2L, "b", "a"), (2L, "a", "c")), s"got $got")
  }

  test("streaming retention cells match the batch cohort matrix") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sret")
    val ev = graft.queries.JoinQueries.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    ev.write.mode("overwrite").parquet(streamDir.toString + "/in")
    val stream = spark.readStream.schema(ev.schema)
      .parquet(streamDir.toString + "/in")
      .as[Streaming.FunnelEvent]
    val out = Streaming.runToCompletion(
      Streaming.retentionCells(stream).toDF(), "sret_test")
    val s = out.groupBy("cohort_week", "week_offset").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val batch = SparkEntry.queries("q136_retention_cohorts")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s == batch)
    assert(batch.values.sum > 0)
  }

  test("stream-stream interval join candidates reduce to batch last-touch") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ssattr")
    val ev = graft.queries.JoinQueries.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        (get_json_object(col("props"), "$.k").cast("long") % 10)
          .as("campaign"))
    purchases.write.mode("overwrite").parquet(streamDir.toString + "/p")
    clicks.write.mode("overwrite").parquet(streamDir.toString + "/c")
    val pS = spark.readStream.schema(purchases.schema)
      .parquet(streamDir.toString + "/p")
    val cS = spark.readStream.schema(clicks.schema)
      .parquet(streamDir.toString + "/c")
    val out = Streaming.runToCompletion(
      Streaming.attributionCandidates(pS, cS,
        java.time.Duration.ofDays(7)), "ssattr_test")
    // reduce candidates: last-touch = max (click_s, campaign) per purchase
    val got = out.groupBy("purchase_id")
      .agg(max(struct(col("click_s"), col("campaign"))).as("w"))
      .select(col("purchase_id"), col("w.campaign").as("campaign"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch truth: the same interval join + identical reduction — the
    // candidate multiset is the streaming op's contract, so equality is
    // EXACT (no tie slack)
    val batch = purchases.as("p")
      .join(clicks.withColumn("click_s", unix_timestamp(col("ts"))).as("c"),
        col("p.user_id") === col("c.user_id") &&
          col("c.ts") <= col("p.ts") &&
          unix_timestamp(col("p.ts")) - col("click_s") <= 604800L)
      .groupBy(col("purchase_id"))
      .agg(max(struct(col("click_s"), col("campaign"))).as("w"))
      .select(col("purchase_id"), col("w.campaign").as("campaign"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    assert(got == batch)
    // and the winner matches the as-of (q150) attribution wherever the
    // most-recent click is unique
    val asof = graft.ops.AsOf.join(
        purchases, clicks.withColumn("click_s", unix_timestamp(col("ts"))),
        "user_id", "ts", "ts",
        Map("campaign" -> "campaign", "click_s" -> "click_s"))
      .filter(col("click_s").isNotNull &&
        unix_timestamp(col("ts")) - col("click_s") <= 604800L)
      .select(col("purchase_id"), col("campaign"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asof.keySet == batch.keySet)
  }

  test("retention cells survive a checkpointed stop/restart unchanged") {
    // every other twin runs one-shot; this pins the RESTART contract:
    // half the input, stop, new query object from the SAME checkpoint,
    // rest of the input — the keyed state must resume, not reset, and
    // the appended output across both incarnations must equal the batch
    val root = java.nio.file.Files.createTempDirectory("graft_srestart")
    val ev = graft.queries.JoinQueries.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .orderBy("us")
    val n = ev.count()
    val rows = ev.collect()
    val schema = ev.schema
    def writePart(part: Array[org.apache.spark.sql.Row], name: String): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(part: _*), schema)
        .write.mode("append").parquet(root.toString + "/in")
    writePart(rows.take(n.toInt / 2), "p1")

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .parquet(root.toString + "/in")
        .as[Streaming.FunnelEvent]
      val q = Streaming.retentionCells(stream).toDF()
        .writeStream.format("parquet")
        .option("path", root.toString + "/out")
        .option("checkpointLocation", root.toString + "/ckpt")
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    runOnce() // first incarnation: first half
    writePart(rows.drop(n.toInt / 2), "p2")
    runOnce() // second incarnation: SAME checkpoint, rest of the input

    val got = spark.read.parquet(root.toString + "/out")
      .groupBy("cohort_week", "week_offset").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val batch = SparkEntry.queries("q136_retention_cohorts")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == batch)
    assert(batch.values.sum > 0)
  }

  test("streaming robust anomaly gate matches the batch q139 counts") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sanom")
    val ev = graft.queries.JoinQueries.events(spark, "/root/testdata/sf0.001")
    ev.write.mode("overwrite").parquet(streamDir.toString + "/in")
    // the deployment artifact: medians/MADs fit by the batch job
    val fit = SparkEntry.queries("q139_anomaly_robust")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val expected = SparkEntry.queries("q139_anomaly_robust")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val stream = spark.readStream.schema(ev.schema)
      .parquet(streamDir.toString + "/in")
    val out = Streaming.runToCompletion(
      Streaming.robustAnomalyGate(stream, "event_type", "value", fit),
      "sanom_test")
    val got = out.filter(col("is_anomaly"))
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    expected.foreach { case (t, n) =>
      assert(got.getOrElse(t, 0L) == n, s"type $t: ${got.get(t)} vs $n")
    }
  }
}
