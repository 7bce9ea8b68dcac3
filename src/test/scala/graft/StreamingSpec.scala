package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.streaming.DedupStream
import graft.streaming.DedupStream.{Frame, KeptFrame}
import graft.pipeline.PhashDedup

/** Streaming dedup must equal the batch fold, including across micro-batch
  * boundaries (state = last KEPT frame persists between batches). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .appName("graft-streaming")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("streaming near-dup vs static corpus index == batch, across micro-batches") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    // historical corpus: distinct docs + a near-dup cluster
    val corpus = Seq(
      ("c0", "the quick brown fox jumps over the lazy dog again and again"),
      ("c1", "completely different corpus text about spark execution plans"),
      ("c2", "the quick brown fox jumps over the lazy dog again and again!"),
      ("c3", "unrelated third document body with its own vocabulary set")
    ).toDF("doc_id", "text")
    val index = graft.streaming.NearDupStream.corpusIndex(corpus).cache()
    // incoming stream: near-dups of c0/c2, an exact dup of c1, a fresh doc
    val incoming = Seq(
      ("s0", "the quick brown fox jumps over the lazy dog again and again"),
      ("s1", "completely different corpus text about spark execution plans"),
      ("s2", "brand new document that matches nothing in the corpus at all"),
      ("s3", "the quick brown fox jumps over the lazy dog again + again"))
    val batchExpected = graft.streaming.NearDupStream
      .candidates(incoming.toDF("doc_id", "text"), index, maxDist = 16)
      .distinct().as[(String, String, Int)].collect().toSet
    assert(batchExpected.exists(_._1 == "s0") && batchExpected.exists(_._1 == "s1"))
    assert(!batchExpected.exists(_._1 == "s2"))

    val input = MemoryStream[(String, String)]
    val got = scala.collection.mutable.Set[(String, String, Int)]()
    val query = graft.streaming.NearDupStream
      .candidates(input.toDF().toDF("doc_id", "text"), index, maxDist = 16)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // production sink shape: per-batch distinct (bounded, stateless)
        got ++= batch.distinct().as[(String, String, Int)](
          org.apache.spark.sql.Encoders.product[(String, String, Int)]).collect()
        ()
      }.start()
    incoming.grouped(2).foreach { b => input.addData(b); query.processAllAvailable() }
    query.stop()
    assert(got.toSet == batchExpected)
  }

  test("persisted corpus index: O(1) manifest layout, failed build leaves live version") {
    val ss = spark; import ss.implicits._
    val corpus = Seq(
      ("c0", "the quick brown fox jumps over the lazy dog again and again"),
      ("c1", "completely different corpus text about spark execution plans"),
      ("c2", "the quick brown fox jumps over the lazy dog again and again!"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ndsidx").toString
    // non-default layout proves the manifest is READ, not defaulted
    graft.streaming.NearDupStream.buildIndex(corpus, s"$dir/idx", nBlocks = 8)
    assert(new java.io.File(s"$dir/idx/v_00000001/MANIFEST").isFile)
    val loaded = graft.streaming.NearDupStream.loadIndex(spark, s"$dir/idx")
    assert(loaded.nBlocks == 8)
    // persisted content == the in-memory corpusIndex shape, row for row
    val inMem = graft.streaming.NearDupStream.corpusIndex(corpus, nBlocks = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(loaded.df.collect().map(_.toString).sorted.toSeq == inMem)
    val incoming = Seq(
      ("s0", "the quick brown fox jumps over the lazy dog again and again"),
      ("s1", "brand new document that matches nothing in the corpus at all"))
      .toDF("doc_id", "text")
    // manifest path == scan-discovery path, row for row
    val viaManifest = loaded.candidates(incoming, maxDist = 16)
      .as[(String, String, Int)].collect().toSet
    val viaScan = graft.streaming.NearDupStream.candidates(
        incoming, loaded.df, maxDist = 16)
      .as[(String, String, Int)].collect().toSet
    assert(viaManifest == viaScan && viaManifest.exists(_._1 == "s0") &&
      !viaManifest.exists(_._1 == "s1"))
    // an in-memory concatenation of different layouts is still rejected
    // at the candidates seam (the persisted path can no longer even
    // EXPRESS a mixed layout: nblocks is a manifest-level property)
    val mixed = graft.streaming.NearDupStream.corpusIndex(corpus, nBlocks = 4)
      .unionByName(graft.streaming.NearDupStream.corpusIndex(corpus, nBlocks = 8))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.NearDupStream.candidates(incoming, mixed, maxDist = 16).collect()
    }
    assert(e.getMessage.contains("block layouts"))
    // a build whose job FAILS must leave the committed version fully
    // live (the fresh version dir has no manifest and is skipped)
    val bad = corpus.withColumn("text",
      org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("boom")))
    intercept[Exception] {
      graft.streaming.NearDupStream.buildIndex(bad, s"$dir/idx", nBlocks = 8)
    }
    val survivor = graft.streaming.NearDupStream.loadIndex(spark, s"$dir/idx")
    assert(survivor.nBlocks == 8 &&
      survivor.candidates(incoming, maxDist = 16)
        .as[(String, String, Int)].collect().toSet == viaManifest)
    // empty corpus: build succeeds (explicit manifest schema — no parquet
    // inference on the empty segment), loads with the declared layout
    graft.streaming.NearDupStream.buildIndex(corpus.limit(0), s"$dir/empty")
    val empty = graft.streaming.NearDupStream.loadIndex(spark, s"$dir/empty")
    assert(empty.nBlocks == 4 &&
      empty.candidates(incoming, maxDist = 16).collect().isEmpty)
  }

  test("flatMapGroupsWithState dedup == batch fold across micro-batches") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val r = new scala.util.Random(7)
    val docs = (0 until 5).map { d =>
      var h = r.nextLong()
      val frames = (1 to 40).map { i =>
        if (r.nextInt(3) != 0) h ^= (r.nextLong() & (0xffffL << r.nextInt(48)))
        Frame(s"doc_$d", i, h)
      }
      s"doc_$d" -> frames
    }.toMap

    val input = MemoryStream[Frame]
    val query = DedupStream.run(input.toDS())
      .writeStream.format("memory").queryName("kept").outputMode("append").start()
    // feed in 4 micro-batches, split WITHIN docs to exercise state carry
    val all = docs.values.flatten.toVector.sortBy(f => (f.frame_idx, f.doc_id))
    all.grouped(math.max(1, all.size / 4 + 1)).foreach { batch =>
      input.addData(batch)
      query.processAllAvailable()
    }
    val got = spark.table("kept").as[KeptFrame].collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.frame_idx).toVector).toMap

    docs.foreach { case (docId, frames) =>
      val expected = PhashDedup.dedupe(frames.map(f => (f.frame_idx, f.phash)))
      val gotDoc = got.getOrElse(docId, Vector.empty)
      assert(gotDoc.map(k => (k.frame_idx, k.page_num, k.phash)) == expected, s"$docId")
    }
    query.stop()
  }

  test("restart from checkpoint: stateful dedup across a stop/restart == uninterrupted fold") {
    // the streaming analog of the batch kill/rerun invariant (reference
    // resume semantics: src/layout_ocr.py:352-379): a REPLAYABLE source
    // (files), a transactional sink (parquet + checkpointLocation), and a
    // restart in between — the state store must recover last-kept-frame
    // state so the union of outputs equals the uninterrupted run
    val ss = spark; import ss.implicits._
    val base = java.nio.file.Files.createTempDirectory("dedup_ckpt").toString
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    val r = new scala.util.Random(13)
    val docs = (0 until 5).map { d =>
      var h = r.nextLong()
      val frames = (1 to 40).map { i =>
        if (r.nextInt(3) != 0) h ^= (r.nextLong() & (0xffffL << r.nextInt(48)))
        Frame(s"doc_$d", i, h)
      }
      s"doc_$d" -> frames
    }.toMap
    // 4 input files, split WITHIN docs so the restart lands mid-document
    // and the recovered state actually matters
    val all = docs.values.flatten.toVector.sortBy(f => (f.frame_idx, f.doc_id))
    val chunks = all.grouped(math.max(1, all.size / 4 + 1)).toVector
    def writeChunk(i: Int): Unit =
      chunks(i).toDS().repartition(1).write.parquet(s"$inDir/chunk=$i")

    def startQuery() = DedupStream.run(
        spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Frame]].schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$inDir/chunk=*").as[Frame])
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()

    // phase 1: first half of the input, then STOP the query
    writeChunk(0); writeChunk(1)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterPhase1 = spark.read.parquet(outDir).count()
    // phase 2: rest of the input arrives while no query is running; a
    // FRESH query (new instance, same checkpoint) must resume offsets +
    // state, not reprocess chunk 0/1 (no duplicate kept frames) and not
    // restart page numbering
    writeChunk(2); writeChunk(3)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir).as[KeptFrame].collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.frame_idx).toVector).toMap
    docs.foreach { case (docId, frames) =>
      val expected = PhashDedup.dedupe(frames.map(f => (f.frame_idx, f.phash)))
      val gotDoc = got.getOrElse(docId, Vector.empty)
      assert(gotDoc.map(k => (k.frame_idx, k.page_num, k.phash)) == expected, s"$docId")
    }
    // the restart really did split the work (phase 1 emitted some but not
    // all kept frames), so the parity above crossed a recovery boundary
    val total = got.valuesIterator.map(_.size).sum
    assert(afterPhase1 > 0 && afterPhase1 < total)
  }

  test("restart from checkpoint: stream-static near-dup across a stop/restart == batch") {
    // the stateless streaming op's recovery contract: offsets-only (no
    // state store) — a restart must neither skip nor duplicate incoming
    // files, and the stream-static join against the SAME persisted index
    // must reproduce the batch result exactly
    val ss = spark; import ss.implicits._
    val base = java.nio.file.Files.createTempDirectory("nd_ckpt").toString
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    val corpus = Seq(
      ("c0", "the quick brown fox jumps over the lazy dog again and again"),
      ("c1", "completely different corpus text about spark execution plans"),
      ("c2", "the quick brown fox jumps over the lazy dog again and again!"))
      .toDF("doc_id", "text")
    graft.streaming.NearDupStream.buildIndex(corpus, s"$base/idx")
    val index = graft.streaming.NearDupStream.loadIndex(spark, s"$base/idx")
    val incoming = Seq(
      ("s0", "the quick brown fox jumps over the lazy dog again and again"),
      ("s1", "completely different corpus text about spark execution plans"),
      ("s2", "brand new document that matches nothing in the corpus at all"),
      ("s3", "the quick brown fox jumps over the lazy dog again + again"))
    def writeChunk(i: Int, rows: Seq[(String, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1).write.parquet(s"$inDir/chunk=$i")
    def startQuery() = index.candidates(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
          .option("maxFilesPerTrigger", 1).parquet(s"$inDir/chunk=*"),
        maxDist = 16)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    writeChunk(0, incoming.take(2))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    writeChunk(1, incoming.drop(2))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir).distinct()
      .as[(String, String, Int)].collect().toSet
    val batch = index.candidates(incoming.toDF("doc_id", "text"), maxDist = 16)
      .distinct().as[(String, String, Int)].collect().toSet
    assert(got == batch && got.exists(_._1 == "s0") && !got.exists(_._1 == "s2"))
  }

  test("restart from checkpoint: watermarked windowed agg resumes watermark + window state") {
    // stateful-with-watermark recovery: windows finalized BEFORE the
    // stop must not re-emit, in-flight window state and the watermark
    // must survive the restart, and the union of appends must equal the
    // uninterrupted batch oracle over finalized windows
    val ss = spark; import ss.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    val base = java.nio.file.Files.createTempDirectory("ev_ckpt").toString
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    def writeChunk(i: Int, rows: Seq[(java.sql.Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "event_type", "value").repartition(1)
        .write.parquet(s"$inDir/chunk=$i")
    def startQuery() = graft.streaming.EventStream.windowedCounts(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
          .option("maxFilesPerTrigger", 1).parquet(s"$inDir/chunk=*"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir).start()
    // phase 1: fill [10:00,10:10) and advance the watermark past it
    writeChunk(0, Seq((t("10:00:10"), "view", 1.5), (t("10:03:00"), "view", 2.0),
      (t("10:06:00"), "purchase", 10.0)))
    writeChunk(1, Seq((t("10:35:00"), "view", 3.0)))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val phase1 = spark.read.parquet(outDir).count()
    assert(phase1 >= 1) // [10:00,10:10) finalized before the stop
    // phase 2 (new query, same checkpoint): a LATE event for the
    // already-finalized window must STILL be dropped (watermark
    // recovered, not reset), and the in-flight [10:30,10:40) window
    // must finalize exactly once with its pre-restart contents
    writeChunk(2, Seq((t("10:05:00"), "view", 99.0), (t("11:00:00"), "click", 1.0)))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir)
      .select("w_start", "w_end", "event_type", "n", "sum_value")
    val onTime = Seq((t("10:00:10"), "view", 1.5), (t("10:03:00"), "view", 2.0),
      (t("10:06:00"), "purchase", 10.0), (t("10:35:00"), "view", 3.0),
      (t("11:00:00"), "click", 1.0)).toDF("ts", "event_type", "value")
    val expected = graft.streaming.EventStream.windowedCountsBatch(onTime)
      .where(org.apache.spark.sql.functions.col("w_end") <= t("10:40:00"))
    assert(got.count() == 3 && expected.count() == 3)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("watermarked windowed agg: finalized windows == batch oracle, late events dropped") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")

    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = graft.streaming.EventStream.windowedCounts(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("wcounts").outputMode("append").start()
    // batch 1: two keys inside window [10:00, 10:10)
    input.addData(Seq((t("10:00:10"), "view", 1.5), (t("10:03:00"), "view", 2.0),
      (t("10:06:00"), "purchase", 10.0)))
    q.processAllAvailable()
    // batch 2: advances the watermark to 10:15 -> [10:00, 10:10) finalizes
    input.addData(Seq((t("10:35:00"), "view", 3.0)))
    q.processAllAvailable()
    // batch 3: a LATE event for the already-finalized window (dropped) +
    // an event advancing the watermark to 10:40 -> [10:30, 10:40) finalizes
    input.addData(Seq((t("10:05:00"), "view", 99.0), (t("11:00:00"), "click", 1.0)))
    q.processAllAvailable()

    val got = spark.table("wcounts")
      .select("w_start", "w_end", "event_type", "n", "sum_value")
    // the batch oracle over the ON-TIME events, restricted to windows the
    // watermark (10:40) finalized — the late 99.0 must NOT appear
    val onTime = Seq((t("10:00:10"), "view", 1.5), (t("10:03:00"), "view", 2.0),
      (t("10:06:00"), "purchase", 10.0), (t("10:35:00"), "view", 3.0),
      (t("11:00:00"), "click", 1.0)).toDF("ts", "event_type", "value")
    val expected = graft.streaming.EventStream.windowedCountsBatch(onTime)
      .where(org.apache.spark.sql.functions.col("w_end") <= t("10:40:00"))
    assert(got.count() == 3 && expected.count() == 3)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    q.stop()
  }

  test("streaming extraction == batch extraction over the same docs") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0 until 8).map(i => graft.io.SyntheticCorpus.genDoc(i.toLong))
    val input = MemoryStream[graft.model.InputDoc]
    val q = graft.pipeline.Extract.spans(input.toDS())
      .writeStream.format("memory").queryName("xspans").outputMode("append").start()
    docs.grouped(3).foreach { b => input.addData(b); q.processAllAvailable() }
    val got = spark.table("xspans")
    val expected = docs.flatMap(d => graft.pipeline.Extract.extractDoc(d).spans).toDF()
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    q.stop()
  }
}
