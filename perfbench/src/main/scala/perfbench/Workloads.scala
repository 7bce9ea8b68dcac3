package perfbench

import java.nio.file.Path
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.{SyntheticCorpus, TableIO}
import graft.model.InputDoc
import graft.ops.{Dedup, Similarity}
import graft.pipeline.{Checkpoint, Extract}

/** An output check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** The metrics of an observed action, as longs (missing sums read 0). */
  def observed(o: Observation): Map[String, Long] = {
    val row = Await.result(o.future, 120.seconds)
    row.schema.fieldNames.map(f => f -> Option(row.getAs[Any](f)).map {
      case n: Number => n.longValue
      case v         => throw new CheckFailed(s"observed $f is not a number: $v")
    }.getOrElse(0L)).toMap
  }

  /** Order-independent digest of rows: xor of the rows' 64-bit hashes. */
  def digest(cols: Column*): Column = coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))
}

/** One benchmark workload. The runner calls [[setup]] several times (each
  * in a fresh session; the last one's inputs are used), then [[reference]]
  * once, then [[pass]] / [[verify]] per pass. Only [[setup]] and [[pass]]
  * are timed. */
trait Workload {
  /** Input docs one pass completes. */
  def docs: Long
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** Untimed: compute what every pass is checked against. */
  def reference(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer, k: Int): Unit
  /** Untimed: check pass `k`'s output and return its signature, which must
    * equal every other pass's. Throws [[CheckFailed]]. */
  def verify(spark: SparkSession, k: Int): Map[String, Long]
  /** Traced run only: per-layer metrics this workload alone can measure. */
  def layerMetrics(spark: SparkSession, tr: Tracer, traced: Window): Map[String, Double]
}

/** `extract_mem`: `Extract.run` over a cached synthetic corpus into the
  * noop sink, so every DocResult column is serialized. Its traced run also
  * measures the [[CheckpointLayer]]. */
final class ExtractMem(n: Int, partitions: Int, seed: Long, checkpoint: CheckpointLayer,
    cores: Int) extends Workload {
  private var corpus: Dataset[InputDoc] = _
  private var obs: Observation = _

  def docs: Long = n

  def setup(spark: SparkSession, tr: Tracer): Unit = tr.span("io.generate_cache") {
    corpus = SyntheticCorpus.docs(spark, n, seed, partitions).cache()
    corpus.count()
  }

  /** The serial kernel over a fixed doc sample (evenly spaced ids plus the
    * first two heavy-tail docs) must equal the distributed path's rows. */
  def reference(spark: SparkSession): Unit = {
    val sample = Layers.sampleIds(n, seed, 24)
    val expected =
      sample.map(i => Extract.extractDoc(SyntheticCorpus.genDoc(i, seed))).sortBy(_.doc_id)
    val ids = expected.map(_.doc_id).toSet
    val got = Extract.run(corpus.filter((d: InputDoc) => ids.contains(d.doc_id))).collect()
      .sortBy(_.doc_id).toSeq
    Check(got == expected, s"Extract.run disagrees with serial extractDoc on the doc sample " +
      s"${expected.map(_.doc_id).mkString(",")}")
  }

  def pass(spark: SparkSession, tr: Tracer, k: Int): Unit = {
    obs = Observation(s"extract_mem_$k")
    tr.span("extract.run") {
      Extract.run(corpus)
        .observe(obs, count(lit(1)).as("docs"), sum("span_count").as("spans"),
          sum("char_count").as("chars"), sum(size(col("errors"))).as("errors"),
          Check.digest(col("doc_id"), col("spans"), col("errors"), col("n_pages")).as("digest"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  def verify(spark: SparkSession, k: Int): Map[String, Long] = {
    val m = Check.observed(obs)
    Check(m("docs") == n, s"extract_mem: ${m("docs")} docs out of $n")
    m
  }

  def layerMetrics(spark: SparkSession, tr: Tracer, traced: Window): Map[String, Double] =
    checkpoint.measure(spark, tr, cores)
}

/** The checkpoint layer: the `Main extract` path, measured inside the
  * traced `extract_mem` run (it is not a workload of its own: its passes,
  * dominated by per-bucket planning and commit work the JIT keeps speeding up for tens
  * of seconds, spread too widely from run to run). The corpus is staged into
  * the bucket(doc_id) layout; each pass runs `runPartitioned` into a fresh
  * output directory and is checked: all buckets committed, manifest totals
  * equal to the read-back span and error tables, and the read-back span
  * digest equal to fused `Extract.runLines` over the same staged corpus. */
final class CheckpointLayer(n: Int, buckets: Int, parallelism: Int, seed: Long, work: Path,
    scale: String) {
  private val staged = work.resolve("staged")
  private val cfg = TableIO.Cfg(nBuckets = buckets)
  private val spanCols =
    Seq("doc_id", "offset", "kind", "text", "media_ref", "page_no", "level", "read_aloud", "attrs")

  private def spanTotals(spans: DataFrame): Map[String, Long] = {
    val r = spans.agg(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L)),
      count_distinct(col("doc_id")), Check.digest(spanCols.map(col): _*)).head()
    Map("spans" -> r.getLong(0), "chars" -> r.getLong(1), "docs" -> r.getLong(2),
      "digest" -> r.getLong(3))
  }

  /** Fused `Extract.runLines` over the staged corpus. */
  private def reference(spark: SparkSession): Map[String, Long] = {
    import spark.implicits._
    val results = Extract.runLines(TableIO.pruneLines(spark.read.parquet(staged.toString)))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try spanTotals(results.flatMap(_.spans).toDF()) +
      ("errors" -> results.map(_.errors.size.toLong).reduce(_ + _))
    finally results.unpersist()
  }

  private def verify(spark: SparkSession, out: Path,
      manifests: Vector[Checkpoint.BucketManifest], ref: Map[String, Long]): Unit = {
    val back = spanTotals(spark.read.parquet(out.toString)) +
      ("errors" -> spark.read.parquet(s"$out/_errors/bucket=*").count())
    val man = Map("docs" -> manifests.map(_.nDocs).sum, "spans" -> manifests.map(_.spanCount).sum,
      "chars" -> manifests.map(_.charCount).sum, "errors" -> manifests.map(_.errorCount).sum)
    Check(manifests.size == buckets, s"checkpoint: ${manifests.size} of $buckets buckets committed")
    man.foreach { case (key, v) =>
      Check(back(key) == v, s"checkpoint: manifest $key=$v but the span table reads ${back(key)}")
    }
    Check(back == ref, s"checkpoint: read-back $back differs from fused runLines $ref")
  }

  def measure(spark: SparkSession, tr: Tracer, cores: Int, passes: Int = 3): Map[String, Double] =
    try {
      Files.deleteRecursively(work)
      val corpus = SyntheticCorpus.docs(spark, n, seed, 4 * parallelism)
      val stageS = Stats.time(tr.span("io.stage") {
        TableIO.writeDocs(corpus, staged.toString, cfg)
      })._2
      val ref = tr.span("checkpoint.reference") { reference(spark) }
      Pins.check("checkpoint", scale, seed, ref).foreach(e => throw new CheckFailed(e))
      val runs = (1 to passes).map { k =>
        val out = work.resolve(s"out-$k")
        tr.resetTotals()
        val (manifests, wall) = Stats.time(tr.span("checkpoint.runPartitioned") {
          Checkpoint.runPartitioned(spark, staged.toString, out.toString, cfg,
            parallelism = parallelism)
        })
        val totals = tr.totals
        tr.span("check") { verify(spark, out, manifests, ref) }
        (out, wall, totals.jobs, totals.runMs)
      }
      val last = runs.last._1
      val scanS = Stats.median((1 to 3).map(_ => Stats.time(tr.span("io.scan") {
        TableIO.pruneLines(spark.read.parquet(staged.toString))
          .write.format("noop").mode("overwrite").save()
      })._2))
      val resumeS = Stats.median((1 to 3).map { _ =>
        val (redone, s) = Stats.time(tr.span("checkpoint.resume") {
          Checkpoint.runPartitioned(spark, staged.toString, last.toString, cfg,
            parallelism = parallelism)
        })
        Check(redone.isEmpty, s"checkpoint: resume redid ${redone.size} committed buckets")
        s
      })
      val inMb = Files.dataBytes(staged) / 1048576.0
      val outMb = Files.dataBytes(last) / 1048576.0
      val walls = runs.map(_._2)
      Map("io.stage_s" -> stageS, "io.scan_s" -> scanS, "io.input_mb" -> inMb,
        "checkpoint.docs_per_s" -> n / Stats.median(walls),
        "checkpoint.buckets" -> buckets.toDouble,
        "checkpoint.jobs_per_bucket" -> runs.map(_._3).sum.toDouble / (passes * buckets),
        "checkpoint.output_mb" -> outMb, "checkpoint.write_amp" -> outMb / inMb,
        "checkpoint.idle_core_share" -> (1 - runs.map(_._4).sum / 1e3 / (cores * walls.sum)),
        "checkpoint.resume_s" -> resumeS)
    } finally Files.deleteRecursively(work)
}

/** `neardup`: the dedup family over the seeded near-dup corpus. */
final class NearDup(bands: Bands, cap: Int, embedCap: Int, partitions: Int, seed: Long)
    extends Workload {
  private var docsDf: DataFrame = _
  private var embDf: DataFrame = _
  private var obs: Seq[(String, Observation)] = Nil

  def docs: Long = bands.n

  def setup(spark: SparkSession, tr: Tracer): Unit = tr.span("io.generate_cache") {
    val (d, e) = NearDupCorpus.generate(spark, bands, seed, partitions)
    docsDf = d.cache()
    embDf = e.cache()
    docsDf.count()
    embDf.count()
  }

  def reference(spark: SparkSession): Unit = ()

  private def warm(a: String, b: String): Column =
    coalesce(sum(when(col(a).startsWith("w") && col(b).startsWith("w"), 1L).otherwise(0L)),
      lit(0L)).as("warm")

  private def counted(df: DataFrame, o: Observation, a: String, b: String): DataFrame =
    df.observe(o, count(lit(1)).as("rows"), warm(a, b))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def signatures: DataFrame =
    Dedup.minhashSignatures(docsDf, bands = 8, shingleK = 8, hashFamily = "xxhash64")
  private def lsh(sigs: DataFrame, o: Observation): DataFrame =
    Dedup.lshCandidatePairs(sigs, maxBucket = cap, suppressed = Some(o))
  private def confirmed(pairs: DataFrame): DataFrame =
    Dedup.ngramJaccard(docsDf, pairs).where(col("jaccard") >= 0.5)
  private def simhash(o: Observation): DataFrame =
    Dedup.simhashPairs(docsDf, maxDist = 3, maxBucket = cap, suppressed = Some(o))
  private def embed(o: Observation): DataFrame =
    Similarity.embeddingNearDups(embDf, NearDupCorpus.Dim, threshold = 0.95, nPlanes = 16,
      bands = 4, maxBucket = embedCap, suppressed = Some(o))
  private def dupSpans: DataFrame = Dedup.duplicateSpans(docsDf, k = 8, hashFamily = "xxhash64")

  def pass(spark: SparkSession, tr: Tracer, k: Int): Unit = {
    val o = Seq("lsh_sup", "lsh", "confirmed", "simhash_sup", "simhash", "embed_sup", "embed",
      "spans").map(name => name -> Observation(s"${name}_$k"))
    val ob = o.toMap
    obs = o
    tr.span("dedup.lsh_jaccard") {
      val candidates = counted(lsh(signatures, ob("lsh_sup")), ob("lsh"), "doc_a", "doc_b")
      noop(counted(confirmed(candidates), ob("confirmed"), "doc_a", "doc_b"))
    }
    tr.span("dedup.simhash") {
      noop(counted(simhash(ob("simhash_sup")), ob("simhash"), "doc_a", "doc_b"))
    }
    tr.span("similarity.embed") {
      noop(counted(embed(ob("embed_sup")), ob("embed"), "id_a", "id_b"))
    }
    tr.span("dedup.dup_spans") {
      noop(dupSpans.observe(ob("spans"), count(lit(1)).as("rows"), sum("span_len").as("chars")))
    }
  }

  def verify(spark: SparkSession, k: Int): Map[String, Long] = {
    val m = obs.flatMap { case (name, o) =>
      Check.observed(o).map { case (key, v) => s"$name.$key" -> v }
    }.toMap
    for (op <- Seq("lsh", "simhash", "embed")) {
      Check(m(s"${op}_sup.suppressed_rows") >= bands.hot,
        s"neardup: $op suppressed ${m(s"${op}_sup.suppressed_rows")} rows, " +
          s"fewer than the ${bands.hot}-doc hot clique")
    }
    // the warm family is under every cap: the Jaccard-verified LSH chain and
    // the embedding op must find most of its pairs; SimHash at distance 3
    // sees only part of a one-token mutation family, but must see some
    for (op <- Seq("confirmed", "embed")) {
      Check(m(s"$op.warm") * 2 > bands.warmPairs,
        s"neardup: $op found ${m(s"$op.warm")} of ${bands.warmPairs} warm-family pairs")
    }
    Check(m("simhash.warm") > 0, "neardup: simhash found no warm-family pair")
    Check(m("spans.rows") > 0, "neardup: no duplicate spans")
    m
  }

  def layerMetrics(spark: SparkSession, tr: Tracer, traced: Window): Map[String, Double] = {
    val last = traced.lastSignature
    def t(f: => Unit): Double = Stats.time(f)._2
    // each stage of the LSH chain timed alone, its input persisted first
    val minhashS = t(tr.span("dedup.minhash") { noop(signatures) })
    val sigs = signatures.persist(StorageLevel.MEMORY_ONLY)
    sigs.count()
    val lshS = t(tr.span("dedup.lsh_pairs") { noop(lsh(sigs, Observation("split_lsh"))) })
    val cand = lsh(sigs, Observation("split_lsh_cached")).persist(StorageLevel.MEMORY_ONLY)
    cand.count()
    val jaccardS = t(tr.span("dedup.jaccard") { noop(confirmed(cand)) })
    cand.unpersist()
    sigs.unpersist()
    val ops = traced.layerSeconds
    def suppressed(key: String): Double =
      Seq("lsh", "simhash", "embed").map(op => last(s"${op}_sup.$key")).sum.toDouble
    Map("dedup.minhash_s" -> minhashS, "dedup.lsh_pairs_s" -> lshS,
      "dedup.jaccard_s" -> jaccardS,
      "dedup.simhash_s" -> ops("dedup.simhash"), "dedup.dup_spans_s" -> ops("dedup.dup_spans"),
      "similarity.embed_s" -> ops("similarity.embed"),
      "dedup.lsh_candidates" -> last("lsh.rows").toDouble,
      "dedup.lsh_confirmed" -> last("confirmed.rows").toDouble,
      "similarity.embed_pairs" -> last("embed.rows").toDouble,
      "dedup.lsh_precision" -> last("confirmed.rows").toDouble / math.max(1L, last("lsh.rows")),
      "dedup.suppressed_buckets" -> suppressed("suppressed_buckets"),
      "dedup.suppressed_rows" -> suppressed("suppressed_rows"))
  }
}
