package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

/** Sizes of the three workloads' inputs. `full` is what the benchmark
  * measures; `tiny` only exercises the harness (smoke test). */
final case class Scale(extractDocs: Int, extractParts: Int, ckptDocs: Int, ckptBuckets: Int,
    bands: Bands, cap: Int, embedCap: Int, nearParts: Int, setupReps: Int)

object Scale {
  val all: Map[String, Scale] = Map(
    "full" -> Scale(extractDocs = 8000, extractParts = 32, ckptDocs = 2000, ckptBuckets = 4,
      bands = Bands(n = 2000, hot = 600, boiler = 400, warm = 60), cap = 500,
      embedCap = 500, nearParts = 16, setupReps = 3),
    "tiny" -> Scale(extractDocs = 300, extractParts = 8, ckptDocs = 200, ckptBuckets = 4,
      bands = Bands(n = 600, hot = 150, boiler = 100, warm = 20), cap = 100,
      embedCap = 100, nearParts = 8, setupReps = 2))
}

/** The metric names the benchmark prints, with their units. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "docs_per_s" -> "docs/s",
    "cpu_s_per_kdoc" -> "s/kdoc", "ok_ratio" -> "ratio")

  /** Per-layer metrics of a traced run. A layer that is not on a workload's
    * path reads 0 for that workload. Spark and exchange counters are per
    * traced pass. */
  val perLayer: Seq[(String, String)] = Seq(
    "io.gen_us_per_doc" -> "us", "io.stage_s" -> "s", "io.scan_s" -> "s", "io.input_mb" -> "MB",
    "parse.us_per_doc" -> "us", "parse.pages_per_doc" -> "count",
    "analyze.us_per_doc" -> "us", "analyze.running_head_ratio" -> "ratio",
    "extract.kernel_us_per_doc" -> "us", "extract.emit_us_per_doc" -> "us",
    "extract.spans_per_doc" -> "count", "extract.kernel_share" -> "ratio",
    "checkpoint.docs_per_s" -> "docs/s", "checkpoint.buckets" -> "count",
    "checkpoint.jobs_per_bucket" -> "count",
    "checkpoint.output_mb" -> "MB", "checkpoint.write_amp" -> "ratio",
    "checkpoint.idle_core_share" -> "ratio", "checkpoint.resume_s" -> "s",
    "dedup.minhash_s" -> "s", "dedup.lsh_pairs_s" -> "s", "dedup.jaccard_s" -> "s",
    "dedup.simhash_s" -> "s", "dedup.dup_spans_s" -> "s", "similarity.embed_s" -> "s",
    "dedup.lsh_candidates" -> "count", "dedup.lsh_confirmed" -> "count",
    "similarity.embed_pairs" -> "count", "dedup.lsh_precision" -> "ratio",
    "dedup.suppressed_buckets" -> "count", "dedup.suppressed_rows" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.task_skew" -> "ratio", "spark.failed_tasks" -> "count",
    "spark.peak_exec_mem_mb" -> "MB",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_read_mb" -> "MB",
    "exchange.fetch_wait_s" -> "s", "exchange.spill_mb" -> "MB",
    "host.steal_share" -> "ratio", "host.iowait_share" -> "ratio", "host.gc_s" -> "s",
    "peak_rss_mb" -> "MB", "trace_overhead_ratio" -> "ratio", "failed_ratio" -> "ratio",
    "bench.passes" -> "count")
}

/** One pass: host counters over it, and its check outcome and signature. */
final case class PassStat(host: HostDelta, error: Option[String], sig: Map[String, Long])

/** The passes of one measured window. */
final class Window(val stats: Seq[PassStat], val totals: TaskTotals,
    val layerSeconds: Map[String, Double], docs: Long) {
  def passes: Int = stats.size
  def failed: Int = stats.count(_.error.isDefined)
  def lastSignature: Map[String, Long] = stats.last.sig
  private def timed: Seq[PassStat] = {
    val ok = stats.filter(_.error.isEmpty)
    if (ok.nonEmpty) ok else stats
  }
  def docsPerS: Double = Stats.median(timed.map(docs / _.host.wallS))
  def cpuSPerKdoc: Double = Stats.median(timed.map(_.host.cpuS / (docs / 1000.0)))
}

/** Benchmark entry: one workload, one seed, one JVM.
  *
  * {{{ perfbench.Main --workload W --seed N --seconds S --trace 0|1 --scale full|tiny --work DIR }}}
  *
  * Set-up runs `setupReps` times, each in a fresh local session; the
  * median is `setup_s`. Untimed warm-up passes run for `--seconds`; the
  * first fixes the reference signature (pinned for the default seed). Then
  * timed passes repeat until `--seconds` have gone by. With `--trace 1` traced passes alternate with
  * the untraced ones over twice that time; then come the layer
  * measurements, and the spans are written.
  * Human-readable lines go to stdout; the result JSON goes to
  * `DIR/result.json`. `--workload shape` checks that a held-out seed gives
  * the same load shape instead. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: String, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", kv.getOrElse("scale", "full"), Paths.get(get("work")).toAbsolutePath)
    require(Scale.all.contains(a.scale), s"unknown scale ${a.scale}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def message(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${root.getMessage}"
  }

  def run(a: Args): Int = {
    val scale = Scale.all(a.scale)
    if (a.workload == "shape") return Shape.check(a.seed)
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = a.workload match {
      case "extract_mem" =>
        new ExtractMem(scale.extractDocs, scale.extractParts, a.seed,
          new CheckpointLayer(scale.ckptDocs, scale.ckptBuckets, math.min(cores, 4), a.seed,
            a.work.resolve("checkpoint"), a.scale), cores)
      case "neardup" =>
        new NearDup(scale.bands, scale.cap, scale.embedCap, scale.nearParts, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer
    var spark: SparkSession = null
    val setupS = (1 to scale.setupReps).map { rep =>
      if (spark != null) spark.stop()
      val s = Stats.time {
        spark = session(cores, a.work)
        tracer.attach(spark.sparkContext)
        w.setup(spark, tracer)
      }._2
      println(f"setup $rep: $s%.3f s")
      s
    }
    try {
      var refSig: Option[Map[String, Long]] = None
      var k = 0
      def onePass(): PassStat = {
        k += 1
        val before = HostSample.now()
        val ran = Try(w.pass(spark, tracer, k))
        val host = HostSample.now() - before
        val checked = ran.flatMap(_ => Try(tracer.span("check") { w.verify(spark, k) }))
        val error = checked match {
          case Failure(e) => Some(message(e))
          case Success(sig) if refSig.exists(_ != sig) =>
            Some(s"signature $sig differs from the reference ${refSig.get}")
          case _ => None
        }
        println(f"pass $k%d: ${host.wallS}%.3f s, ${w.docs / host.wallS}%.1f docs/s, " +
          f"cpu ${host.cpuS}%.2f s, gc ${host.gcS}%.3f s, steal ${host.stealShare}%.4f, " +
          f"iowait ${host.iowaitShare}%.4f${error.fold("")(" FAILED: " + _)}")
        PassStat(host, error, checked.getOrElse(Map.empty))
      }

      // untimed: the reference every pass is checked against
      val refError: Option[String] = Try(w.reference(spark)) match {
        case Failure(e) => Some(s"reference check: ${message(e)}")
        case Success(_) =>
          // warm-up for as long as the window lasts: the JIT is still
          // compiling Spark's query planning and job submission for several passes
          val t0 = System.nanoTime()
          val first = onePass()
          first.error.orElse(Pins.check(a.workload, a.scale, a.seed, first.sig)).orElse {
            refSig = Some(first.sig)
            Iterator.continually(onePass())
              .find(p => p.error.isDefined || (System.nanoTime() - t0) / 1e9 >= a.seconds)
              .flatMap(_.error)
          }
      }
      refError.foreach(e => println(s"reference FAILED: $e"))
      refSig.foreach(s => println(s"reference signature: ${s.toSeq.sorted.mkString(", ")}"))

      // The window: untraced passes for `--seconds`; with `--trace 1`,
      // untraced and traced passes alternate for twice as long, so JIT
      // warm-up and host drift fall on both sides of the overhead ratio.
      if (a.trace) tracer.resetTotals()
      val from = tracer.nowMicros
      val plainStats, tracedStats = ArrayBuffer.empty[PassStat]
      val t0 = System.nanoTime()
      val length = if (a.trace) 2 * a.seconds else a.seconds
      do {
        val on = a.trace && plainStats.size > tracedStats.size
        tracer.setActive(on)
        (if (on) tracedStats else plainStats) += onePass()
      } while ((System.nanoTime() - t0) / 1e9 < length || (a.trace && tracedStats.isEmpty))
      tracer.setActive(a.trace)
      // a broken reference fails every pass
      def window(stats: Seq[PassStat], totals: TaskTotals, layers: Map[String, Double]) =
        new Window(stats.map(p => if (p.error.isEmpty) p.copy(error = refError) else p),
          totals, layers, w.docs)
      val plain = window(plainStats.toSeq, new TaskTotals, Map.empty)
      val windows = ArrayBuffer(plain)
      val metrics: Seq[(String, Double)] =
        if (!a.trace) Seq("setup_s" -> Stats.median(setupS), "docs_per_s" -> plain.docsPerS,
          "cpu_s_per_kdoc" -> plain.cpuSPerKdoc,
          "ok_ratio" -> (plain.passes - plain.failed).toDouble / plain.passes)
        else {
          val traced = window(tracedStats.toSeq, tracer.totals, tracer.layerSeconds(from))
          windows += traced
          val layered = layerMetrics(a, scale, w, spark, tracer, plain, traced, cores)
          val spans = a.work.resolve("trace").resolve(s"${a.workload}-seed${a.seed}.spans.jsonl")
          tracer.drain()
          tracer.write(spans)
          println(s"spans: ${tracer.spanCount} written to $spans")
          layered
        }
      val attempted = windows.map(_.passes).sum
      val failed = windows.map(_.failed).sum
      println(f"${a.workload}: ${plain.passes} untraced passes, docs/s median " +
        f"${plain.docsPerS}%.1f over ${plain.passes} samples; failed $failed of $attempted")
      writeResult(a.work, refError.isEmpty && failed == 0, attempted, failed, metrics,
        (if (a.trace) Metrics.perLayer else Metrics.endToEnd).toMap)
      0
    } finally spark.stop()
  }

  private def layerMetrics(a: Args, scale: Scale, w: Workload, spark: SparkSession,
      tracer: Tracer, plain: Window, traced: Window, cores: Int): Seq[(String, Double)] = {
    val serial: Map[String, Double] = a.workload match {
      case "neardup" => Map("io.gen_us_per_doc" -> Layers.nearDupGen(scale.bands, a.seed))
      case _ =>
        val l = Layers.extraction(a.seed)
        l + ("extract.kernel_share" ->
          l("extract.kernel_us_per_doc") * plain.docsPerS / (cores * 1e6))
    }
    val t = traced.totals
    val n = traced.passes.toDouble
    val all = traced.stats ++ plain.stats
    val common = Map(
      "spark.jobs" -> t.jobs / n, "spark.tasks" -> t.tasks / n,
      "spark.executor_run_s" -> t.runMs / 1e3 / n, "spark.executor_cpu_s" -> t.cpuNs / 1e9 / n,
      "spark.gc_s" -> t.gcMs / 1e3 / n, "spark.sched_delay_s" -> t.schedDelayMs / 1e3 / n,
      "spark.task_skew" -> t.taskSkew, "spark.failed_tasks" -> t.failedTasks.toDouble,
      "spark.peak_exec_mem_mb" -> t.peakExecMem / 1048576.0,
      "exchange.shuffle_write_mb" -> t.shuffleWrite / 1048576.0 / n,
      "exchange.shuffle_read_mb" -> t.shuffleRead / 1048576.0 / n,
      "exchange.fetch_wait_s" -> t.fetchWaitMs / 1e3 / n,
      "exchange.spill_mb" -> t.spillDisk / 1048576.0 / n,
      "host.steal_share" -> all.map(_.host.stealShare).max,
      "host.iowait_share" -> all.map(_.host.iowaitShare).max,
      "host.gc_s" -> Stats.median(all.map(_.host.gcS)),
      "peak_rss_mb" -> HostSample.peakRssMb(),
      "trace_overhead_ratio" -> traced.docsPerS / plain.docsPerS,
      "failed_ratio" -> (plain.failed + traced.failed).toDouble / (plain.passes + traced.passes),
      "bench.passes" -> plain.passes.toDouble)
    val measured = serial ++ common ++
      tracer.span("layer_metrics") { w.layerMetrics(spark, tracer, traced) }
    val unknown = measured.keySet -- Metrics.perLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    Metrics.perLayer.map { case (name, _) => name -> measured.getOrElse(name, 0.0) }
  }

  private def writeResult(work: Path, correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double)], units: Map[String, String]): Unit = {
    val body = metrics.map { case (name, v) =>
      s"${Json.str(name)}:{\"value\":${Json.value(v)},\"unit\":${Json.str(units(name))}}"
    }.mkString(",")
    val json = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
    Files.mkdirs(work)
    java.nio.file.Files.write(work.resolve("result.json"), json.getBytes("UTF-8"))
  }
}

/** Held-out-seed load-shape check: the corpus a seed generates must have
  * the same doc count, heavy-tail share and near-dup band sizes as any
  * other seed's, so seeds change the inputs but not the load. */
object Shape {
  val HeldOutSeed = 7919L

  def check(seed: Long): Int = {
    val s = Scale.all("full")
    val b = s.bands
    val rows = Seq(seed, HeldOutSeed).map { sd =>
      val texts = (0 until b.n).map(NearDupCorpus.text(_, b, sd))
      sd -> Map(
        "heavy_share" -> Layers.heavyShare(s.extractDocs, sd),
        "hot" -> texts.count(_ == NearDupCorpus.hotText).toDouble,
        "boiler" -> texts.count(_.startsWith("boilerplate template")).toDouble,
        "warm" -> texts.count(_.startsWith("warm near duplicate family")).toDouble,
        "tail_distinct" ->
          texts.filter(t => t.startsWith("w") && !t.startsWith("warm")).distinct.size.toDouble)
    }
    val errors = rows.flatMap { case (sd, m) =>
      Seq(
        Option.when(math.abs(m("heavy_share") - 0.02) > 0.006)(
          s"seed $sd heavy share ${m("heavy_share")}"),
        Option.when(m("hot") != b.hot || m("boiler") != b.boiler || m("warm") != b.warm)(
          s"seed $sd bands $m differ from $b"),
        Option.when(m("tail_distinct") != b.tail)(s"seed $sd tail has duplicates")).flatten
    }
    rows.foreach { case (sd, m) =>
      println(s"""{"seed":$sd,${m.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}""")
    }
    errors.foreach(e => println(s"shape FAILED: $e"))
    if (errors.isEmpty) 0 else 1
  }
}
