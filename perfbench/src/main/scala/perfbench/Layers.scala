package perfbench

import graft.analyze.Headings
import graft.io.SyntheticCorpus
import graft.model.Heading
import graft.parse.PageParser
import graft.pipeline.Extract
import graft.text.Normalize

/** Serial, single-thread costs of the extraction layers over a fixed doc
  * sample: generator, parse, heading analysis and the whole kernel (emit is
  * the kernel minus parse and analysis). */
object Layers {
  private def pages(lines: Seq[(String, String, String)]): Int = lines.count(_._1 == "page")

  private def heavyIds(n: Int, seed: Long): Iterator[Long] =
    Iterator.range(0, n).map(_.toLong).filter(i => pages(SyntheticCorpus.genLines(i, seed)) >= 150)

  /** Evenly spaced doc ids plus the first two heavy-tail (150+ page) docs. */
  def sampleIds(n: Int, seed: Long, count: Int): Seq[Long] =
    ((0 until count).map(i => i.toLong * n / count) ++ heavyIds(n, seed).take(2)).distinct

  /** Share of the first `n` docs that are heavy-tail. */
  def heavyShare(n: Int, seed: Long): Double = heavyIds(n, seed).size.toDouble / n

  /** 245 ordinary docs plus the first 5 heavy-tail ones: the corpus's 2%
    * heavy share, so the per-doc costs do not swing with how many heavy
    * docs a seed happens to put into a small sample. */
  private def sample(seed: Long): Seq[Long] = {
    val heavy = heavyIds(Int.MaxValue, seed).take(5).toSet
    Iterator.from(0).map(_.toLong).filterNot(heavy).take(245).toSeq ++ heavy.toSeq.sorted
  }

  private def usPerDoc[A](items: Seq[A], rounds: Int)(f: A => Any): Double =
    Stats.median((0 to rounds).map { _ =>
      val t = System.nanoTime()
      items.foreach(f)
      (System.nanoTime() - t) / 1e3 / items.size
    }.drop(1)) // the first round warms the JIT

  def extraction(seed: Long, rounds: Int = 3): Map[String, Double] = {
    val ids = sample(seed)
    val docs = ids.map(SyntheticCorpus.genDoc(_, seed))
    val lines = docs.map(d => d.doc_id -> d.spans.sortBy(_.offset).map(_.text).toIndexedSeq)
    val parsed = lines.map { case (_, ls) => PageParser.parseDocument(ls) }
    val headings = parsed.map { p =>
      p.pages.flatMap(_.elements).collect { case h: Heading => h } -> p.pages.length
    }
    def analyze(hs: Vector[Heading], nPages: Int) = {
      val a = Headings.detectRunningHead(Headings.analyze(hs), nPages)
      (a, Headings.applyReadAloudRules(hs, a))
    }
    val genUs = usPerDoc(ids, rounds)(SyntheticCorpus.genDoc(_, seed))
    val parseUs = usPerDoc(lines, rounds) { case (_, ls) => PageParser.parseDocument(ls) }
    val analyzeUs = usPerDoc(headings, rounds) { case (hs, np) => analyze(hs, np) }
    val kernelUs = usPerDoc(lines, rounds) { case (id, ls) => Extract.extractLines(id, ls) }
    val running = headings.map { case (hs, np) =>
      val heads = analyze(hs, np)._1.filter(_.isRunningHead).map(_.text).toSet
      hs.count(h => heads.contains(Normalize.dashes(h.text)))
    }.sum
    val spans = lines.map { case (id, ls) => Extract.extractLines(id, ls).span_count }.sum
    Map("io.gen_us_per_doc" -> genUs, "parse.us_per_doc" -> parseUs,
      "parse.pages_per_doc" -> parsed.map(_.pages.length).sum.toDouble / ids.size,
      "analyze.us_per_doc" -> analyzeUs,
      "analyze.running_head_ratio" -> running.toDouble / math.max(1, headings.map(_._1.size).sum),
      "extract.kernel_us_per_doc" -> kernelUs,
      "extract.emit_us_per_doc" -> (kernelUs - parseUs - analyzeUs),
      "extract.spans_per_doc" -> spans.toDouble / ids.size)
  }

  /** Serial cost of the near-dup generator (text plus vector) per doc. */
  def nearDupGen(b: Bands, seed: Long, rounds: Int = 3): Double = {
    val ids = (0 until 2000).map(i => (i.toLong * b.n / 2000).toInt)
    usPerDoc(ids, rounds) { i =>
      NearDupCorpus.text(i, b, seed)
      NearDupCorpus.vector(i, b, seed)
    }
  }
}
