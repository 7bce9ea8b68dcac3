package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded near-dup corpus of text plus embeddings, in the band shape of
  * `graft.SkewBench` sized for a few cores. Ids are `<band><index>`, so a
  * result row shows which band it came from:
  *
  *  - `h` hot: one text (and one vector) repeated `hot` times, more than
  *    any bucket cap, so every capped op must suppress it observably;
  *  - `b` boiler: 700 distinct template texts (SkewBench's boilerplate
  *    formula), large exact-dup groups and over-cap near-dup buckets;
  *  - `w` warm: `warm` near-dups of one base text/vector, under the cap,
  *    so real pair expansion still happens and must find them;
  *  - `t` tail: unique random texts and vectors.
  *
  * Band sizes depend only on [[Bands]]; the seed drives the tail and the
  * near-dup mutations (warm tokens, boiler and warm vector noise). */
final case class Bands(n: Int, hot: Int, boiler: Int, warm: Int) {
  require(hot + boiler + warm < n, s"bands exceed the corpus: $this")
  def tail: Int = n - hot - boiler - warm
  def warmPairs: Long = warm.toLong * (warm - 1) / 2
}

object NearDupCorpus {
  final val Dim = 64

  val hotText: String = "the quick brown fox jumps over the lazy dog while the " +
    "spark executor shuffles partitions across the cluster ring"
  private val warmBase = "warm near duplicate family base text with stable shared " +
    "vocabulary tokens alpha beta gamma delta epsilon zeta eta theta"

  private def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L ^ (i + 0x632be59bd9b4e019L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def band(i: Int, b: Bands): Char =
    if (i < b.hot) 'h'
    else if (i < b.hot + b.boiler) 'b'
    else if (i < b.hot + b.boiler + b.warm) 'w'
    else 't'

  def docId(i: Int, b: Bands): String = f"${band(i, b)}$i%08d"

  def text(i: Int, b: Bands, seed: Long): String = band(i, b) match {
    case 'h' => hotText
    case 'b' =>
      s"boilerplate template ${i % 20} common header words repeated across the band " +
        s"with variant token v${i % 50} and marker m${i % 7} plus shared tail filler text"
    case 'w' => s"$warmBase mutated token u${new java.util.Random(mix(seed, i)).nextInt(1000000000)}"
    case _ =>
      val r = new java.util.Random(mix(seed, i))
      (0 until 24).map(_ => s"w${r.nextInt(500000)}").mkString(" ")
  }

  private def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var k = 0
    while (k < v.length) { s += v(k).toDouble * v(k); k += 1 }
    val inv = (1.0 / math.sqrt(math.max(s, 1e-12))).toFloat
    v.map(_ * inv)
  }

  private def gauss(seed: Long, scale: Float): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(Dim)((r.nextGaussian() * scale).toFloat)
  }

  private def plus(a: Array[Float], c: Array[Float]): Array[Float] =
    a.indices.map(k => a(k) + c(k)).toArray

  private lazy val hotVec = unit(gauss(42L, 1f))
  private lazy val warmVec = unit(gauss(4242L, 1f))
  private lazy val centers = (0 until 20).map(c => unit(gauss(1000L + c, 1f))).toArray

  def vector(i: Int, b: Bands, seed: Long): Array[Float] = band(i, b) match {
    case 'h' => hotVec
    case 'b' => unit(plus(centers(i % 20), gauss(mix(seed, i), 0.35f)))
    case 'w' => unit(plus(warmVec, gauss(mix(seed, i), 0.01f)))
    case _   => unit(gauss(mix(seed, i) * 7 + 3, 1f))
  }

  /** (doc_id, text) and (vec_id, embedding) over the same ids. */
  def generate(spark: SparkSession, b: Bands, seed: Long, partitions: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ids = spark.range(0, b.n, 1, partitions)
    val docs = ids.map { i => (docId(i.toInt, b), text(i.toInt, b, seed)) }.toDF("doc_id", "text")
    val emb = ids.map { i => (docId(i.toInt, b), vector(i.toInt, b, seed)) }
      .toDF("vec_id", "embedding")
    (docs, emb)
  }
}
