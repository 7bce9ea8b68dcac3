package perfbench

/** Output totals pinned for the default seed: a pass whose reference
  * signature differs from these is a failed output check. */
object Pins {
  val DefaultSeed = 1L

  private def nearDup(confirmed: Long, warmConfirmed: Long, embed: Long, embedSupBuckets: Long,
      embedSupRows: Long, lsh: Long, lshSupBuckets: Long, lshSupRows: Long, simhash: Long,
      simhashWarm: Long, simhashSupBuckets: Long, simhashSupRows: Long, spanChars: Long,
      spanRows: Long, warm: Long): Map[String, Long] = Map(
    "confirmed.rows" -> confirmed, "confirmed.warm" -> warmConfirmed,
    "embed.rows" -> embed, "embed.warm" -> warm,
    "embed_sup.suppressed_buckets" -> embedSupBuckets, "embed_sup.suppressed_rows" -> embedSupRows,
    "lsh.rows" -> lsh, "lsh.warm" -> warm,
    "lsh_sup.suppressed_buckets" -> lshSupBuckets, "lsh_sup.suppressed_rows" -> lshSupRows,
    "simhash.rows" -> simhash, "simhash.warm" -> simhashWarm,
    "simhash_sup.suppressed_buckets" -> simhashSupBuckets,
    "simhash_sup.suppressed_rows" -> simhashSupRows,
    "spans.chars" -> spanChars, "spans.rows" -> spanRows)

  private val pinned: Map[(String, String), Map[String, Long]] = Map(
    ("extract_mem", "full") -> Map("docs" -> 8000L, "spans" -> 1421636L, "chars" -> 17814491L,
      "errors" -> 10041L, "digest" -> 9037029505725317140L),
    ("checkpoint", "full") -> Map("docs" -> 2000L, "spans" -> 357129L,
      "chars" -> 4479035L, "errors" -> 2535L, "digest" -> -280570710706854703L),
    ("neardup", "full") -> nearDup(confirmed = 17169, warmConfirmed = 1770, embed = 1770,
      embedSupBuckets = 4, embedSupRows = 2403, lsh = 81653, lshSupBuckets = 8,
      lshSupRows = 5200, simhash = 21766, simhashWarm = 279, simhashSupBuckets = 4,
      simhashSupRows = 2400, spanChars = 168079, spanRows = 5706, warm = 1770),
    ("extract_mem", "tiny") -> Map("docs" -> 300L, "spans" -> 45184L, "chars" -> 556622L,
      "errors" -> 297L, "digest" -> 1173477951548225255L),
    ("checkpoint", "tiny") -> Map("docs" -> 200L, "spans" -> 29500L, "chars" -> 363562L,
      "errors" -> 180L, "digest" -> -3757992604282228201L),
    ("neardup", "tiny") -> nearDup(confirmed = 1105, warmConfirmed = 190, embed = 190,
      embedSupBuckets = 4, embedSupRows = 600, lsh = 5147, lshSupBuckets = 8, lshSupRows = 1300,
      simhash = 1383, simhashWarm = 35, simhashSupBuckets = 4, simhashSupRows = 601,
      spanChars = 37945, spanRows = 872, warm = 190))

  def check(workload: String, scale: String, seed: Long, sig: Map[String, Long]): Option[String] =
    if (seed != DefaultSeed) None
    else pinned.get((workload, scale)).filter(_ != sig)
      .map(p => s"seed $seed signature $sig differs from the pinned $p")
}
