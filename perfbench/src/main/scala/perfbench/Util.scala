package perfbench

import java.nio.file.{Files => JFiles, Path}
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double  => d.toString
    case n: Number  => n.toString
    case b: Boolean => b.toString
    case null       => "null"
    case o          => str(o.toString)
  }
}

object Files {
  def mkdirs(p: Path): Unit = JFiles.createDirectories(p)

  def deleteRecursively(p: Path): Unit =
    if (JFiles.exists(p)) {
      val all = JFiles.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(JFiles.delete)
      finally all.close()
    }

  /** Bytes of the regular files under `p`, skipping hidden and `_`-prefixed
    * entries (checksums, commit markers, manifests). */
  def dataBytes(p: Path): Long =
    if (!JFiles.exists(p)) 0L
    else {
      val all = JFiles.walk(p)
      try all.iterator().asScala
        .filter(f => JFiles.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .map(JFiles.size).sum
      finally all.close()
    }
}
