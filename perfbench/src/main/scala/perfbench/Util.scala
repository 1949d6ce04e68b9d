package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Small helpers shared by the harness: statistics, timing, JSON. */
object Util {

  /** Median of a non-empty sample (mean of the two middle values). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  /** The tail latency: the highest whole percentile that still has at
    * least `beyond` samples above it, but never below p90 (a run with
    * fewer than 100 samples reports its nearest-rank p90). Returns
    * (value, percentile, samples). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Int, Int) = {
    val n = xs.size
    // the sample at nearest rank k has n - k samples above it
    val p = (99 to 90 by -1).find { p =>
      n - math.max(1, math.ceil(p / 100.0 * n).toInt) >= beyond
    }.getOrElse(90)
    (percentile(xs, p), p, n)
  }

  /** Run tasks 0 until n on `threads` threads; results in task order. */
  def parallel[T](n: Int, threads: Int)(task: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val fs = pool.invokeAll((0 until n).map(k => new Callable[T] {
        def call(): T = task(k)
      }).asJava)
      fs.asScala.map(_.get()).toSeq
    } finally pool.shutdownNow()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally st.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(q => Files.isRegularFile(q)).mapToLong(q => Files.size(q)).sum()
      finally st.close()
    }

  def writeText(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Minimal JSON rendering for maps, sequences, numbers and strings. */
  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    def render(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => render(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
      case f: Float => render(f.toDouble)
      case i: Int => i.toString
      case l: Long => l.toString
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }
          .mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
      case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }
}
