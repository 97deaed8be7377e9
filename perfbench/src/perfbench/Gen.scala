package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.util.Random

/** Seeded input helpers shared by the workload generators. */
final class Gen(seed: Long, stream: Int) {
  val rnd = new Random(seed * 1000003L + stream)

  def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  /** Index drawn from a share vector (shares need not sum to 1). */
  def share(ws: Seq[Double]): Int = {
    var x = rnd.nextDouble() * ws.sum
    var i = 0
    while (i < ws.size - 1 && x >= ws(i)) { x -= ws(i); i += 1 }
    i
  }

  def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)

  /** An upper-case name of `lo`..`hi` letters. */
  def name(lo: Int = 4, hi: Int = 9): String = {
    val n = between(lo, hi)
    val b = new StringBuilder
    (0 until n).foreach(_ => b.append(('A' + rnd.nextInt(26)).toChar))
    b.toString
  }

  /** `s` with `d` substitutions at distinct positions (OSA distance <= d;
    * callers verify the exact distance). */
  def perturb(s: String, d: Int): String = {
    val pos = rnd.shuffle((0 until s.length).toList).take(d)
    val c = s.toCharArray
    pos.foreach { p =>
      var x = c(p)
      while (x == c(p)) x = ('A' + rnd.nextInt(26)).toChar
      c(p) = x
    }
    new String(c)
  }

  def date(from: LocalDate, spanDays: Int): LocalDate = from.plusDays(rnd.nextInt(spanDays))
}

object Gen {

  /** Optimal string alignment distance (adjacent transpositions count one). */
  def osa(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    val d = Array.ofDim[Int](n + 1, m + 1)
    for (i <- 0 to n) d(i)(0) = i
    for (j <- 0 to m) d(0)(j) = j
    for (i <- 1 to n; j <- 1 to m) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
      if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
        v = math.min(v, d(i - 2)(j - 2) + 1)
      d(i)(j) = v
    }
    d(n)(m)
  }

  /** Write a CSV with a header; null or empty cells are written empty. */
  def writeCsv(path: String, header: Seq[String], rows: Iterable[Seq[Any]]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val b = new StringBuilder(header.mkString(",")).append('\n')
    rows.foreach { r =>
      b.append(r.map(c => if (c == null) "" else c.toString).mkString(",")).append('\n')
    }
    Files.write(p, b.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Bytes of every regular file under `dir` (0 if absent). */
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      var t = 0L
      s.iterator().forEachRemaining(f => if (Files.isRegularFile(f)) t += Files.size(f))
      t
    }
  }

  /** Data files (not `.crc`, `_SUCCESS` or other hidden files) under `dir`. */
  def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p)) { s =>
      val b = Seq.newBuilder[java.nio.file.Path]
      s.iterator().forEachRemaining { f =>
        val n = f.getFileName.toString
        if (Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")) b += f
      }
      b.result()
    }
  }
}
