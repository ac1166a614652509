package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator and plain-Scala ground truth. The same
  * (seed, size) always gives the same lines. Files are written under the
  * run's work directory, named by (seed, size) and renamed into place
  * atomically, so a reader never sees a half-written input. */
object Inputs {

  private val Domains = Array("example.com", "mail.org", "inbox.net",
    "post.io", "corp.example", "uni.edu", "web.de", "letters.co.uk")
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"
  private val AlphaNum = Alpha + "0123456789"

  private def pick(r: SplittableRandom, s: String, n: Int): String = {
    val b = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { b.append(s.charAt(r.nextInt(s.length))); i += 1 }
    b.toString
  }

  /** `n` integer lines in [-n/4, n/4], so |x| repeats often. */
  def ints(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val bound = math.max(1, n / 4)
    Array.fill(n)(r.nextInt(-bound, bound + 1).toString)
  }

  /** `n` distinct e-mail address lines (the reference's input) whose min
    * unique prefix is exactly `len`, so the work per pass does not depend
    * on the seed: the first `len` characters differ between every two
    * lines, and the first two lines share `len - 1` of them. */
  def emails(seed: Long, n: Int, len: Int): Array[String] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3 + len * 7919L + n)
    val heads = mutable.LinkedHashSet.empty[String]
    val first = pick(r, Alpha, len)
    heads += first
    heads += first.dropRight(1) + Alpha((Alpha.indexOf(first.last) + 1) % 26)
    while (heads.size < n) heads += pick(r, Alpha, len)
    heads.toArray.map { h =>
      val sep = if (r.nextInt(3) == 0) "." else ""
      s"$h$sep${pick(r, AlphaNum, 3 + r.nextInt(5))}@${Domains(r.nextInt(Domains.length))}"
    }
  }

  /** Writes `lines` to `dir/name` through a temp file and an atomic
    * rename. */
  def write(dir: Path, name: String, lines: Array[String]): Path = {
    Files.createDirectories(dir)
    val target = dir.resolve(name)
    val tmp = Files.createTempFile(dir, name, ".tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    target
  }

  private def lcp(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    i
  }

  /** Max adjacent LCP + 1 over the sorted lines; -1 with a duplicate line
    * or beyond `maxLen`. */
  def minUniqueLen(lines: Array[String], maxLen: Int): Int = {
    val s = lines.sorted
    var mx = 0
    var dup = false
    var i = 1
    while (i < s.length) {
      if (s(i) == s(i - 1)) dup = true
      mx = math.max(mx, lcp(s(i - 1), s(i)))
      i += 1
    }
    if (dup || mx + 1 > maxLen) -1 else mx + 1
  }

  /** Word -> count with the lecture's tokenization: lower case, drop
    * every character but letters and spaces, split on whitespace. */
  def wordCounts(lines: Array[String]): Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    lines.foreach { l =>
      l.toLowerCase.replaceAll("[^a-z ]", "").split("\\s+")
        .foreach(w => if (w.nonEmpty) m(w) = m.getOrElse(w, 0L) + 1)
    }
    m.toMap
  }

  def sumOfSquares(ints: Array[String]): Long =
    ints.iterator.map { s => val x = s.toLong; x * x }.sum

  def distinctAbs(ints: Array[String]): Long =
    ints.iterator.map(s => math.abs(s.toLong)).toSet.size.toLong
}
