package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Zipf(s) over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def draw(rng: java.util.Random): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }

  /** A rank below `limit` (redraws past it). */
  def drawBelow(rng: java.util.Random, limit: Int): Int = {
    require(limit > 0, "empty population")
    var r = draw(rng)
    while (r >= limit) r = draw(rng)
    r
  }
}

/** Seeded synthetic text: words from a fixed vocabulary drawn with
  * Zipf frequencies, so documents share most of their words the way
  * natural text does. */
final class Vocab(seed: Long, size: Int = 4000, s: Double = 1.1) {
  val words: Array[String] = {
    val rng = new java.util.Random(seed ^ 0x5eedL)
    Array.tabulate(size) { _ =>
      val len = 2 + rng.nextInt(8)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }
  }
  private val zipf = new Zipf(size, s)

  /** A document of `minChars` to `maxChars` characters: a header line,
    * then sentences of Zipf words with paragraph breaks. */
  def doc(rng: java.util.Random, header: String, minChars: Int,
      maxChars: Int): String = {
    val target = minChars + rng.nextInt(maxChars - minChars + 1)
    val sb = new java.lang.StringBuilder(target + 16)
    sb.append(header).append('\n')
    var inSentence = 0
    while (sb.length < target) {
      val w = words(zipf.draw(rng))
      if (inSentence == 0) sb.append(w.substring(0, 1).toUpperCase)
        .append(w.substring(1))
      else sb.append(' ').append(w)
      inSentence += 1
      if (inSentence > 6 + rng.nextInt(12)) {
        sb.append(". ")
        inSentence = 0
        if (rng.nextInt(5) == 0) sb.append("\n\n")
      }
    }
    sb.setLength(target)
    sb.toString.trim
  }
}

object Corpus {
  /** Deterministic sub-seed for one (seed, name, version) triple. */
  def subSeed(seed: Long, name: String, version: Int): Long = {
    var h = seed * 0x9E3779B97F4A7C15L + version
    name.foreach(c => h = h * 31 + c)
    h ^ (h >>> 29)
  }

  /** `k` distinct values of 0 until n, in seeded random order. */
  def sample(seed: Long, n: Int, k: Int): Vector[Int] = {
    require(k <= n, s"cannot sample $k of $n")
    val rng = new java.util.Random(seed)
    val ids = Array.range(0, n)
    (0 until k).foreach { i =>
      val j = i + rng.nextInt(n - i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids.take(k).toVector
  }

  /** Write `content` to `target` by atomic rename from `tmpDir` (same
    * filesystem), so a reader never sees a partial file. */
  def writeAtomic(tmpDir: Path, target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(tmpDir, "w", ".tmp")
    Files.write(tmp, content.getBytes(UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
