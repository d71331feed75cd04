package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Every input of a run is a pure function of
  * the workload seed, and [[Digest]] hashes what was generated so two
  * runs can prove they saw identical inputs. */
object Gen {

  /** One independent stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** A Gaussian mixture: `clusters` centres drawn from N(0, spread^2),
    * points = centre + N(0, 1). Queries come from the same mixture but
    * a separate stream, so no query is a stored vector. */
  final class Mixture(seed: Long, val dim: Int, clusters: Int,
      spread: Double = 3.0) {
    private val centres: Array[Array[Double]] = {
      val r = rng(seed, 1)
      Array.fill(clusters, dim)(r.nextGaussian() * spread)
    }
    def draw(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(i => (c(i) + r.nextGaussian()).toFloat)
    }
    def points(stream: Long, n: Int): Array[Array[Float]] = {
      val r = rng(seed, stream)
      Array.fill(n)(draw(r))
    }
  }

  /** Synthetic text over a Zipf(1)-distributed vocabulary of distinct
    * lowercase tokens (the engine's tokenizer returns them unchanged). */
  final class Corpus(seed: Long, vocab: Int) {
    val terms: Array[String] = Array.tabulate(vocab)(termName)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
    /** `n` docs of `minLen` to `maxLen` tokens. */
    def docs(n: Int, minLen: Int, maxLen: Int): Array[String] = {
      val r = rng(seed, 2)
      Array.fill(n) {
        val len = minLen + r.nextInt(maxLen - minLen + 1)
        Array.fill(len)(terms(sample(r))).mkString(" ")
      }
    }
    /** Queries of 1-4 terms, each term one of the `hot` most frequent
      * terms or a rare term from rank 200 on. The shape is stratified:
      * query i has 1 + i % 4 terms and alternates hot and rare terms
      * starting with hot on even i / 4, so every block of 8 queries has
      * the same mix and a run's cost does not hinge on the draw. */
    def queries(stream: Long, n: Int, hot: Int): Array[String] = {
      val r = rng(seed, stream)
      Array.tabulate(n) { i =>
        Array.tabulate(1 + i % 4) { j =>
          if ((i / 4 + j) % 2 == 0) terms(r.nextInt(hot))
          else terms(200 + r.nextInt(vocab - 200))
        }.mkString(" ")
      }
    }
  }

  private def termName(rank: Int): String = {
    val sb = new StringBuilder("w")
    var x = rank
    do { sb += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
    sb.toString
  }

  /** SHA-256 over everything a run generated. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def vecs(vs: Array[Array[Float]]): Unit = vs.foreach { v =>
      val b = java.nio.ByteBuffer.allocate(4 * v.length)
      v.foreach(b.putFloat)
      md.update(b.array())
    }
    def strings(ss: Array[String]): Unit =
      ss.foreach { s => md.update(s.getBytes("UTF-8")); long(s.length.toLong) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
