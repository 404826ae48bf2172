package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Every input the engine sees — corpus, vectors,
  * query stream, TPC-H order, write stream — derives from one seed, so the
  * same seed gives byte-identical inputs (checked by [[Search.selfCheck]]).
  *
  * Tokens are synthetic consonant-vowel words ending in `x`: lowercase
  * ASCII, never an English stopword, and unchanged by a non-stemming `text`
  * dictionary, so the engine's analyzer and the brute-force reference see
  * the same tokens. */
object Gen {
  val VocabSize = 20000
  val ZipfS = 1.0
  val MinLen = 20
  val MaxLen = 60
  val Dim = 64
  val Clusters = 32
  val CentreScale = 1.0f
  val Noise = 0.35f

  final case class Doc(pk: Int, tokens: Array[Int], emb: Array[Float])

  private val cons = "bdfgklmnprstvz"
  private val vows = "aeiou"

  /** Word for vocabulary slot `i`: two or three CV syllables plus `x`. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    val syll = cons.length * vows.length
    do {
      val s = n % syll
      sb.append(cons.charAt(s / vows.length)).append(vows.charAt(s % vows.length))
      n /= syll
    } while (n > 0 || sb.length < 4)
    sb.append('x').toString
  }

  /** A Zipf(s) sampler over ranks 0 until n (inverse CDF, binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Everything one seed determines about the corpus. `vocab(rank)` is the
    * word at Zipf rank `rank` (a seeded permutation of the word slots). */
  final class Corpus(val seed: Long) {
    private val root = new SplittableRandom(seed)
    val vocab: Array[String] = {
      val r = root.split()
      val slots = Array.tabulate(VocabSize)(identity)
      var i = slots.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t; i -= 1 }
      slots.map(word)
    }
    val zipf = new Zipf(VocabSize, ZipfS)
    val centres: Array[Array[Float]] = {
      val r = root.split()
      Array.fill(Clusters)(Array.fill(Dim)((r.nextGaussian() * CentreScale).toFloat))
    }
    private val docRng = root.split()
    val queryRoot: SplittableRandom = root.split()
    val writeRoot: SplittableRandom = root.split()

    private def vectorNear(c: Array[Float], r: SplittableRandom, noise: Float): Array[Float] =
      Array.tabulate(Dim) { d =>
        // 4 decimals: the SQL literal and the stored float are the same value
        val v = c(d) + (r.nextGaussian() * noise).toFloat
        (math.rint(v * 1e4) / 1e4).toFloat
      }

    /** Next doc from the corpus stream (pk assigned by the caller). */
    def nextDoc(pk: Int, r: SplittableRandom = docRng): Doc = {
      val len = MinLen + r.nextInt(MaxLen - MinLen + 1)
      val toks = Array.fill(len)(zipf.sample(r))
      Doc(pk, toks, vectorNear(centres(r.nextInt(Clusters)), r, Noise))
    }

    def docs(n: Int, firstPk: Int = 1): IndexedSeq[Doc] =
      (0 until n).map(i => nextDoc(firstPk + i))

    def text(d: Doc): String = d.tokens.map(vocab).mkString(" ")

    /** A query vector: a corpus vector plus noise. */
    def queryVector(near: Array[Float], r: SplittableRandom): Array[Float] =
      vectorNear(near, r, Noise * 0.5f)
  }
}
