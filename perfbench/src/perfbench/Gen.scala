package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generator. Single-threaded and separate from the harness:
  * every input a workload reads is a pure function of (seed, workload) and
  * reaches graft only as files on disk. The harness never hands graft an
  * in-memory DataFrame of generated rows.
  */
object Gen {

  /** Chunk budget of the default chunker (`ChunkerOptions().maxTokens`). */
  val ChunkBudget = 2000

  /** A Zipf(s) sampler over ranks 0 until n (inverse-CDF, binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private val Onsets = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "st", "tr", "pl", "gr", "sh", "ch")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")

  /** A fixed pseudo-word vocabulary of `n` distinct lowercase words; rank
    * order is the Zipf order. Independent of the seed, so the same word has
    * the same rank in every run. */
  def vocabulary(n: Int): Array[String] = {
    val rng = new SplittableRandom(0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syll = 1 + rng.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syll) sb.append(Onsets(rng.nextInt(Onsets.length)))
        .append(Vowels(rng.nextInt(Vowels.length)))
      seen += sb.toString
    }
    seen.toArray
  }

  /** Lexicon words of `Processors.withSentiment`, sprinkled into prose so the
    * sentiment enricher does real work. */
  private val Sentiment = Array("good", "great", "fast", "easy", "clean",
    "bad", "slow", "broken", "error", "poor")

  final class Prose(vocab: Array[String], zipfS: Double) {
    private val zipf = new Zipf(vocab.length, zipfS)
    def words(rng: SplittableRandom, n: Int, sb: StringBuilder): Unit = {
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        if (rng.nextInt(40) == 0) sb.append(Sentiment(rng.nextInt(Sentiment.length)))
        else sb.append(vocab(zipf.sample(rng)))
        i += 1
      }
    }
    def words(rng: SplittableRandom, n: Int): String = {
      val sb = new StringBuilder
      words(rng, n, sb)
      sb.toString
    }
  }

  /** `n` log-normal word counts, stratified: the quantiles at (i + ½)/n of
    * exp(N(ln median, sigma)), clamped, in a seeded random order. Every seed
    * gets the same length distribution and the same total, so the work a run
    * measures does not vary with the seed; only the text does. */
  def stratifiedWords(rng: SplittableRandom, n: Int, median: Double, sigma: Double,
                      lo: Int, hi: Int): Array[Int] = {
    val normal = new org.apache.commons.math3.distribution.NormalDistribution()
    val a = Array.tabulate(n) { i =>
      val z = normal.inverseCumulativeProbability((i + 0.5) / n)
      math.max(lo, math.min(hi, math.round(median * math.exp(sigma * z)).toInt))
    }
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  /** One markdown document of about `nWords` words: an H1 title, H2
    * sections with H3 subsections, paragraphs, an occasional pipe table, and
    * a footer paragraph after a thematic break. */
  def markdownDoc(rng: SplittableRandom, prose: Prose, nWords: Int): String = {
    val sb = new StringBuilder
    sb.append("# ").append(prose.words(rng, 2 + rng.nextInt(4))).append("\n\n")
    var left = nWords
    var section = 0
    while (left > 0) {
      if (section == 0 || rng.nextInt(4) == 0)
        sb.append("## ").append(prose.words(rng, 2 + rng.nextInt(3))).append("\n\n")
      else
        sb.append("### ").append(prose.words(rng, 2 + rng.nextInt(3))).append("\n\n")
      section += 1
      val paras = 1 + rng.nextInt(3)
      var p = 0
      while (p < paras && left > 0) {
        val n = math.min(left, 30 + rng.nextInt(90))
        prose.words(rng, n, sb)
        sb.append(".\n\n")
        left -= n
        p += 1
      }
      if (left > 0 && rng.nextInt(5) == 0) {
        val cols = 2 + rng.nextInt(3)
        val rows = 2 + rng.nextInt(4)
        sb.append("| ")
        for (_ <- 0 until cols) sb.append(prose.words(rng, 1)).append(" | ")
        sb.append("\n|")
        for (_ <- 0 until cols) sb.append("---|")
        sb.append('\n')
        for (_ <- 0 until rows) {
          sb.append("| ")
          for (_ <- 0 until cols) sb.append(prose.words(rng, 1 + rng.nextInt(2))).append(" | ")
          sb.append('\n')
        }
        sb.append('\n')
        left -= cols * (rows + 1) * 3 / 2
      }
    }
    sb.append("---\n\n").append(prose.words(rng, 8 + rng.nextInt(12))).append(".\n")
    sb.toString
  }

  def write(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    val bytes = text.getBytes(UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  /** JSON string literal (the generator's text is ASCII words and markdown
    * punctuation, but escape defensively). */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A document as one line of the streaming source's JSONL schema
    * (`StreamingIngest.documentSchema`). */
  def jsonlDoc(docId: Long, text: String): String =
    s"""{"doc_id":$docId,"text":${jsonString(text)},"lang":"en","source":"gen"}"""

  def percentile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(q * sorted.length).toInt - 1)))

  /** Word-count summary of a set of generated documents. */
  def lengthStats(words: Seq[Int]): Map[String, Any] = {
    val s = words.map(_.toDouble).sorted.toIndexedSeq
    Map("words_p10" -> percentile(s, 0.10), "words_p50" -> percentile(s, 0.5),
      "words_p90" -> percentile(s, 0.90), "words_max" -> s.lastOption.getOrElse(0.0),
      "over_budget_share" -> (if (s.isEmpty) 0.0 else s.count(_ > ChunkBudget).toDouble / s.size))
  }

  // ------------------------------------------------------------ near-dups

  /** Edit `base` (a word sequence) by replacing a `rate` share of its
    * positions with fresh words: a near-duplicate whose shingle Jaccard to
    * the base falls as `rate` grows. */
  def mutate(rng: SplittableRandom, prose: Prose, base: Array[String],
             rate: Double): Array[String] = {
    val out = base.clone()
    val k = math.max(1, math.round(base.length * rate).toInt)
    var i = 0
    while (i < k) {
      out(rng.nextInt(out.length)) = prose.words(rng, 1)
      i += 1
    }
    out
  }
}
