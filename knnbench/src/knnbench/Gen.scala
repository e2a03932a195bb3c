package knnbench

import scala.collection.mutable

/** Seeded input generator. One seed gives every input of every workload;
  * the engine only ever sees the generated texts.
  *
  * Corpus texts are topic-structured: a document draws most of its words
  * from one topic's vocabulary and the rest from a shared common
  * vocabulary, and carries one token no other text has, so no two texts
  * (and no two embeddings) coincide. Query texts are short topic-word
  * combinations, all distinct. Curate corpora add planted near-duplicate
  * clusters whose member pairs are known.
  */
final class Gen(seed: Long) {
  val Topics = 100
  val WordsPerTopic = 40
  val CommonWords = 400

  private val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
  private val seedTag = java.lang.Long.toString(seed & 0xffffffffL, 36)

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo",
    "zi", "pa", "do", "fe", "gu", "hi", "ja", "ko", "le", "mu", "no", "pi",
    "ra", "si", "tu", "va", "we", "xo", "yu", "ze", "bri", "cla", "dro", "fli")

  /** Distinct pseudo-words, generated once per seed. */
  private val words: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < Topics * WordsPerTopic + CommonWords) {
      val n = 2 + rng.nextInt(3)
      seen += (0 until n).map(_ => syllables(rng.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }
  private def topicWord(t: Int, i: Int): String = words(t * WordsPerTopic + i)
  private def commonWord(i: Int): String = words(Topics * WordsPerTopic + i)

  /** `k` distinct indices in [0, n). */
  private def pick(r: java.util.Random, n: Int, k: Int): Array[Int] = {
    val chosen = mutable.LinkedHashSet.empty[Int]
    while (chosen.size < k) chosen += r.nextInt(n)
    chosen.toArray
  }

  private def uniqueToken(kind: String, i: Long): String =
    s"$kind${java.lang.Long.toString(i, 36)}x$seedTag"

  /** One topic document: `len` distinct words, ~70% from its topic. */
  private def doc(r: java.util.Random, len: Int, tag: String): String = {
    val t = r.nextInt(Topics)
    val nTopic = (len * 0.7).toInt
    val ws = pick(r, WordsPerTopic, nTopic).map(topicWord(t, _)) ++
      pick(r, CommonWords, len - nTopic).map(commonWord)
    var i = ws.length - 1
    while (i > 0) { // Fisher-Yates
      val j = r.nextInt(i + 1)
      val t = ws(i); ws(i) = ws(j); ws(j) = t
      i -= 1
    }
    (ws :+ tag).mkString(" ")
  }

  /** `n` corpus texts for the search/ingest tables. `stream` separates the
    * base table from the ingest batches so they never share a text. */
  def corpus(n: Int, stream: Int): Array[String] = {
    val r = new java.util.Random(seed * 31 + stream)
    Array.tabulate(n)(i => doc(r, 12 + r.nextInt(9), uniqueToken(s"d${stream}n", i)))
  }

  /** `n` distinct query texts: 4-7 words of one topic plus one common word.
    * `stream` separates the search queries from the ingest standing set. */
  def queries(n: Int, stream: Int): Array[String] = {
    val r = new java.util.Random(seed * 131 + stream)
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val t = r.nextInt(Topics)
      val ws = pick(r, WordsPerTopic, 4 + r.nextInt(4)).map(topicWord(t, _)) :+
        commonWord(r.nextInt(CommonWords))
      out += ws.mkString(" ")
    }
    out.toArray
  }

  /** Curate corpus: `n` documents of 30-40 distinct words, `clusters` of
    * which seed a planted near-duplicate cluster of 2-4 members. Each extra
    * member replaces one or two words of its seed document by words no
    * other document uses, which keeps every in-cluster pair's 3-shingle
    * Jaccard similarity well above 0.5. Returns the texts (doc_id =
    * position) and the planted pairs (a < b). */
  def curateCorpus(n: Int, clusters: Int): (Array[String], Array[(Int, Int)]) = {
    val r = new java.util.Random(seed * 7919 + 3)
    val texts = new mutable.ArrayBuffer[String](n)
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
    var fresh = 0L
    def freshWord(): String = { fresh += 1; uniqueToken("v", fresh) }
    var c = 0
    while (texts.size < n) {
      val base = doc(r, 30 + r.nextInt(11), uniqueToken("c", texts.size.toLong))
      val first = texts.size
      texts += base
      if (c < clusters) {
        c += 1
        val members = math.min(1 + r.nextInt(3), n - texts.size)
        val toks = base.split(" ")
        (0 until members).foreach { _ =>
          val edited = toks.clone()
          // never touch the trailing unique token: it is what makes the
          // seed text distinct from every other corpus text
          pick(r, toks.length - 1, 1 + r.nextInt(2)).foreach(i => edited(i) = freshWord())
          texts += edited.mkString(" ")
        }
        for (a <- first until texts.size; b <- a + 1 until texts.size) pairs += ((a, b))
      }
    }
    (texts.toArray, pairs.toArray)
  }
}
