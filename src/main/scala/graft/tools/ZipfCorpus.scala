package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded Zipfian pseudo-corpus for BPE work at PRODUCTION vocabulary
  * scale. The sf corpora replicate a 31-word vocabulary, so a
  * corpus-trained merge table saturates at a few dozen merges and the
  * per-thread segmentation cache absorbs everything — the honest regime
  * for a 16k-64k-merge tokenizer is tens of thousands of DISTINCT words
  * where cache misses dominate. This builder defines the corpus of the
  * production-scale throughput measurement (ROUND_NOTES, round 15
  * certification record, "BPE production measurements") and of BpeSpec's
  * divergence pin (ranked-vs-replay equality at 32k merges), so both ran
  * on the same corpus definition.
  *
  * Fully deterministic: the vocabulary comes from a fixed-seed RNG and
  * each (doc, position) sample is murmur-finalized (a plain linear hash
  * has no avalanche — every draw landed under cum(0) and the corpus
  * degenerated to ONE word; r15 note).
  */
object ZipfCorpus {

  /** `(doc_id, text)` rows: `nDocs` documents of `wordsPerDoc` words
    * drawn rank-biased (Zipf) from a seeded `vocabN`-word vocabulary.
    * At the default shape (50k × 120 over 60k) ~58k distinct words are
    * observed. localCheckpoint()ed so downstream passes don't regenerate.
    */
  def build(
      spark: SparkSession,
      nDocs: Int = 50000,
      wordsPerDoc: Int = 120,
      vocabN: Int = 60000,
      seed: Int = 7): DataFrame = {
    val rng = new scala.util.Random(seed)
    val letters = "aaaabbbccdeefgghiiklmmnnoooprrssttuuvwyz"
    val vocab: Array[String] = Array.fill(vocabN) {
      val len = 3 + rng.nextInt(9)
      (0 until len).map(_ => letters(rng.nextInt(letters.length))).mkString
    }
    // Zipf cumulative weights for rank-biased sampling
    val cum = new Array[Double](vocabN)
    var acc = 0.0
    var vi = 0
    while (vi < vocabN) { acc += 1.0 / (vi + 1); cum(vi) = acc; vi += 1 }
    val total = acc
    val bVocab = spark.sparkContext.broadcast(vocab)
    val bCum = spark.sparkContext.broadcast(cum)
    import spark.implicits._
    spark.range(nDocs.toLong).as[Long].mapPartitions { ids =>
      val v = bVocab.value; val c = bCum.value
      ids.map { id =>
        val sb = new java.lang.StringBuilder(wordsPerDoc * 9)
        var i = 0
        while (i < wordsPerDoc) {
          // deterministic per (doc, pos), murmur-finalized
          var h = id * 1315423911L ^ (i * 2654435761L)
          h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
          h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
          h ^= h >>> 33
          val u = ((h >>> 9).toDouble / (1L << 55)) * total
          var lo = 0; var hi = c.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (c(mid) < u) lo = mid + 1 else hi = mid
          }
          if (i > 0) sb.append(' ')
          sb.append(v(lo))
          i += 1
        }
        (id, sb.toString)
      }
    }.toDF("doc_id", "text").localCheckpoint()
  }
}
