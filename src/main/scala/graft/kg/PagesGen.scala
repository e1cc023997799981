package graft.kg

import java.sql.Timestamp
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kg.Schema.Page

/** Deterministic synthetic `pages` corpus (FIXTURES.md §1): one
  * research-paper-like web page per docId, every extractor family given
  * signal, a hot entity (CNN) in ~20% of docs for skew stress, alias
  * pairs for linking, reversed-text docs every 100th, and null-text rows
  * every 50th (forcing the html→text path). No wall clock, no unseeded
  * randomness — everything derives from docId. Generated distributed
  * (spark.range) so corpus size scales without driver memory. */
object PagesGen {

  private val topics = Vector(
    ("Convolutional Neural Network", "CNN", "image classification"),
    ("Stochastic Gradient Descent", "SGD", "optimization"),
    ("Graph Attention Network", "GAT", "graph learning"),
    ("Long Short Term Memory", "LSTM", "sequence modeling"),
    ("Bidirectional Encoder Representations", "BERT", "language understanding"),
    ("Generative Adversarial Network", "GAN", "image synthesis"),
    ("Support Vector Machine", "SVM", "classification"),
    ("Hidden Markov Model", "HMM", "speech recognition"))

  private val hyphens = Vector(
    "self-attention", "pre-training", "state-of-the-art", "fine-tuning",
    "cross-entropy", "multi-head", "zero-shot", "end-to-end")

  private val authors = Vector(
    "Jane Smith", "John Doe", "Wei Chen", "Maria Garcia",
    "Ahmed Khan", "Yuki Tanaka", "Anna Müller", "Ravi Patel")

  private val sentenceBank = Vector(
    "The model achieves strong results on the benchmark.",
    "We train the network with a fixed learning rate.",
    "The method outperforms the baseline by a wide margin.",
    "Our approach uses attention over the input tokens.",
    "The data is split into training and validation sets.",
    "Performance improves as the layer count grows.",
    "The function converges after a few epochs.",
    "These results show that the system is robust.")

  /** Deterministic per-doc pseudo-random stream (splitmix64 on docId). */
  private def mix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick[T](v: Vector[T], seed: Long, salt: Long): T =
    v((math.abs(mix(seed * 1315423911L + salt)) % v.size).toInt)

  /** The ambiguous expansion: shares initials with topics(0) — "CNN" must
    * be context-disambiguated (convolutional vs cable), never globally
    * merged. Docs with id % 10 == 3 (disjoint from the id % 5 == 0 hot
    * set) are "media" pages. */
  val mediaTopic: (String, String, String) =
    ("Cable News Network", "CNN", "television media coverage")

  /** Build one document's raw text. Public so tests and the P/R oracle
    * can regenerate the identical corpus single-threaded. */
  def docText(id: Long): String = {
    // hot entity: CNN in ~20% of all docs (skew stress, FIXTURES.md)
    val hot = id % 5 == 0
    val media = id % 10 == 3
    val t0 = if (media) mediaTopic else if (hot) topics(0) else pick(topics, id, 1)
    val t1 = pick(topics, id, 2)
    val hy0 = pick(hyphens, id, 3)
    val hy1 = pick(hyphens, id, 4)
    val a0 = pick(authors, id, 5)
    val a1 = pick(authors, id, 6)
    val year = 2015 + (math.abs(mix(id + 7)) % 10).toInt
    val sent = (k: Long) => pick(sentenceBank, id, 100 + k)

    val body =
      s"""${t0._1} for ${t0._3}: A Study of Scalable Methods
$a0, $a1, and Wei Chen
Example University
$year doi: 10.${1000 + (id % 9000)}/graft.${id}

Abstract
We propose a ${t0._1} (${t0._2}) for ${t0._3}. ${sent(1)} Our ${t0._2} model uses $hy0 and $hy1. The $hy1 strategy helps. ${sent(2)} See Figure 3 for details.

Introduction
Prior work [${id % 90 + 1}] studied ${t1._1} (${t1._2}) widely [Smith et al. $year]. Contact: author${id}@example.com. The ${t0._2} architecture and the ${t0._2} training follow Eq. 4 and Fig. 5 conventions. Naïve approaches fail on 你好 data with α=β noise.
Figure 1: Accuracy over epochs
Table 2: Dataset statistics
Source: internal benchmark

Methods
Our method uses ${t1._1} and $hy0 layers. Loss(x) = softmax(Wx + b). Equation (1): y = mx + c. The ${t0._1} outperforms the ${t1._2} baseline. ${sent(3)} <b>bold claims</b> aside, the $hy1 results hold. ${t0._2} and ${t1._2} are compared.

Results
The ${t0._2} model achieves 9${id % 10}.${id % 10}% accuracy. Table 3 shows ablations. Figure 2: Loss curves over time. ${sent(4)} ${sent(5)}

Discussion
The $hy0 design with $hy1 is effective. The ${t0._1} generalizes. ${sent(6)}

Conclusion
We presented a scalable system for ${t0._3}. Future work includes multilingual graphs.
"""
    if (id % 100 == 99) {
      // reversed-text doc: every word reversed; must trip the detector
      Py.split(body).map(Py.reversed).mkString(" ")
    } else body
  }

  /** The html payload `pages` stores for a doc's text. */
  def html(text: String): Array[Byte] =
    ("<html><body><p>" + text + "</p></body></html>").getBytes(StandardCharsets.UTF_8)

  def url(id: Long): String = f"https://example.org/${if (id % 20 == 7) "xx" else "en"}/doc$id%08d"

  /** Distributed generation — spark.range scales to any nDocs. */
  def pages(spark: SparkSession, nDocs: Long): Dataset[Page] = {
    import spark.implicits._
    val epoch = 1767225600000L // 2026-01-01T00:00:00Z, fixed
    spark.range(nDocs).map { id =>
      val text = docText(id)
      val lang = if (id % 20 == 7) "xx" else "en"
      // every 50th row: text null → pipeline must extract from html
      Page(url(id), new Timestamp(epoch + id * 1000L), html(text),
        if (id % 50 == 49) null else text, lang)
    }
  }
}
