package servebench

import scala.util.Random

/** Everything a run feeds the program, drawn from the seed alone: the
  * corpus put at set-up, the pools of requests, and the documents the
  * ingest loop writes.
  *
  * The corpus has the measured shape of the sf0.1 `documents` table (see
  * README.md): texts of 10 to 99 words drawn uniformly from a 30-word
  * vocabulary, and one document in twenty a near-duplicate, the text of
  * another document followed by the token `dup`. */
final case class Inputs(seed: Long, corpus: Vector[(String, String)],
                        searches: Vector[String], questions: Vector[String]) {
  /** the i-th document the ingest loop puts: a corpus-like text plus a
    * marker token that no other document carries */
  def ingestDoc(i: Int): Inputs.Doc = {
    val marker = s"zq${i}x$seed"
    val rnd = new Random(seed * 1000003L + i)
    Inputs.Doc(s"mv2://ingest/$i", Inputs.text(rnd) + " " + marker, marker)
  }
}

object Inputs {
  val CorpusSize = 4500

  val Vocabulary: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val QueryTerms = Vocabulary.filterNot(Set("the", "a"))

  final case class Doc(uri: String, text: String, marker: String)

  private def text(rnd: Random): String =
    Vector.fill(10 + rnd.nextInt(90))(Vocabulary(rnd.nextInt(Vocabulary.size)))
      .mkString(" ")

  /** @param termCounts terms of each pooled request; the searches and the
    *                   questions get one request of each count */
  def apply(seed: Long, termCounts: Seq[Int]): Inputs = {
    val rnd = new Random(seed)
    val base = Vector.fill(CorpusSize)(text(rnd))
    val dups = rnd.shuffle((0 until CorpusSize).toVector).take(CorpusSize / 20)
      .map(i => i -> (base((i + 1 + rnd.nextInt(CorpusSize - 1)) % CorpusSize) + " dup"))
    val texts = dups.foldLeft(base) { case (t, (i, d)) => t.updated(i, d) }
    val corpus = texts.zipWithIndex.map { case (t, i) => (s"mv2://corpus/$i", t) }
    def requests = termCounts.toVector.map(k => rnd.shuffle(QueryTerms).take(k).mkString(" "))
    Inputs(seed, corpus, requests, requests)
  }
}
