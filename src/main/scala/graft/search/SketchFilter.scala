package graft.search

import graft.dedup.Dedup
import graft.functions.{SimHash64Expr, TokenizeExpr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash sketch pre-filter (reference: search-time candidate shrink at
  * src/memvid/search/mod.rs:190-232 — hamming ≤ 32, keep ≥ max(top_k·10,
  * 500) candidates; scoring src/types/sketch_track.rs:827-866).
  *
  * The sketch table is tiny (one 60-bit hash per doc) and the filter is
  * pure bit arithmetic. [[candidates]] returns the candidate ids as ONE
  * lazy plan — no action runs to decide the floor — so the caller's
  * ranking query semi-joins it and Spark plans the filter and the scorer
  * together: the narrow sketch scan becomes a frame-id allowlist inside
  * the expensive scorer's plan, the reference's O3 optimization. The query
  * side is hashed on the driver ([[queryHash]]), with the very functions
  * the per-row sketch build evaluates.
  *
  * Live-set invariant (what the facade relies on): sketch rows exist for
  * exactly the frames with at least one token ([[Dedup.simhash]] drops the
  * rest), one row per doc version. A caller restricts the table to live
  * versions BEFORE calling [[candidates]], or dead versions' rows would
  * count toward the floor and take hamming-nearest slots.
  */
object SketchFilter {

  val DefaultMaxHamming = 32
  val MinCandidates = 500

  /** build (doc_id, simhash) sketches for a corpus */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.simhash(docs, idCol, textCol)

  /** the query's simhash, computed on the driver with the tokenizer and
    * SimHash64 the sketch build runs per row (bit-identical to
    * [[build]] over a one-row frame); None when the query has no tokens —
    * such a text gets no sketch row, so there is nothing to compare */
  def queryHash(query: String): Option[Long] = {
    val toks = TokenizeExpr.tokenize(UTF8String.fromString(query))
    if (toks.numElements() == 0) None
    else Some(SimHash64Expr.simhash(toks, 60))
  }

  /** [[queryHash]] for a query known to have tokens (no Spark job runs;
    * the session parameter is kept for existing callers) */
  def querySimhash(spark: SparkSession, query: String): Long =
    queryHash(query).getOrElse(throw new NoSuchElementException(
      s"querySimhash: query has no tokens: '$query'"))

  /** candidate ids whose sketch is within maxHamming of the query sketch;
    * if fewer than minKeep = max(topK·10, 500) survive, the cutoff relaxes
    * to keep the nearest minKeep (ordered by (hamming, doc_id)).
    *
    * One lazy plan: within(h ≤ maxHamming) ∪ nearest(minKeep) restricted to
    * h > maxHamming. That is the relaxed set in both cases — a strict cut
    * holding ≥ minKeep rows contains the nearest minKeep (the second leg is
    * empty), and one holding fewer lies inside them (the legs partition
    * the nearest minKeep) — and the legs are disjoint, so no distinct. */
  def candidates(sketches: DataFrame, queryHash: Long, topK: Int,
                 maxHamming: Int = DefaultMaxHamming): DataFrame = {
    val minKeep = math.max(topK * 10, MinCandidates)
    // defense-in-depth vs duplicate sketch rows (a torn/replayed refresh
    // append): duplicates would crowd the nearest-minKeep slots and cut
    // the live keep below the floor — recall loss with no signal.
    // Exact-row dedup is deterministic and value-neutral on a clean table
    // (the maintenance lock makes duplicates unreachable on the facade
    // path; this keeps the pure function honest for standalone callers).
    // the distance is computed BEFORE the dedup so the legs' filters stay
    // above it: both legs then read one shared dedup exchange
    val withDist = sketches
      .withColumn("__h", bit_count(col("simhash").bitwiseXOR(lit(queryHash))))
      .dropDuplicates("doc_id", "simhash")
    val within = withDist.filter(col("__h") <= maxHamming)
    val nearest = withDist.orderBy(col("__h"), col("doc_id")).limit(minKeep)
      .filter(col("__h") > maxHamming)
    within.select(col("doc_id")).union(nearest.select(col("doc_id")))
  }

  /** apply as a left-semi join into a scoring pipeline (J1 semantics) */
  def prefilter(docs: DataFrame, idCol: String, sketches: DataFrame,
                queryHash: Long, topK: Int,
                maxHamming: Int = DefaultMaxHamming): DataFrame = {
    val ids = candidates(sketches, queryHash, topK, maxHamming)
      .withColumnRenamed("doc_id", idCol)
    docs.join(ids, Seq(idCol), "left_semi")
  }
}
