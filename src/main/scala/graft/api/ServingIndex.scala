package graft.api

import graft.search.{Bm25Index, SketchFilter}
import graft.store.StoreLock
import graft.vector.IvfIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** One serving-index lifecycle (reference: a commit updates the one search
  * engine within the commit, src/memvid/search/builders.rs:12-44, and a
  * read opens it lazily, search/mod.rs:47-57). Every artifact attached to
  * a [[Graft]] facade — the BM25 postings table, the sketch table, the IVF
  * directory — is one instance. An instance supplies only its stamp
  * encoding, its maintenance lock, its delta append and its rebuild;
  * classification, refresh, heal-on-read and the freshness cache are
  * written here once.
  *
  * Stamp protocol. An artifact carries the store commit version it covers
  * and a torn-refresh marker ("pending"). search()/ask() serve it only
  * while it is FRESH (stamp == current version, marker clear) and fall
  * back to the corpus path otherwise — bit-equal either way, the index
  * only moves where the work happens (`search_facade_indexed` /
  * `ask_facade_indexed`). An append sets the marker BEFORE it writes and
  * clears it with the restamp, so a crash in between leaves it set and
  * the next refresh rebuilds instead of appending the same delta twice.
  * Two encodings: table properties (postings, sketch; restamp and clear
  * are one catalog update) and marker files at the IVF directory root
  * (restamp first, then clear: a crash between costs a spurious rebuild,
  * never a double append). A build stamps AFTER it lands: a crash in
  * between leaves an unstamped, stale-looking artifact — the safe side.
  *
  * Classification of the log delta past the stamp: Fresh; Append (every
  * delta row is a new Active version — O(delta) catch-up); Rebuild (no
  * artifact, no stamp, a set marker, a delete or supersede in the delta,
  * or a vacuum past the stamp, which purged the very rows that would show
  * what died). Sketch rows are per doc VERSION and a dead version's row
  * is inert — the live-set semi-join on the fresh postings drops it — so
  * for the sketch no delta breaks the append; only a missing stamp or a
  * set marker rebuilds it.
  *
  * Lock discipline. [[refresh]] reads the stamp without the lock only to
  * return "fresh"; otherwise it classifies ONCE under the artifact's
  * cross-process maintenance lock, so two refreshers racing one stale
  * stamp serialize and the loser reads the winner's restamp. Append runs
  * inside the lock; Rebuild releases it first (the builders take it
  * themselves), then rebuilds and stamps. The read-side heal is the same
  * catch-up without the rebuild, skipped while a peer holds the lock and
  * best-effort: a contended lock degrades the read to the corpus path.
  *
  * Freshness verdicts are cached per [[Graft.storeMovedKey]] (in-process
  * mutation epoch + persisted watermark: a foreign writer's commit moves
  * it); the IVF entry holds the opened handle.
  *
  * @tparam H what a fresh artifact serves: the table name, or the opened
  *           IVF handle */
private[api] sealed abstract class ServingIndex[H](g: Graft) {
  import ServingIndex._

  protected def spark: SparkSession = g.spark

  /** table name or index directory */
  def name: String
  def stamp(): Stamp
  protected def restampAndClear(version: Long): Unit
  protected def markPending(): Unit
  /** the path the maintenance lock's lockfile anchors on */
  def lockAnchor: String
  def withLock[T](body: => T): T
  /** append the artifact rows of `delta`, the raw log rows in
    * (stamp, current] (runs under the lock) */
  protected def appendDelta(delta: DataFrame): Unit
  /** full rewrite over the current store, unstamped */
  protected def build(): Unit
  protected def open(): H
  /** the sketch's rule: dead versions' rows are inert */
  protected def deadRowsInert: Boolean = false
  /** does a missing artifact or stamp count as stale to the doctor? (an
    * unstamped IVF directory never took part in serving) */
  protected def unstampedIsStale: Boolean = true

  @volatile private var cache: Option[((Long, Long), Option[H])] = None

  def invalidate(): Unit = cache = None

  def delta(): Delta = classify(stamp(), g.currentVersion)

  private def classify(s: Stamp, cur: Long): Delta =
    if (s.fresh(cur)) Fresh
    else if (!s.exists || s.version.isEmpty || s.pending) Rebuild
    else if (deadRowsInert) Append
    else if (g.frames.lastVacuumSeq > s.version.get ||
        logDelta(s.version.get, cur)
          .filter(col("status") =!= graft.model.Frame.Active ||
            col("supersedes").isNotNull)
          .limit(1).count() > 0) Rebuild
    else Append

  private def logDelta(stamp: Long, cur: Long): DataFrame =
    g.frames.log.toDF().filter(col("commitSeq") > stamp && col("commitSeq") <= cur)

  /** the doctor's stamp probe: behind the store, torn, or (where the kind
    * says so) missing */
  def stale(): Boolean = {
    val s = stamp()
    !s.fresh(g.currentVersion) && (unstampedIsStale ||
      s.exists && (s.version.isDefined || s.unreadable || s.pending))
  }

  /** build through `body` (default: [[build]]), then stamp */
  def rebuild(body: => Unit = build()): Unit = {
    body
    restampAndClear(g.currentVersion)
    invalidate()
  }

  /** catch up with the store: "fresh" | "appended" | "rebuilt" */
  def refresh(rebuildBody: => Unit = build()): String =
    catchUp(Some(() => rebuild(rebuildBody)))

  /** `rebuild` None: a Rebuild verdict leaves the artifact as it is */
  private def catchUp(rebuild: Option[() => Unit]): String =
    if (stamp().fresh(g.currentVersion)) "fresh"
    else {
      val verdict = withLock {
        val cur = g.currentVersion
        val s = stamp()
        val d = classify(s, cur)
        if (d == Append) {
          markPending()
          appendDelta(logDelta(s.version.get, cur))
          restampAndClear(cur)
          invalidate()
        }
        d
      }
      verdict match {
        case Fresh => "fresh"
        case Append => "appended"
        case Rebuild => rebuild.fold("stale") { r => r(); "rebuilt" }
      }
    }

  /** the fresh artifact, or None (serve the corpus). `heal`: a stale
    * artifact whose delta is append-only catches up first — a read never
    * rebuilds, and never waits behind a peer's maintenance */
  def serving(heal: Boolean = false): Option[H] = {
    val key = g.storeMovedKey
    val h = cache.collect { case (k, v) if k == key => v }.getOrElse {
      val v = if (stamp().fresh(g.currentVersion)) Some(open()) else None
      cache = Some((key, v))
      v
    }
    if (h.isDefined || !heal ||
        StoreLock.currentOwner(spark, lockAnchor).isDefined) h
    else {
      try catchUp(None): Unit
      catch { case _: StoreLock.StoreLockedException => () }
      invalidate()
      serving()
    }
  }
}

private[api] object ServingIndex {
  sealed trait Delta
  case object Fresh extends Delta
  case object Append extends Delta
  case object Rebuild extends Delta

  /** `unreadable`: a stamp is present but does not parse */
  final case class Stamp(exists: Boolean, version: Option[Long],
                         unreadable: Boolean, pending: Boolean) {
    def fresh(cur: Long): Boolean = exists && !pending && version.contains(cur)
  }

  private val VersionKey = "graft.store.version"
  private val PendingKey = "graft.refresh.pending"

  /** a catalog table stamped through its table properties */
  sealed abstract class Table(g: Graft, val name: String)
      extends ServingIndex[String](g) {
    def stamp(): Stamp =
      if (!spark.catalog.tableExists(name)) Stamp(false, None, false, false)
      else {
        val p = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(name)).properties
        val v = p.get(VersionKey)
        Stamp(true, v.flatMap(_.toLongOption),
          v.exists(_.toLongOption.isEmpty), p.get(PendingKey).contains("1"))
      }
    private def setProperties(kv: (String, String)*): Unit =
      spark.sql(s"ALTER TABLE `$name` SET TBLPROPERTIES " +
        kv.map { case (k, v) => s"'$k' = '$v'" }.mkString("(", ", ", ")")): Unit
    protected def restampAndClear(version: Long): Unit =
      setProperties(VersionKey -> version.toString, PendingKey -> "0")
    protected def markPending(): Unit = setProperties(PendingKey -> "1")
    def lockAnchor: String = Bm25Index.lockAnchor(spark, name)
    def withLock[T](body: => T): T = Bm25Index.maintenanceLock(spark, name)(body)
    protected def open(): String = name
    protected def tracked: Boolean =
      spark.catalog.tableExists(name) && spark.table(name).columns.contains("track")
    /** id + text [+ track] of frame rows (the live view: documents AND
      * chunks, the population search() ranks) */
    protected def idText(frames: DataFrame = g.frames.latestActive,
                         withTrack: Boolean = false): DataFrame =
      frames.select(col("id") +: coalesce(col("text"), lit("")).as("text") +:
        (if (withTrack) Seq(col("track")) else Nil): _*)
  }

  /** the BM25 postings table; a track-partitioned table's delta carries
    * `track` into its partition directories */
  final class Lex(g: Graft, name: String, val stemmed: Boolean)
      extends Table(g, name) {
    protected def appendDelta(delta: DataFrame): Unit = {
      val t = tracked
      Bm25Index.appendUnlocked(idText(delta, withTrack = t), "id", "text",
        name, stemmed, 16, trackCol = if (t) Some("track") else None)
    }

    /** a rebuild keeps the live table's layout and file budget: tracked
      * tables hold buckets per partition, so the total is their product */
    protected def build(): Unit = {
      val buckets = if (!spark.catalog.tableExists(name)) 16 else {
        val cat = spark.sessionState.catalog
        val meta = cat.getTableMetadata(TableIdentifier(name))
        meta.bucketSpec.fold(16)(_.numBuckets) *
          (if (meta.partitionColumnNames.isEmpty) 1
           else math.max(1, cat.listPartitions(TableIdentifier(name)).size))
      }
      write(buckets, partitionByTrack = false, withPositions = false)
    }

    /** an existing track-partitioned table keeps the partitioning */
    def write(nBuckets: Int, partitionByTrack: Boolean,
              withPositions: Boolean): Unit = {
      val t = partitionByTrack || tracked
      Bm25Index.write(idText(withTrack = t), "id", "text", name, stemmed = stemmed,
        nBuckets = nBuckets, trackCol = if (t) Some("track") else None,
        withPositions = withPositions)
    }
  }

  /** the (doc_id, simhash) sketch table behind search()'s pre-filter */
  final class Sketch(g: Graft, name: String) extends Table(g, name) {
    override protected def deadRowsInert: Boolean = true
    protected def appendDelta(delta: DataFrame): Unit =
      SketchFilter.build(
          idText(delta.filter(col("status") === graft.model.Frame.Active)),
          "id", "text")
        .write.mode(SaveMode.Append).saveAsTable(name)
    protected def build(): Unit = withLock {
      val sk = SketchFilter.build(idText(), "id", "text")
      // a full rewrite: also sweeps a leftover warehouse directory with no
      // catalog entry (a previous JVM's table), which a plain overwrite
      // rejects with LOCATION_ALREADY_EXISTS
      graft.ops.Bucketing.dropTableAndLocation(spark, name)
      sk.write.mode(SaveMode.Overwrite).saveAsTable(name)
    }
  }

  /** the IVF directory, stamped by marker files at its root; it covers
    * DOCUMENT frames only, and a rebuild keeps its cluster count */
  final class Vec(g: Graft, val name: String, val nprobe: Int)
      extends ServingIndex[IvfIndex.Handle](g) {
    override protected def unstampedIsStale: Boolean = false
    private def fs = new Path(name).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def stampPath = new Path(s"$name/_GRAFT_STORE_VERSION")
    private def pendingPath = new Path(s"$name/_GRAFT_REFRESH_PENDING")

    def stamp(): Stamp = {
      import scala.util.Try
      // None = no stamp file (if even exists() throws, nothing is
      // provable); Some(None) = present but unreadable or unparseable
      val raw = if (!Try(fs.exists(stampPath)).getOrElse(false)) None
        else Some(Try {
          val in = fs.open(stampPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
          finally in.close()
        }.toOption.flatten)
      Stamp(IvfIndex.exists(spark, name), raw.flatten, raw.contains(None),
        fs.exists(pendingPath))
    }
    protected def restampAndClear(version: Long): Unit = {
      val out = fs.create(stampPath, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(pendingPath, false): Unit
    }
    protected def markPending(): Unit = fs.create(pendingPath, true).close()
    def lockAnchor: String = name
    def withLock[T](body: => T): T = IvfIndex.maintenanceLock(spark, name)(body)
    protected def open(): IvfIndex.Handle = IvfIndex.read(spark, name)

    /** new document vectors assigned under the standing codebook (no
      * retrain — drift-triggered retraining is the doctor's job) */
    protected def appendDelta(delta: DataFrame): Unit = {
      val e = g.activeEmbedder
      val embed = udf((t: String) => e.embed(if (t == null) "" else t))
      // driver-small delta: pin it so the embedder runs once
      val vecs = delta.filter(col("role") === "document")
        .select(col("id"), embed(coalesce(col("text"), lit(""))).as("vector"))
        .localCheckpoint()
      if (!vecs.isEmpty) IvfIndex.appendUnlocked(spark, name, vecs, "id", "vector"): Unit
    }

    protected def build(): Unit = train(clusters, iters = 2)

    /** the live index's cluster count (4 when there is none) */
    def clusters: Int =
      if (IvfIndex.exists(spark, name))
        math.max(IvfIndex.read(spark, name).centroids.size, 1)
      else 4

    /** Lloyd-train `k` centroids over the live documents' embeddings
      * (seeds: the k lowest-id vectors) and write the index */
    def train(k: Int, iters: Int): Unit = {
      // pin: the embedder UDF runs once, not once per Lloyd iteration
      val emb = g.embeddingsTable.localCheckpoint()
      val seeds = emb.orderBy(col("id")).limit(k).collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble).toArray) }
        .toSeq
      require(seeds.nonEmpty, "buildVecIndex: store has no live documents")
      val (cents, _) =
        graft.vector.VectorSearch.kmeansLloyd(emb, "vector", seeds, iters)
      IvfIndex.write(emb, "id", "vector", name,
        cents.map { case (cid, c) => (cid, c.map(_.toFloat)) }): Unit
    }
  }
}
