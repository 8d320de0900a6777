package graft.store

import java.sql.Timestamp
import graft.model.Frame
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Append-only frame log with mutable-feeling semantics on immutable
  * storage (SURVEY §7.3): put/update/supersede/tombstone are appended
  * version rows (reference mutation path: src/memvid/mutation.rs:3090-3316);
  * the current state is the latest-active window view; `vacuum` is the
  * compaction batch job (mutation.rs:2999).
  *
  * At scale the log is partitioned parquet (partition by track/date in
  * production); the latest-active view is one window over id — the same
  * row_number idiom Delta-style MVCC compactions use.
  *
  * Writer discipline (reference src/lock.rs + src/lockfile.rs): every
  * mutation — put / update / delete / vacuum — runs under the exclusive
  * [[StoreLock]] for this path, and the minted watermarks (max id, max
  * commitSeq) are persisted to `_graft_seq` inside the log dir (an
  * underscore file, invisible to the parquet reader) as part of the same
  * locked section. Two handles — two processes — on one store therefore
  * serialize their commits and each mints from the OTHER's persisted
  * watermark, never from a stale in-memory cache: no duplicate ids, no
  * commitSeq collisions, no double-ingest of the same content hash
  * through the dedup check's read-then-write window. Ids are never
  * reused, even across [[vacuum]] (the watermark survives compaction —
  * the reference's monotonic frame ids). READ freshness stays an
  * in-process contract (the snapshot pin and `mutationEpoch` don't see a
  * foreign writer); the lock is what makes concurrent WRITES safe.
  */
final class FrameStore(spark: SparkSession, path: String,
                       lockOptions: StoreLock.Options =
                         FrameStore.defaultLockOptions) {
  import spark.implicits._

  private def logExists: Boolean =
    new java.io.File(path).exists && new java.io.File(path).list() != null &&
      new java.io.File(path).list().exists(!_.startsWith("_"))

  def log: Dataset[Frame] =
    // explicit schema: the log is only ever written from Dataset[Frame],
    // so the encoder schema IS the file schema — skipping inference
    // saves a 1-task footer-read job on every open (r19; the log is
    // opened once or more per store verb)
    if (logExists) spark.read.schema(FrameStore.frameSchema).parquet(path)
      .as[Frame]
    else spark.emptyDataset[Frame]

  // ---- minted-watermark persistence (multi-writer id safety) ----
  private def seqFile = new org.apache.hadoop.fs.Path(
    path.stripSuffix("/") + "/_graft_seq")
  private def fs = seqFile.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (maxId, maxSeq, lastVacuumSeq) — the third field records the commit
    * watermark AT THE TIME of the most recent [[vacuum]] (0 = never, and
    * the legacy two-field form reads as 0). Vacuum purges tombstone/
    * superseded rows from the log, so any consumer classifying the
    * (stamp, watermark] delta FROM THE LOG (the facade's refresh-vs-
    * rebuild probe) is blind past a vacuum: a purged delete looks like an
    * empty append-only delta. `lastVacuumSeq > stamp` is the exact "the
    * log cannot answer" predicate those consumers test.
    *
    * ROLLING-UPGRADE CONSTRAINT (documented, not enforced): fields are
    * strictly ADDITIVE — this reader treats any ≥2-field record as a
    * prefix (unknown trailing fields ignored), so a NEWER writer's file
    * stays readable here and the watermark is never silently dropped.
    * The r18 two-field→three-field transition predates this rule: a
    * pre-r18 binary matching exactly two fields reads a three-field file
    * as ABSENT and falls back to the compacted log's max-id scan — in a
    * mixed-version multi-writer deployment it could re-mint ids a newer
    * binary's vacuum purged. Deployments that vacuum must therefore
    * upgrade writers in lockstep ACROSS the r18 boundary; from r19 on,
    * the prefix rule makes field additions rolling-safe. */
  private def readSeqFile(): Option[(Long, Long, Long)] =
    try {
      if (!fs.exists(seqFile)) None
      else {
        val in = fs.open(seqFile)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        line.split('\t') match {
          case a if a.length >= 3 =>
            Some((a(0).toLong, a(1).toLong, a(2).toLong))
          case Array(i, s) => Some((i.toLong, s.toLong, 0L))
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeSeqFile(maxId: Long, maxSeq: Long, vacSeq: Long): Unit =
    writeSeqFileAt(seqFile, maxId, maxSeq, vacSeq)

  private def writeSeqFileAt(at: org.apache.hadoop.fs.Path,
                             maxId: Long, maxSeq: Long, vacSeq: Long): Unit = {
    val out = fs.create(at, true)
    try out.write(s"$maxId\t$maxSeq\t$vacSeq\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** acquire the store's exclusive lockfile around a mutation — every
    * commit (id mint + parquet append + watermark persist) is one locked
    * section, so concurrent handles serialize (reference: every mutation
    * takes the exclusive lock first, src/lockfile.rs:121) */
  private def mutate[T](body: => T): T =
    StoreLock.withLock(spark, path, lockOptions)(body)

  private var counters: Option[(Long, Long, Long)] = None // (maxId, maxSeq, lastVacuumSeq)

  /** Mint a block of ids + the next commitSeq. Caller holds the store
    * lock. The persisted `_graft_seq` watermark is authoritative when
    * present (another HANDLE may have committed since our cache was
    * filled); the in-memory cache only serves a pre-watermark legacy log,
    * and the one-time scan only a store that predates this handle. */
  private def nextIds(n: Int): (Long, Long) = synchronized {
    val (maxId, maxSeq, vacSeq) = readSeqFile().orElse(counters).getOrElse {
      if (logExists) {
        val r = log.agg(max("id"), max("commitSeq")).head
        (if (r.isNullAt(0)) 0L else r.getLong(0),
         if (r.isNullAt(1)) 0L else r.getLong(1), 0L)
      } else (0L, 0L, 0L)
    }
    counters = Some((maxId + n, maxSeq + 1, vacSeq))
    (maxId, maxSeq)
  }

  /** bumped on every mutation (append or vacuum) — consumers caching a
    * derived verdict about the store (e.g. the facade's index-freshness
    * check) key their cache on this and re-derive only after a change.
    * In-process signal; the CROSS-process signal is
    * [[persistedWatermark]], and the facade keys its caches on both. */
  @volatile private[graft] var mutationEpoch: Long = 0L

  /** the persisted commit watermark (max commitSeq written by ANY
    * writer, from `_graft_seq`) — the cross-process observable of store
    * movement. One tiny FS read; -1 for a pre-watermark legacy log
    * (where only the in-process epoch can signal movement). Unlike the
    * log's own max(commitSeq), this SURVIVES vacuum (compaction is
    * value-neutral for the live view, so derived-state stamps keyed on
    * it stay valid across it). */
  private[graft] def persistedWatermark: Long =
    readSeqFile().map(_._2).getOrElse(-1L)

  /** Commit watermark at the time of the most recent [[vacuum]] (0 =
    * never vacuumed, including pre-tracking legacy stores). A derived-
    * state consumer whose stamp is OLDER than this cannot classify its
    * catch-up delta from the log — vacuum purged the tombstone/superseded
    * rows the classification needs — and must rebuild instead of
    * appending (the ghost-postings hazard: delete → vacuum → refresh
    * would otherwise see an empty "append-only" delta and restamp an
    * index still carrying the deleted doc). One tiny FS read. */
  private[graft] def lastVacuumSeq: Long =
    readSeqFile().map(_._3).orElse(counters.map(_._3)).getOrElse(0L)

  /** Cached latest-active row count, maintained incrementally across
    * PUT-shaped appends (every appended frame is new and Active, so the
    * live view grows by exactly the batch size) and invalidated by
    * mutations whose live-delta needs a lookup (update/delete — the
    * superseded/tombstoned id may or may not have been live). Vacuum is
    * value-neutral for the live view and keeps it. This serves the
    * recorder's auto-checkpoint probe: a checkpoint fire costs one
    * cached read instead of a full window + anti-join materialization
    * per fire (the one remaining store-sized read on a facade verb). */
  private var liveCountCache: Option[(Long, Long)] = None // (watermark, count)

  /** live frame count (documents + chunks), served from the incremental
    * cache when it is current. The cache is KEYED on the persisted
    * watermark, so a FOREIGN writer's commit (which this handle's
    * in-process state never sees) invalidates it for one tiny FS read
    * per call — never a stale count. */
  def liveCount: Long = {
    val w = persistedWatermark
    liveCountCache match {
      case Some((k, c)) if k == w => c
      case _ =>
        val c = latestActive.count()
        liveCountCache = Some((w, c))
        c
    }
  }

  /** feed the live-count cache from a consumer that just paid for the
    * count anyway (the doctor's one-job probe union): keyed on the
    * watermark the caller read BEFORE computing — the same read-w-then-
    * count order [[liveCount]] itself uses, so staleness behavior is
    * identical. Never downgrades a fresher cache entry. */
  private[graft] def primeLiveCount(watermark: Long, n: Long): Unit =
    liveCountCache match {
      case Some((k, _)) if k >= watermark => () // never downgrade fresher
      case _ => liveCountCache = Some((watermark, n))
    }

  private def appendFrames(frames: Seq[Frame],
                           liveDelta: Option[Long] = None): Unit = {
    val preW = persistedWatermark
    // persist the minted watermark BEFORE the rows land (same locked
    // section): a crash between the two steps then wastes an id block (a
    // safe gap), whereas the reverse order would leave committed rows
    // ABOVE the persisted watermark and the next handle — which trusts
    // the watermark over a log rescan — would re-mint colliding
    // id/commitSeq version keys. The NEXT writer (any handle, any
    // process) minting from the persisted value is what makes ids
    // globally unique.
    counters.foreach { case (i, s, v) => writeSeqFile(i, s, v) }
    // ONE task, ONE file per commit (r20, guide §6/§1): the batch is
    // driver-resident and bounded by the put contract, but toDS slices
    // it over defaultParallelism — 10-32 scheduled tasks and as many
    // tiny log files PER COMMIT, which every later log scan re-lists
    // and re-opens. One file per commit is also the reference's WAL
    // segment shape.
    frames.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(path)
    // roll the live-count cache forward only when it was current as of
    // the pre-mutation watermark AND the caller knows the exact delta
    // (put: every appended frame is new + Active); otherwise drop it
    liveCountCache = for {
      d <- liveDelta
      (k, c) <- liveCountCache
      if k == preW
      nw <- counters.map(_._2)
    } yield (nw, c + d)
    // roll the dedup-hash cache forward the same way: every appended
    // Active row's hash joins the set (tombstones carry no hash); a
    // foreign commit in between keys the cache stale instead
    hashCache = for {
      (k, v, s) <- hashCache
      if k == preW
      nw <- counters.map(_._2)
    } yield {
      frames.foreach(f =>
        if (f.status == Frame.Active) f.sourceSha256.foreach(s += _))
      (nw, v, s)
    }
    if (hashCache.exists(_._3.size > FrameStore.HashCacheMax)) hashCache = None
    currentSnapshot = None // the pinned copy no longer reflects the log
    mutationEpoch += 1
  }

  /** J8 dedup plan: stage the incoming batch's hashes and left-anti join
    * them against the live log on sourceSha256 (reference BLAKE3 dedup
    * short-circuit, mutation.rs:3300-3316). The log side is never collected
    * to the driver — only the SURVIVING hashes of the (small) incoming
    * batch come back, so the live set can be billions of rows. */
  private[graft] def freshHashes(hashes: Seq[String]): DataFrame =
    hashes.distinct.toDF("sourceSha256").join(
      log.filter($"status" === Frame.Active && $"sourceSha256".isNotNull)
        .select($"sourceSha256"),
      Seq("sourceSha256"), "left_anti")

  /** Dedup-identity cache (r19): the set of Active log rows' content
    * hashes, keyed on (persisted watermark, last-vacuum seq) — exactly
    * the two observables that change when the answer can change (any
    * commit, ours or foreign, bumps the watermark; vacuum purges dead
    * Active rows WITHOUT bumping it, hence the second key). Bounded: a
    * store past [[FrameStore.HashCacheMax]] active hashes stops caching
    * and [[put]] falls back to the anti-join plan above (the
    * billions-of-rows path is unchanged). Maintained under the store
    * lock only, rolled forward by [[appendFrames]], dropped by
    * [[vacuum]]. Saves the one per-commit dedup JOB on every put of a
    * driver-resident batch. */
  private var hashCache:
    Option[(Long, Long, scala.collection.mutable.HashSet[String])] = None

  /** batch hashes NOT already in the Active log — the cache-served form
    * of [[freshHashes]] (caller holds the store lock). */
  private def freshHashSet(hashes: Seq[String]): Set[String] = {
    val w = persistedWatermark
    val vac = lastVacuumSeq
    val set = hashCache match {
      case Some((cw, cv, s)) if cw == w && cv == vac => Some(s)
      case _ =>
        // rebuild if the active-hash population is cacheable; the
        // limit+1 probe bounds the collect regardless of store size
        val rows = log.filter($"status" === Frame.Active && $"sourceSha256".isNotNull)
          .select($"sourceSha256").distinct()
          .limit(FrameStore.HashCacheMax + 1).as[String].collect()
        if (rows.length <= FrameStore.HashCacheMax) {
          val s = scala.collection.mutable.HashSet.empty[String]
          s ++= rows
          hashCache = Some((w, vac, s))
          Some(s)
        } else { hashCache = None; None }
    }
    set match {
      case Some(s) => hashes.distinct.filterNot(s.contains).toSet
      case None => freshHashes(hashes).as[String].collect().toSet
    }
  }

  /** ingest texts; content-hash dedup skips payloads already in the log
    * (reference BLAKE3 dedup short-circuit, mutation.rs:3300-3316).
    *
    * Dedup identity is the CONTENT hash only — `metadata` (and tags/
    * track/kind) play no part, exactly like the reference, whose
    * short-circuit fires before metadata is examined. Consequence: a
    * re-put of existing content with a new or changed ACL policy is a
    * no-op and the OLD policy stays in force (no error is raised; the
    * returned ids omit the skipped texts). Policy changes must go
    * through [[update]], which supersedes the old version and applies
    * the new metadata; alternatively pass `dedup = false` to force a
    * new version. */
  def put(texts: Seq[(String, String)], // (uri, text)
          track: Option[String] = None, kind: Option[String] = None,
          ts: Timestamp = new Timestamp(1700000000000L),
          tags: Seq[String] = Nil, dedup: Boolean = true,
          enrich: Boolean = true, chunkLargeDocs: Boolean = true,
          metadata: Map[String, String] = Map.empty): Seq[Long] = mutate {
    // the dedup read runs INSIDE the locked section: two writers racing
    // the same content would otherwise both pass the anti-join and
    // double-ingest (read-then-write window)
    val hashed = texts.map { case (u, t) => (u, t, sha(t)) }
    val fresh: Seq[(String, String)] =
      if (dedup && logExists) {
        val keep = freshHashSet(hashed.map(_._3))
        hashed.collect { case (u, t, h) if keep.contains(h) => (u, t) }
      } else texts
    if (fresh.isEmpty) Seq.empty else putFresh(fresh, track, kind, ts, tags,
      enrich, chunkLargeDocs, metadata)
  }

  private def putFresh(fresh: Seq[(String, String)], track: Option[String],
                       kind: Option[String], ts: Timestamp,
                       tags: Seq[String], enrich: Boolean,
                       chunkLargeDocs: Boolean,
                       metadata: Map[String, String]): Seq[Long] = {
    val (idBase, seqBase) = nextIds(fresh.size * 8)
    var id = idBase
    val frames = fresh.flatMap { case (uri, text) =>
      id += 1
      val docId = id
      val docTags = if (enrich) (tags ++ graft.ingest.Enrich.autoTags(text)).distinct else tags
      val dates = if (enrich) graft.ingest.Enrich.contentDates(text) else Nil
      val chunks =
        if (chunkLargeDocs && text.length > 1200) graft.ingest.Structure.chunk(text)
        else Seq(graft.ingest.Structure.Chunk(0, text))
      val doc = Frame(docId, seqBase + 1, ts, kind, track, Some(uri), None,
        text.getBytes("UTF-8"), Some(text), docTags, Nil, metadata, dates,
        "document", None, None, Some(chunks.size), Frame.Active, None, Some(sha(text)))
      // chunks INHERIT the document's metadata: an ACL policy on the
      // parent must govern its chunk hits too, or a restricted document
      // leaks through chunk-level retrieval
      val children = if (chunks.size > 1) chunks.map { c =>
        id += 1
        Frame(id, seqBase + 1, ts, kind, track, Some(s"$uri#${c.index}"), None,
          Array.empty[Byte], Some(c.text), docTags, Nil, metadata, Nil,
          "chunk", Some(docId), Some(c.index), Some(chunks.size),
          Frame.Active, None, None)
      } else Nil
      doc +: children
    }
    appendFrames(frames, liveDelta = Some(frames.size.toLong))
    frames.filter(_.role == "document").map(_.id)
  }

  /** update = append a superseding version (new id, supersedes old id).
    * `metadata` is the NEW version's policy/extra metadata — NOT
    * inherited from the superseded frame: under the ACL metadata
    * contract an omitted policy denies by default (the safe direction),
    * so a caller maintaining restricted content must re-supply it. */
  def update(oldId: Long, newText: String, uri: String,
             ts: Timestamp = new Timestamp(1700000001000L),
             metadata: Map[String, String] = Map.empty): Long =
    updateMany(Seq((oldId, newText, uri)), ts, metadata).head

  /** batch supersede: N updates in ONE log append (one commit). The
    * per-call form costs one parquet write job per update; a curation
    * pass rewriting thousands of documents wants them as one commit —
    * same appended rows, same latest-active result, one write. */
  def updateMany(updates: Seq[(Long, String, String)], // (oldId, text, uri)
                 ts: Timestamp = new Timestamp(1700000001000L),
                 metadata: Map[String, String] = Map.empty): Seq[Long] =
    if (updates.isEmpty) Nil else mutate {
    val (idBase, seqBase) = nextIds(updates.size)
    val frames = updates.zipWithIndex.map { case ((oldId, newText, uri), i) =>
      Frame(idBase + i + 1, seqBase + 1, ts, None, None, Some(uri), None,
        newText.getBytes("UTF-8"), Some(newText), Nil, Nil, metadata,
        graft.ingest.Enrich.contentDates(newText), "document", None, None,
        None, Frame.Active, Some(oldId), Some(sha(newText)))
    }
    appendFrames(frames)
    frames.map(_.id)
  }

  /** delete = append a tombstone version of the same id */
  def delete(id: Long, ts: Timestamp = new Timestamp(1700000002000L)): Unit =
    deleteMany(Seq(id), ts)

  /** batch tombstone: N deletes in ONE log append (one commit) */
  def deleteMany(ids: Seq[Long],
                 ts: Timestamp = new Timestamp(1700000002000L)): Unit =
    if (ids.nonEmpty) mutate {
      val (_, seqBase) = nextIds(0)
      appendFrames(ids.map(id =>
        Frame(id, seqBase + 1, ts, None, None, None, None,
          Array.empty[Byte], None, Nil, Nil, Map.empty, Nil,
          "document", None, None, None, Frame.Tombstoned, None, None)))
    }

  /** When set, `latestActive` serves this read-optimized parquet copy
    * instead of recomputing the window + anti-join per read. Any mutation
    * invalidates it (the log has moved past the copy). */
  private var currentSnapshot: Option[DataFrame] = None

  /** current state: newest version per id, active only, superseded hidden.
    * Served from the pinned snapshot when one is live ([[snapshotCurrent]]) —
    * a plain parquet scan instead of two shuffles. */
  def latestActive: DataFrame = currentSnapshot.getOrElse(latestActiveAsOf(None))

  /** [[latestActive]] restricted to a BOUNDED id list (a result page's
    * ids), in one job. A pinned snapshot serves it lazily as a filtered
    * scan (the id list pushes into the parquet reader). Otherwise one log
    * scan reads the rows of `ids` and of any version superseding one of
    * them — everything the view's per-id window and supersedes anti-join
    * consult for these ids — resolves them on the driver the same way
    * (newest commitSeq per id, Active, not superseded) and returns them as
    * a local relation with the log's columns. Ids with no live row are
    * absent. */
  def latestActiveOf(ids: Seq[Long]): DataFrame = currentSnapshot match {
    case Some(snap) => snap.filter($"id".isin(ids: _*))
    case None =>
      val want = ids.toSet
      val scanned =
        if (ids.isEmpty) Seq.empty[Frame]
        else log.filter($"id".isin(ids: _*) || $"supersedes".isin(ids: _*))
          .collect().toSeq
      val superseded = scanned.flatMap(_.supersedes).toSet
      spark.createDataset(scanned.filter(f => want(f.id)).groupBy(_.id).values
        .map(_.maxBy(_.commitSeq))
        .filter(f => f.status == Frame.Active && !superseded(f.id))
        .toSeq).toDF()
  }

  /** F7 time travel: state as of a commitSeq */
  def asOf(commitSeq: Long): DataFrame = latestActiveAsOf(Some(commitSeq))

  private def latestActiveAsOf(seq: Option[Long]): DataFrame = {
    val snapshot = seq.map(s => log.filter($"commitSeq" <= s)).getOrElse(log.toDF)
    val w = Window.partitionBy($"id").orderBy($"commitSeq".desc)
    val latest = snapshot
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1 && $"status" === Frame.Active)
      .drop("__rn")
    val superseded = snapshot.filter($"supersedes".isNotNull)
      .select($"supersedes".as("id")).distinct()
    latest.join(superseded, Seq("id"), "left_anti")
  }

  /** Materialize the latest-active view as a read-optimized parquet copy,
    * leaving the log (and so as-of history) intact. Computing the view on
    * the fly costs two shuffles per read — the per-id window plus the
    * supersedes anti-join — which is fine for one query and wasteful for
    * a curation run that reads "current" dozens of times: pay the two
    * shuffles once, then every consumer scans a plain table. At 100 TB,
    * write it through `ops.Bucketing` keyed on `id` instead and the
    * downstream joins are exchange-free too (SCALE.md "latest-active
    * view"). `vacuum()` is the destructive in-place variant of the same
    * idea. @return the materialized view, re-read from `outPath` */
  def materializeCurrent(outPath: String): DataFrame = {
    latestActiveAsOf(None).write.mode(SaveMode.Overwrite).parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** Materialize AND pin: every subsequent `latestActive` read — search,
    * ask, timeline, embeddings, the whole curation surface — scans the
    * parquet copy until a mutation lands or [[releaseSnapshot]] is called.
    * This is the multi-read consumer of [[materializeCurrent]]: a curation
    * run that reads "current" N times pays the window + anti-join once. */
  def snapshotCurrent(outPath: String): DataFrame = {
    val df = materializeCurrent(outPath)
    currentSnapshot = Some(df)
    df
  }

  /** drop the pinned snapshot; reads recompute from the live log again */
  def releaseSnapshot(): Unit = currentSnapshot = None

  /** compaction: rewrite only the live view, dropping dead versions
    * (reference vacuum, mutation.rs:2999) */
  def vacuum(): Unit = mutate {
    // distributed: the live view streams straight to the tmp dir (no
    // driver collect — the live set is the whole store), then the swap
    // goes through Hadoop FileSystem so non-local stores (hdfs/s3a)
    // work the same as file://
    val tmp = path + "_vacuum"
    // the minted watermark must SURVIVE compaction: the compacted log's
    // max id is the max LIVE id, and re-minting a vacuumed-away
    // (tombstoned/superseded) id would resurrect its history
    val watermark = readSeqFile().orElse(counters).getOrElse {
      val r = log.agg(max("id"), max("commitSeq")).head
      (if (r.isNullAt(0)) 0L else r.getLong(0),
       if (r.isNullAt(1)) 0L else r.getLong(1), 0L)
    }
    latestActiveAsOf(None).as[Frame].write.mode(SaveMode.Overwrite).parquet(tmp)
    // the watermark rides INSIDE the tmp dir so the rename carries it
    // atomically with the compacted log — a crash anywhere in the swap
    // leaves either the old dir (old _graft_seq intact) or the new one
    // (watermark already in place); writing it only after the rename
    // would open a window where the store exists with NO watermark and a
    // later writer falls back to the compacted log's max LIVE id,
    // re-minting vacuumed-away ids. The vacuum-tracking field advances to
    // THIS compaction's watermark in the same atomic swap: derived-state
    // stamps at exactly the watermark stay append-classifiable (vacuum is
    // value-neutral for the live view); older stamps must rebuild.
    writeSeqFileAt(new org.apache.hadoop.fs.Path(
      tmp.stripSuffix("/") + "/_graft_seq"),
      watermark._1, watermark._2, watermark._2)
    currentSnapshot = None
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fsTmp = new org.apache.hadoop.fs.Path(tmp)
    val hfs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(fsPath, true)
    if (!hfs.rename(fsTmp, fsPath))
      throw new java.io.IOException(s"vacuum: rename $tmp -> $path failed")
    counters = Some((watermark._1, watermark._2, watermark._2))
    // vacuum purges dead Active rows without moving the commit watermark
    // — the dedup-hash population changed, so the cache must re-derive
    // (lastVacuumSeq, the cache's second key, advanced in the same swap)
    hashCache = None
    mutationEpoch += 1
  }

  def stats: (Long, Long, Long) = {
    // one log pass for both log-shaped counters (countDistinct skips the
    // NULL the `when` leaves on non-tombstones — same value as the former
    // filter → distinct → count, one Spark job instead of two); the live
    // count rides the watermark-keyed cache
    val r = log.agg(count(lit(1)),
      countDistinct(when($"status" === Frame.Tombstoned, $"id"))).head
    (r.getLong(0), liveCount, r.getLong(1))
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object FrameStore {
  /** the frame log's on-disk schema (what Dataset[Frame] writes) */
  private[store] val frameSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Frame].schema

  /** dedup-hash cache population bound — past this, puts fall back to
    * the anti-join plan (the log-side set stays distributed) */
  private[store] val HashCacheMax = 200000

  /** Mutation-lock defaults: patient acquire (a contending writer WAITS
    * for a live peer's commit rather than erroring — commits are seconds,
    * not the reference's in-process microseconds), generous stale grace
    * (no heartbeats run mid-append), no stale takeover unless the caller
    * opts in. The reference's tighter 250 ms/10 s defaults remain
    * [[StoreLock.Options]]'s own defaults for direct users. */
  val defaultLockOptions: StoreLock.Options = StoreLock.Options(
    timeoutMs = 120000L, heartbeatMs = 2000L, staleGraceMs = 120000L,
    command = "framestore-mutation", forceStale = false)
}
