package graft.tools

import org.apache.spark.sql.functions._

/** Scratch soak: N REAL writer processes against ONE store for a
  * sustained window — the multi-writer proof the two-JVM fixtures
  * (TwoJvmLockSpec) bound to single interleavings. Each child JVM runs a
  * put / refresh / read loop under DELIBERATELY AGGRESSIVE lock options
  * (forceStale = true with a short stale grace), so a single missed
  * heartbeat window would let a peer STEAL a live writer's lock and the
  * resulting double-mint would show up as an id collision. Asserted
  * invariants, validated by the parent over the final log:
  *
  *   - no lock steals of live writers: every id globally unique
  *     (countDistinct(id) == rows) and commits == the children's summed
  *     put counts — a steal double-mints and breaks one of these;
  *   - serving is always either fresh-indexed or corpus-correct: after
  *     every put the child searches its own just-minted unique token and
  *     must find the id (violations counter), and the ask() route
  *     observable records indexed vs corpus legs;
  *   - concurrent maintenance serializes: refreshVecIndex outcomes are
  *     only fresh/appended (the soak is append-only — a rebuild would
  *     mean a misclassified delta), across genuinely racing processes.
  *
  * The vec index is the PATH-BASED artifact (catalog-free) because a
  * catalog table's metadata does not cross JVM boundaries. Numbers land
  * in ROUNDLOG.md; not part of the library surface.
  *
  * Usage: runMain graft.tools.SoakMultiWriter  (parent; forks children)
  *   env: SPARK_GRAFT_SOAK_SECS (default 120), SPARK_GRAFT_SOAK_WRITERS
  *   (default 3)
  */
object SoakMultiWriter {
  def main(args: Array[String]): Unit = {
    val secs = sys.env.getOrElse("SPARK_GRAFT_SOAK_SECS", "120").toInt
    val nWriters = sys.env.getOrElse("SPARK_GRAFT_SOAK_WRITERS", "3").toInt
    val spark = graft.Sessions.builder("local[8]", "8")
      .appName("graft-multi-writer-soak").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = java.nio.file.Files.createTempDirectory("graft_mw_soak").toString
    val vecPath = s"$base/vec"
    val g = new graft.api.Graft(spark, base)
    (0 until 4).foreach(i => g.put(s"mv2://seed/$i",
      s"seed document $i about spark joins and windows"))
    g.buildVecIndex(vecPath, k = 2, iters = 1, nprobe = 2)

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    def fork(idx: Int): Process = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.SoakWriterChild", base, vecPath,
        secs.toString, idx.toString)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val t0 = System.nanoTime()
    val procs = (1 to nWriters).map(fork)
    val outs = procs.map(p =>
      scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString)
    val codes = procs.map(_.waitFor())
    val wall = (System.nanoTime() - t0) / 1e9
    outs.foreach(o => o.linesIterator
      .filter(_.startsWith("SOAK_")).foreach(println))
    codes.zipWithIndex.filter(_._1 != 0).foreach { case (c, i) =>
      println(s"---- child ${i + 1} exited $c; exception lines ----")
      outs(i).linesIterator.filter(l =>
        l.contains("Exception") || l.contains("Caused by") ||
          l.contains("Error") || l.contains("at graft."))
        .take(40).foreach(println)
    }
    require(codes.forall(_ == 0), s"child exit codes: $codes")

    // parent-side global invariants over the final log
    val log = g.frames.log.toDF.localCheckpoint()
    val rows = log.count()
    val ids = log.select(countDistinct(col("id"))).head.getLong(0)
    val commits = log.select(countDistinct(col("commitSeq"))).head.getLong(0)
    val childPuts = outs.flatMap(_.linesIterator)
      .filter(_.startsWith("SOAK_WRITER"))
      .map(_.split("puts=")(1).split(" ")(0).toLong).sum
    val violations = outs.flatMap(_.linesIterator)
      .filter(_.startsWith("SOAK_WRITER"))
      .map(_.split("violations=")(1).split(" ")(0).toLong).sum
    val unique = rows == ids
    // seeds = 4 docs in 4 commits + exactly one commit per child put
    val commitsOk = commits == 4 + childPuts
    println(s"SOAK_PARENT wall=${math.round(wall)}s writers=$nWriters " +
      s"log_rows=$rows distinct_ids=$ids commits=$commits " +
      s"child_puts=$childPuts ids_unique=$unique commits_exact=$commitsOk " +
      s"violations=$violations")
    require(unique, "ID COLLISION — a lock steal double-minted")
    require(commitsOk, "commit accounting drifted")
    require(violations == 0, "serving correctness violated")
    // append-only workload: every vec/lex/sketch refresh classification
    // must come out fresh or appended — a 'rebuilt' is a torn marker or
    // a misclassified delta (the r18 soak caught exactly this)
    val rebuilt = outs.flatMap(_.linesIterator)
      .filter(_.startsWith("SOAK_WRITER"))
      .flatMap("rebuilt -> (\\d+)".r.findAllMatchIn(_))
      .map(_.group(1).toLong).sum
    require(rebuilt == 0, s"$rebuilt spurious rebuilds in an append-only soak")
    spark.stop()
  }
}

/** one writer process of [[SoakMultiWriter]] — put/refresh/read loop
  * under aggressive (forceStale) lock options; see the parent's doc.
  * args: <base> <vecPath> <seconds> <writerIdx> */
object SoakWriterChild {
  def main(args: Array[String]): Unit = {
    val Array(base, vecPath, secsS, idxS) = args
    val (secs, idx) = (secsS.toInt, idxS.toInt)
    val spark = graft.Sessions.builder("local[4]", "4")
      .appName(s"graft-soak-writer-$idx").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val g = new graft.api.Graft(spark, base)
    g.attachVecIndex(vecPath, nprobe = 2)
    // r19: the lex + sketch maintenance loops join the soak. Catalog
    // metadata does not cross JVM boundaries, so each child maintains its
    // OWN table names — the contended resource under test is the SHARED
    // mutating store (foreign commits race every classification; the r18
    // soak caught exactly such a misclassification) plus this child's
    // maintenance lock discipline.
    val lexTbl = s"soak_lex_w$idx"; val skTbl = s"soak_sk_w$idx"
    // a PRIOR run's crashed child leaves the warehouse DIRECTORY with no
    // catalog entry in this fresh JVM; sweep the residue
    Seq(lexTbl, skTbl).foreach(graft.ops.Bucketing.dropTableAndLocation(spark, _))
    g.buildLexIndex(lexTbl, stemmed = false)
    g.buildSketchTable(skTbl)
    // aggressive second handle for PUTS: a live peer whose heartbeat goes
    // quiet for 15 s gets stolen — the pump (500 ms ticks, ~30× margin)
    // must make that impossible for live writers. The margin is the
    // design envelope: 3 saturated local JVMs on one box can stall a
    // daemon thread for seconds, and a grace under that stall ceiling
    // turns "crashed writer recovery" into live-writer theft (an earlier
    // 5 s run proved it: two processes shared one parquet _temporary).
    val frames = new graft.store.FrameStore(spark, s"$base/frames",
      graft.store.StoreLock.Options(timeoutMs = 120000L,
        heartbeatMs = 500L, staleGraceMs = 15000L,
        command = s"soak-writer-$idx", forceStale = true))
    val deadline = System.currentTimeMillis() + secs * 1000L
    var puts = 0L; var violations = 0L; var lockedErrors = 0L
    var refreshes = Map("fresh" -> 0L, "appended" -> 0L, "rebuilt" -> 0L)
    var skRefreshes = Map("fresh" -> 0L, "appended" -> 0L, "rebuilt" -> 0L)
    var lexRefreshes = Map("fresh" -> 0L, "appended" -> 0L, "rebuilt" -> 0L)
    var sketchOnHits = 0L
    var refreshTimeouts = 0L
    var routes = Map("indexed" -> 0L, "corpus" -> 0L)
    var putWalls = Vector.empty[Double]
    var lastMarker: Option[String] = None
    var i = 0
    while (System.currentTimeMillis() < deadline) {
      val marker = s"wmk${idx}x$i"
      val t0 = System.nanoTime()
      try {
        val ids = frames.put(Seq((s"mv2://w$idx/$i",
          s"writer $idx iteration $i about spark joins $marker")))
        putWalls :+= (System.nanoTime() - t0) / 1e9
        puts += 1
        lastMarker = Some(marker)
        // corpus-route read-your-write: the fallback scorer scans the
        // live log, so the just-minted doc must surface for its unique
        // token regardless of any index state
        val hit = g.search(marker, topK = 3)
          .select("id").collect().map(_.getLong(0))
        if (!ids.forall(hit.contains)) violations += 1
      } catch {
        case _: graft.store.StoreLock.StoreLockedException => lockedErrors += 1
      }
      // refreshes are FALLIBLE under contention: N writers racing one
      // artifact's maintenance lock can push a waiter past the 120 s
      // acquire timeout while the holder is legitimately alive (the
      // 5-way soak measured exactly this) — the API throws
      // StoreLockedException and the caller retries next round; serving
      // never blocks on it (stale = corpus fallback). Count, don't die.
      def refreshCounted(run: () => String,
                         bump: String => Unit): Unit =
        try bump(run())
        catch {
          case _: graft.store.StoreLock.StoreLockedException =>
            refreshTimeouts += 1
        }
      if (i % 3 == 2) {
        refreshCounted(() => g.refreshVecIndex(),
          o => refreshes = refreshes.updated(o, refreshes(o) + 1))
        g.ask("spark joins", topK = 3)
        routes = routes.updated(g.lastAskVecRoute,
          routes(g.lastAskVecRoute) + 1)
      }
      if (i % 3 == 1) {
        // lex + sketch maintenance race foreign commits: classifications
        // must come out fresh/appended only (the soak is append-only for
        // THIS child's artifacts — a 'rebuilt' means a torn marker or a
        // misclassified delta), and a sketch-ON search must stay correct
        refreshCounted(() => g.refreshLexIndex(),
          o => lexRefreshes = lexRefreshes.updated(o, lexRefreshes(o) + 1))
        refreshCounted(() => g.refreshSketchTable(),
          o => skRefreshes = skRefreshes.updated(o, skRefreshes(o) + 1))
        lastMarker.foreach { mk =>
          val hits = g.search(mk, topK = 3).select("id").collect()
          // sketch_applied requires BOTH stamps current — a foreign
          // commit between the refreshes and the search legally flips it
          // off (skip is the lossless direction); when it DID apply, the
          // marker doc must still surface (floor >> corpus size here)
          if (g.lastSketchApplied) {
            sketchOnHits += 1
            if (hits.isEmpty) violations += 1
          }
        }
      }
      i += 1
    }
    val sorted = putWalls.sorted
    def pct(p: Double) = if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1, (sorted.size * p).toInt))
    println(f"SOAK_WRITER idx=$idx puts=$puts violations=$violations " +
      f"locked_errors=$lockedErrors put_p50=${pct(0.5)}%.2f " +
      f"put_p99=${pct(0.99)}%.2f refreshes=$refreshes routes=$routes " +
      f"lex=$lexRefreshes sk=$skRefreshes sketch_on_hits=$sketchOnHits " +
      f"refresh_timeouts=$refreshTimeouts")
    spark.sql(s"DROP TABLE IF EXISTS `$lexTbl`")
    spark.sql(s"DROP TABLE IF EXISTS `$skTbl`")
    spark.stop()
    sys.exit(0)
  }
}
