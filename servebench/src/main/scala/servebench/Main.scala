package servebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.api.Graft
import org.apache.spark.sql.catalyst.TableIdentifier

/** Serving benchmark for the `Graft` facade: one process, one client
  * thread, closed loop (the next call starts when the previous returned),
  * Spark on `local[nproc]`.
  *
  * {{{
  * Main --workload serve_corpus|ingest_serve --seed N --seconds S
  *      --trace 0|1 --dir RUN_DIR [--corrupt 1]
  * }}}
  *
  * Writes the store, the warehouse and Spark's scratch space under RUN_DIR
  * and prints one JSON run record as the last line of stdout. `--trace 1`
  * serves through [[ComposedServer]] with spans and adds the per-layer
  * numbers; `--corrupt 1` spoils one expected answer, so the run must
  * report a failed call. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.get("trace").contains("1"), a("dir"), a.get("corrupt").contains("1"))
    val record = try run.record() finally run.stop()
    println(Json(record))
    System.out.flush()
    sys.exit(0) // do not wait on threads Spark leaves behind
  }
}

final class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                dir: String, corrupt: Boolean) {
  private val nproc = Runtime.getRuntime.availableProcessors
  private val indexed = workload == "ingest_serve"
  // an ingest step takes seconds, so its pool holds one request of each
  // verb: every step is a whole pass, and each of its p50s covers the same
  // request however many steps fit in the timed phase
  private val inputs = Inputs(seed, if (indexed) Vector(2) else Vector(1, 2, 3, 2))
  private val spark = graft.Sessions.builder(s"local[$nproc]", nproc.toString)
    .config("spark.sql.warehouse.dir", s"$dir/warehouse")
    .config("spark.local.dir", s"$dir/spark-local")
    .getOrCreate()
  graft.Sessions.ensureFunctions(spark)
  spark.sparkContext.setLogLevel("ERROR")
  private val tracer = if (trace) new Tracer(Some(spark.sparkContext)) else Tracer.off

  def stop(): Unit = spark.stop()

  // ---- what the timed phase measures ----
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted, failed, completed = 0
  private val failures = mutable.ArrayBuffer.empty[String] // failed calls and checks
  private val searches = mutable.ArrayBuffer.empty[SearchAnswer]
  private val asks = mutable.ArrayBuffer.empty[AskAnswer]
  private val refreshes = mutable.ArrayBuffer.empty[String]
  private val keptFracs = mutable.ArrayBuffer.empty[Double]

  private def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** One facade call: timed, then checked. A call that throws or fails its
    * check counts as failed and leaves no latency sample. */
  private def call[A](kind: String)(f: => A)(ok: A => Boolean): Option[A] = {
    val t = System.nanoTime
    val r = try Right(f) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime - t) / 1e6
    attempted += 1
    r match {
      case Right(a) if ok(a) => completed += 1; sample(kind, ms); Some(a)
      case other =>
        failed += 1
        failures += s"$kind: " + other.fold(_.toString, _ => "wrong answer")
        None
    }
  }

  private def check(what: String)(ok: Boolean): Unit =
    if (!ok) failures += s"check failed: $what"

  // ---- set-up: the store and, on ingest_serve, its three indexes ----
  private val g = new Graft(spark, s"$dir/store")
  private val lexTable = Option.when(indexed)("lex")
  private val sketchTable = Option.when(indexed)("sketch")
  private val vecPath = Option.when(indexed)(s"$dir/vec")
  private val buildS = {
    val t = System.nanoTime
    g.frames.put(inputs.corpus)
    lexTable.foreach(g.buildLexIndex(_))
    sketchTable.foreach(g.buildSketchTable)
    vecPath.foreach(g.buildVecIndex(_, k = 4, iters = 1, nprobe = 2))
    (System.nanoTime - t) / 1e9
  }

  private val facade = new FacadeServer(g)
  private def composed(t: Tracer) =
    new ComposedServer(g, t, lexTable, sketchTable, vecPath.map(_ -> 2))
  // the traced run serves through the composed layers and checks them
  // against the facade; the untraced run the other way round
  private val (server, other) =
    if (trace) (composed(tracer), facade) else (facade, composed(Tracer.off))

  private val route = if (indexed) "indexed" else "corpus"
  private val pool = inputs.searches.size
  private var puts = 0
  private val putText = mutable.ArrayBuffer.empty[String]

  private def searched(a: SearchAnswer): Unit = {
    searches += a
    if (trace) server match {
      case c: ComposedServer => c.lastCandidates.foreach(cands =>
        keptFracs += cands.count().toDouble / g.frames.liveCount)
      case _ => ()
    }
  }

  // ---- serve_corpus: the request pool, its answers computed untimed at
  // set-up through the other path (which also warms the code up) ----
  private val expectedSearch = if (indexed) Vector.empty[SearchAnswer] else {
    val exp = inputs.searches.map(other.search(_))
    if (corrupt) exp.updated(0, exp(0).copy(rows = exp(0).rows.drop(1))) else exp
  }
  private val expectedAsk =
    if (indexed) Vector.empty[AskAnswer] else inputs.questions.map(other.ask)

  private def corpusCall(i: Int): Unit = {
    val j = (i / 2) % pool
    if (i % 2 == 0)
      call("search")(server.search(inputs.searches(j)))(a =>
        a.route == route && a.rows == expectedSearch(j).rows).foreach(searched)
    else
      call("ask")(server.ask(inputs.questions(j)))(a =>
        a.route == route && a.sameAs(expectedAsk(j))).foreach(asks += _)
  }

  // ---- ingest_serve: put, refresh, find the new document, then read ----
  private def ingestStep(i: Int, compare: Boolean): Unit = {
    val d = inputs.ingestDoc(i)
    check(s"${d.uri} mints no memory cards")(
      graft.ingest.Enrich.extractCards(d.text).isEmpty)
    val t0 = System.nanoTime
    val id = call("put")(server.put(d))(_.isDefined).flatten
    if (id.isDefined) { puts += 1; putText += d.text }
    val outcomes = Seq[(String, () => String)](
      "refresh_lex" -> (() => server.refreshLex()),
      "refresh_vec" -> (() => server.refreshVec()),
      "refresh_sketch" -> (() => server.refreshSketch())).map { case (k, f) =>
      call(k)(f())(Set("appended", "fresh", "rebuilt").contains)
    }
    refreshes ++= outcomes.flatten
    // the visibility probe searches exhaustively: the sketch pre-filter
    // trades recall for speed and drops a fresh document from about a fifth
    // of these marker searches
    val hit = call("find")(server.search(d.marker, noSketch = true))(a =>
      a.route == route && id.isDefined && a.ids.headOption == id)
    if (id.isDefined && outcomes.forall(_.isDefined) && hit.isDefined)
      sample("visible", (System.nanoTime - t0) / 1e6)
    hit.foreach(searched)
    val j = i % pool // a whole pass of steps reads every pooled request once
    val mix = call("search")(server.search(inputs.searches(j)))(a =>
      a.route == route && a.rows.nonEmpty)
    mix.foreach(searched)
    val asked = call("ask")(server.ask(inputs.questions(j)))(a =>
      a.route == route && a.citations.nonEmpty)
    asked.foreach(asks += _)
    if (compare) {
      check(s"facade and composed search agree on '${d.marker}'")(
        hit.forall(_.rows == other.search(d.marker, noSketch = true).rows))
      check(s"facade and composed search agree on '${inputs.searches(j)}'")(
        mix.forall(_.rows == other.search(inputs.searches(j)).rows))
      check(s"facade and composed ask agree on '${inputs.questions(j)}'")(
        asked.forall(_.sameAs(other.ask(inputs.questions(j)))))
    }
  }

  def record(): mutable.LinkedHashMap[String, Any] = {
    // warm-up: ingest_serve makes two untimed steps (a cold first step runs
    // about half again as long as a warm one, and the second still runs
    // slower than the third, so the share of slow steps would depend on how
    // many steps fit), which in the traced run also check the composed
    // answers against the facade's; serve_corpus warmed up computing its
    // expected answers and checks every call against them
    val warmSteps = if (indexed) 2 else 0
    (0 until warmSteps).foreach(ingestStep(_, compare = trace))
    check("set-up answers took the workload's route")(
      (expectedSearch.map(_.route) ++ expectedAsk.map(_.route)).forall(_ == route))
    val warmFailed = failed
    samples.clear(); attempted = 0; failed = 0; completed = 0
    searches.clear(); asks.clear(); refreshes.clear(); keptFracs.clear()

    // timed phase, in whole passes over the request pool, so every run
    // samples each pooled request equally often however many calls fit
    val firstCallS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    tracer.active = true
    val cpu0 = Run.processCpuNs
    val start = System.nanoTime
    val deadline = start + seconds * 1000000000L
    val cycle = if (indexed) pool else 2 * pool
    var n = 0
    while (System.nanoTime < deadline || n % cycle != 0) {
      if (indexed) ingestStep(warmSteps + n, compare = false) else corpusCall(n)
      n += 1
    }
    val timedS = (System.nanoTime - start) / 1e9
    val cpuS = (Run.processCpuNs - cpu0) / 1e9
    tracer.active = false

    if (indexed) check("live frames equal the documents put")(
      g.frames.liveCount == Inputs.CorpusSize + puts)

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (trace) 1 else 0), "corrupt" -> corrupt,
      "correct" -> (failures.isEmpty && warmFailed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(8).toSeq,
      "steps" -> n, "timed_s" -> timedS, "build_s" -> buildS,
      "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
      "spark_threads" -> nproc)
    rec("e2e") = e2e(firstCallS, timedS, cpuS)
    rec("samples_ms") = samples.map { case (k, xs) => k -> xs.map(x => math.rint(x * 10) / 10).toSeq }
    if (trace) rec("layers") = layers(tracer.summary())
    rec
  }

  /** a metric of the run record; `better` is the direction in which it
    * improves, which compare.py reads */
  private def metric(v: Double, unit: String, n: Int = 0, better: String = "lower") =
    mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> unit, "better" -> better) ++
      (if (n > 0) Seq("n" -> n) else Nil)

  private def e2e(firstCallS: Double, timedS: Double,
                  cpuS: Double): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    // process start to the first timed call: JVM and session start, bulk
    // put, index builds, and the untimed warm-up or expected answers
    out("setup_s") = metric(firstCallS, "s")
    for (kind <- Seq("search", "ask", "find", "put", "visible"); xs <- samples.get(kind)) {
      out(s"${kind}_p50_ms") = metric(Run.median(xs.toSeq), "ms", xs.size)
      // a p95 needs at least ten samples beyond it
      if (xs.size >= 200) out(s"${kind}_p95_ms") = metric(Run.quantile(xs.toSeq, 0.95), "ms", xs.size)
    }
    out("ops_per_s") = metric(completed / timedS, "1/s", completed, "higher")
    // the JVM's CPU time per call: the cost of a call, which host
    // contention stretches far less than its wall time
    out("cpu_ms_per_op") = metric(cpuS * 1e3 / math.max(completed, 1), "ms", completed)
    out("failed_frac") = metric(failed.toDouble / math.max(attempted, 1), "frac", attempted)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    out("heap_live_mb") = metric(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB")
    val onDisk = Run.bytes(Paths.get(s"$dir/store")) +
      vecPath.fold(0L)(p => Run.bytes(Paths.get(p))) +
      (lexTable ++ sketchTable).toSeq.map(t => Run.bytes(Paths.get(
        spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).location))).sum
    val textBytes = (inputs.corpus.map(_._2) ++ putText).map(_.getBytes("UTF-8").length.toLong).sum
    out("space_amp") = metric(onDisk.toDouble / textBytes, "ratio")
    out
  }

  private def layers(s: Tracer.Summary): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    def spanMetrics(name: String, occ: Vector[Tracer.Occurrence], withTasks: Boolean): Unit =
      if (occ.nonEmpty) {
        val ms = if (name == "api.search" || name == "api.ask" || name == "api.put") "self_ms" else "ms"
        out(s"$name.$ms") = metric(Run.median(occ.map(_.selfMs)), "ms", occ.size)
        out(s"$name.jobs") = metric(occ.map(_.jobs).sum.toDouble / occ.size, "count", occ.size)
        if (withTasks)
          out(s"$name.tasks") = metric(occ.map(_.tasks).sum.toDouble / occ.size, "count", occ.size)
      }
    def ranked(name: String) = name.startsWith("search.rank") || name == "ask.ladder"
    for ((name, occ) <- s.spans.toSeq.sortBy(_._1)) spanMetrics(name, occ, ranked(name))
    // the rank layer whichever route served it: rank_indexed on
    // ingest_serve, rank_corpus on serve_corpus
    spanMetrics("search.rank",
      s.spans.getOrElse("search.rank_indexed", Vector.empty) ++
        s.spans.getOrElse("search.rank_corpus", Vector.empty), withTasks = true)
    if (keptFracs.nonEmpty)
      out("search.sketch_kept_frac") = metric(keptFracs.sum / keptFracs.size, "frac", keptFracs.size)
    out("store.log_files") = metric(Run.dataFiles(Paths.get(s"$dir/store/frames")), "count")
    if (refreshes.nonEmpty)
      out("api.refresh_appended_frac") = metric(
        refreshes.count(_ == "appended").toDouble / refreshes.size, "frac", refreshes.size,
        "higher")
    if (asks.nonEmpty)
      out("ask.sources_per_call") = metric(
        asks.map(_.sources.size).sum.toDouble / asks.size, "count", asks.size)
    val routes = searches.map(_.route) ++ asks.map(_.route)
    out("api.route_indexed_frac") = metric(
      routes.count(_ == "indexed").toDouble / math.max(routes.size, 1), "frac", routes.size,
      "higher")
    val req = s.requests
    out("spark.jobs_per_op") = metric(req.map(_.jobs).sum.toDouble / req.size, "count", req.size)
    out("spark.tasks_per_op") = metric(req.map(_.tasks).sum.toDouble / req.size, "count", req.size)
    out("spark.idle_share") = metric(
      1.0 - req.map(_.busyMs).sum.toDouble / math.max(req.map(_.wallMs).sum, 1L), "frac", req.size)
    out
  }
}

object Run {
  /** CPU time of this JVM, all threads */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear interpolation between closest ranks */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def files(root: Path): Vector[Path] =
    if (!Files.exists(root)) Vector.empty
    else {
      val st = Files.walk(root)
      try { import scala.jdk.CollectionConverters._
        st.iterator.asScala.filter(Files.isRegularFile(_)).toVector }
      finally st.close()
    }

  def bytes(root: Path): Long = files(root).map(Files.size).sum

  /** parquet data files of a table directory (no markers or checksums) */
  def dataFiles(root: Path): Int = files(root).count { p =>
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }
}
