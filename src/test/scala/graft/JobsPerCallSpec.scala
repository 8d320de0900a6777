package graft

import graft.api.Graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Pins how many Spark jobs one facade `search()` issues on a warm handle
  * with a fresh postings table and sketch table attached: the sketch
  * pre-filter must ride the ranking query as a lazy plan (no driver action
  * before the ranking collect), and the page text comes from one bounded
  * lookup. It also pins the jobs of each index refresh on an append-only
  * ingest step: the delta is classified once, under the index's lock. A
  * failure prints every job it counted with its call site. */
class JobsPerCallSpec extends SparkSpec {

  /** a job: its id and the call site of the SQL action that ran it (an
    * adaptive query stage runs as its own job under the same action) */
  private final case class Job(id: Int, action: String)

  /** every job `body` submits, in submission order */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val actions = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        e.jobId,
        Option(e.properties).flatMap(p => Option(p.getProperty(
          "spark.sql.execution.id"))).flatMap(_.toLongOption).getOrElse(-1L)))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actions.put(s.executionId, s.description): Unit
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.sortBy(_._1).map { case (id, ex) =>
      Job(id, Option(actions.get(ex)).getOrElse(s"no SQL action ($ex)")) }
  }

  private def show(jobs: Seq[Job]): String =
    jobs.map(j => s"  job ${j.id}: ${j.action}").mkString("\n", "\n", "")

  test("warm indexed search(): <= 10 jobs with the sketch, <= 4 without, none before the ranking collect") {
    val g = new Graft(spark,
      java.nio.file.Files.createTempDirectory("graft_jobs_per_call").toString)
    val vocab = Seq("spark", "join", "window", "shuffle", "stage", "task",
      "broadcast", "partition", "memory", "index")
    val rnd = new scala.util.Random(7)
    g.frames.put((0 until 120).map(i => (s"mv2://jpc/$i",
      Seq.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))))
    val lex = "jobs_per_call_lex"; val skt = "jobs_per_call_sk"
    Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    g.buildLexIndex(lex)
    g.buildSketchTable(skt)
    // an ingest step, as a serving store sees them: the indexes catch up
    // by append and the next read is served indexed
    g.frames.put(Seq(("mv2://jpc/new", "spark join marker window")))
    assert(g.refreshLexIndex() == "appended")
    assert(g.refreshSketchTable() == "appended")
    val q = "spark join"
    g.search(q).collect(); g.search(q, noSketch = true).collect() // warm
    val withSketch = jobsOf(g.search(q).collect(): Unit)
    assert(g.lastSearchRoute == "indexed" && g.lastSketchApplied)
    val noSketch = jobsOf(g.search(q, noSketch = true).collect(): Unit)
    info(s"default search(): ${withSketch.size} jobs${show(withSketch)}")
    info(s"noSketch search(): ${noSketch.size} jobs${show(noSketch)}")
    assert(g.lastSearchRoute == "indexed" && !g.lastSketchApplied)
    assert(withSketch.size <= 10,
      s"default search() ran ${withSketch.size} jobs:${show(withSketch)}")
    assert(noSketch.size <= 4,
      s"noSketch search() ran ${noSketch.size} jobs:${show(noSketch)}")
    // the first job of the call belongs to the ranking collect's SQL
    // execution (its adaptive stages carry the same execution id), so no
    // action ran on the driver's behalf before it
    Seq(withSketch, noSketch).foreach { jobs =>
      assert(jobs.headOption.exists(_.action.startsWith("collect at Search.scala")),
        s"a job ran before the ranking collect:${show(jobs)}")
    }
    Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("append-only ingest step: refreshLexIndex <= 4 jobs, refreshVecIndex <= 6, refreshSketchTable <= 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs_per_refresh").toString
    val g = new Graft(spark, s"$dir/store")
    val vocab = Seq("spark", "join", "window", "shuffle", "stage", "task",
      "broadcast", "partition", "memory", "index")
    val rnd = new scala.util.Random(11)
    g.frames.put((0 until 120).map(i => (s"mv2://jpr/$i",
      Seq.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))))
    val lex = "jobs_per_refresh_lex"; val skt = "jobs_per_refresh_sk"
    Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    g.buildLexIndex(lex)
    g.buildSketchTable(skt)
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    val refreshes = Seq[(String, () => String, Int)](
      ("refreshLexIndex", () => g.refreshLexIndex(), 4),
      ("refreshVecIndex", () => g.refreshVecIndex(), 6),
      ("refreshSketchTable", () => g.refreshSketchTable(), 1))
    // one warm-up step, then the counted one: put one document, and each
    // index catches up by append
    (0 to 1).foreach { step =>
      g.frames.put(Seq((s"mv2://jpr/new$step", s"spark join marker$step window")))
      refreshes.foreach { case (name, refresh, limit) =>
        var outcome = ""
        val jobs = jobsOf { outcome = refresh() }
        assert(outcome == "appended", s"$name: $outcome")
        if (step == 1) {
          info(s"$name: ${jobs.size} jobs${show(jobs)}")
          assert(jobs.size <= limit, s"$name ran ${jobs.size} jobs:${show(jobs)}")
        }
      }
    }
    Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
