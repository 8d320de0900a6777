package servebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One call into one layer: its name, the span that caused it, and its
  * interval on the wall clock (ms, the clock of listener events) and on the
  * monotonic clock (ns, for durations). */
final class Span(val id: Long, val name: String, val parent: Option[Span],
                 val onClient: Boolean) {
  var startNs, endNs, startMs, endMs = 0L
  def openAt(t: Long): Boolean = startMs <= t && t <= endMs
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory until the run ends, plus a listener that gives every Spark job
  * and task to the innermost open span.
  *
  * A span marks its thread with a Spark local property, which Spark copies
  * into every job and stage the thread submits (also from the helper
  * threads of broadcasts and adaptive stages). A job whose mark names no
  * span open at its start — a pooled thread keeps the mark of the thread
  * that created it — goes to the innermost span open on the client thread
  * at that moment. A tracer built without a context, or not active, only
  * runs the bodies. */
final class Tracer(sc: Option[SparkContext]) {
  import Tracer._

  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val client = Thread.currentThread
  private val jobs = new ConcurrentHashMap[Int, Event]
  private val stages = new ConcurrentHashMap[Int, Event]
  private val stageTasks = new ConcurrentHashMap[Int, AtomicInteger]
  /** spans are recorded only while this is set (the timed phase) */
  @volatile var active: Boolean = false

  private def mark(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(q => Option(q.getProperty(Key))).flatMap(_.toLongOption)

  sc.foreach(_.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, new Event(mark(e.properties), e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.put(e.stageInfo.stageId, new Event(mark(e.properties),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageTasks.computeIfAbsent(e.stageId, _ => new AtomicInteger).incrementAndGet(): Unit
  }))

  /** run `body` inside a span named `name`; the body gets the span to pass
    * as the parent of the spans it opens, on this thread or another */
  def span[A](name: String, parent: Option[Span])(body: Option[Span] => A): A =
    sc.filter(_ => active) match {
      case None => body(None)
      case Some(ctx) =>
        val s = new Span(ids.incrementAndGet(), name, parent,
          Thread.currentThread eq client)
        val outer = ctx.getLocalProperty(Key)
        ctx.setLocalProperty(Key, s.id.toString)
        s.startMs = System.currentTimeMillis; s.startNs = System.nanoTime
        try body(Some(s)) finally {
          s.endNs = System.nanoTime; s.endMs = System.currentTimeMillis
          ctx.setLocalProperty(Key, outer)
          done.add(s)
        }
    }

  /** Attribute every delivered job and task and fold the spans into one
    * record per span and one per request. Call after the timed phase. */
  def summary(): Summary = {
    sc.foreach(org.apache.spark.ServebenchBus.drain)
    val spans = done.asScala.toVector
    val byId = spans.map(s => s.id -> s).toMap
    val clientSpans = spans.filter(_.onClient)
    def owner(e: Event): Option[Span] =
      e.mark.flatMap(byId.get).filter(_.openAt(e.startMs)).orElse(
        clientSpans.filter(_.openAt(e.startMs)).maxByOption(_.startNs))
    def root(s: Span): Span = s.parent.fold(s)(root)

    val jobOwners = jobs.values.asScala.toVector.flatMap(j => owner(j).map(_ -> j))
    val jobCount = jobOwners.groupMapReduce(_._1.id)(_ => 1)(_ + _)
    val taskCount = stages.asScala.toVector.flatMap { case (sid, st) =>
      owner(st).map(_.id -> Option(stageTasks.get(sid)).fold(0)(_.get))
    }.groupMapReduce(_._1)(_._2)(_ + _)

    val children = spans.groupBy(_.parent.map(_.id))
    val occurrences = spans.map { s =>
      val kids = children.getOrElse(Some(s.id), Vector.empty)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      val selfNs = (s.endNs - s.startNs) - covered(kids)
      s.name -> Occurrence(selfNs / 1e6, jobCount.getOrElse(s.id, 0),
        taskCount.getOrElse(s.id, 0))
    }.groupMap(_._1)(_._2)

    // per request: wall time of its top-level span and the part of it
    // during which at least one of its jobs was running
    val jobsByRoot = jobOwners.groupMap(p => root(p._1).id)(_._2)
    val requests = spans.filter(_.parent.isEmpty).map { r =>
      val own = jobsByRoot.getOrElse(r.id, Vector.empty)
      val busy = covered(own.map(j =>
        (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs))))
      val inTree = spans.filter(s => root(s).id == r.id)
      Request(r.endMs - r.startMs, busy, own.size,
        inTree.map(s => taskCount.getOrElse(s.id, 0)).sum)
    }
    Summary(occurrences, requests)
  }
}

object Tracer {
  val Key = "servebench.span"
  val off = new Tracer(None)

  private final class Event(val mark: Option[Long], val startMs: Long) {
    @volatile var endMs: Long = startMs
  }

  final case class Occurrence(selfMs: Double, jobs: Int, tasks: Int)
  final case class Request(wallMs: Long, busyMs: Long, jobs: Int, tasks: Int)
  final case class Summary(spans: Map[String, Vector[Occurrence]],
                           requests: Vector[Request])

  /** total length covered by a set of intervals (overlaps counted once) */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    for ((a, b) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (!started || a > reach) { total += b - a; reach = b; started = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
