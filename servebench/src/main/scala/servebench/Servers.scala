package servebench

import graft.api.Graft
import graft.ask.{Ask, HashEmbedder}
import graft.search.{FrameCols, QExpr, QueryParser, Search, SketchFilter}
import graft.vector.IvfIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** A search result: the route that served it and its hit rows. */
final case class SearchAnswer(route: String, rows: Vector[Row]) {
  def ids: Vector[Long] = rows.map(_.getAs[Long]("id"))
}

/** An ask result: the route of its retrievals ("indexed", "corpus" or
  * "mixed") and everything the caller reads. */
final case class AskAnswer(route: String, answer: String,
                           citations: Vector[(Long, Double)],
                           sources: Seq[String], engine: String) {
  def sameAs(o: AskAnswer): Boolean = answer == o.answer &&
    citations == o.citations && sources == o.sources && engine == o.engine
}

object AskAnswer {
  def apply(routes: Seq[String], r: Ask.Response): AskAnswer = AskAnswer(
    routes.distinct match {
      case Seq(one) => one
      case _ => "mixed"
    },
    r.answer, r.citations.map(c => (c.id, c.score)).toVector, r.sources, r.engine)
}

/** The calls a workload makes against one store. */
trait Server {
  /** @param noSketch skip the sketch pre-filter (the facade's opt-out) */
  def search(q: String, noSketch: Boolean = false): SearchAnswer
  def ask(q: String): AskAnswer
  def put(d: Inputs.Doc): Option[Long]
  def refreshLex(): String
  def refreshVec(): String
  def refreshSketch(): String
}

/** The public facade, called the way a user calls it. */
final class FacadeServer(g: Graft) extends Server {
  def search(q: String, noSketch: Boolean): SearchAnswer = {
    val rows = g.search(q, noSketch = noSketch).collect().toVector
    SearchAnswer(g.lastSearchRoute, rows)
  }
  def ask(q: String): AskAnswer = {
    val r = g.ask(q)
    AskAnswer(Seq(g.lastAskLexRoute, g.lastAskVecRoute), r)
  }
  def put(d: Inputs.Doc): Option[Long] = g.put(d.uri, d.text)
  def refreshLex(): String = g.refreshLexIndex()
  def refreshVec(): String = g.refreshVecIndex()
  def refreshSketch(): String = g.refreshSketchTable()
}

/** The facade's verbs re-composed from the layers' public entry points, in
  * the order `Graft` calls them, with a span around each layer call. Steps
  * without a public entry point of their own — the freshness probe, the
  * routing, opening the vector index — remain in the self time of the
  * `api.*` span. Each rank span ends with its result on the driver, so the
  * jobs that produce a page count against the layer that ranked it.
  *
  * A put goes straight to the store: the facade's other put-time step,
  * minting memory cards, does nothing for documents without card facts,
  * which the benchmark checks of every document it writes. The index
  * refreshes have no finer public entry point and are timed whole.
  *
  * @param lex   attached postings table, if any
  * @param sketch attached sketch table, if any
  * @param vec   attached IVF index path and nprobe, if any */
final class ComposedServer(g: Graft, tr: Tracer, lex: Option[String],
                           sketch: Option[String],
                           vec: Option[(String, Int)]) extends Server {
  private val spark = g.spark
  private val embedder = new HashEmbedder(64) // the facade's default embedder
  private val frameCols = FrameCols(text = coalesce(col("text"), lit("")),
    uri = col("uri"), track = col("track"), kind = col("kind"),
    tags = col("tags"), labels = col("labels"), timestamp = col("timestamp"))

  /** the last search's sketch candidates, for the kept-share counter */
  var lastCandidates: Option[DataFrame] = None

  // freshness verdicts, kept per store version like the facade keeps them
  private var verdicts = Map.empty[String, (Long, Boolean)]
  private var handle: Option[(Long, Option[IvfIndex.Handle])] = None

  private def fresh(table: String): Boolean = synchronized {
    val v = g.currentVersion
    verdicts.get(table) match {
      case Some((k, f)) if k == v => f
      case _ =>
        val f = spark.catalog.tableExists(table) &&
          spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
            .properties.get("graft.store.version").contains(v.toString)
        verdicts += table -> (v, f)
        f
    }
  }

  private def vecHandle(path: String): Option[IvfIndex.Handle] = synchronized {
    val v = g.currentVersion
    handle match {
      case Some((k, h)) if k == v => h
      case _ =>
        val stamp = new org.apache.hadoop.fs.Path(s"$path/_GRAFT_STORE_VERSION")
        val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val stamped = IvfIndex.exists(spark, path) && fs.exists(stamp) && {
          val in = fs.open(stamp)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim == v.toString
          finally in.close()
        }
        val h = if (stamped) Some(IvfIndex.read(spark, path)) else None
        handle = Some((v, h))
        h
    }
  }

  private def latestActive(parent: Option[Span]): DataFrame =
    tr.span("store.latest_active", parent)(_ => g.frames.latestActive)

  /** the rows of a bounded result, as a local relation */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  def search(q: String, noSketch: Boolean): SearchAnswer = tr.span("api.search", None) { api =>
    lastCandidates = None
    lex match {
      case Some(t) if fresh(t) =>
        val opts = Search.Options(topK = 10, engine = Search.BM25Engine)
        val candidates = sketch.filter(_ => !noSketch).filter(fresh)
          .filter(_ => QExpr.words(QueryParser.parse(q)).exists(_.nonEmpty))
          .map { sk =>
            tr.span("search.sketch_candidates", api) { sp =>
              val qh = SketchFilter.querySimhash(spark, q)
              val live = latestActive(sp).select(col("id").cast("long").as("doc_id"))
              SketchFilter.candidates(
                spark.table(sk).join(live, Seq("doc_id"), "left_semi"), qh, 10)
            }
          }
        lastCandidates = candidates
        val docs = latestActive(api)
        SearchAnswer("indexed", tr.span("search.rank_indexed", api)(_ =>
          Search.searchIndexed(docs, "id", frameCols, q, t, opts,
            allowedIds = candidates).collect().toVector))
      case Some(_) =>
        val docs = latestActive(api)
        SearchAnswer("corpus", tr.span("search.rank_corpus", api)(_ =>
          Search.search(docs, "id", frameCols, q,
            Search.Options(topK = 10, engine = Search.BM25Engine)).collect().toVector))
      case None =>
        val docs = latestActive(api)
        SearchAnswer("corpus", tr.span("search.rank_corpus", api)(_ =>
          Search.search(docs, "id", frameCols, q, Search.Options(topK = 10))
            .collect().toVector))
    }
  }

  def ask(q: String): AskAnswer = tr.span("api.ask", None) { api =>
    val served = vec.flatMap { case (p, nprobe) => vecHandle(p).map(_ -> nprobe) }
    val routes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // the vector rung's route, as the facade reports it ("corpus" also
    // when no index is attached)
    routes.add(if (served.isDefined) "indexed" else "corpus")
    var ladder: Option[Span] = None
    val docs = latestActive(api)
    // Ask's ladder calls these from its own threads, always inside the
    // ladder span; with no postings table the lexical rungs run the very
    // call Ask makes by default
    val lexSearch = (q2: String, k: Int) => lex match {
      case Some(t) if fresh(t) =>
        routes.add("indexed")
        val d = latestActive(ladder)
        tr.span("search.rank_indexed", ladder)(_ => local(Search.searchIndexed(d,
          "id", frameCols, q2, t, Search.Options(topK = k, withSnippets = false,
            engine = Search.BM25Engine))))
      case Some(_) =>
        routes.add("corpus")
        val d = latestActive(ladder)
        tr.span("search.rank_corpus", ladder)(_ => local(Search.search(d, "id",
          frameCols, q2, Search.Options(topK = k, withSnippets = false,
            engine = Search.BM25Engine))))
      case None =>
        routes.add("corpus")
        tr.span("search.rank_corpus", ladder)(_ => local(Search.search(docs, "id",
          frameCols, q2, Search.Options(topK = k, withSnippets = false))))
    }
    val ann = served.map { case (h, nprobe) =>
      (qv: Array[Float], k: Int) => tr.span("vector.ivf_search", ladder)(_ =>
        local(h.search("id", "vector", qv, k, nprobe)))
    }
    val corpus = Ask.Corpus(docs, "id", frameCols,
      embeddings = served.map(_._1.assigned.select(col("id"), col("vector"))),
      meta = Some(col("extraMetadata")), cards = Some(g.cards), ann = ann,
      lexSearch = Some(lexSearch))
    val r = tr.span("ask.ladder", api) { sp =>
      ladder = sp
      Ask.ask(spark, corpus, q, served.map(_ => embedder), 5)
    }
    import scala.jdk.CollectionConverters._
    AskAnswer(routes.asScala.toSeq, r)
  }

  def put(d: Inputs.Doc): Option[Long] = tr.span("api.put", None) { api =>
    tr.span("store.put", api)(_ => g.frames.put(Seq((d.uri, d.text)))).headOption
  }
  def refreshLex(): String = tr.span("api.refresh_lex", None)(_ => g.refreshLexIndex())
  def refreshVec(): String = tr.span("api.refresh_vec", None)(_ => g.refreshVecIndex())
  def refreshSketch(): String =
    tr.span("api.refresh_sketch", None)(_ => g.refreshSketchTable())
}
