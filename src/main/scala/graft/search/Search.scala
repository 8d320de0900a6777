package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** High-level search entry point — the Spark-native `Memvid::search`
  * (reference lifecycle: src/memvid/search/mod.rs:46-299). The boolean/
  * field tree compiles into the scan predicate; relevance is the fallback
  * engine's occurrence score with phrase boost; snippets slice the top-k
  * only.
  */
object Search {

  /** engine selection mirrors the reference's enum (src/types/search.rs:27-31):
    * Fallback = substring occurrence scorer; BM25 = stemmed Okapi ranking. */
  sealed trait Engine
  case object FallbackEngine extends Engine
  case object BM25Engine extends Engine

  final case class Options(topK: Int = 10, offset: Int = 0,
                           withSnippets: Boolean = true, snippetWindow: Int = 60,
                           engine: Engine = FallbackEngine, stemmed: Boolean = true,
                           /** INDEXED-route membership semantics for a
                             * STEMMED index: false (default) keeps the
                             * raw-token contract (word membership =
                             * `array_contains(tokens(text), w)` — needs
                             * the corpus tokenize, since stemmed postings
                             * cannot answer raw tokens); true serves
                             * stem-to-stem membership from the postings
                             * (query words stem like the corpus did — the
                             * reference's actual stemmed-engine semantics,
                             * src/memvid/search/tantivy.rs:40-46, where
                             * the query analyzer matches the index
                             * analyzer). Only the indexed route consults
                             * this; SURVEY §2.16 records the contract. */
                           stemMembership: Boolean = false)

  // pure conjunction of bare words? then BM25-mode membership comes from
  // the (stemmed) engine itself, like the reference's tantivy must-clauses
  private def pureWordAnd(e: QExpr): Boolean = e match {
    case QExpr.And(l, r) => pureWordAnd(l) && pureWordAnd(r)
    case QExpr.Word(_)   => true
    case _               => false
  }

  /** track-equality values that hold for the WHOLE result — i.e. appear
    * as top-level AND conjuncts (anything under Or/Not gives no such
    * guarantee and returns nothing). Safe to push into a scan as a
    * superset prune. */
  private def trackEqConjuncts(e: QExpr): Seq[String] = e match {
    case QExpr.And(l, r)     => trackEqConjuncts(l) ++ trackEqConjuncts(r)
    case QExpr.TrackField(v) => Seq(v)
    case _                   => Nil
  }

  /** driver-side twin of `F.tokens` for QUERY-side strings (a phrase is
    * one short string) — the same analyzer the index was built with, so
    * phrase token sequences line up with postings positions */
  private[search] def tokenizeQuery(s: String): Seq[String] = {
    val ad = graft.functions.TokenizeExpr.tokenize(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
  }

  /** @param docs corpus; @param idCol unique id column name;
    * @param f column bindings for the queryable fields
    */
  def search(docs: DataFrame, idCol: String, f: FrameCols, query: String,
             opts: Options = Options()): DataFrame = {
    graft.functions.F.ensureRegistered(docs.sparkSession)
    val ast = QueryParser.parse(query)
    val pred = QueryCompiler.compile(ast, f)
    val terms = QExpr.words(ast).distinct
    val phrase: Option[String] = ast match {
      case QExpr.Phrase(p) => Some(p)
      case _ if terms.length > 1 &&
        query.trim.matches("[^()\"]*") && !query.toUpperCase.matches(".*\\b(OR|NOT)\\b.*") =>
        Some(terms.mkString(" "))
      case _ => None
    }
    val bm25Membership = opts.engine == BM25Engine && pureWordAnd(ast)
    val filtered = if (bm25Membership) docs else docs.filter(pred)
    val scored = opts.engine match {
      case BM25Engine if terms.nonEmpty =>
        // BM25 over the predicate-filtered corpus: stats from the corpus,
        // over-fetch ×4 like the reference (tantivy.rs:53-57)
        val toks = BM25.tokenTable(filtered.select(col(idCol), f.text.as("__t")),
          idCol, "__t", stemmed = opts.stemmed)
        val qTerms = (if (opts.stemmed) terms.map(graft.text.Porter.stem) else terms).distinct
        val ranked0 = BM25.score(docs.sparkSession, toks, qTerms,
          topK = (opts.offset + opts.topK) * 4)
        // AND semantics: every (stemmed) query term must be present
        val ranked = if (bm25Membership)
          ranked0.filter(col("n_terms_matched") === qTerms.size) else ranked0
        filtered.select(col(idCol).as("id"), f.text.as("__text"))
          .join(ranked.drop("n_terms_matched").withColumnRenamed("doc_id", "id"), "id")
      case _ =>
        val scoreCol: Column =
          if (terms.isEmpty) lit(0.0)
          else Lexical.score(lower(f.text), terms, phrase)
        filtered.select(col(idCol).as("id"), f.text.as("__text"),
          coalesce(scoreCol, lit(0.0)).as("score"))
    }
    finish(scored, terms, opts)
  }

  /** [[search]] with BM25Engine semantics SERVED from a persisted
    * [[Bm25Index]] postings table instead of tokenizing the corpus —
    * the reference's indexed engine path (lazy Tantivy init,
    * src/memvid/search/mod.rs:47-57: queries go through the on-disk
    * segments once an index exists). Bit-equal to the corpus path by
    * construction (`search_facade_indexed` gates it):
    *
    *  - pure word-AND queries score the WHOLE postings table — the same
    *    corpus-wide stats the corpus path computes when membership comes
    *    from the engine (no predicate filter on either path);
    *  - any other query evaluates the compiled predicate on the (narrow)
    *    frame columns to an allowed-id set and LEFT-SEMI joins it into
    *    the postings before scoring — the postings subset aggregates to
    *    exactly the corpus path's tokenTable(filtered), so stats and
    *    scores match bit-for-bit while the expensive step (tokenization)
    *    never runs.
    *
    * Plan shape at scale: the postings table is bucketed by doc_id, so
    * the doc-keyed aggregation plans zero data-sized exchanges; the
    * semi-join shuffles only the allowed-id list (or broadcasts it).
    * Queries with no scoring terms (pure field filters) take the corpus
    * path unchanged — there is nothing for the index to accelerate.
    *
    * PRECONDITION (the caller's staleness guard owns this): the table
    * indexes exactly `docs`' rows under `opts.stemmed` tokenization —
    * [[graft.api.Graft.search]] checks its commit-version stamp and
    * falls back to the corpus path when the index lags the store.
    *
    * @param allowedIds optional externally-computed candidate allowlist
    *        (first column = doc id) — the F10 sketch pre-filter composed
    *        into the indexed engine (reference candidate shrink,
    *        src/memvid/search/mod.rs:190-232). It semi-joins into the
    *        postings exactly like a compiled field predicate: stats come
    *        from the allowed subset, so scores bit-match the corpus path
    *        over the same prefiltered docs, and the only thing that
    *        moves is an id-list-sized exchange. */
  def searchIndexed(docs: DataFrame, idCol: String, f: FrameCols,
                    query: String, indexTable: String,
                    opts: Options = Options(),
                    allowedIds: Option[DataFrame] = None): DataFrame =
    searchIndexedWith(docs, idCol, f, query, indexTable, opts, allowedIds,
      pageRows = None)

  /** [[searchIndexed]] with the page-text lookup supplied by the caller:
    * `pageRows(ids)` returns `docs`' rows for those ids (the facade passes
    * [[graft.store.FrameStore.latestActiveOf]], one bounded log scan
    * instead of a filter over the whole latest-active view). Every page id
    * passed the query's membership, so looking it up in `docs` or in the
    * predicate-filtered view yields the same text. None = filter the view. */
  private[graft] def searchIndexedWith(docs: DataFrame, idCol: String,
                                       f: FrameCols, query: String,
                                       indexTable: String, opts: Options,
                                       allowedIds: Option[DataFrame],
                                       pageRows: Option[Seq[Long] => DataFrame])
      : DataFrame = {
    graft.functions.F.ensureRegistered(docs.sparkSession)
    val ast = QueryParser.parse(query)
    val terms = QExpr.words(ast).distinct
    if (opts.engine != BM25Engine || terms.isEmpty)
      return search(docs, idCol, f, query, opts)
    val (ranked, filtered) =
      indexedRanking(docs, idCol, f, ast, indexTable, opts, allowedIds)
    // Scores come from the postings alone, so the corpus text column
    // never rides through the ranking — joining text BEFORE the page cut
    // would read every matching document's bytes to decorate a ≤ topK
    // page (at 100 TB that one join defeats the index). Cut the page
    // first (bounded: offset+topK), then look the snippet text up for
    // the page ids only — the isin list pushes into the frame scan
    // (row-group skipping), the J2 hit→frame lookup done index-first.
    // The page is ≤ offset+topK rows: ONE collect serves every consumer
    // (the id list and the join probe, as a local relation).
    val page0 = ranked.drop("n_terms_matched").withColumnRenamed("doc_id", "id")
      .orderBy(col("score").desc, col("id"))
      .limit(opts.offset + opts.topK)
    val rows = page0.collect()
    val idIdx = page0.schema.fieldIndex("id")
    val ids = rows.map(_.getLong(idIdx)).toSeq
    val found =
      if (!opts.withSnippets) None // text is dead without snippets
      else Some(pageRows.fold(filtered.filter(col(idCol).isin(ids: _*)))(_(ids)))
    val text = found.map(
      _.select(col(idCol).cast("long").as("id"), f.text.as("__text")))
    if (found.forall(_.isLocal)) {
      // the page and its text are both on the driver (the facade's
      // lookup returns a local relation): join them there. The rows are
      // already in their final order, so the result is a local relation
      // the snippet projection folds into — reading it runs no job.
      val byId = text.toSeq.flatMap(_.collect())
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val scoreIdx = page0.schema.fieldIndex("score")
      val page = docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows.toSeq.drop(opts.offset).map(r =>
          Row(r.getLong(idIdx), r.get(scoreIdx), byId.get(r.getLong(idIdx)).orNull)): _*),
        StructType(Seq(page0.schema("id"), page0.schema("score"),
          StructField("__text", StringType))))
      decorate(page, terms, opts)
    } else {
      // a lazy lookup (the filtered view, a pinned snapshot) stays one
      // plan with its id list pushed into the scan, under the shared tail
      val page = docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), page0.schema)
      finish(page.join(text.get, Seq("id"), "left"), terms, opts)
    }
  }

  /** The indexed route's RANKING plan — postings → predicate/allowlist
    * semi-joins → BM25 aggregate → membership cut — before the bounded
    * page cut (whose localCheckpoint hides the plan from inspection).
    * Exposed private[graft] so PlanPropertiesSpec can lock the exchange
    * shape: every shuffle in this plan carries a bare id list, never
    * postings rows or text. @return (ranked, filtered docs view) */
  private[graft] def indexedRanking(docs: DataFrame, idCol: String,
                                    f: FrameCols, ast: QExpr,
                                    indexTable: String, opts: Options,
                                    allowedIds: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    val terms = QExpr.words(ast).distinct
    val bm25Membership = pureWordAnd(ast)
    val postings0 = docs.sparkSession.table(indexTable)
    // a track-PARTITIONED postings table (Bm25Index.write(trackCol=...))
    // lets a top-level track: conjunct prune whole partition directories
    // out of the postings scan — same compile semantics as the predicate
    // (lower(track) === v), and the semi-join below still enforces exact
    // membership, so this is a pure scan prune, never a semantic change
    val postings =
      if (!postings0.columns.contains("track")) postings0
      else trackEqConjuncts(ast).foldLeft(postings0)((p, v) =>
        p.filter(lower(col("track")) === v))
    // Mixed (word/wildcard/phrase + field) queries need an allowed-id
    // set. The text atoms' TOKEN membership is answerable two ways:
    //  - from the POSTINGS: one bounded aggregate over the query-relevant
    //    postings rows, left-joined as flag columns onto the docs' NARROW
    //    metadata columns — the corpus text is never read or tokenized in
    //    the ranking (the tantivy membership model,
    //    src/search/tantivy/query.rs:172-217). Words: an unstemmed
    //    index's terms ARE the raw tokens (and under the opt-in
    //    stemMembership contract a stemmed index answers stem-to-stem,
    //    tantivy.rs:40-46). Wildcards: a glob over the postings' terms IS
    //    the token-shape contract (RegexQuery over the term dictionary,
    //    query.rs:115-126) — identical semantics by construction.
    //    Phrases: adjacent-position checks over a POSITIONED table
    //    (freq+positions, schema.rs:19-21) — the reference's INDEXED
    //    phrase semantics (token adjacency), deliberately distinct from
    //    the fallback engine's substring contains (SURVEY §2.16).
    //  - from the TEXT (the compiled predicate's tokenize/contains) —
    //    kept only where the postings can't answer: a stemmed index
    //    under the default raw-token contract, or a multi-token phrase
    //    on a table without positions.
    val phraseAtoms = QExpr.allPhrases(ast).distinct
    val wildcardAtoms = QExpr.allWildcards(ast).distinct
    val hasPositions = postings0.columns.contains("positions")
    val stemQ: String => String =
      if (opts.stemmed) graft.text.Porter.stem else identity
    // phrase token sequences under the index's analyzer
    val phraseToks: Map[String, Seq[String]] =
      phraseAtoms.map(p => p -> tokenizeQuery(p).map(stemQ)).toMap
    val needsPositions = phraseToks.values.exists(_.length > 1)
    val postingsMembership = !bm25Membership &&
      (!opts.stemmed || opts.stemMembership) &&
      (!needsPositions || hasPositions)
    // the lookup frame returned for the bounded snippet decoration: with
    // membership enforced in the ranking (engine cut or id semi-join)
    // the page's ids already passed the predicate, so the flag-path
    // lookup uses the plain corpus (the flag column only exists on the
    // membership join) — values identical, one redundant re-filter less
    val filtered =
      if (bm25Membership || postingsMembership) docs
      else docs.filter(QueryCompiler.compile(ast, f))
    val posts0 =
      if (bm25Membership) postings
      else if (postingsMembership) {
        // membership vocabulary = EVERY text atom, negated ones included
        // (a NOT atom must flag per-doc to take the exact complement);
        // the scoring terms above stay the positive-only word set
        val words = QExpr.allWords(ast).distinct.map(stemQ).distinct
        val multiPhrases = phraseAtoms.filter(p => phraseToks(p).length > 1)
        val phIdx = multiPhrases.zipWithIndex.toMap
        val wcIdx = wildcardAtoms.zipWithIndex.toMap
        val wcRegex = wildcardAtoms.map(g =>
          g -> QueryCompiler.globToRegex(g)).toMap
        // exact terms the aggregate needs rows for: word atoms plus every
        // phrase token (single-token phrases degrade to word membership)
        val memberTerms =
          (words ++ phraseToks.values.flatten).distinct
        // one row per doc holding WHICH query terms it contains (plus
        // per-wildcard hit flags and per-phrase-token position lists) —
        // groupBy over the doc_id-bucketed postings plans exchange-free,
        // and the term filter bounds the aggregate to the query-relevant
        // postings rows (term-selective; a wildcard widens the FILTER to
        // a regex over the narrow term column — the term-dictionary
        // scan — but the aggregate output stays one row per doc)
        val termHit =
          if (memberTerms.nonEmpty) col("term").isin(memberTerms: _*)
          else lit(false)
        val relevantCond = wcRegex.values
          .foldLeft(termHit)((c, re) => c || col("term").rlike(re))
        val aggs: Seq[Column] =
          Seq(collect_set(when(termHit, col("term"))).as("__qterms")) ++
          wildcardAtoms.map(g => max(
            when(col("term").rlike(wcRegex(g)), lit(true))
              .otherwise(lit(false))).as(s"__wc_${wcIdx(g)}")) ++
          multiPhrases.flatMap(p => phraseToks(p).zipWithIndex.map {
            case (t, j) =>
              flatten(collect_list(when(col("term") === t, col("positions"))))
                .as(s"__ph_${phIdx(p)}_$j")
          })
        val wordHits = postings.filter(relevantCond)
          .groupBy(col("doc_id"))
          .agg(aggs.head, aggs.tail: _*)
        def emptyPos = array().cast("array<int>")
        def phraseFlag(p: String): Column = phraseToks(p) match {
          case Seq() => lit(true) // no index token constrains (cf. Word(""))
          case Seq(t) => coalesce(
            array_contains(col("__qterms"), lit(t)), lit(false))
          case toks =>
            val i = phIdx(p)
            def pc(j: Int) = coalesce(col(s"__ph_${i}_$j"), emptyPos)
            // adjacency: some start position p0 of the first token is
            // followed by token j at p0 + j for every later j
            exists(pc(0), p0 => toks.indices.tail
              .map(j => array_contains(pc(j), p0 + lit(j)))
              .reduce(_ && _))
        }
        val pred = QueryCompiler.compile(ast, f, QueryCompiler.IndexHits(
          word = Some(w => coalesce(
            array_contains(col("__qterms"), lit(stemQ(w))), lit(false))),
          wildcard = if (wildcardAtoms.isEmpty) None
            else Some(g => coalesce(col(s"__wc_${wcIdx(g)}"), lit(false))),
          phrase = if (phraseAtoms.isEmpty) None
            else Some(phraseFlag)))
        val memberIds = docs
          .join(wordHits.withColumnRenamed("doc_id", "__mid"),
            col(idCol).cast("long") === col("__mid"), "left")
          .filter(pred)
          .select(col(idCol).cast("long").as("doc_id"))
        postings.join(memberIds, Seq("doc_id"), "left_semi")
      }
      else postings.join(
        filtered.select(col(idCol).cast("long").as("doc_id")),
        Seq("doc_id"), "left_semi")
    val posts = allowedIds.fold(posts0)(ids => posts0.join(
      ids.select(col(ids.columns.head).cast("long").as("doc_id")),
      Seq("doc_id"), "left_semi"))
    val qTerms = (if (opts.stemmed) terms.map(graft.text.Porter.stem) else terms).distinct
    val ranked0 = BM25.scorePostings(posts, qTerms,
      topK = (opts.offset + opts.topK) * 4)
    val ranked = if (bm25Membership)
      ranked0.filter(col("n_terms_matched") === qTerms.size) else ranked0
    (ranked, filtered)
  }

  /** the result columns: id, score and the snippets of `__text` */
  private def decorate(scored: DataFrame, terms: Seq[String],
                       opts: Options): DataFrame =
    scored.select(col("id"), col("score"),
      (if (opts.withSnippets)
         Snippets.snippets(col("__text"), typedLit(terms)) else
         array().cast("array<string>")).as("snippets"))

  /** shared ranking tail: snippets over the top page only, total order,
    * cursor pagination */
  private def finish(scored: DataFrame, terms: Seq[String],
                     opts: Options): DataFrame = {
    val base = decorate(scored, terms, opts)
      .orderBy(col("score").desc, col("id"))
    // cursor pagination (fallback.rs:88-196): over-fetch then trim — the
    // limit compiles to TakeOrderedAndProject so no global sort happens
    val page = base.limit(opts.offset + opts.topK)
    if (opts.offset == 0) page
    else {
      import org.apache.spark.sql.expressions.Window
      page.withColumn("__rn", row_number().over(
          Window.orderBy(col("score").desc, col("id"))))
        .filter(col("__rn") > opts.offset).drop("__rn")
    }
  }
}
