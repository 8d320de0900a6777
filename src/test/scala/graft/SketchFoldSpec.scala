package graft

import graft.api.Graft
import graft.search.SketchFilter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sketch pre-filter folded into the indexed ranking query: the lazy
  * candidate plan equals the count-then-filter form it replaced, the fresh
  * postings' doc_ids are the live set the floor counts, and the bounded
  * page lookup equals the latest-active view restricted to the page. */
class SketchFoldSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("graft_sketch_fold").toString

  /** the candidate set as computed before the fold: one action counts the
    * strict cut, and the floor relaxes to the nearest minKeep when it is
    * short */
  private def countThenFilter(sketches: DataFrame, queryHash: Long,
                              topK: Int, maxHamming: Int = 32): DataFrame = {
    val minKeep = math.max(topK * 10, SketchFilter.MinCandidates)
    val withDist = sketches.dropDuplicates("doc_id", "simhash")
      .withColumn("__h", bit_count(col("simhash").bitwiseXOR(lit(queryHash))))
    val within = withDist.filter(col("__h") <= maxHamming)
    val kept =
      if (within.limit(minKeep).count() < minKeep)
        withDist.orderBy(col("__h"), col("doc_id")).limit(minKeep)
      else within
    kept.select(col("doc_id"))
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  /** new == old as id multisets, and the cut case is the one intended */
  private def assertSame(sk: DataFrame, qh: Long, topK: Int,
                         relaxes: Boolean): Unit = {
    val minKeep = math.max(topK * 10, SketchFilter.MinCandidates)
    val strict = sk.dropDuplicates("doc_id", "simhash")
      .filter(bit_count(col("simhash").bitwiseXOR(lit(qh))) <= 32).count()
    assert((strict < minKeep) == relaxes,
      s"strict cut holds $strict rows against a floor of $minKeep")
    val fused = ids(SketchFilter.candidates(sk, qh, topK))
    assert(fused == ids(countThenFilter(sk, qh, topK)))
    assert(fused.distinct == fused, "candidate ids must not repeat")
  }

  // 800 rows: 600 within hamming 1..2 of the zero query, 200 at 58..60
  private val nearFar = (0L until 800L).map { i =>
    val near = (1L << (i % 60)) | (if (i % 2 == 0) 1L << ((i + 7) % 60) else 0L)
    (i, if (i < 600) near else ~near & ((1L << 60) - 1))
  }.toDF("doc_id", "simhash")

  // 600 pseudo-random 64-bit hashes: roughly half within 32 of the zero
  // query, so the strict cut falls short of the 500 floor
  private val scattered = (0L until 600L)
    .map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("doc_id", "simhash")

  test("candidates: the strict cut holds the floor — same set as count-then-filter") {
    assertSame(nearFar, 0L, topK = 10, relaxes = false)
  }

  test("candidates: the floor relaxes — same set as count-then-filter") {
    assertSame(scattered, 0L, topK = 10, relaxes = true)
    // a floor above the table size keeps every row
    assertSame(scattered, 0L, topK = 100, relaxes = true)
    assert(SketchFilter.candidates(scattered, 0L, topK = 100).count() == 600)
  }

  test("candidates: duplicate sketch rows change neither set") {
    val dupNear = nearFar.unionAll(nearFar.filter(col("doc_id") % 3 === 0))
    assertSame(dupNear, 0L, topK = 10, relaxes = false)
    val dupScattered = scattered.unionAll(scattered.limit(250))
    assertSame(dupScattered, 0L, topK = 10, relaxes = true)
    assert(ids(SketchFilter.candidates(dupScattered, 0L, 10)) ==
      ids(SketchFilter.candidates(scattered, 0L, 10)))
  }

  test("candidates over a churned store: dead-version rows, live set from the postings") {
    val g = new Graft(spark, tmpStore())
    // two vocabularies, so a query's hamming cut can hold either side
    val rnd = new scala.util.Random(11)
    def text(v: String): String =
      Seq.fill(6 + rnd.nextInt(10))(s"$v${rnd.nextInt(20)}").mkString(" ")
    val put = g.frames.put((0 until 700).map(i =>
      (s"mv2://fold/$i", text(if (i < 350) "a" else "b"))))
    val lex = "sketch_fold_churn_lex"; val skt = "sketch_fold_churn_sk"
    g.buildLexIndex(lex)
    g.buildSketchTable(skt)
    g.frames.updateMany(put.take(120).map(id => (id, text("a"), s"mv2://fold/u$id")))
    g.frames.deleteMany(put.slice(120, 220))
    assert(g.refreshLexIndex() == "rebuilt")
    assert(g.refreshSketchTable() == "appended")
    val sk = spark.table(skt)
    val live = g.frames.latestActive.select(col("id").as("doc_id"))
    val posted = spark.table(lex).select(col("doc_id")).distinct()
    // the table still holds the 220 dead versions' rows
    assert(sk.join(live, Seq("doc_id"), "left_anti").count() == 220)
    val liveSk = sk.join(live, Seq("doc_id"), "left_semi")
    val postedSk = sk.join(posted, Seq("doc_id"), "left_semi")
    assert(ids(postedSk.select("doc_id")) == ids(liveSk.select("doc_id")))
    // 600 live rows around the 500 floor; the generated hashes sit close
    // together, so tighter cuts than the default exercise the relaxation
    val cases = for {
      q <- Seq("a1 a2", "b5 b7 b11", "a13 b17 a19 b3")
      qh = SketchFilter.queryHash(q).get
      cut <- Seq(4, 8, 12, SketchFilter.DefaultMaxHamming)
    } yield {
      assert(ids(SketchFilter.candidates(postedSk, qh, 10, cut)) ==
        ids(countThenFilter(liveSk, qh, 10, cut)), s"'$q' at hamming $cut")
      liveSk.filter(bit_count(col("simhash").bitwiseXOR(lit(qh))) <= cut)
        .count() < SketchFilter.MinCandidates
    }
    assert(cases.contains(true) && cases.contains(false),
      "both the holding and the relaxing cut must occur")
    Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("fresh postings' doc_ids are the live frames with a token, through put/update/delete/vacuum/refresh") {
    val g = new Graft(spark, tmpStore())
    val lex = "sketch_fold_live_lex"
    val ids0 = g.frames.put((0 until 30).map(i =>
      (s"mv2://live/$i", s"alpha beta doc$i"))) ++
      g.frames.put(Seq(("mv2://live/empty", "!!! ???"))) // no token
    g.buildLexIndex(lex)
    def tokenLive: Seq[Long] = ids(g.frames.latestActive
      .filter(size(graft.functions.F.tokens(coalesce(col("text"), lit("")))) > 0)
      .select(col("id")))
    def check(step: String): Unit = {
      g.refreshLexIndex(): Unit
      assert(g.refreshLexIndex() == "fresh", step)
      assert(ids(spark.table(lex).select(col("doc_id")).distinct()) == tokenLive,
        s"after $step")
    }
    check("build")
    g.frames.put(Seq(("mv2://live/new", "gamma delta"))); check("put")
    g.frames.update(ids0(1), "beta gamma revised", "mv2://live/1v2"); check("update")
    g.frames.delete(ids0(2)); check("delete")
    g.frames.vacuum(); check("vacuum")
    g.frames.put(Seq(("mv2://live/after", "epsilon"))); check("refresh")
    assert(!tokenLive.contains(ids0.last), "a token-less frame has no postings")
    spark.sql(s"DROP TABLE IF EXISTS `$lex`")
  }

  test("latestActiveOf equals latestActive filtered to the ids, with and without a pinned snapshot") {
    val root = tmpStore()
    val g = new Graft(spark, root)
    val Seq(a, b, c, d) = g.frames.put((0 until 4).map(i =>
      (s"mv2://of/$i", s"text number $i")))
    val b2 = g.frames.update(b, "text number 1 revised", "mv2://of/1v2")
    g.frames.delete(c)
    val big = g.frames.put(Seq(("mv2://of/big", "chunked " * 400))).head
    val chunk = g.frames.latestActive.filter(col("parentId") === big)
      .select(col("id")).head.getLong(0)
    // live, superseded, superseding, tombstoned, never-written, chunk
    val probe = Seq(a, b, b2, c, d + 999, chunk)
    def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted
    def same(): Unit = {
      val got = rows(g.frames.latestActiveOf(probe))
      assert(got == rows(g.frames.latestActive.filter(col("id").isin(probe: _*))))
      assert(got.size == 3) // a, b2, chunk
    }
    same()
    g.frames.snapshotCurrent(s"$root/pinned")
    same()
    assert(g.frames.latestActiveOf(Nil).isEmpty)
  }

  test("a token-less query skips the sketch pre-filter instead of throwing") {
    val g = new Graft(spark, tmpStore())
    g.frames.put((0 until 20).map(i => (s"mv2://nt/$i", s"spark join doc$i")))
    val lex = "sketch_fold_notok_lex"; val skt = "sketch_fold_notok_sk"
    g.buildLexIndex(lex)
    g.buildSketchTable(skt)
    assert(SketchFilter.queryHash("é").isEmpty)
    val hits = g.search("é").collect()
    assert(g.lastSearchRoute == "indexed" && !g.lastSketchApplied)
    assert(hits.isEmpty)
    assert(g.search("é", noSketch = true).collect().isEmpty)
    assert(intercept[NoSuchElementException](
      SketchFilter.querySimhash(spark, "é")).getMessage.contains("no tokens"))
    Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("the driver-side query hash equals the sketch build's hash") {
    Seq("spark join window", "Ünïcode wörds and 42 numbers", "a", "x-y_z")
      .foreach { q =>
        val built = SketchFilter.build(Seq((0L, q)).toDF("doc_id", "text"),
          "doc_id", "text").head.getLong(1)
        assert(SketchFilter.queryHash(q).contains(built), q)
      }
  }

  test("buildSketchTable survives a leftover warehouse directory") {
    val g = new Graft(spark, tmpStore())
    g.frames.put(Seq(("mv2://lo/0", "spark join window")))
    val skt = "sketch_fold_leftover_sk"
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
    // a previous JVM's table: its directory remains, the catalog entry
    // does not
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/" + skt)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(dir, "part-00000.parquet")).close()
    assert(fs.exists(dir))
    g.buildSketchTable(skt)
    assert(spark.table(skt).count() == 1)
    assert(g.refreshSketchTable() == "fresh")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
  }
}
