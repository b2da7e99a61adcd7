package graft

import java.nio.file.Files

/** End-to-end replay of the reference's usage (SURVEY.md §5.4): ingest a
  * small corpus + pasted sentences, dedupe on re-ingest, k-NN search with
  * content enrichment, ranked context, extractive answer — the whole
  * /add → /load-documents → /search lifecycle against a real parquet
  * store on disk.
  */
class EngineSpec extends SparkSpec {

  private lazy val corpusDir: String = {
    val d = Files.createTempDirectory("graft_corpus")
    Files.writeString(d.resolve("viz.txt"),
      "charts and dashboards present data visually so analysts " +
        "can explore trends with interactive visualization tools")
    Files.writeString(d.resolve("brew.txt"),
      "steeping loose leaves in hot water makes a calming cup " +
        "preferred by tea drinkers every afternoon")
    d.toString
  }

  private def freshEngine: Engine = {
    val store = Files.createTempDirectory("graft_engine").toString + "/store"
    new Engine(spark, store, dim = 64, chunkSize = 40, overlap = 10)
  }

  test("the Embedder seam: a custom embedder serves ingest AND query " +
      "paths; the store carries its vectors") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // mock of a network embedder: deterministic per text like a pinned
    // model version, but nothing like HashEmbed — one-hot on text
    // length so retrieval outcomes prove WHICH embedder ran
    object LengthEmbedder extends Embedder {
      override def embed(df: DataFrame, textCol: String,
                         dim: Int): DataFrame =
        df.withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)),
            i => when(i === length(col(textCol)) % dim, lit(1.0f))
              .otherwise(lit(0.0f))))
    }
    val store = Files.createTempDirectory("graft_mock").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10, embedder = LengthEmbedder)
    e.addDocument("exact", "a")         // length 5 -> one-hot at 5
    e.addDocument("same!", "b")         // length 5 -> same vector
    e.addDocument("different length", "c")
    // stored vectors are the mock's, not HashEmbed's
    val stored = e.documents()
      .select(col("content"), col("embedding")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(stored("exact")(5) == 1.0f &&
      stored("exact").count(_ != 0.0f) == 1)
    // the query path embeds with the SAME seam: a 5-char query scores
    // both 5-char docs at cosine 1 and the longer doc at 0
    val hits = e.search("12345", k = 3).collect()
      .map(r => r.getString(2) -> r.getDouble(1)).toMap
    assert(hits("exact") == 1.0 && hits("same!") == 1.0)
    assert(hits("different length") == 0.0)
  }

  test("full lifecycle: load, add, dedupe, count, search, answer") {
    val e = freshEngine
    assert(e.countDocuments() == 0)

    // GET /load-documents
    val loaded = e.loadDocuments(corpusDir)
    assert(loaded == 2) // both files are shorter than one chunk window

    // POST /add
    assert(e.addDocument("john likes tea") == 1)
    assert(e.addDocument("john likes beer") == 1)
    assert(e.countDocuments() == 4)

    // INSERT OR IGNORE parity: exact re-adds store nothing
    assert(e.addDocument("john likes tea") == 0)
    assert(e.loadDocuments(corpusDir) == 0)
    assert(e.countDocuments() == 4)

    // ids are contiguous from 1
    val ids = e.documents().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))

    // topical search ranks the right corpus doc first (reference §5.4:
    // a visualization query must beat the tea sentences)
    val vizTop = e.search(
      "interactive charts visualization dashboards data", k = 2)
      .orderBy(org.apache.spark.sql.functions.col("score").desc)
      .select("content").collect().map(_.getString(0))
    assert(vizTop.head.contains("visualization"))

    val teaTop = e.answer("a calming cup of tea every afternoon")
    assert(teaTop.contains("tea"))

    // ranked context format
    val ctx = e.context("visualization dashboards", k = 2)
    assert(ctx.startsWith("1. ") && ctx.contains("\n2. "))
  }

  test("search returns its hits in rank order: score desc, doc_id asc") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    Seq("john likes tea", "john likes beer", "tea and beer")
      .foreach(t => assert(e.addDocument(t) == 1))
    val got = e.search("john likes tea", k = 4).collect()
      .map(r => (r.getDouble(1), r.getLong(0))).toSeq
    assert(got.length == 4)
    assert(got == got.sortBy { case (s, id) => (-s, id) }, got)
  }

  test("searchAll answers many queries in one plan, per-query ranked") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    e.addDocument("john likes tea")
    val got = e.searchAll(Seq(
        "interactive charts visualization dashboards data",
        "a calming cup of tea"), k = 2)
      .select("query_id", "rank", "content").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.length == 4)
    assert(got.count(_._1 == 0L) == 2 && got.count(_._1 == 1L) == 2)
    assert(got.find(g => g._1 == 0L && g._2 == 1).get._3.contains("visualization"))
    assert(got.find(g => g._1 == 1L && g._2 == 1).get._3.contains("tea"))
  }

  test("hybridSearch fuses lexical and vector evidence") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    e.addDocument("john likes tea")
    // "tea" appears verbatim (lexical hit) and the tea doc should also
    // be the vector neighbor → fused rank 1
    val top = e.hybridSearch("tea drinkers prefer a calming cup", k = 3)
      .select("content").collect().map(_.getString(0))
    assert(top.nonEmpty && top.head.contains("tea"))
  }

  test("searchDiverse de-duplicates the result list via MMR") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    // a near-duplicate of the brew.txt tea doc (exact re-adds dedup
    // away at ingest; near-dups are what MMR exists for)
    e.addDocument("steeping loose leaves in hot water makes a calming " +
      "cup preferred by tea drinkers every afternoon indeed")
    e.addDocument("charts are visual")
    val got = e.searchDiverse(
      "calming tea cup afternoon", k = 3, lambda = 0.3)
    val rows = got.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    val contents = rows.sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[String]("content"))
    // rank 1 is the pure-relevance winner (a tea doc); its near-twin
    // must be demoted below the unrelated docs at diversity-heavy λ
    assert(contents(0).contains("tea"))
    assert(contents.take(2).count(_.contains("steeping")) == 1,
      s"near-duplicate pair must not fill ranks 1-2: ${contents.toSeq}")
  }

  test("deleteDocuments removes rows, ids stay unreused, search adapts") {
    val e = freshEngine
    assert(e.addDocument("john likes tea") == 1)
    assert(e.addDocument("john likes beer") == 1)
    assert(e.addDocument("data visualization dashboards") == 1)

    // delete one real id + one unknown id: only the real one counts
    assert(e.deleteDocuments(Seq(2L, 99L)) == 1)
    assert(e.countDocuments() == 2)
    assert(e.deleteDocuments(Seq(2L)) == 0) // already gone
    assert(e.deleteDocuments(Nil) == 0)

    // the deleted doc no longer surfaces; the index was invalidated
    val hits = e.search("john likes beer", k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!hits.contains(2L))

    // AUTOINCREMENT parity: the next ingest continues AFTER the old
    // max (3), never back-filling the hole at 2
    assert(e.addDocument("an entirely new document") == 1)
    val ids = e.documents().select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L))
  }

  test("deleteDocuments of every row leaves a working empty store") {
    val e = freshEngine
    assert(e.addDocument("only doc") == 1)
    assert(e.deleteDocuments(Seq(1L)) == 1)
    assert(e.countDocuments() == 0)
    // ingest after full delete restarts cleanly
    assert(e.addDocument("fresh start") == 1)
    assert(e.countDocuments() == 1)
  }

  test("search on an empty store returns no hits, not an error") {
    val e = freshEngine
    assert(e.search("anything", k = 3).count() == 0)
    assert(e.answer("anything") == "")
    assert(e.context("anything", 2) == "")
  }

  test("an existing-but-file-less store directory is treated as empty") {
    // a crashed first write can leave the directory with no data files
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty_store").toString
    val e = new Engine(spark, dir)
    assert(e.countDocuments() == 0)
    assert(e.search("anything", k = 1).count() == 0)
    assert(e.addDocument("now it has content") > 0)
    assert(e.countDocuments() == 1)
  }

  /** Spark jobs started while `f` runs. The listener bus delivers
    * events in order and late, so `f` is bracketed by two marker jobs
    * and its jobs are counted once the closing marker has arrived.
    */
  private def jobsDuring(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-open"); f; marker("jobs-close")
      Iterator.continually(Option(
          groups.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("a marker job never reached the listener")))
        .dropWhile(_ != "jobs-open").drop(1)
        .takeWhile(_ != "jobs-close").size
    } finally sc.removeSparkListener(listener)
  }

  test("documents() reuses the resolved store while its listing is " +
      "unchanged: a repeat call runs no Spark job") {
    val e = freshEngine
    assert(e.addDocument("john likes tea") == 1)
    val first = e.documents()
    assert(jobsDuring(e.documents()) == 0)
    assert(e.documents() eq first)
    // an empty store is kept too
    val empty = freshEngine
    empty.documents()
    assert(jobsDuring(empty.documents()) == 0)
    // a write changes the listing: the store is resolved again
    assert(e.addDocument("john likes beer") == 1)
    assert(!(e.documents() eq first))
    assert(e.countDocuments() == 2)
  }

  test("documents() sees writes made by another Engine on the same " +
      "store: appends and a delete's rewrite") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_shared").toString + "/store"
    def engine = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10)
    val reader = engine
    val writer = engine
    def ids = reader.documents().select("doc_id").as[Long].collect()
      .sorted.toSeq
    assert(reader.countDocuments() == 0)
    assert(writer.addDocument("john likes tea") == 1)
    assert(reader.countDocuments() == 1)
    assert(writer.addDocument("john likes beer") == 1)
    assert(writer.addDocument("data visualization dashboards") == 1)
    assert(reader.countDocuments() == 3 && ids == Seq(1L, 2L, 3L))
    assert(writer.deleteDocuments(Seq(2L)) == 1)
    assert(reader.countDocuments() == 2 && ids == Seq(1L, 3L))
    assert(reader.documents().select("content").as[String].collect()
      .toSet == Set("john likes tea", "data visualization dashboards"))
  }

  test("a store holding a corrupt part file throws on every read and " +
      "is never kept") {
    val dir = Files.createTempDirectory("graft_corrupt_store")
    val part = dir.resolve("part-00000-corrupt.snappy.parquet")
    Files.write(part, Array.tabulate[Byte](256)(i => (i * 7).toByte))
    val e = new Engine(spark, dir.toString)
    def aboutPart(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(part.toString))
    for (_ <- 1 to 2) {
      assert(aboutPart(intercept[Exception](e.documents())))
      assert(aboutPart(intercept[Exception](e.countDocuments())))
    }
    // the failure was not kept: once the file is gone the store reads
    // as empty
    Files.delete(part)
    assert(e.countDocuments() == 0)
  }

  test("long documents chunk with overlap and remain searchable") {
    val e = freshEngine
    val long = (1 to 120).map(i => s"token$i").mkString(" ") +
      " unique anchor phrase appears here"
    // chunkSize 40 / overlap 10 → stride 30 → ceil((124-40)/30)+1 = 4 chunks
    assert(e.addDocument(long, "long.txt") == 4)
    val hit = e.search("unique anchor phrase appears here", k = 1)
      .select("content").collect()(0).getString(0)
    assert(hit.contains("anchor"))
  }

  test("single-writer lock: a concurrent second writer fails loudly") {
    val store = Files.createTempDirectory("graft_lock").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40, overlap = 10)
    assert(e.addDocument("first document body", "a") > 0)
    // simulate another live writer: its lock file sits next to the store
    val lock = new org.apache.hadoop.fs.Path(store + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false); out.close()
    try {
      val ex = intercept[IllegalStateException] {
        e.addDocument("second document body", "b")
      }
      assert(ex.getMessage.contains("locked by another writer"))
      val ex2 = intercept[IllegalStateException] { e.deleteDocuments(Seq(1L)) }
      assert(ex2.getMessage.contains("locked by another writer"))
      // nothing was silently appended or removed while locked
      assert(e.countDocuments() == 1)
    } finally fs.delete(lock, false)
    // lock released -> writes flow again, and the engine's own locking
    // cleans up after itself (a full cycle leaves no lock file behind)
    assert(e.addDocument("second document body", "b") > 0)
    assert(e.countDocuments() == 2)
    assert(!fs.exists(lock))
  }

  test("distributedIds engine assigns the same ids as the serial one") {
    import spark.implicits._
    def run(dist: Boolean): Map[Long, String] = {
      val store = Files.createTempDirectory("graft_distids").toString + "/store"
      val e = new Engine(spark, store, dim = 64, chunkSize = 40,
        overlap = 10, distributedIds = dist)
      e.loadDocuments(corpusDir)
      e.addDocument("an extra pasted document body", "inline")
      e.documents().select("doc_id", "content")
        .as[(Long, String)].collect().toMap
    }
    assert(run(dist = false) == run(dist = true))
  }

  test("two concurrent writers never corrupt the store") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_race").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40, overlap = 10)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val results = Seq("alpha body text", "beta body text").map { t =>
        pool.submit(new java.util.concurrent.Callable[scala.util.Try[Long]] {
          def call(): scala.util.Try[Long] =
            scala.util.Try(e.addDocument(t, t.take(5)))
        })
      }.map(_.get())
      // every outcome is either a clean write or the LOUD lock failure
      results.foreach {
        case scala.util.Success(n) => assert(n == 1L)
        case scala.util.Failure(ex) =>
          assert(ex.isInstanceOf[IllegalStateException] &&
            ex.getMessage.contains("locked by another writer"), ex)
      }
      val oks = results.count(_.isSuccess)
      assert(oks >= 1) // at least one writer must have won
      // store is consistent: one row per successful add, ids unique
      assert(e.countDocuments() == oks)
      val ids = e.documents().select("doc_id").as[Long].collect()
      assert(ids.distinct.length == ids.length)
    } finally pool.shutdown()
  }
}
