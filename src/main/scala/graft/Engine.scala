package graft

import graft.operators.{Chunker, Ingest, Search}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing facade: one method per reference endpoint, so a user
  * of the reference service can switch call-for-call.
  *
  * | reference endpoint            | here                 |
  * |-------------------------------|----------------------|
  * | POST /add (server.js:102-124) | [[addDocument]]      |
  * | GET /load-documents (161-190) | [[loadDocuments]]    |
  * | POST /search (217-265)        | [[search]] / [[answer]] |
  * | GET /count-documents (127-157)| [[countDocuments]]   |
  * | GET /documents (271-276)      | [[documents]]        |
  * | startup sync (65-94)          | [[index]] (lazy build) |
  *
  * The store is parquet at `storePath` with schema
  * (doc_id, source, chunk_ix, content, embedding) — unlike the reference
  * we keep chunk provenance (its `chunkName` is silently dropped,
  * server.js:191; SURVEY.md §2.1). The "index" is the cached
  * (doc_id, embedding) projection, rebuilt lazily after each write —
  * synchronizeFAISS parity.
  *
  * All mutation goes through dedup-ingest (INSERT OR IGNORE parity) and
  * contiguous id assignment. Embedding is the deterministic hash
  * embedder ([[graft.expressions.HashEmbed]]); answering is extractive
  * (top-1 content) — the two intentional stand-ins for the reference's
  * network LLM calls (SURVEY.md §7.4).
  */
/** @param distributedIds id-assignment strategy for ingest: `false`
  *   (default) keeps strict AUTOINCREMENT parity through the serial
  *   ranking window — right for request-sized adds; `true` routes
  *   through [[Ingest.assignIdsDistributed]] (range partition +
  *   per-partition row_number + prefix offsets), producing the
  *   IDENTICAL mapping (IngestSpec pins dist ≡ serial) without any
  *   task ever holding the whole batch — right for bulk loads.
  * @param embedder the [[Embedder]] serving BOTH ingest and every
  *   query path — the documented seam where a deployment drops in a
  *   network embedding model (the reference's OpenAI flow) in place
  *   of the verified deterministic default ([[HashEmbedder]]). See
  *   the [[Embedder]] contract for batching and versioning notes.
  */
class Engine(spark: SparkSession, storePath: String, dim: Int = 64,
             chunkSize: Int = 1000, overlap: Int = 50,
             distributedIds: Boolean = false,
             embedder: Embedder = HashEmbedder) {

  @volatile private var cachedIndex: Option[DataFrame] = None
  @volatile private var cachedLexical
      : Option[graft.operators.TextSearch.Bm25Index] = None

  /** True iff the store path exists and is readable. "Path does not
    * exist" and "directory exists but holds no files" (a crashed first
    * write can leave one) both mean an empty store — neither has
    * readable doc_ids, so restarting id assignment is safe. Any OTHER
    * failure (corrupt or partial files, permissions) must propagate —
    * treating a real-but-unreadable store as empty would restart doc_id
    * assignment at 0 and append duplicate ids once it becomes readable.
    */
  private def storeExists: Boolean =
    try { spark.read.parquet(storePath).schema; true }
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => false
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        // evaluate the FS listing outside the pattern guard: a listing
        // failure (store deleted between Spark's inference attempt and
        // this probe, transient FS error) must not REPLACE the original
        // AnalysisException — attach it as suppressed so the root cause
        // survives the rethrow
        val onlyMeta =
          try storeHoldsOnlyMetadataFiles
          catch {
            case scala.util.control.NonFatal(t) => t.addSuppressed(e); throw t
          }
        if (onlyMeta) false else throw e
    }

  /** Hadoop-FS listing (works for HDFS/S3/local alike, unlike
    * java.io.File which would return null off the local FS and silently
    * classify a real-but-unreadable store as empty). A listing failure
    * propagates — same rationale as the schema-inference guard above.
    */
  private def storeHoldsOnlyMetadataFiles: Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(hPath).forall { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
  }

  /** The store relation [[documents]] last resolved, with the listing
    * it was resolved against.
    */
  @volatile private var resolved
      : Option[(Seq[(String, Long, Long)], DataFrame)] = None

  /** Name, length and mtime of every entry in the store directory: one
    * Hadoop `listStatus`, no Spark job. A missing directory lists empty.
    */
  private def storeListing: Seq[(String, Long, Long)] = {
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(hPath).toSeq
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Full store scan (GET /documents). The resolved relation is reused
    * while the store directory's listing is unchanged, so a read costs
    * one FS listing instead of a probe plus schema inference. The key
    * is the listing, not this Engine's own writes: an append by another
    * Engine on the same path, or a delete's directory swap, changes it.
    * The listing is taken BEFORE the read, so a write racing the read
    * can only make the kept relation newer than its key, and the next
    * call resolves again. A failed probe throws and keeps nothing.
    */
  def documents(): DataFrame = {
    val listing = storeListing
    resolved.collect { case (l, df) if l == listing => df }.getOrElse {
      val df =
        if (storeExists) spark.read.parquet(storePath)
        else spark.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit("").as("source"),
            lit(0).as("chunk_ix"), lit("").as("content"),
            array().cast("array<float>").as("embedding"))
          .limit(0)
      resolved = Some((listing, df))
      df
    }
  }

  def countDocuments(): Long = documents().count()

  /** The cached (doc_id, embedding) index, built on demand. */
  def index(): DataFrame = synchronized {
    cachedIndex.getOrElse {
      val idx = Ingest.buildIndex(documents(), "doc_id", "embedding")
      cachedIndex = Some(idx)
      idx
    }
  }

  /** The cached BM25 corpus statistics, built on demand and released
    * together with the vector index on every store write.
    */
  def lexicalIndex(): graft.operators.TextSearch.Bm25Index = synchronized {
    cachedLexical.getOrElse {
      val idx = graft.operators.TextSearch.buildBm25Index(
        documents().select("doc_id", "content"), "doc_id", "content")
      cachedLexical = Some(idx)
      idx
    }
  }

  private def invalidateIndex(): Unit = synchronized {
    cachedIndex.foreach(_.unpersist())
    cachedIndex = None
    cachedLexical.foreach(_.release())
    cachedLexical = None
  }

  /** Chunk → embed → dedup → assign ids → append. Returns the number of
    * newly stored chunks (the reference reports per-chunk add results).
    *
    * Runs under [[Ingest.withStoreLock]]: the anti-join's novelty check
    * is only sound against a store no other writer is appending to —
    * a second concurrent ingest fails loudly instead of racing past
    * the dedup and duplicating content (the single-writer contract
    * SQLite gave the reference for free).
    */
  private def ingest(docs: DataFrame): Long =
    Ingest.withStoreLock(spark, storePath) { ingestLocked(docs) }

  private def ingestLocked(docs: DataFrame): Long = {
    val store = documents()
    val chunked = Chunker.chunk(docs, "text", chunkSize, overlap)
      .select(col("source"), col("chunk_ix"), col("chunk").as("content"))
    val embedded = embedder.embed(chunked, "content", dim)
      // deterministic keeper when the same chunk text arrives from
      // several (source, chunk_ix) positions in one batch
      .withColumn("batch_order",
        graft.functions.HashFunctions.md5Long(
          concat_ws(":", col("source"), col("chunk_ix"))))
    val novel = Ingest.dedupIngest(embedded,
      store.select("content"), "content", "batch_order")
      .drop("batch_order")
    val assigned = (if (distributedIds)
        Ingest.assignIdsDistributed(novel, "content", store, "doc_id")
      else Ingest.assignIdsAfter(novel, "content", store, "doc_id"))
      .select("doc_id", "source", "chunk_ix", "content", "embedding")
      // count() + write would otherwise run the whole chunk→embed→
      // anti-join→window pipeline twice
      .persist()
    try {
      val n = assigned.count()
      if (n > 0) {
        Ingest.writeStore(assigned, storePath)
        invalidateIndex()
      }
      n
    } finally assigned.unpersist()
  }

  /** POST /add — one pasted document. */
  def addDocument(text: String, source: String = "inline"): Long = {
    import spark.implicits._
    ingest(Seq((source, text)).toDF("source", "text"))
  }

  /** GET /load-documents — whole-file scan of a directory. */
  def loadDocuments(dir: String): Long =
    ingest(Sources.textDir(spark, dir))

  /** One-call migration from a reference `vectors.db` (SQLite; schema
    * server.js:21-32): contents flow through the NORMAL ingest path —
    * chunk → hash-embed → content-dedup → id assignment — because this
    * engine's embedder differs from the reference's OpenAI vectors (the
    * raw 1536-dim blobs remain accessible via
    * [[Sources.fromSqliteDocuments]] for side-by-side checks). Returns
    * newly stored chunk count; re-importing the same db is a no-op
    * (INSERT OR IGNORE parity).
    */
  def importSqlite(dbPath: String): Long =
    ingest(Sources.fromSqliteDocuments(spark, dbPath)
      .select(concat(lit("sqlite:"), col("doc_id").cast("string"))
        .as("source"), col("content").as("text")))

  /** Delete by doc id — the inverse of ingest (FAISS `remove_ids` /
    * `DELETE FROM documents WHERE id IN (...)`; the reference exposes no
    * delete endpoint, but its SQLite store supports the statement and a
    * complete engine needs it). Plain parquet has no row deletes, so the
    * store is rewritten without the victims via the same temp-dir swap
    * as [[Ingest.compactStore]] (table formats layer deletion vectors on
    * top of exactly this maintenance pass). The victim set rides a
    * broadcast anti-join — the store side is never shuffled. Returns the
    * number of rows removed; ids are never reused afterwards (max-id
    * assignment keeps AUTOINCREMENT parity, like un-vacuumed SQLite).
    *
    * The victim count and the rewrite run under ONE
    * [[Ingest.withStoreLock]] section, so the returned count is exactly
    * the number of rows the rewrite removed — no writer can interleave
    * between the two jobs.
    */
  def deleteDocuments(ids: Seq[Long]): Long = {
    import spark.implicits._
    if (ids.isEmpty || !storeExists) return 0L
    Ingest.withStoreLock(spark, storePath) {
      val victims = ids.distinct.toDF("doc_id")
      val n = documents()
        .join(broadcast(victims), Seq("doc_id"), "left_semi").count()
      if (n > 0) {
        val tmp = storePath + ".delete.tmp"
        documents().join(broadcast(victims), Seq("doc_id"), "left_anti")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("compression", "zstd").parquet(tmp)
        Ingest.replaceStoreDir(spark, tmp, storePath)
        invalidateIndex()
      }
      n
    }
  }

  /** POST /search — embed the query, cosine top-k over the index,
    * enrich with content: (doc_id, score, content) in rank order, score
    * descending, ties on doc_id ascending (the reference sorts its
    * results the same way, server.js:58-60).
    */
  def search(query: String, k: Int = 1): DataFrame = {
    import spark.implicits._
    val qv = embedder.embed(Seq(query).toDF("text"), "text", dim)
      .select(col("embedding").as("qe"))
    val hits = Search.topK(index(), qv, "doc_id", "embedding", "qe", k)
    Search.enrich(hits, documents().select("doc_id", "content"), "doc_id")
      .select("doc_id", "score", "content")
      // the limit cuts nothing (the join keeps <= k rows) but plans the
      // sort as a TakeOrderedAndProject on the join's output; a bare
      // orderBy adds a range-partitioning exchange and two more jobs
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Batched search: many queries in ONE plan — per-query top-k via the
    * ranking window, one shuffle keyed by query id (the shape that holds
    * at fleet scale; looping [[search]] would launch a job per query).
    * Returns (query_id, rank, doc_id, score, content).
    */
  def searchAll(queryTexts: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val qs = embedder.embed(
        queryTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("query_id", "text"), "text", dim)
      .select(col("query_id"), col("embedding").as("qe"))
    val scored = Search.scoreAll(index(), qs, "doc_id", "embedding",
      "query_id", "qe")
    val hits = Search.topKPerQuery(scored, "query_id", "doc_id", k)
    // hits are queries×k rows — broadcast THEM into the corpus join
    documents().select("doc_id", "content")
      .join(broadcast(hits), Seq("doc_id"))
      .select("query_id", "rank", "doc_id", "score", "content")
      .orderBy("query_id", "rank")
  }

  /** Diversified search: cosine retrieval narrows the corpus to a
    * `shortlistSize` shortlist, then MMR greedily re-ranks it to `k`
    * results balancing relevance against redundancy
    * ([[graft.operators.Search.mmrRerank]]) — the answer to chunked
    * corpora where the top-k fills up with near-identical chunks of one
    * document. Returns (rank, doc_id, mmr, content).
    */
  def searchDiverse(query: String, k: Int, lambda: Double = 0.5,
                    shortlistSize: Int = 50): DataFrame = {
    import spark.implicits._
    val qv = embedder.embed(Seq(query).toDF("text"), "text", dim)
      .select(col("embedding").as("qe"))
    val shortlist = Search.topKWithVec(index(), qv, "doc_id", "embedding",
      "qe", shortlistSize)
    val ranked = Search.mmrRerank(shortlist, "doc_id", "embedding",
      "score", k, lambda)
    Search.enrich(ranked, documents().select("doc_id", "content"), "doc_id")
      .select("rank", "doc_id", "mmr", "content")
      .orderBy("rank")
  }

  /** Hybrid retrieval: cosine ranking fused with BM25 lexical ranking
    * by reciprocal rank (the query string serves both as embedding
    * input and term bag). Returns (doc_id, rrf_score, content).
    */
  def hybridSearch(query: String, k: Int): DataFrame = {
    import spark.implicits._
    import graft.operators.TextSearch
    val qv = embedder.embed(Seq(query).toDF("text"), "text", dim)
      .select(lit(0L).as("query_id"), col("embedding").as("qe"))
    val vector = Search
      .scoreAll(index(), qv, "doc_id", "embedding", "query_id", "qe")
      .select("doc_id", "score")
    val lexical = TextSearch.bm25ScoresIndexed(lexicalIndex(),
      query.toLowerCase.trim.split("\\s+").toSeq)
    val fused = TextSearch.rrfFuse(lexical, vector, "doc_id", k)
    Search.enrich(fused, documents().select("doc_id", "content"), "doc_id")
      .select("doc_id", "rrf_score", "content")
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  /** The reference's context string (server.js:251-254). */
  def context(query: String, k: Int): String = {
    val enriched = search(query, k)
      .withColumn("query_id", pmod(col("doc_id"), lit(1L)))
    val rows = Search.contextAgg(enriched, "query_id", "doc_id", "content")
      .select("context").collect()
    if (rows.isEmpty) "" else rows(0).getString(0)
  }

  /** Extractive answer — deterministic stand-in for the reference's
    * chat completion (embed.js:160-180): best-scoring content.
    */
  def answer(query: String): String = {
    val rows = search(query, k = 1).select("content").collect()
    if (rows.isEmpty) "" else rows(0).getString(0)
  }
}
