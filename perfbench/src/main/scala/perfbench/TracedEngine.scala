package perfbench

import graft.{Engine, HashEmbedder}
import graft.functions.HashFunctions.md5Long
import graft.operators.{Chunker, Ingest, Search}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine of the traced run. With `split` off every call is the
  * program's own. With `split` on, search, searchAll and ingest are
  * composed here from the same layer calls `graft.Engine` makes, in the
  * same order, and each layer's output is materialized before the next
  * layer is timed, so a span never re-runs its parents. The answers are
  * checked exactly like the untraced ones, so a split that drifts from
  * `Engine` shows up as failed operations.
  *
  * The index cache is kept here (Engine's is private and only its own
  * writes clear it): it is the same `Ingest.buildIndex` projection,
  * dropped after every write that stores something.
  */
final class TracedEngine(spark: SparkSession, storePath: String, dim: Int,
                         tracer: Tracer)
    extends Engine(spark, storePath, dim, Gen.ChunkWords, Gen.Overlap) {
  import spark.implicits._

  @volatile var split = false
  private var cached: Option[DataFrame] = None

  private def span[T](name: String)(f: => T): T =
    if (split) tracer.span(name)(f) else f

  /** Collected into a local relation: later layers read it for free. */
  private def local(df: DataFrame): DataFrame = {
    val rows = df.collect()
    if (split) tracer.count(rows.length.toLong)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Cached and counted, for outputs too large to collect. */
  private def held(df: DataFrame): DataFrame = {
    val p = df.persist()
    tracer.count(p.count())
    p
  }

  override def documents(): DataFrame = span("engine.documents")(super.documents())

  override def index(): DataFrame = synchronized {
    cached.getOrElse {
      val idx = span("engine.index")(
        Ingest.buildIndex(documents(), "doc_id", "embedding"))
      cached = Some(idx)
      idx
    }
  }

  private def dropIndex(): Unit = synchronized {
    cached.foreach(_.unpersist())
    cached = None
  }

  override def search(query: String, k: Int): DataFrame =
    if (!split) super.search(query, k)
    else tracer.span("engine.search") {
      val qv = span("embedder.query")(local(
        HashEmbedder.embed(Seq(query).toDF("text"), "text", dim)
          .select(col("embedding").as("qe"))))
      val idx = index()
      val hits = span("search.topk")(local(
        Search.topK(idx, qv, "doc_id", "embedding", "qe", k)))
      val docs = documents().select("doc_id", "content")
      span("search.enrich")(local(
        Search.enrich(hits, docs, "doc_id").select("doc_id", "score", "content")))
    }

  override def answer(query: String): String =
    span("engine.answer")(super.answer(query))

  override def searchAll(queryTexts: Seq[String], k: Int): DataFrame =
    if (!split) super.searchAll(queryTexts, k)
    else tracer.span("engine.search_all") {
      val qs = span("embedder.query")(local(
        HashEmbedder.embed(queryTexts.zipWithIndex
            .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "text"),
          "text", dim)
          .select(col("query_id"), col("embedding").as("qe"))))
      val idx = index()
      val scored = span("search.score_all")(held(
        Search.scoreAll(idx, qs, "doc_id", "embedding", "query_id", "qe")))
      val hits =
        try span("search.topk_per_query")(local(
          Search.topKPerQuery(scored, "query_id", "doc_id", k)))
        finally scored.unpersist()
      val docs = documents().select("doc_id", "content")
      span("engine.content_join")(local(
        docs.join(broadcast(hits), Seq("doc_id"))
          .select("query_id", "rank", "doc_id", "score", "content")
          .orderBy("query_id", "rank")))
    }

  override def addDocument(text: String, source: String): Long = {
    val n =
      if (!split) super.addDocument(text, source)
      else ingest(Seq((source, text)).toDF("source", "text"))
    if (n > 0) dropIndex()
    n
  }

  override def loadDocuments(dir: String): Long = {
    val n =
      if (!split) super.loadDocuments(dir)
      else ingest(span("sources.textdir")(local(Sources.textDir(spark, dir))))
    if (n > 0) dropIndex()
    n
  }

  /** Engine's private chunk → embed → dedup → assign ids → append. */
  private def ingest(docs: DataFrame): Long =
    Ingest.withStoreLock(spark, storePath) {
      val store = documents()
      val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = { val p = held(df); kept += p; p }
      try {
        val chunked = span("chunker.chunk")(keep(
          Chunker.chunk(docs, "text", Gen.ChunkWords, Gen.Overlap)
            .select(col("source"), col("chunk_ix"), col("chunk").as("content"))))
        val embedded = span("embedder.embed")(keep(
          HashEmbedder.embed(chunked, "content", dim)
            .withColumn("batch_order",
              md5Long(concat_ws(":", col("source"), col("chunk_ix"))))))
        val novel = span("ingest.dedup")(keep(
          Ingest.dedupIngest(embedded, store.select("content"), "content",
            "batch_order").drop("batch_order")))
        val assigned = span("ingest.assign_ids")(keep(
          Ingest.assignIdsAfter(novel, "content", store, "doc_id")
            .select("doc_id", "source", "chunk_ix", "content", "embedding")))
        val n = assigned.count()
        if (n > 0) span("ingest.write")(Ingest.writeStore(assigned, storePath))
        n
      } finally kept.foreach(_.unpersist())
    }
}
