package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One client operation as the user sees it. `phase` is "setup", "run"
  * (the measured window) or "extra" (after the window); `split` marks
  * operations of the traced run that went through the layer split.
  */
final case class Op(id: Int, kind: String, phase: String, split: Boolean,
                    startMs: Long, endMs: Long, ns: Long) {
  def ms: Double = ns / 1e6
}

final case class Hit(docId: Long, score: Double, content: String)

/** An Engine behind an in-process graft.Server on a loopback port, and a
  * single-threaded closed-loop client holding one HTTP/1.1 connection.
  * Every call is timed from the client; searchAll has no route, so it is
  * called on the Engine directly.
  */
final class Service(spark: SparkSession, val store: String, dim: Int,
                    tracer: Option[Tracer], log: Service.Log) {
  val traced: Option[TracedEngine] = tracer.map(new TracedEngine(spark, store, dim, _))
  val engine: graft.Engine = traced.getOrElse(
    new graft.Engine(spark, store, dim, Gen.ChunkWords, Gen.Overlap))
  private val server = new graft.Server(engine).start()
  private val base = s"http://127.0.0.1:${server.boundPort}"
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val json = new ObjectMapper()

  def close(): Unit = server.stop()

  /** Runs one operation, timing it and attributing its Spark work. */
  private def op[T](kind: String)(f: => T): T = {
    val split = traced.exists(_.split)
    val id = log.nextId()
    tracer.foreach(_.req = id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try if (split) tracer.get.span("op." + kind)(f) else f
      finally {
        val ns = System.nanoTime() - t0
        log.ops += Op(id, kind, log.phase, split, startMs, System.currentTimeMillis(), ns)
      }
    r
  }

  private def send(req: HttpRequest.Builder): JsonNode = {
    val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() != 200)
      throw new IllegalStateException(s"HTTP ${r.statusCode()}: ${r.body().take(300)}")
    json.readTree(r.body())
  }

  private def post(path: String, body: java.util.Map[String, Any]): JsonNode =
    send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json.writeValueAsString(body))))

  /** GET /load-documents: the number of newly stored chunks. */
  def load(dir: String): Long = op("load") {
    send(HttpRequest.newBuilder(URI.create(
      base + "/load-documents?dir=" + java.net.URLEncoder.encode(dir, "UTF-8"))).GET())
      .get("loaded").asLong()
  }

  /** POST /add: the server's message. */
  def add(text: String): String = op("add") {
    post("/add", Map[String, Any]("content" -> text).asJava).get("message").asText()
  }

  /** POST /search: the hits and the answer. */
  def search(query: String, k: Int): (Seq[Hit], String) = op("search") {
    val r = post("/search", Map[String, Any]("query" -> query, "k" -> k).asJava)
    (r.get("results").elements().asScala.map(h =>
      Hit(h.get("doc_id").asLong(), h.get("score").asDouble(), h.get("content").asText()))
      .toSeq, r.get("answer").asText())
  }

  /** Engine.searchAll: per query, its hits in rank order. */
  def searchAll(queries: Seq[String], k: Int): Map[Int, Seq[Hit]] = op("search_all") {
    engine.searchAll(queries, k).collect().toSeq
      .map(r => (r.getLong(0).toInt, r.getInt(1), Hit(r.getLong(2), r.getDouble(3), r.getString(4))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) }
  }

  /** The engine's index, built now (the reference's startup sync). */
  def buildIndex(): Unit = op("index")(engine.index())

  def setSplit(on: Boolean): Unit = traced.foreach(_.split = on)
}

object Service {
  /** The operations of one run, across the services it starts. */
  final class Log {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var phase = "setup"
    private var n = 0
    def nextId(): Int = { n += 1; n }
  }
}
