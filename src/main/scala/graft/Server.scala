package graft

/** DEMO-ONLY HTTP facade over [[Engine]] — the runtime counterpart of
  * the reference's Express service (server.js:102-355), closing the one
  * reference file that had no running equivalent. Deliberately thin:
  * every route is a one-line delegation to the [[Engine]] method that
  * already mirrors it call-for-call, the server is the JDK's built-in
  * `com.sun.net.httpserver` (public, dependency-free). It is what the
  * `perfbench` benchmark drives; the oracle-checked queries do not use
  * it. A production deployment would put a real HTTP stack in front of
  * `Engine` the same one-line-per-route way.
  *
  * Route parity (reference file:line):
  *  - `POST /add` {content}            → addDocument      (server.js:102)
  *  - `GET /count-documents`           → countDocuments   (server.js:127)
  *  - `GET /load-documents?dir=`       → loadDocuments    (server.js:161)
  *  - `POST /search` {query, k}        → search, answer = top hit
  *                                       (server.js:217)
  *  - `GET /documents`                 → documents        (server.js:271)
  *  - `GET /`                          → minimal HTML UI  (server.js:280)
  *
  * JSON handling is a hand-rolled minimal subset (string/int fields,
  * standard escapes) — enough for the reference's request shapes
  * without adding a dependency; swap for a real JSON library when one
  * is on the classpath.
  */
final class Server(engine: Engine, port: Int = 0) {

  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

  private val server =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)

  /** The bound port (useful when constructed with port = 0). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Server = { server.start(); this }
  def stop(): Unit = server.stop(0)

  // ---- minimal JSON ---------------------------------------------------

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  /** Extract a string field from a one-level JSON object, honoring
    * standard escapes. None when absent or not a string. */
  private[graft] def jsonString(body: String, key: String)
      : Option[String] = {
    val keyAt = body.indexOf("\"" + key + "\"")
    if (keyAt < 0) return None
    val colon = body.indexOf(':', keyAt + key.length + 2)
    if (colon < 0) return None
    var i = colon + 1
    while (i < body.length && body(i).isWhitespace) i += 1
    if (i >= body.length || body(i) != '"') return None
    i += 1
    val sb = new StringBuilder
    while (i < body.length && body(i) != '"') {
      if (body(i) == '\\' && i + 1 < body.length) {
        body(i + 1) match {
          case '"'  => sb += '"'
          case '\\' => sb += '\\'
          case 'n'  => sb += '\n'
          case 'r'  => sb += '\r'
          case 't'  => sb += '\t'
          case 'u' if i + 5 < body.length =>
            sb += Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar
            i += 4
          case other => sb += other
        }
        i += 2
      } else { sb += body(i); i += 1 }
    }
    if (i >= body.length) None else Some(sb.result())
  }

  /** Extract an integer field from a one-level JSON object. */
  private[graft] def jsonInt(body: String, key: String): Option[Int] = {
    val keyAt = body.indexOf("\"" + key + "\"")
    if (keyAt < 0) return None
    val colon = body.indexOf(':', keyAt + key.length + 2)
    if (colon < 0) return None
    val digits = body.drop(colon + 1).dropWhile(_.isWhitespace)
      .takeWhile(c => c.isDigit || c == '-')
    if (digits.isEmpty) None else digits.toIntOption
  }

  // ---- routes ---------------------------------------------------------

  /** [[Engine.search]]'s rank order over its (doc_id, score, content)
    * rows: score descending with NaN first, as Spark sorts it, then
    * doc_id ascending.
    */
  private val byRank: Ordering[org.apache.spark.sql.Row] =
    Ordering.by[org.apache.spark.sql.Row, Double](_.getDouble(1))(
      Ordering.Double.TotalOrdering.reverse).orElseBy(_.getLong(0))

  private def reply(ex: HttpExchange, status: Int, contentType: String,
                    body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def json(ex: HttpExchange, status: Int, body: String): Unit =
    reply(ex, status, "application/json", body)

  private def handler(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try f(ex)
        catch { // a failed request must answer, not hang the client
          case t: Throwable =>
            json(ex, 500, s"""{"error":"${esc(t.getMessage)}"}""")
        }
    }

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getQuery).flatMap(_.split('&').iterator
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == key =>
        java.net.URLDecoder.decode(v, "UTF-8") })

  private def requestBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  server.createContext("/add", handler { ex =>
    jsonString(requestBody(ex), "content") match {
      case None | Some("") => // reference server.js:104
        json(ex, 400, """{"error":"Content is required"}""")
      case Some(content) =>
        val added = engine.addDocument(content)
        // INSERT-OR-IGNORE surfaced exactly like the reference does
        json(ex, 200,
          if (added == 0) """{"message":"Document already exists."}"""
          else """{"message":"Document added."}""")
    }
  })

  server.createContext("/count-documents", handler { ex =>
    json(ex, 200, s"""{"count":${engine.countDocuments()}}""")
  })

  server.createContext("/load-documents", handler { ex =>
    queryParam(ex, "dir") match {
      case None =>
        json(ex, 400, """{"error":"dir query parameter is required"}""")
      case Some(dir) =>
        json(ex, 200, s"""{"loaded":${engine.loadDocuments(dir)}}""")
    }
  })

  server.createContext("/search", handler { ex =>
    val body = requestBody(ex)
    jsonString(body, "query") match {
      case None | Some("") => // reference server.js:220
        json(ex, 400, """{"error":"Query is required"}""")
      case Some(q) =>
        jsonInt(body, "k").getOrElse(1) match { // reference default k=1
          case k if k < 1 =>
            json(ex, 400, """{"error":"k must be a positive integer"}""")
          case k =>
            // one search; ranked here, not by row position, because an
            // Engine subclass may return its hits in any order
            val hits = engine.search(q, k).collect().sorted(byRank)
            val answer = hits.headOption.fold("")(_.getString(2))
            val results = hits.map { r =>
              s"""{"doc_id":${r.getLong(0)},"score":${r.getDouble(1)},""" +
                s""""content":"${esc(r.getString(2))}"}"""
            }
            json(ex, 200,
              s"""{"query":"${esc(q)}","answer":"${esc(answer)}",""" +
                s""""results":[${results.mkString(",")}]}""")
        }
    }
  })

  server.createContext("/documents", handler { ex =>
    // debug route (reference server.js:271): cap the dump — a 100 TB
    // store must not stream through a debug endpoint
    val rows = engine.documents()
      .select("doc_id", "source", "chunk_ix", "content")
      .orderBy("doc_id").limit(1000).collect()
      .map { r =>
        s"""{"doc_id":${r.getLong(0)},"source":"${esc(r.getString(1))}",""" +
          s""""chunk_ix":${r.get(2)},""" +
          s""""content":"${esc(r.getString(3))}"}"""
      }
    json(ex, 200, s"[${rows.mkString(",")}]")
  })

  server.createContext("/", handler { ex =>
    if (ex.getRequestURI.getPath != "/")
      json(ex, 404, """{"error":"no such route"}""")
    else reply(ex, 200, "text/html",
      """<!doctype html><title>graft</title>
        |<h1>graft engine</h1>
        |<p>POST /add {"content": ...} &middot; GET /count-documents
        |&middot; GET /load-documents?dir= &middot;
        |POST /search {"query": ..., "k": n} &middot;
        |GET /documents</p>""".stripMargin)
  })
}
