package graft

import org.apache.spark.sql.DataFrame

/** The demo HTTP facade end-to-end on a loopback port: route parity
  * with the reference service (add / count / load / search / documents
  * / UI), JSON escaping both directions, the reference's error shapes
  * (400 on missing content/query), 400 on a non-positive k, and ranked
  * /search results whose answer is the top hit.
  */
class ServerSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private var server: Server = _
  private var base: String = _
  private val client = java.net.http.HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    super.beforeAll()
    val store = java.nio.file.Files
      .createTempDirectory("graft_server").toString + "/store"
    server = new Server(
      new Engine(spark, store, dim = 32, chunkSize = 40, overlap = 10))
      .start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  override def afterAll(): Unit = {
    try server.stop()
    finally super.afterAll()
  }

  private def get(path: String): (Int, String) = {
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(base + path)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String,
                   at: String = base): (Int, String) = {
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(at + path))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("the reference request cycle: add, re-add, count, search, docs") {
    assert(get("/count-documents") == (200, """{"count":0}"""))
    assert(post("/add", """{"content":"john likes tea"}""") ==
      (200, """{"message":"Document added."}"""))
    // INSERT OR IGNORE surfaced like the reference (server.js:116)
    assert(post("/add", """{"content":"john likes tea"}""") ==
      (200, """{"message":"Document already exists."}"""))
    assert(post("/add", """{"content":"quoted \"text\"\nsecond line"}""")
      ._2.contains("added"))
    assert(get("/count-documents") == (200, """{"count":2}"""))
    val (sc, sb) = post("/search", """{"query":"john likes tea","k":2}""")
    assert(sc == 200)
    assert(sb.contains(""""query":"john likes tea""""))
    assert(sb.contains(""""answer":""") && sb.contains("john likes tea"))
    assert(sb.contains(""""doc_id":"""))
    // JSON round-trip of the escaped document through /documents.
    // The newline in the ADDED text became a space: chunk content is
    // whitespace-token-joined by the chunker (engine contract) — the
    // quotes still require correct JSON escaping on the way out.
    val (dc, db) = get("/documents")
    assert(dc == 200)
    assert(db.contains("""quoted \"text\" second line"""))
    assert(db.startsWith("[") && db.endsWith("]"))
  }

  test("the reference error shapes: 400 on missing content/query") {
    assert(post("/add", """{}""") ==
      (400, """{"error":"Content is required"}"""))
    assert(post("/search", """{"k":3}""") ==
      (400, """{"error":"Query is required"}"""))
    assert(get("/load-documents")._1 == 400)
  }

  test("k must be a positive integer") {
    for (k <- Seq("0", "-2"))
      assert(post("/search", s"""{"query":"john likes tea","k":$k}""") ==
        (400, """{"error":"k must be a positive integer"}"""))
  }

  test("search results come in rank order and the answer is the top " +
      "hit, even from an engine returning its hits unordered") {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files
      .createTempDirectory("graft_server_rank").toString + "/store"
    // the hits of Engine.search reversed: the server must rank them
    // itself instead of trusting row position
    val reversed = new Engine(spark, store, dim = 32, chunkSize = 40,
        overlap = 10) {
      override def search(query: String, k: Int): DataFrame =
        super.search(query, k).orderBy(col("score"), col("doc_id").desc)
    }
    Seq("john likes tea", "john likes green tea", "mary likes beer",
      "tea for two", "charts and dashboards")
      .foreach(t => assert(reversed.addDocument(t) == 1))
    val srv = new Server(reversed).start()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    try for (k <- Seq(1, 3)) {
      val (code, json) = post("/search",
        s"""{"query":"john likes tea","k":$k}""",
        at = s"http://127.0.0.1:${srv.boundPort}")
      assert(code == 200)
      val body = mapper.readTree(json)
      val results = (0 until body.get("results").size())
        .map(body.get("results").get(_))
      val got = results.map(h =>
        (h.get("score").asDouble(), h.get("doc_id").asLong()))
      assert(got.length == k)
      assert(got == got.sortBy { case (s, id) => (-s, id) }, got)
      assert(body.get("answer").asText() ==
        results.head.get("content").asText())
      // the same hits the engine ranks
      val want = reversed.search("john likes tea", k).collect()
        .map(r => (r.getDouble(1), r.getLong(0)))
        .sortBy { case (s, id) => (-s, id) }
      assert(got == want.toSeq)
      if (k == 1) assert(body.get("answer").asText() == "john likes tea")
    } finally srv.stop()
  }

  test("the UI page serves; unknown routes 404") {
    val (uc, ub) = get("/")
    assert(uc == 200 && ub.contains("graft engine"))
    assert(get("/no-such-route")._1 == 404)
  }

  test("load-documents ingests a directory through the same dedup path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_load")
    java.nio.file.Files.write(dir.resolve("a.txt"),
      "completely novel corpus text".getBytes("UTF-8"))
    val (lc, lb) = get("/load-documents?dir=" +
      java.net.URLEncoder.encode(dir.toString, "UTF-8"))
    assert(lc == 200 && lb == """{"loaded":1}""")
    // idempotent: the second load dedups away (INSERT OR IGNORE)
    assert(get("/load-documents?dir=" +
      java.net.URLEncoder.encode(dir.toString, "UTF-8"))._2 ==
      """{"loaded":0}""")
  }
}
