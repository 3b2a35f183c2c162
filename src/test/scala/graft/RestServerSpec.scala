package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

class RestServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val mapper = new ObjectMapper()

  private def mkPdf(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), s"%PDF-1.4\n$body".getBytes("UTF-8"))

  test("REST surface: stats, documents, chunks, search, context, delete") {
    val base = Files.createTempDirectory("graft-rest").toString
    val pdfDir = s"$base/pdfs"; Files.createDirectories(Paths.get(pdfDir))
    mkPdf(pdfDir, "EP001 Spark Guide.pdf",
      "# Spark Guide\n\nspark processes distributed data with catalyst and tungsten. " +
        "broadcast joins and partition pruning keep spark queries fast.")
    mkPdf(pdfDir, "EP002 Cooking.pdf",
      "# Cooking\n\npasta with tomato sauce and basil. slow cooking develops flavor.")

    val cfg = GraftConfig(warehouseDir = s"$base/warehouse")
    new Pipeline(spark, cfg).processDirectory(pdfDir)

    val server = new RestServer(spark, cfg).start(0)
    val port = server.getAddress.getPort
    val client = HttpClient.newHttpClient()
    def get(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
        HttpResponse.BodyHandlers.ofString())
    def post(path: String, body: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def ok(r: HttpResponse[String]): String = { assert(r.statusCode == 200, s"${r.statusCode}: ${r.body}"); r.body }
    def delete(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).DELETE.build(),
        HttpResponse.BodyHandlers.ofString())

    try {
      // stats
      val stats = mapper.readTree(ok(get("/stats")))
      assert(stats.get("total_documents").asLong == 2L)
      assert(stats.get("by_status").get("completed").asLong == 2L)

      // list + detail
      val docs = mapper.readTree(ok(get("/documents")))
      assert(docs.size == 2)
      val docId = docs.get(0).get("id").asText
      val detail = mapper.readTree(ok(get(s"/documents/$docId")))
      assert(detail.get("id").asText == docId)
      assert(get("/documents/nope").statusCode == 404)

      // chunks exclude the embedding payload
      val chunks = mapper.readTree(ok(get(s"/documents/$docId/chunks")))
      assert(chunks.size > 0)
      assert(!chunks.get(0).has("embedding"))

      // search: all modes + bad mode 400
      val hits = mapper.readTree(ok(post("/search", """{"query":"spark catalyst","mode":"hybrid","limit":5}""")))
      assert(hits.size > 0)
      assert(hits.get(0).has("score") && hits.get(0).has("document_title"))
      assert(post("/search", """{"query":"x","mode":"nope"}""").statusCode == 400)
      assert(post("/search", """{}""").statusCode == 400)
      assert(post("/search", """{"query":null}""").statusCode == 400, "JSON null query is a 400")
      assert(post("/search", "definitely not json").statusCode == 400, "malformed body is a 400")
      assert(get("/documents?limit=abc").statusCode == 400, "non-integer limit is a 400")
      assert(mapper.readTree(ok(get("/documents?limit=1"))).size == 1, "limit honored in response")

      // context assembly
      val ctx = mapper.readTree(ok(post("/search/context", """{"query":"spark tuning","max_tokens":500}""")))
      assert(ctx.get("context").asText.contains("[Source:"))

      // cascade delete via REST
      assert(delete(s"/documents/$docId").statusCode == 200)
      assert(get(s"/documents/$docId").statusCode == 404)
      assert(mapper.readTree(ok(get("/stats"))).get("total_documents").asLong == 1L)
    } finally server.stop(0)
  }

  test("REST search bounds: limit in [1, maxK] and max_tokens in [100, 16000], else 400; defaults from config") {
    val base = Files.createTempDirectory("graft-rest-bounds").toString
    val pdfDir = s"$base/pdfs"; Files.createDirectories(Paths.get(pdfDir))
    (1 to 3).foreach { i =>
      mkPdf(pdfDir, s"EP00$i Spark Notes $i.pdf",
        s"# Spark Notes $i\n\nspark shuffles data between stages; note $i covers broadcast joins.")
    }
    val cfg = GraftConfig(warehouseDir = s"$base/warehouse",
      search = SearchConfig(defaultK = 1, maxK = 2, defaultMaxTokens = 100))
    new Pipeline(spark, cfg).processDirectory(pdfDir)

    val server = new RestServer(spark, cfg).start(0)
    val port = server.getAddress.getPort
    val client = HttpClient.newHttpClient()
    def post(path: String, body: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def status(path: String, body: String): Int = post(path, body).statusCode
    try {
      Seq("-1", "0", "3", "100000", "2.5", "\"5\"", "true").foreach { bad =>
        assert(status("/search", s"""{"query":"spark","mode":"keyword","limit":$bad}""") == 400,
          s"limit $bad must be a 400")
      }
      // the bounds are inclusive, and an omitted limit takes search.defaultK
      Seq(1, 2).foreach { k =>
        val r = post("/search", s"""{"query":"spark","mode":"keyword","limit":$k}""")
        assert(r.statusCode == 200, r.body)
        assert(mapper.readTree(r.body).size == k, s"limit $k: ${r.body}")
      }
      val dflt = post("/search", """{"query":"spark","mode":"keyword"}""")
      assert(dflt.statusCode == 200 && mapper.readTree(dflt.body).size == 1, dflt.body)

      Seq("99", "16001", "-5", "500.5", "\"500\"").foreach { bad =>
        assert(status("/search/context", s"""{"query":"spark","max_tokens":$bad}""") == 400,
          s"max_tokens $bad must be a 400")
      }
      Seq("100", "16000", "null").foreach { ok =>
        val r = post("/search/context", s"""{"query":"spark","max_tokens":$ok}""")
        assert(r.statusCode == 200, s"max_tokens $ok: ${r.statusCode} ${r.body}")
      }
    } finally server.stop(0)
  }

  /** (GET, POST) over a running server for `cfg`, stopped after `body`. */
  private def withServer(cfg: GraftConfig)(
      body: (String => HttpResponse[String], (String, String) => HttpResponse[String]) => Unit): Unit = {
    val server = new RestServer(spark, cfg).start(0)
    val port = server.getAddress.getPort
    val client = HttpClient.newHttpClient()
    def send(b: HttpRequest.Builder): HttpResponse[String] =
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")
    try body(path => send(HttpRequest.newBuilder(uri(path)).GET),
      (path, json) => send(HttpRequest.newBuilder(uri(path)).POST(HttpRequest.BodyPublishers.ofString(json))))
    finally server.stop(0)
  }

  private def okBody(r: HttpResponse[String]): String = {
    assert(r.statusCode == 200, s"${r.statusCode}: ${r.body}"); r.body
  }

  test("REST over a fresh warehouse: search, context and listings are empty 200s, not 500s") {
    val base = Files.createTempDirectory("graft-rest-fresh").toString
    withServer(GraftConfig(warehouseDir = s"$base/warehouse")) { (get, post) =>
      Seq("vector", "keyword", "hybrid").foreach { mode =>
        val body = okBody(post("/search", s"""{"query":"spark","mode":"$mode"}"""))
        assert(body == "[]", s"$mode: $body")
      }
      val ctx = mapper.readTree(okBody(post("/search/context", """{"query":"spark"}""")))
      assert(ctx.get("context").asText ==
        graft.operators.ContextAssembly.formatContext(Array.empty, "document_title", "text"))
      assert(okBody(get("/documents/nope/chunks")) == "[]")
      assert(okBody(get("/documents/nope/images")) == "[]")
    }
  }

  test("REST adc search is a 400 as an unknown mode, not a 500") {
    val base = Files.createTempDirectory("graft-rest-adc").toString
    val pdfDir = s"$base/pdfs"; Files.createDirectories(Paths.get(pdfDir))
    mkPdf(pdfDir, "EP001 Spark Guide.pdf", "# Spark Guide\n\nspark processes distributed data.")
    val cfg = GraftConfig(warehouseDir = s"$base/warehouse")
    new Pipeline(spark, cfg).processDirectory(pdfDir)
    withServer(cfg) { (_, post) =>
      val r = post("/search", """{"query":"spark","mode":"adc"}""")
      assert(r.statusCode == 400, s"${r.statusCode}: ${r.body}")
      assert(r.body.contains("Invalid search mode: adc. Use: vector, hybrid, keyword"), r.body)
    }
  }

  test("REST image listing is an empty 200 on a warehouse ingested without imagesDir") {
    val base = Files.createTempDirectory("graft-rest-noimg").toString
    val pdfDir = s"$base/pdfs"; Files.createDirectories(Paths.get(pdfDir))
    mkPdf(pdfDir, "EP001 Spark Guide.pdf", "# Spark Guide\n\nspark processes distributed data.")
    val cfg = GraftConfig(warehouseDir = s"$base/warehouse")
    new Pipeline(spark, cfg).processDirectory(pdfDir)
    withServer(cfg) { (get, _) =>
      val docId = mapper.readTree(okBody(get("/documents"))).get(0).get("id").asText
      assert(mapper.readTree(okBody(get(s"/documents/$docId/chunks"))).size > 0)
      assert(okBody(get(s"/documents/$docId/images")) == "[]")
    }
  }
}
