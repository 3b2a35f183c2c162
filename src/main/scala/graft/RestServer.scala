package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.{Pipeline, Retriever, SearchMode}

/** Minimal REST surface over the engine — the reference's FastAPI app
  * (reference: src/api/main.py:82 and routes/{documents,search,chunks,
  * images,stats}.py) re-expressed as a thin wrapper over
  * [[graft.pipeline.Pipeline]] / [[graft.pipeline.Retriever]]. Zero new
  * dependencies: `com.sun.net.httpserver` ships with the JDK and jackson
  * rides in with Spark.
  *
  * Endpoints (GET unless noted):
  *   - `/stats`                          (routes/stats.py:12)
  *   - `/documents?status=&limit=`       (routes/documents.py:23)
  *   - `/documents/{id}`                 (routes/documents.py:52)
  *   - `/documents/{id}` DELETE          (routes/documents.py:171)
  *   - `/documents/{id}/chunks`          (routes/chunks.py:14)
  *   - `/documents/{id}/images`          (routes/images.py:15)
  *   - `/search` POST {query,mode,limit,title_filter} (routes/search.py:17)
  *   - `/search/context` POST {query,max_tokens}      (routes/search.py:62)
  *
  * Driver-side ops/debug surface: each handler runs a Spark action on the
  * driver, exactly like the reference's single-process FastAPI app runs a
  * local store query. It is NOT a data-plane service — at cluster scale
  * the per-request work is still distributed by Spark, but request
  * concurrency is bounded by the driver.
  */
final class RestServer(spark: SparkSession, config: GraftConfig = GraftConfig.default) {

  private val pipeline = new Pipeline(spark, config)
  private val retriever = new Retriever(spark, pipeline, config)
  private val mapper = new ObjectMapper()

  // `max_tokens` bounds of /search/context (the reference's request
  // schema, src/api/schemas.py:128)
  private val MinContextTokens = 100
  private val MaxContextTokens = 16000

  // ---------------------------------------------------------------- JSON

  private def setField(node: ObjectNode, name: String, v: Any): Unit = v match {
    case null                => node.putNull(name)
    case s: String           => node.put(name, s)
    case i: Int              => node.put(name, i)
    case l: Long             => node.put(name, l)
    case d: Double           => node.put(name, d)
    case f: Float            => node.put(name, f.toDouble)
    case b: Boolean          => node.put(name, b)
    case seq: scala.collection.Seq[_] =>
      val arr = node.putArray(name)
      seq.foreach {
        case i: Int    => arr.add(i)
        case l: Long   => arr.add(l)
        case d: Double => arr.add(d)
        case f: Float  => arr.add(f.toDouble)
        case other     => arr.add(String.valueOf(other))
      }
    case other               => node.put(name, other.toString)
  }

  private def rowToNode(row: Row): ObjectNode = {
    val node = mapper.createObjectNode()
    row.schema.fieldNames.zipWithIndex.foreach { case (name, i) =>
      setField(node, name, row.get(i))
    }
    node
  }

  /** Rows as a JSON array via Spark's own row serializer (handles every
    * nested type correctly); heavy payload columns are dropped, matching
    * the reference's response models (ChunkResponse has no embedding
    * field). `limit` is the response cap — pass the client's requested
    * limit through rather than silently truncating below it.
    */
  private def dfToJsonArray(df: DataFrame, limit: Int = 1000): String =
    df.drop("embedding", "bytes", "content")
      .limit(limit)
      .toJSON
      .collect()
      .mkString("[", ",", "]")

  // ------------------------------------------------------------- routing

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes)
    finally ex.close()
  }

  private def error(ex: HttpExchange, code: Int, detail: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("detail", detail)
    respond(ex, code, node.toString)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _           => None
        }
      }
      .toMap

  /** Body parse failures are client errors (400), not server errors. */
  private def parseBody(ex: HttpExchange): Either[String, com.fasterxml.jackson.databind.JsonNode] =
    try Right(mapper.readTree(ex.getRequestBody))
    catch { case e: com.fasterxml.jackson.core.JacksonException => Left(s"malformed JSON body: ${e.getOriginalMessage}") }

  /** Field as non-null text (JSON null and absent both map to None). */
  private def textField(node: com.fasterxml.jackson.databind.JsonNode, name: String): Option[String] =
    Option(node.get(name)).filterNot(_.isNull).map(_.asText)

  /** Integer field bounded to `[lo, hi]`; JSON null and absent both give
    * `default`. Anything else — a fraction, a string, a value out of
    * range — is a client error (the reference's `Field(ge=, le=)`
    * request schema, src/api/schemas.py:106,128).
    */
  private def boundedInt(node: com.fasterxml.jackson.databind.JsonNode, name: String,
      default: Int, lo: Int, hi: Int): Either[String, Int] =
    Option(node.get(name)).filterNot(_.isNull) match {
      case None => Right(default)
      case Some(v) if v.isIntegralNumber && v.canConvertToInt && v.asInt >= lo && v.asInt <= hi =>
        Right(v.asInt)
      case Some(v) => Left(s"$name must be an integer in [$lo, $hi], got: $v")
    }

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val segments = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    try {
      (method, segments) match {
        case ("GET", "stats" :: Nil) =>
          // one stats() pass: total_documents is the sum of the per-status
          // counts and total_chunks rides along on every row — no extra
          // full-table count jobs per request
          val rows = pipeline.stats().collect()
          val byStatus = mapper.createObjectNode()
          rows.foreach(r => byStatus.put(r.getAs[String]("status"), r.getAs[Long]("n")))
          val node = mapper.createObjectNode()
          node.put("total_documents", rows.map(_.getAs[Long]("n")).sum)
          node.put("total_chunks", rows.headOption.map(_.getAs[Long]("total_chunks")).getOrElse(0L))
          node.set[ObjectNode]("by_status", byStatus)
          respond(ex, 200, node.toString)

        case ("GET", "documents" :: Nil) =>
          val p = queryParams(ex)
          val limit = p.get("limit").map(v => v.toIntOption.getOrElse(-1)).getOrElse(100)
          if (limit < 0) { error(ex, 400, s"limit must be a non-negative integer, got: ${p("limit")}"); return }
          val df = pipeline.listDocuments(p.get("status"), limit)
          respond(ex, 200, dfToJsonArray(df, limit))

        case ("GET", "documents" :: id :: Nil) =>
          pipeline.getDocument(id) match {
            case Some(row) => respond(ex, 200, rowToNode(row).toString)
            case None      => error(ex, 404, s"Document not found: $id")
          }

        case ("DELETE", "documents" :: id :: Nil) =>
          if (pipeline.getDocument(id).isEmpty) error(ex, 404, s"Document not found: $id")
          else {
            pipeline.deleteDocument(id)
            val node = mapper.createObjectNode()
            node.put("deleted", id)
            respond(ex, 200, node.toString)
          }

        case ("GET", "documents" :: id :: "chunks" :: Nil) =>
          respond(ex, 200, dfToJsonArray(pipeline.listChunks(id)))

        case ("GET", "documents" :: id :: "images" :: Nil) =>
          respond(ex, 200, dfToJsonArray(pipeline.listImages(id)))

        case ("POST", "search" :: Nil) =>
          val req = parseBody(ex) match {
            case Left(msg) => error(ex, 400, msg); return
            case Right(n)  => n
          }
          val query = textField(req, "query").getOrElse("")
          if (query.isEmpty) { error(ex, 400, "query is required"); return }
          val modeName = textField(req, "mode").getOrElse("hybrid")
          val mode = SearchMode.named(modeName).getOrElse {
            error(ex, 400, s"Invalid search mode: $modeName. Use: vector, hybrid, keyword")
            return
          }
          val k = boundedInt(req, "limit", config.search.defaultK, 1, config.search.maxK) match {
            case Left(msg) => error(ex, 400, msg); return
            case Right(v)  => v
          }
          val titleFilter = textField(req, "title_filter").filter(_.nonEmpty)
          respond(ex, 200, dfToJsonArray(retriever.search(query, mode, k, titleFilter), k))

        case ("POST", "search" :: "context" :: Nil) =>
          val req = parseBody(ex) match {
            case Left(msg) => error(ex, 400, msg); return
            case Right(n)  => n
          }
          val query = textField(req, "query").getOrElse("")
          if (query.isEmpty) { error(ex, 400, "query is required"); return }
          val maxTokens = boundedInt(req, "max_tokens", config.search.defaultMaxTokens,
              MinContextTokens, MaxContextTokens) match {
            case Left(msg) => error(ex, 400, msg); return
            case Right(v)  => v
          }
          val node = mapper.createObjectNode()
          node.put("query", query)
          node.put("context", retriever.getContext(query, maxTokens))
          respond(ex, 200, node.toString)

        case _ => error(ex, 404, s"No route: $method /${segments.mkString("/")}")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        graft.util.JsonLog.warn("rest_error", "method" -> method,
          "path" -> segments.mkString("/"), "error" -> e.toString)
        error(ex, 500, e.toString)
    }
  }

  /** Start on 127.0.0.1:`port` (0 = ephemeral); returns the server — call
    * `.stop(0)` to shut down. Single dispatch thread: driver-side Spark
    * actions serialize anyway.
    */
  def start(port: Int = 8080): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    graft.util.JsonLog.info("rest_started", "port" -> server.getAddress.getPort)
    server
  }
}
