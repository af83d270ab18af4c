package graftbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback Solr `/update/json` stub on the JDK `HttpServer`, with at most
  * `threads` handler threads. It parses every posted batch, rejects (HTTP
  * 400) any batch holding a document that contains [[Gen.RejectMarker]],
  * and counts posts, bytes, per-document retries, and the documents it
  * accepted (id → first `title_display`) and rejected. */
final class SolrStub(threads: Int) {
  private val json = new JsonFactory()
  // answer without Nagle delay, as Solr's Jetty does: small responses to
  // a keep-alive client otherwise stall on delayed ACKs
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)

  val posts = new AtomicLong
  val bytes = new AtomicLong
  val docRetries = new AtomicLong
  val commits = new AtomicLong
  val values = new AtomicLong
  val duplicates = new AtomicLong
  val accepted = new ConcurrentHashMap[String, String]()
  val rejected = ConcurrentHashMap.newKeySet[String]()

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/solr/bench"

  def reset(): Unit = {
    Seq(posts, bytes, docRetries, commits, values, duplicates).foreach(_.set(0))
    accepted.clear(); rejected.clear()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }

  private final case class Doc(id: String, title: String, values: Long, marked: Boolean)

  private def parse(body: Array[Byte]): Vector[Doc] = {
    val p = json.createParser(body)
    val docs = Vector.newBuilder[Doc]
    try {
      if (p.nextToken() != JsonToken.START_ARRAY) return Vector.empty
      while (p.nextToken() == JsonToken.START_OBJECT) {
        var id: String = null; var title: String = null
        var n = 0L; var marked = false
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val field = p.getCurrentName
          var first = true
          def value(v: String): Unit = {
            n += 1
            if (v.contains(Gen.RejectMarker)) marked = true
            if (field == "id" && id == null) id = v
            if (field == "title_display" && first) { title = v; first = false }
          }
          if (p.nextToken() == JsonToken.START_ARRAY)
            while (p.nextToken() != JsonToken.END_ARRAY) value(p.getText)
          else value(p.getText)
        }
        docs += Doc(id, title, n, marked)
      }
    } finally p.close()
    docs.result()
  }

  private def handle(ex: HttpExchange): Unit = {
    val body = ex.getRequestBody.readAllBytes()
    posts.incrementAndGet()
    bytes.addAndGet(body.length)
    val status =
      if (ex.getRequestURI.getQuery != null && ex.getRequestURI.getQuery.contains("commit")) {
        commits.incrementAndGet(); 200
      } else {
        val docs = parse(body)
        if (docs.exists(_.marked)) {
          // the sink re-posts every document of a failed batch alone
          if (docs.size > 1) docRetries.addAndGet(docs.size)
          else rejected.add(docs.head.id)
          400
        } else {
          docs.foreach { d =>
            values.addAndGet(d.values)
            if (accepted.put(d.id, String.valueOf(d.title)) != null) duplicates.incrementAndGet()
          }
          200
        }
      }
    val resp = (if (status == 200) """{"responseHeader":{"status":0}}"""
      else """{"error":{"msg":"rejected document"}}""").getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, resp.length)
    ex.getResponseBody.write(resp)
    ex.close()
  }
}
