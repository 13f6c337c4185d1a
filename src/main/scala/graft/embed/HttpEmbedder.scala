package graft.embed

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Model-backed [[Embedder]] mirroring the reference's embedder-service
  * contract (`embedder_service.py:4-9`): POST `{"model":…,"prompt":…}`
  * to an embeddings endpoint, read the `embedding` float array from the
  * JSON reply, pad/truncate to `dim` (the trait's `padTruncate`).
  *
  * Config-gated by construction: nothing in this engine instantiates it
  * unless an endpoint is explicitly supplied — this environment is
  * offline, and every default path uses the deterministic
  * [[HashingEmbedder]]. At scale [[Embedder.embedColumn]] runs one
  * [[EmbedText]] expression, which each task deserializes once: one
  * client per task, reused for every row of the task, not one
  * connection per row.
  */
final case class HttpEmbedder(
    endpoint: String,
    model: String = "qwen3-embedding:0.6b",
    dim: Int = 1024,
    timeoutMs: Long = 30000L) extends Embedder {

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs)).build()

  def embed(text: String): Array[Float] = {
    val body = s"""{"model":${HttpEmbedder.jsonString(model)},"prompt":${HttpEmbedder.jsonString(if (text == null) "" else text)}}"""
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"embedder endpoint returned HTTP ${resp.statusCode()}")
    HttpEmbedder.parseEmbedding(resp.body())
  }
}

object HttpEmbedder {

  /** Minimal JSON string escape (no JSON lib in the dependency set). */
  private[embed] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Extract the first `"embedding": [ … ]` number array from a JSON
    * reply. Hand-rolled on purpose: the classpath has no JSON parser,
    * and the service contract is a flat numeric array. */
  private[embed] def parseEmbedding(json: String): Array[Float] = {
    val key = "\"embedding\""
    val at = json.indexOf(key)
    require(at >= 0, "no \"embedding\" field in embedder response")
    val open = json.indexOf('[', at + key.length)
    require(open >= 0, "malformed embedding array")
    val close = json.indexOf(']', open)
    require(close > open, "unterminated embedding array")
    val inner = json.substring(open + 1, close).trim
    if (inner.isEmpty) Array.empty[Float]
    else inner.split(",").map(_.trim.toFloat)
  }
}
