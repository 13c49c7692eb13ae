package perfbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** One completed client request, timed at the client. `route` is the
  * route class the request belongs to. */
final case class Req(client: String, route: String, detail: String, startNs: Long,
                     endNs: Long, status: Int, bytes: Int, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A blocking HTTP/1.1 client for one load thread. */
final class Http(port: Int, name: String) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** GET `path`; returns the timed record and the body (null on a
    * transport failure). `check` judges a 200 body. */
  def get(route: String, path: String, detail: String,
          check: String => Boolean): (Req, String) = {
    val t0 = System.nanoTime()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .timeout(Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val t1 = System.nanoTime()
      val body = resp.body()
      val ok = resp.statusCode() == 200 && check(body)
      (Req(name, route, detail, t0, t1, resp.statusCode(), body.length, ok), body)
    } catch {
      case _: java.io.IOException =>
        (Req(name, route, detail, t0, System.nanoTime(), -1, 0, ok = false), null)
    }
  }
}

object Http {
  /** RFC 3986 path-segment encoding (form encoding's `+` is a literal in a
    * path). */
  def enc(s: String): String = URLEncoder.encode(s, UTF_8).replace("+", "%20")

  def isLong(body: String): Boolean = body.trim.toLongOption.isDefined
}
