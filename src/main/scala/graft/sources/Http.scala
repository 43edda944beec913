package graft.sources

/** Fail-fast non-retryable HTTP status. Subclasses
  * IllegalArgumentException so existing catch-and-degrade sites keep
  * working, while callers that must distinguish "endpoint unsupported"
  * (400/404/501) from "misconfigured auth" (401/403) can match on the
  * code instead of parsing the message. */
private[sources] final class HttpStatusException(val code: Int, url: String)
  extends IllegalArgumentException(s"HTTP $code from $url (not retryable)")

/** Shared HTTP transport for the live-service clients (RTDB, Datastore,
  * Auth). One retry policy in one place: requests here are all
  * idempotent reads (GETs or read-only query POSTs), so 5xx, 429/408
  * and transport errors retry with exponential backoff; any other 4xx
  * fails fast (a bad token, path or body never heals by retrying). Any
  * 2xx is success. No sleep is wasted after the final failed attempt. */
private[sources] object Http {

  def request(url: String, method: String = "GET", body: Option[String] = None,
              headers: Seq[(String, String)] = Nil,
              maxRetries: Int = 3, backoffMs: Long = 100): String = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try {
        val conn = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setConnectTimeout(10000)
          conn.setReadTimeout(60000)
          conn.setRequestMethod(method)
          headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
          body.foreach { b =>
            conn.setDoOutput(true)
            conn.getOutputStream.write(b.getBytes("UTF-8"))
          }
          val code = conn.getResponseCode
          if (code >= 200 && code < 300) {
            val in = conn.getInputStream
            try return new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          } else if (code >= 500 || code == 429 || code == 408)
            // rate limiting (429) and request timeout (408) are the two
            // 4xx that heal on their own — backing off matters exactly
            // where a wide scan is hammering the service
            throw new java.io.IOException(s"HTTP $code from $url")
          else throw new HttpStatusException(code, url)
        } finally conn.disconnect()
      } catch {
        case e: java.io.IOException =>
          last = e
          attempt += 1
          if (attempt <= maxRetries) Thread.sleep(backoffMs << (attempt - 1))
      }
    }
    throw new java.io.IOException(s"$method failed after ${maxRetries + 1} attempts", last)
  }

  /** JSON string literal with full escaping (quotes, backslashes and
    * ALL control chars — a NUL successor key must serialize as the six-char escape,
    * not a raw control byte the server rejects). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
