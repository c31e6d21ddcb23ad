package graft.streaming

import java.io.InputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** Real HTTP clients for the two sink seams — the network edge the
  * simulators stand in for, now present in-repo as plug-compatible
  * [[Sinks.HecTransport]]/[[Sinks.BulkTransport]] implementations built
  * on JDK `HttpURLConnection` only (no added dependencies; Serializable
  * value objects — the connection is opened per call inside the executor
  * task, the same lifecycle a per-partition HTTP client has).
  *
  * Semantics mapped from the reference:
  *  - [[HttpHec]]: one POST per ≤500-line chunk with a 12 s default
  *    timeout (`requests.post(hec_url, …, timeout=12)`,
  *    lambda_function.py:96); any connect/read timeout or non-2xx status
  *    THROWS, which the caller (`Sinks.writeSplunkVia`) converts to the
  *    at-most-once drop-and-continue (lambda_function.py:100-102).
  *  - [[HttpBulk]]: one POST per bulk chunk; the response body lists the
  *    per-document failures (newline-separated ids — the seam's contract
  *    distilled from the itemized bulk response), which
  *    `Sinks.writeEsBulk` re-sends alone up to 3 times before logging and
  *    dropping (`helpers.bulk(..., max_retries=3, raise_on_error=False)`,
  *    lambda_function.py:84-86). A transport-level failure here (refused,
  *    timeout, 5xx) throws — the ES writer then logs and drops every
  *    document still pending in that request, and goes on.
  *
  * LiveSocketTransportSpec drives both against a real loopback
  * `HttpServer` — timeout expiry, partial bulk failures, chunk drops —
  * over actual sockets.
  */
object HttpTransports {

  private[graft] def readAll(in: InputStream): Array[Byte] = in.readAllBytes()

  private[graft] def post(url: String, body: Array[Byte],
      timeoutMillis: Int, headers: Seq[(String, String)]): (Int, Array[Byte]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(timeoutMillis)
      conn.setReadTimeout(timeoutMillis)
      conn.setDoOutput(true)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      conn.setFixedLengthStreamingMode(body.length)
      val out = conn.getOutputStream
      try { out.write(body); out.flush() } finally out.close()
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val resp = if (stream == null) Array.emptyByteArray
                 else try readAll(stream) finally stream.close()
      (status, resp)
    } finally conn.disconnect()
  }
}

/** Splunk HEC over a real socket: one POST per chunk, 12 s default timeout
  * (the reference's `timeout=12`). Throws on timeout or non-2xx — the
  * caller's catch implements the at-most-once drop. */
final case class HttpHec(url: String, token: String = "",
    timeoutMillis: Int = 12000) extends Sinks.HecTransport {
  override def post(partitionId: Int, chunkNo: Int, lines: Seq[String]): Unit = {
    val headers =
      (if (token.nonEmpty) Seq("Authorization" -> s"Splunk $token") else Nil) :+
        ("Content-Type" -> "application/json")
    val (status, _) = HttpTransports.post(url,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8),
      timeoutMillis, headers)
    if (status < 200 || status >= 300)
      throw new java.io.IOException(s"HEC post returned HTTP $status")
  }
}

/** OpenSearch-style bulk endpoint over a real socket: POSTs the chunk's
  * doc ids (newline-separated), reads back the ids that FAILED this
  * attempt. Transport-level failures (refused / timeout / 5xx) throw. */
final case class HttpBulk(url: String,
    timeoutMillis: Int = 12000) extends Sinks.BulkTransport {
  override def apply(ids: Seq[String]): Seq[String] = {
    val (status, resp) = HttpTransports.post(url,
      ids.mkString("\n").getBytes(StandardCharsets.UTF_8),
      timeoutMillis, Seq("Content-Type" -> "text/plain"))
    if (status < 200 || status >= 300)
      throw new java.io.IOException(s"bulk post returned HTTP $status")
    val body = new String(resp, StandardCharsets.UTF_8)
    if (body.isEmpty) Seq.empty else body.split("\n").toSeq.filter(_.nonEmpty)
  }
}
