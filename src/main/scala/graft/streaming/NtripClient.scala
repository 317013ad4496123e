package graft.streaming

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.time.{ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.{Base64, Locale}

import javax.net.ssl.SSLContext

/** Minimal live NTRIP caster client — the byte-level transport the
  * reference implements with asyncio streams
  * (`/root/reference/src/ntripclient.py`):
  *
  *  - every CLIENT request is `GET`: the stream request is
  *    `GET /<mountpoint> HTTP/1.1` (ntripclient.py:160, built by
  *    `setRequestStreamHeader`, sent by `requestNtripStream` :428) and
  *    the sourcetable request is `GET / HTTP/1.1` (ntripclient.py:107);
  *    both carry `Ntrip-Version: Ntrip/<v>.0`, `User-Agent`, `Date`,
  *    `Connection: close`, plus Basic auth when credentials are given
  *    (ntripclient.py:154-158);
  *  - `POST` (v2) / `SOURCE <pw>` (v1) are the reference's NTRIP
  *    *server* (upload) verbs only (`setRequestServerHeader`,
  *    ntripclient.py:216-236) — a real caster refuses them on the
  *    client path, so they live in [[uploadHeader]], not in
  *    [[openStream]];
  *  - an optional NMEA GGA sentence rides in the stream request for
  *    VRS/network mountpoints (ntripclient.py:152-155,166 — the
  *    reference concatenates the bare sentence into the header block,
  *    which is both a latent str+bytes TypeError and malformed
  *    HTTP/1.1; here it is carried as an `Ntrip-GGA:` header, the
  *    NTRIP 2.0 form a strict caster accepts);
  *  - `https`/`ntrips` casters get TLS: the reference opens the
  *    connection with `ssl=True` when the URL scheme is https
  *    (ntripclient.py:64-67); here that is an `SSLSocketFactory`
  *    socket, with an injectable `SSLContext` so tests can trust a
  *    self-signed localhost caster;
  *  - response = header lines to the first blank line; status must be
  *    200 (ntripclient.py:262-332);
  *  - `Transfer-Encoding: chunked` switches body reads to
  *    hex-length-line + exactly length+2 bytes (ntripclient.py:295-300,
  *    437-455); otherwise raw bounded reads (ntripclient.py:500-558);
  *  - sourcetable = text lines until `ENDSOURCETABLE`
  *    (ntripclient.py:379-401).
  *
  * Blocking JVM sockets on purpose: one caster connection is a
  * single sequential byte stream; concurrency comes from running one
  * client per mountpoint on the ingest host (or inside a streaming
  * source's reader thread), not from async IO. Framing/CRC happens in
  * the caller (`NtripSource`'s reader threads, or the Spark pipeline
  * for replayed chunks), decode in the Spark pipeline — this class only
  * yields raw body chunks.
  */
final class NtripClient(
    host: String,
    port: Int,
    userAgent: String = "graft",
    connectTimeoutMs: Int = 5000,
    readTimeoutMs: Int = 10000,
    tls: Boolean = false,
    sslContext: Option[SSLContext] = None) extends AutoCloseable {

  private var socket: Socket = _
  private var in: BufferedInputStream = _
  private var out: OutputStream = _

  /** Response header lines of the last request. */
  var responseHeader: Seq[String] = Nil
  /** True when the caster answered `Transfer-Encoding: chunked`. */
  var chunked: Boolean = false

  private def connect(): Unit = {
    socket =
      if (tls) sslContext.getOrElse(SSLContext.getDefault).getSocketFactory.createSocket()
      else new Socket()
    socket match {
      case ssl: javax.net.ssl.SSLSocket =>
        // hostname verification: without an endpoint identification
        // algorithm JSSE accepts ANY CA-valid certificate, MITM
        // included; the reference's ssl=True asyncio path verifies the
        // hostname by default, so must this one
        val params = ssl.getSSLParameters
        params.setEndpointIdentificationAlgorithm("HTTPS")
        ssl.setSSLParameters(params)
      case _ => ()
    }
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    socket.setSoTimeout(readTimeoutMs)
    in = new BufferedInputStream(socket.getInputStream)
    out = socket.getOutputStream
  }

  // `Date: Tue, 12 Aug 2026 12:00:00 GMT` — the reference stamps every
  // request (strftime "%a, %d %b %Y %H:%M:%S GMT", ntripclient.py:106)
  private def httpDate(): String =
    ZonedDateTime.now(ZoneOffset.UTC).format(
      DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", Locale.US))

  private def basicAuth(user: Option[String], passwd: Option[String]): String =
    (for (u <- user; p <- passwd) yield
      "Authorization: Basic " +
        Base64.getEncoder.encodeToString(s"$u:$p".getBytes(ISO_8859_1)) + "\r\n")
      .getOrElse("")

  /** Client request: `GET <path>` for streams and the sourcetable
    * alike (ntripclient.py:107,160). The NMEA GGA sentence rides in an
    * `Ntrip-GGA:` header — NTRIP 2.0 is plain HTTP/1.1, and a bare
    * sentence inside the header block (the reference's literal
    * concatenation, ntripclient.py:166, which is also a latent
    * str+bytes TypeError there) is malformed HTTP that a strict
    * caster rejects with 400. */
  private def requestHeader(path: String, user: Option[String], passwd: Option[String],
                            ntripVersion: Int, nmeaGga: Option[String]): Array[Byte] = {
    // v2 casters take the header form; a 1.0 caster does not parse
    // unknown headers, so for v1 the sentence stays a bare line (the
    // pre-HTTP NTRIP 1.0 convention — and the reference's literal
    // behavior)
    val nmea = nmeaGga.map(g =>
      if (ntripVersion >= 2) s"Ntrip-GGA: $g\r\n" else s"$g\r\n").getOrElse("")
    (s"GET $path HTTP/1.1\r\n" +
      s"Host: $host:$port\r\n" +
      s"Ntrip-Version: Ntrip/$ntripVersion.0\r\n" +
      s"User-Agent: NTRIP $userAgent\r\n" +
      basicAuth(user, passwd) +
      nmea +
      s"Date: ${httpDate()}\r\n" +
      "Connection: close\r\n" +
      "\r\n").getBytes(ISO_8859_1)
  }

  /** The reference's NTRIP-*server* (upload) request header — `POST`
    * for v2, `SOURCE <pw> /<mount>` for v1 (setRequestServerHeader,
    * ntripclient.py:216-236). Kept for the upload surface; never used
    * by the client stream path. */
  def uploadHeader(mountPoint: String, user: Option[String], passwd: Option[String],
                   ntripVersion: Int = 2): Array[Byte] = {
    if (ntripVersion >= 2) {
      (s"POST /$mountPoint HTTP/1.1\r\n" +
        s"Host: $host:$port\r\n" +
        s"Ntrip-Version: Ntrip/$ntripVersion.0\r\n" +
        basicAuth(user, passwd) +
        s"User-Agent: NTRIP $userAgent\r\n" +
        s"Date: ${httpDate()}\r\n" +
        "Connection: close\r\n" +
        "\r\n").getBytes(ISO_8859_1)
    } else {
      val auth = passwd.map(p =>
        Base64.getEncoder.encodeToString(p.getBytes(ISO_8859_1))).getOrElse("")
      (s"SOURCE $auth /$mountPoint HTTP/1.1\r\n" +
        s"Source-Agent: NTRIP $userAgent\r\n" +
        "\r\n").getBytes(ISO_8859_1)
    }
  }

  /** One ISO-8859-1 line (up to and excluding CRLF/LF); null at EOF. */
  private def readLine(): String = {
    val sb = new StringBuilder
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      if (b != '\r') sb.append(b.toChar)
      b = in.read()
    }
    sb.toString
  }

  private def readHeaderAndStatus(): Unit = {
    val lines = Iterator.continually(readLine())
      .takeWhile(l => l != null && l.nonEmpty).toSeq
    responseHeader = lines
    chunked = lines.exists(_.equalsIgnoreCase("Transfer-Encoding: chunked"))
    val status = lines.headOption.map(_.split(" ")).filter(_.length > 1).map(_(1))
    if (!status.contains("200"))
      throw new java.io.IOException(
        s"NTRIP response not OK: ${lines.headOption.getOrElse("<empty>")}")
  }

  /** Open the RTCM stream for a mountpoint — `GET /<mount>`
    * (ntripclient.py:160,428), optional NMEA GGA line for VRS
    * mountpoints (ntripclient.py:152-155). */
  def openStream(mountPoint: String, user: Option[String] = None,
                 passwd: Option[String] = None, ntripVersion: Int = 2,
                 nmeaGga: Option[String] = None): Unit = {
    connect()
    out.write(requestHeader(s"/$mountPoint", user, passwd, ntripVersion, nmeaGga))
    out.flush()
    readHeaderAndStatus()
  }

  /** Fetch the caster sourcetable — `GET /` (ntripclient.py:107);
    * lines until ENDSOURCETABLE. */
  def sourceTable(user: Option[String] = None, passwd: Option[String] = None): Seq[String] = {
    connect()
    out.write(requestHeader("/", user, passwd, ntripVersion = 2, nmeaGga = None))
    out.flush()
    readHeaderAndStatus()
    val body = Iterator.continually(readLine())
      .takeWhile(l => l != null)
      .span(l => l != "ENDSOURCETABLE") match {
        case (pre, post) => (pre ++ post.take(1)).toSeq
      }
    close()
    body
  }

  private def readExactly(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new java.io.EOFException(s"stream closed at $off/$n")
      off += r
    }
    buf
  }

  /** Next body chunk: a full chunked-transfer block (hex length line,
    * then length+2 bytes, CRLF stripped), or a bounded raw read.
    * None = orderly end of stream (terminal 0-length chunk or EOF). */
  def readChunk(rawBufSize: Int = 4096): Option[Array[Byte]] = {
    if (chunked) {
      var lenLine = readLine()
      while (lenLine != null && lenLine.trim.isEmpty) lenLine = readLine()
      if (lenLine == null) return None
      // RFC 9112 §7.1: the length may carry chunk extensions (";ext")
      val len = Integer.parseInt(lenLine.trim.takeWhile(_ != ';').trim, 16)
      if (len == 0) { readLine(); None } // trailing CRLF after last chunk
      else {
        val body = readExactly(len + 2) // payload + CRLF (ntripclient.py:449)
        Some(java.util.Arrays.copyOfRange(body, 0, len))
      }
    } else {
      val buf = new Array[Byte](rawBufSize)
      val r = in.read(buf)
      if (r < 0) None
      else Some(java.util.Arrays.copyOfRange(buf, 0, r))
    }
  }

  override def close(): Unit = {
    if (socket != null && !socket.isClosed) socket.close()
  }
}

object NtripClient {
  /** Drain a mountpoint stream into RawChunk rows (receive time from
    * the supplied clock, seq = arrival index) — the bridge from one
    * live caster connection to the streaming pipeline's input rows.
    * The test harness pushes these into a MemoryStream; production
    * would do the same from a custom streaming source's partition
    * reader or a message-bus producer. */
  def drain(client: NtripClient, mountPoint: String, nowMicros: () => Long,
            maxChunks: Int = Int.MaxValue): Iterator[graft.etl.RawChunk] = {
    Iterator.from(0)
      .take(maxChunks)
      .map(i => client.readChunk().map(b => graft.etl.RawChunk(mountPoint, nowMicros(), i.toLong, b)))
      .takeWhile(_.isDefined)
      .map(_.get)
  }
}
