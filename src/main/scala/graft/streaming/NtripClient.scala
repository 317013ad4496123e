package graft.streaming

import java.io.{EOFException, IOException, InputStream, OutputStream}
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
  *  - `Transfer-Encoding: chunked` (ntripclient.py:295-300,437-455)
  *    is undone by [[read]]: the payload of the HTTP chunks, without
  *    their size lines and CRLFs; otherwise the body is read raw
  *    (ntripclient.py:500-558);
  *  - sourcetable = text lines until `ENDSOURCETABLE`
  *    (ntripclient.py:379-401).
  *
  * Header and sourcetable lines are untrusted input too: a line longer
  * than [[NtripClient.MaxResponseLine]], a header of more than
  * [[NtripClient.MaxHeaderLines]] lines and a sourcetable of more than
  * [[NtripClient.MaxSourceTableBytes]] each throw an `IOException`
  * naming the limit, so a caster that never ends a line or a header
  * cannot grow the reader's heap.
  *
  * A [[read]] returns the body bytes the connection already holds, up
  * to the caller's array ([[NtripClient.ReadSize]], 4096 bytes, in the
  * NTRIP source and the durable log): it blocks only until it has one
  * byte, and it reads across HTTP chunk boundaries, so a backlog comes
  * in full arrays whatever chunk sizes the caster writes, and a live
  * frame is returned as soon as it arrives. Chunk size lines are
  * untrusted input: a chunk of any size is read in bounded pieces into
  * the caller's array, nothing is allocated by a caster-supplied
  * length, and a size line that is not hex, or that is longer than 1024
  * characters or over 2^31 − 3, throws an `IOException` naming the
  * line, which ends the connection like any other read error.
  *
  * Blocking JVM sockets on purpose: one caster connection is a
  * single sequential byte stream; concurrency comes from running one
  * client per mountpoint on the ingest host (or inside a streaming
  * source's reader thread), not from async IO. Framing/CRC happens in
  * the caller, one `RtcmFraming.Framer` per connection (`NtripSource`'s
  * reader threads, `NtripDurableLog.drain`), decode in the Spark
  * pipeline — this class only yields raw body bytes.
  */
final class NtripClient(
    host: String,
    port: Int,
    userAgent: String = "graft",
    connectTimeoutMs: Int = 5000,
    readTimeoutMs: Int = 10000,
    tls: Boolean = false,
    sslContext: Option[SSLContext] = None) extends AutoCloseable {
  import NtripClient.{MaxHeaderLines, MaxResponseLine, MaxSourceTableBytes}

  private var socket: Socket = _
  private var in: ResponseReader = _
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
    in = new ResponseReader(socket.getInputStream)
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

  private def readHeaderAndStatus(): Unit = {
    def next() = in.readLine(MaxResponseLine, "NTRIP response line (MaxResponseLine)")
    val header = Vector.newBuilder[String]
    var n = 0
    var line = next()
    while (line != null && line.nonEmpty) {
      n += 1
      if (n > MaxHeaderLines)
        throw new IOException(
          s"NTRIP response header has more than $MaxHeaderLines lines (MaxHeaderLines)")
      header += line
      line = next()
    }
    val lines = header.result()
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
    try {
      out.write(requestHeader("/", user, passwd, ntripVersion = 2, nmeaGga = None))
      out.flush()
      readHeaderAndStatus()
      val body = Vector.newBuilder[String]
      var bytes = 0L
      var line = ""
      while (line != null && line != "ENDSOURCETABLE") {
        line = in.readLine(MaxResponseLine, "NTRIP sourcetable line (MaxResponseLine)")
        if (line != null) {
          bytes += line.length + 2
          if (bytes > MaxSourceTableBytes)
            throw new IOException(
              s"NTRIP sourcetable longer than $MaxSourceTableBytes bytes (MaxSourceTableBytes)")
          body += line
        }
      }
      body.result()
    } finally close()
  }

  /** Reads the next body bytes into `into`: at least one, at most
    * `into.length`, and only as many as arrive without waiting once one
    * has (see the class doc). Returns their number, or -1 at the orderly
    * end of the stream (a terminal 0-length chunk, or EOF where a chunk
    * could start). A connection that ends inside a chunk throws
    * `EOFException`; a bad chunk size line throws `IOException`. */
  def read(into: Array[Byte]): Int = in.read(into, chunked)

  override def close(): Unit = {
    if (socket != null && !socket.isClosed) socket.close()
  }
}

object NtripClient {
  /** Body bytes per read in the NTRIP source and the durable log. */
  final val ReadSize = 4096
  /** The largest HTTP chunk size accepted, 2^31 − 3: a chunk's payload
    * and its CRLF still count in an `Int`. A larger size line is noise. */
  private[streaming] final val MaxChunkSize = Int.MaxValue - 2
  /** The longest chunk size line accepted, extensions included. */
  private[streaming] final val MaxSizeLine = 1024
  /** The longest response header or sourcetable line accepted: the
    * 8 KiB field limit common HTTP servers apply (Apache's
    * LimitRequestFieldSize is 8190). */
  private[streaming] final val MaxResponseLine = 8192
  /** The most response header lines accepted: Apache's LimitRequestFields
    * default; an NTRIP caster's response header has under ten. */
  private[streaming] final val MaxHeaderLines = 100
  /** The largest sourcetable accepted, CRLFs counted: 1024 lines at
    * [[MaxResponseLine]], or about 30 000 STR records of 250 bytes. */
  private[streaming] final val MaxSourceTableBytes = 8L << 20
}

/** One connection's response bytes through one buffer: header lines
  * (`readLine`), then the body (`read`), de-chunked or raw. Not
  * synchronized: one thread reads a connection. */
private[streaming] final class ResponseReader(in: InputStream) {
  import NtripClient.{MaxChunkSize, MaxSizeLine}

  private val buf = new Array[Byte](8192)
  private var pos = 0
  private var lim = 0
  /** Payload bytes left in the current HTTP chunk. */
  private var chunkLeft = 0
  /** The terminal chunk (or EOF where a chunk could start) was read. */
  private var ended = false

  /** Refills the empty buffer with one read of `in`, which blocks until
    * a byte arrives; false at EOF. */
  private def fill(): Boolean = {
    pos = 0
    lim = 0
    val r = in.read(buf, 0, buf.length)
    if (r > 0) lim = r
    r >= 0
  }

  /** One ISO-8859-1 line (up to and excluding CRLF/LF, CRs dropped);
    * null at EOF before any byte. A line longer than `max` characters
    * throws `IOException` naming it as `what`. */
  def readLine(max: Int, what: String): String = {
    val sb = new java.lang.StringBuilder
    var any = false
    while (true) {
      if (pos == lim && !fill()) return if (any) sb.toString else null
      any = true
      val b = buf(pos)
      pos += 1
      if (b == '\n') return sb.toString
      if (b != '\r') {
        if (sb.length >= max)
          throw new IOException(
            s"$what longer than $max characters: \"${sb.substring(0, math.min(64, max))}...\"")
        sb.append((b & 0xFF).toChar)
      }
    }
    null
  }

  /** The next body bytes into `into` (see `NtripClient.read`). */
  def read(into: Array[Byte], chunked: Boolean): Int =
    if (!chunked) {
      if (pos < lim) {
        val k = math.min(into.length, lim - pos)
        System.arraycopy(buf, pos, into, 0, k)
        pos += k
        k
      } else in.read(into, 0, into.length)
    } else {
      var n = 0
      while (n < into.length && !ended) {
        if (chunkLeft == 0) {
          // a size line that has not fully arrived is left for the next read
          if (n > 0 && !sizeLineBuffered) return n
          nextChunk()
        } else {
          if (pos == lim) {
            if (n > 0 && in.available() <= 0) return n
            if (!fill())
              throw new EOFException(s"stream closed with $chunkLeft bytes of an HTTP chunk unread")
          }
          val k = math.min(math.min(into.length - n, chunkLeft), lim - pos)
          System.arraycopy(buf, pos, into, n, k)
          pos += k
          n += k
          chunkLeft -= k
        }
      }
      if (n == 0 && ended) -1 else n
    }

  /** Whether the buffer holds the whole next non-blank line. */
  private def sizeLineBuffered: Boolean = {
    var blank = true
    var i = pos
    while (i < lim) {
      val b = buf(i) & 0xFF
      if (b == '\n') { if (!blank) return true }
      else if (b > ' ') blank = false
      i += 1
    }
    false
  }

  /** Reads the next chunk's size line, past the CRLF that ends the
    * previous chunk's payload. The terminal 0-length chunk ends the
    * body; its trailer is not read. */
  private def nextChunk(): Unit = {
    def next() = readLine(MaxSizeLine, "HTTP chunk size line")
    var line = next()
    while (line != null && line.trim.isEmpty) line = next()
    if (line == null) ended = true
    else {
      // RFC 9112 §7.1: the size may carry chunk extensions (";ext")
      val hex = line.takeWhile(_ != ';').trim
      if (hex.isEmpty || hex.length > 15 || !hex.forall(Character.digit(_, 16) >= 0) ||
        java.lang.Long.parseLong(hex, 16) > MaxChunkSize)
        throw new IOException(s"bad HTTP chunk size line: \"$line\"")
      chunkLeft = java.lang.Long.parseLong(hex, 16).toInt
      if (chunkLeft == 0) ended = true
    }
  }
}
