package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (ISO 28500 — the Common Crawl wire format) ingestion: the record
  * layer a 100 TB web-text pipeline actually reads, as pure byte/text
  * arithmetic over opaque binary columns — no parser library.
  *
  * [[Warc.gunzip]] walks gzip MEMBERS itself (RFC 1952 header flags,
  * raw-DEFLATE inflate via `java.util.zip.Inflater`, then the trailer's
  * CRC-32 and ISIZE both VALIDATED) rather than delegating to
  * `GZIPInputStream`, whose OpenJDK implementation masks a corrupt
  * SECOND member as clean end-of-stream — exactly the failure a
  * `.warc.gz` file (one member per record, so readers can split work
  * without decompressing the whole file) must not hide. A hard output
  * cap turns a crafted decompression bomb into None before it can
  * balloon executor memory; untrusted bytes never throw, and the native
  * `Inflater` is always `end()`ed (finally), never left to GC
  * finalization.
  *
  * [[Warc.warcRecords]] parses the record framing: `WARC/1.x` version
  * line, UTF-8 `Name: value` header lines (folded continuation lines
  * unfolded, repeated names preserved in order) to the blank line,
  * `Content-Length` payload framing, and the mandatory double-CRLF
  * record terminator. Damage ANYWHERE fails the whole file as None —
  * "the first k records parsed" is indistinguishable from silent
  * truncation, and the count audit depends on the distinction; only
  * trailing bytes that do not begin a record are tolerated.
  * [[Warc.records]] is the DataFrame form — one narrow per-partition
  * pass exploding each payload into its records with the
  * classification headers as typed columns; no shuffle, no driver
  * collect. `gzipped = true` front-runs [[Warc.gunzip]].
  */
object Warc {

  /** Decompressed gzip stream — ALL members, each trailer-validated
    * (CRC-32 + ISIZE) — or None for anything malformed, truncated,
    * corrupt, or larger than `maxOut` when inflated (a zip bomb
    * announces itself by crossing the cap, not by OOMing the
    * executor). */
  def gunzip(bytes: Array[Byte],
             maxOut: Int = 64 * 1024 * 1024): Option[Array[Byte]] = {
    if (bytes == null || bytes.length < 18) return None
    @inline def u8(i: Int): Int = bytes(i) & 0xff
    @inline def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    try {
      val n = bytes.length
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(bytes.length.toLong * 2, 1024L),
          maxOut.toLong).toInt)
      var total = 0L
      var pos = 0
      while (pos < n) {
        // --- member header (RFC 1952): magic, CM=8, flags, mtime(4),
        // xfl, os, then the optional flagged fields.
        if (n - pos < 18) return None
        if (u8(pos) != 0x1f || u8(pos + 1) != 0x8b || u8(pos + 2) != 8)
          return None
        val flg = u8(pos + 3)
        var p = pos + 10
        if ((flg & 0x04) != 0) { // FEXTRA
          if (p + 2 > n) return None
          val xlen = u8(p) | (u8(p + 1) << 8)
          p += 2 + xlen
          if (p > n) return None
        }
        if ((flg & 0x08) != 0) { // FNAME, NUL-terminated
          while (p < n && bytes(p) != 0) p += 1
          if (p >= n) return None
          p += 1
        }
        if ((flg & 0x10) != 0) { // FCOMMENT
          while (p < n && bytes(p) != 0) p += 1
          if (p >= n) return None
          p += 1
        }
        if ((flg & 0x02) != 0) p += 2 // FHCRC
        if (p >= n) return None
        // --- raw DEFLATE body.
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(bytes, p, n - p)
          val buf = new Array[Byte](8192)
          val crc = new java.util.zip.CRC32
          var memberOut = 0L
          while (!inf.finished()) {
            val got = inf.inflate(buf)
            if (got == 0) {
              if (inf.finished()) () // trailing, loop exits
              else return None // truncated/needs-dictionary/stuck
            } else {
              total += got
              memberOut += got
              if (total > maxOut) return None // bomb guard
              crc.update(buf, 0, got)
              out.write(buf, 0, got)
            }
          }
          val used = (n - p) - inf.getRemaining
          val tp = p + used
          // --- trailer: CRC-32 and ISIZE (mod 2³²), both validated.
          if (tp + 8 > n) return None
          if (le32(tp) != crc.getValue) return None
          if (le32(tp + 4) != (memberOut & 0xffffffffL)) return None
          pos = tp + 8
        } finally inf.end()
      }
      Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Byte spans `(offset, length)` of each gzip MEMBER in a
    * multi-member stream — the seek index of a `.warc.gz` file (one
    * record per member), recovered from the bytes alone. Gzip carries
    * no member-length field, so each member is located by inflating it
    * (output discarded; trailer CRC-32 and ISIZE validated like
    * [[gunzip]]); None for anything malformed. This is what
    * [[graft.store.Takedown.eraseExports]] walks to drop records from
    * an archive without re-encoding the survivors — kept members are
    * copied VERBATIM, so their bytes (and the records' ids and
    * digests) are untouched. */
  private[graft] def memberSpans(bytes: Array[Byte])
      : Option[Vector[(Int, Int)]] = {
    if (bytes == null || bytes.length < 18) return None
    @inline def u8(i: Int): Int = bytes(i) & 0xff
    @inline def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    try {
      val n = bytes.length
      val out = Vector.newBuilder[(Int, Int)]
      var pos = 0
      while (pos < n) {
        if (n - pos < 18) return None
        if (u8(pos) != 0x1f || u8(pos + 1) != 0x8b || u8(pos + 2) != 8)
          return None
        val flg = u8(pos + 3)
        var p = pos + 10
        if ((flg & 0x04) != 0) {
          if (p + 2 > n) return None
          val xlen = u8(p) | (u8(p + 1) << 8)
          p += 2 + xlen
          if (p > n) return None
        }
        if ((flg & 0x08) != 0) {
          while (p < n && bytes(p) != 0) p += 1
          if (p >= n) return None
          p += 1
        }
        if ((flg & 0x10) != 0) {
          while (p < n && bytes(p) != 0) p += 1
          if (p >= n) return None
          p += 1
        }
        if ((flg & 0x02) != 0) p += 2
        if (p >= n) return None
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(bytes, p, n - p)
          val buf = new Array[Byte](8192)
          val crc = new java.util.zip.CRC32
          var memberOut = 0L
          while (!inf.finished()) {
            val got = inf.inflate(buf)
            if (got == 0) {
              if (!inf.finished()) return None
            } else {
              memberOut += got
              crc.update(buf, 0, got)
            }
          }
          val tp = p + ((n - p) - inf.getRemaining)
          if (tp + 8 > n) return None
          if (le32(tp) != crc.getValue) return None
          if (le32(tp + 4) != (memberOut & 0xffffffffL)) return None
          out += ((pos, tp + 8 - pos))
          pos = tp + 8
        } finally inf.end()
      }
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One parsed WARC record: version, headers in FILE ORDER with
    * repeated names preserved (ISO 28500 permits e.g. several
    * `WARC-Concurrent-To`), and the payload's exact byte range in the
    * input buffer. */
  final case class WarcRecord(version: String,
                              headers: Seq[(String, String)],
                              payloadOffset: Int, payloadLength: Int) {
    /** First header with the given name, case-insensitively. */
    def header(name: String): Option[String] =
      headers.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }
  }

  /** All records of a WARC file — the framing walk every WARC reader
    * performs. Headers decode as UTF-8 (ISO 28500 — raw IRIs in
    * `WARC-Target-URI` survive) and spec-legal folded continuation
    * lines (SP/TAB lead) unfold onto the previous header. A MALFORMED
    * record anywhere returns None for the whole file (never a silently
    * truncated prefix); junk after the last whole record that does not
    * begin `WARC/` ends the walk cleanly. Capped at 1M records;
    * untrusted bytes never throw. */
  def warcRecords(bytes: Array[Byte]): Option[Vector[WarcRecord]] = {
    if (bytes == null || bytes.length < 12) return None
    val n = bytes.length
    def eol(from: Int): Int = {
      var i = from
      while (i + 1 < n) {
        if (bytes(i) == '\r' && bytes(i + 1) == '\n') return i
        i += 1
      }
      -1
    }
    def utf8(from: Int, until: Int): String =
      new String(bytes, from, until - from,
        java.nio.charset.StandardCharsets.UTF_8)
    def startsRecord(i: Int): Boolean =
      i + 5 <= n && bytes(i) == 'W' && bytes(i + 1) == 'A' &&
        bytes(i + 2) == 'R' && bytes(i + 3) == 'C' && bytes(i + 4) == '/'
    val out = Vector.newBuilder[WarcRecord]
    var i = 0
    var count = 0
    var ok = true
    while (ok && count <= 1000000 && i < n) {
      if (!startsRecord(i)) {
        // Trailing non-record bytes end the walk cleanly — but only at
        // the tail; a first byte that is not a record start is "not a
        // WARC file" (count == 0 → None below).
        ok = false
      } else {
        val ve = eol(i)
        if (ve < 0) return None
        val version = utf8(i, ve)
        var p = ve + 2
        val headers = Vector.newBuilder[(String, String)]
        var lastKey: String = null
        var lastVal: String = null
        var contentLength = -1L
        var inHeaders = true
        while (inHeaders) {
          val he = eol(p)
          if (he < 0) return None
          else if (he == p) { inHeaders = false; p += 2 } // blank line
          else {
            val line = utf8(p, he)
            if ((line.head == ' ' || line.head == '\t') && lastKey != null) {
              // Folded continuation (ISO 28500 / RFC 5322 folding):
              // unfold onto the previous header with a single space.
              lastVal = lastVal + " " + line.trim
            } else {
              val colon = line.indexOf(':')
              if (colon <= 0) return None
              if (lastKey != null) headers += (lastKey -> lastVal)
              lastKey = line.substring(0, colon).trim
              lastVal = line.substring(colon + 1).trim
            }
            p = he + 2
          }
        }
        if (lastKey != null) headers += (lastKey -> lastVal)
        val hs = headers.result()
        hs.collectFirst {
          case (k, v) if k.equalsIgnoreCase("Content-Length") => v
        } match {
          case Some(v) if v.nonEmpty && v.forall(_.isDigit) &&
            v.length <= 18 => contentLength = v.toLong
          case _ => return None
        }
        if (p.toLong + contentLength + 4 > n) return None
        val after = p + contentLength.toInt
        if (!(bytes(after) == '\r' && bytes(after + 1) == '\n' &&
          bytes(after + 2) == '\r' && bytes(after + 3) == '\n')) return None
        out += WarcRecord(version, hs, p, contentLength.toInt)
        count += 1
        i = after + 4
      }
    }
    val r = out.result()
    if (count > 1000000 || r.isEmpty) None else Some(r)
  }

  /** DataFrame record explode: each payload row yields one row per WARC
    * record with (record_ix, warc_version, warc_type, target_uri,
    * content_length, payload). Failed payloads are KEPT, never silently
    * dropped, with a coded `record_ix`: −1 = framing failure (which
    * includes mid-file damage — [[warcRecords]] is all-or-nothing), −2
    * = gzip failure or inflated size past `maxInflate` (the audit can
    * tell "corrupt" from "cap exceeded" only as gzip-layer vs
    * framing-layer; raise `maxInflate` for crawls with large response
    * records). `gzipped = true` decompresses first (`.warc.gz`).
    * Narrow per-partition pass, no shuffle. */
  def records(df: DataFrame, bytesCol: String = "bytes",
              gzipped: Boolean = false,
              maxInflate: Int = 64 * 1024 * 1024): DataFrame = {
    val bi = df.schema.fieldIndex(bytesCol)
    val schema = df.schema
      .add("record_ix", LongType).add("warc_version", StringType)
      .add("warc_type", StringType).add("target_uri", StringType)
      .add("content_length", LongType).add("payload", BinaryType)
      .add("payload_digest", StringType).add("refers_to_uri", StringType)
    df.mapPartitions { it =>
      it.flatMap { row =>
        def failed(code: Long) = Iterator.single(Row.fromSeq(
          row.toSeq :+ code :+ null :+ null :+ null :+ null :+ null :+
            null :+ null))
        val raw = row.getAs[Array[Byte]](bi)
        val b = if (gzipped) gunzip(raw, maxInflate).orNull else raw
        if (gzipped && b == null) failed(-2L)
        else warcRecords(b) match {
          case Some(recs) =>
            recs.iterator.zipWithIndex.map { case (r, ix) =>
              Row.fromSeq(row.toSeq :+ ix.toLong :+ r.version :+
                r.header("WARC-Type").orNull :+
                r.header("WARC-Target-URI").orNull :+
                r.payloadLength.toLong :+
                java.util.Arrays.copyOfRange(b, r.payloadOffset,
                  r.payloadOffset + r.payloadLength) :+
                r.header("WARC-Payload-Digest").orNull :+
                r.header("WARC-Refers-To-Target-URI").orNull)
            }
          case None => failed(-1L)
        }
      }
    }(Encoders.row(schema))
  }

  /** RFC 4648 base32 (no padding — WARC digests omit it), the encoding
    * of `WARC-Payload-Digest: sha1:…` values. */
  private[sources] def base32(bytes: Array[Byte]): String = {
    val A = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new java.lang.StringBuilder((bytes.length * 8 + 4) / 5)
    var acc = 0L
    var bits = 0
    var i = 0
    while (i < bytes.length) {
      acc = (acc << 8) | (bytes(i) & 0xff)
      bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(A.charAt(((acc >> bits) & 0x1f).toInt))
      }
      i += 1
    }
    if (bits > 0) sb.append(A.charAt(((acc << (5 - bits)) & 0x1f).toInt))
    sb.toString
  }

  /** The spec-form digest of a payload: `sha1:` + unpadded base32 of
    * the SHA-1 — exactly what crawlers write into
    * `WARC-Payload-Digest`. */
  def sha1Digest(payload: Array[Byte]): String =
    "sha1:" + base32(sha1Bytes(payload))

  /** Raw SHA-1 bytes — the one digest computation [[sha1Digest]] (WARC
    * header form) and the rep side channel's hex form (matching
    * Catalyst `sha1()`, the [[RepSchema]] key) both derive from. */
  private def sha1Bytes(payload: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-1").digest(payload)

  private def hexOf(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append("%02x".format(b & 0xff)))
    sb.toString
  }

  /** Struct carried per archive row by [[encodeResponses]]' `emitReps`
    * side channel — field-compatible with [[RepSchema]] (`archive`
    * already carries the extension). */
  val RepStructType: StructType = StructType(Seq(
    StructField("digest", StringType), StructField("url", StringType),
    StructField("warc_date", StringType),
    StructField("archive", StringType)))

  /** Append `digest_ok`: does the record's declared
    * `WARC-Payload-Digest` match the payload bytes? Null when the
    * record declares none (digests are optional) or the payload is a
    * coded failure row — only a DECLARED-BUT-WRONG digest flags false,
    * the archive-corruption signal a reader should quarantine on.
    * Case-insensitive compare (RFC 4648 permits either case). Note:
    * for `response` records crawlers digest the HTTP BODY, not the
    * whole record block — pass the block for `resource`/`metadata`
    * records, the parsed HTTP body for `response` records. */
  def withDigestCheck(df: DataFrame, payloadCol: String = "payload",
                      digestCol: String = "payload_digest"): DataFrame = {
    val pi = df.schema.fieldIndex(payloadCol)
    val di = df.schema.fieldIndex(digestCol)
    val schema = df.schema.add("digest_ok", BooleanType)
    df.mapPartitions { it =>
      it.map { row =>
        val declared = row.getAs[String](di)
        val payload = row.getAs[Array[Byte]](pi)
        val ok: Any =
          if (declared == null || payload == null) null
          else java.lang.Boolean.valueOf(
            sha1Digest(payload).equalsIgnoreCase(declared.trim))
        Row.fromSeq(row.toSeq :+ ok)
      }
    }(Encoders.row(schema))
  }

  /** Resolve `revisit` records to the response that holds their
    * content: a crawler that meets an unchanged page writes a
    * payload-free revisit record carrying the ORIGINAL's payload
    * digest (the identical-payload-digest profile) — URL-level dedup
    * at crawl time. One equi-join on the digest key: each revisit row
    * gains the original's `(original_uri, original_ix)` so a documents
    * pipeline can attribute the content without re-storing it.
    * Revisits whose digest matches nothing in the batch keep null
    * originals (kept, never dropped — the audit must see them). When
    * several responses share a digest (true duplicates) the
    * deterministic min-URI original wins. Scale: the join keys are
    * digest strings over the REVISIT subset only — both sides are
    * fractions of the crawl, shuffled once. */
  def resolveRevisits(recs: DataFrame): DataFrame = {
    val responses = recs
      .filter(col("warc_type") === "response" &&
        col("payload_digest").isNotNull)
      .groupBy(col("payload_digest").as("o_digest"))
      // ONE struct-min keeps (uri, ix) a CONSISTENT pair from a single
      // record — independent min() per column could stitch the uri of
      // one duplicate onto the record_ix of another.
      .agg(min(struct(col("target_uri"), col("record_ix"))).as("o"))
      .select(col("o_digest"), col("o.target_uri").as("original_uri"),
        col("o.record_ix").as("original_ix"))
    recs.filter(col("warc_type") === "revisit")
      .join(responses, col("payload_digest") === col("o_digest"), "left")
      .drop("o_digest")
  }

  // ---------------------------------------------------------------
  // WARC WRITING (r13): the corpus EXPORT half. A training-data
  // pipeline that can only READ archives is half a pipeline — curated
  // corpora ship as WARC (the archival interchange format), and a
  // writer whose output round-trips through this file's own reader
  // chain byte-exactly is the strongest possible contract for one.

  /** Serialize ONE WARC record with ISO 28500 framing: version line,
    * headers (WARC-Type, WARC-Record-ID, WARC-Date, WARC-Target-URI,
    * WARC-Payload-Digest, Content-Length), blank line, payload, and
    * the record-terminating CRLF CRLF. DETERMINISTIC: the record id is
    * a name-based UUID over (uri, date, payload digest), so re-exports
    * of the same content are byte-stable (re-runs produce identical
    * archives — the property that makes exports diffable and
    * replay-idempotent). `payloadDigest` should be the digest of the
    * semantic payload ([[sha1Digest]] of the HTTP body for `response`
    * records — the crawler convention [[withDigestCheck]] verifies). */
  /** Reject CR/LF and control characters in a value destined for a
    * WARC or HTTP header LINE: these values originate from untrusted
    * crawled responses (URLs, content types), and a `\r\n` embedded in
    * one would terminate the header early — letting a hostile server
    * inject forged headers (a fake `WARC-Payload-Digest`) or split
    * records in the exported archive (advice r13). Rejection, not
    * stripping: silently altering a URL would break the deterministic
    * record-id contract between exports. */
  private def headerSafe(what: String, v: String): String = {
    if (v != null) {
      var i = 0
      while (i < v.length) {
        if (v.charAt(i) < 0x20)
          throw new IllegalArgumentException(
            s"writeRecord: $what contains a control character " +
              s"(0x${v.charAt(i).toInt.toHexString}) — header injection")
        i += 1
      }
    }
    v
  }

  def writeRecord(warcType: String, targetUri: String, date: String,
                  payload: Array[Byte], payloadDigest: String = null,
                  extraHeaders: Seq[(String, String)] = Nil,
                  idSeed: String = ""): Array[Byte] = {
    headerSafe("warcType", warcType)
    headerSafe("targetUri", targetUri)
    headerSafe("date", date)
    headerSafe("payloadDigest", payloadDigest)
    extraHeaders.foreach { case (k, v) =>
      headerSafe("extra header name", k); headerSafe(s"header '$k'", v)
    }
    val digest =
      if (payloadDigest != null) payloadDigest else sha1Digest(payload)
    // Record ids must be GLOBALLY UNIQUE (ISO 28500) yet deterministic:
    // the name-UUID covers uri/date/digest plus the caller's idSeed
    // (the export feeds content type + the record's in-file ordinal, so
    // same-URL re-fetches and identical twin rows never collide —
    // review r13). The NUL marker keeps an ABSENT uri distinct from a
    // URI spelled "null".
    val rid = java.util.UUID.nameUUIDFromBytes(
      ((if (targetUri == null) "\u0000" else targetUri) + "\n" + date +
        "\n" + digest + "\n" + idSeed)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
      .append(s"WARC-Type: $warcType\r\n")
      .append(s"WARC-Record-ID: <urn:uuid:$rid>\r\n")
      .append(s"WARC-Date: $date\r\n")
    if (targetUri != null)
      sb.append(s"WARC-Target-URI: $targetUri\r\n")
    sb.append(s"WARC-Payload-Digest: $digest\r\n")
    extraHeaders.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    sb.append(s"Content-Length: ${payload.length}\r\n\r\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++
      payload ++ Array[Byte]('\r', '\n', '\r', '\n')
  }

  /** One gzip MEMBER (the `.warc.gz` convention: each record its own
    * member, so readers can skip without inflating the whole file —
    * [[gunzip]] walks exactly this layout). Java's GZIPOutputStream
    * writes a zero MTIME: members are deterministic. */
  private[graft] def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  /** The standard reason phrase for an exported status line — the
    * fidelity half of the status story (r13 verdict #2: a hardcoded
    * `200 OK` flattened every redirect chain and 404 on round-trip). */
  private def reasonOf(status: Long): String = status match {
    case 200 => "OK"
    case 204 => "No Content"
    case 301 => "Moved Permanently"
    case 302 => "Found"
    case 303 => "See Other"
    case 304 => "Not Modified"
    case 307 => "Temporary Redirect"
    case 308 => "Permanent Redirect"
    case 400 => "Bad Request"
    case 403 => "Forbidden"
    case 404 => "Not Found"
    case 410 => "Gone"
    case 429 => "Too Many Requests"
    case 500 => "Internal Server Error"
    case 503 => "Service Unavailable"
    case _   => "Status"
  }

  /** Minimal JSON string escaping for CDXJ fields (values are already
    * control-character-free — they passed [[writeRecord]]'s header
    * check — so only the quote and backslash need escaping). */
  private def jsonEsc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Query/path parameter names pywb's default canonicalizer scrubs —
    * per-client session tokens that fragment one logical URL into
    * millions of keys (r15 verdict #5). */
  private val SessionParams =
    Set("jsessionid", "phpsessid", "sid", "aspsessionid", "cfid",
      "cftoken")

  /** Percent-encoding normalization for [[surtKey]] (r16 verdict #5):
    * decode escapes of UNRESERVED bytes (RFC 3986 §2.3 — ALPHA / DIGIT
    * / `-._~`), which never needed encoding, so `/%41b` and `/Ab` key
    * identically; every other escape (reserved or non-ASCII bytes)
    * keeps its `%XX` form — hex-digit CASE then normalizes via the
    * key's final lowercase, so `%C3%BC` and `%c3%bc` collapse too.
    * Malformed sequences (`%zz`, a trailing `%4`) pass through
    * untouched: a key function must never throw on a crawled URL. */
  /** ASCII hex digit value, or −1 — NOT `Character.digit(c, 16)`,
    * which also accepts fullwidth/Arabic-Indic Unicode digits (review
    * r17 #2): RFC 3986 pct-encoding is ASCII HEXDIG only, and pywb
    * keys `%［fullwidth 41］` as literal bytes, so decoding it would
    * diverge from the consumers surtKey exists to match AND collapse
    * distinct URLs onto one key. */
  private def asciiHex(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Dotted-quad test, deliberately the surt library's loose
    * `\d+\.\d+\.\d+\.\d+` (no 0–255 range check) so keys interop
    * byte-for-byte with indexes that library wrote. Hand-rolled: this
    * runs per crawled URL and a compiled-regex match still allocates. */
  private def isIpv4(host: String): Boolean = {
    var labels = 1
    var digitsInLabel = 0
    var i = 0
    while (i < host.length) {
      val c = host.charAt(i)
      if (c >= '0' && c <= '9') digitsInLabel += 1
      else if (c == '.') {
        if (digitsInLabel == 0) return false
        labels += 1; digitsInLabel = 0
      } else return false
      i += 1
    }
    labels == 4 && digitsInLabel > 0
  }

  private def normalizePercent(s: String): String = {
    if (s.indexOf('%') < 0) return s
    // java.lang.StringBuilder, deliberately: the Scala one resolves
    // append(s, i, j) to append(Any) and prints a TUPLE.
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          asciiHex(s.charAt(i + 1)) >= 0 &&
          asciiHex(s.charAt(i + 2)) >= 0) {
        val b = (asciiHex(s.charAt(i + 1)) << 4) |
          asciiHex(s.charAt(i + 2))
        val ch = b.toChar
        if (ch.isLetterOrDigit && b < 128 || ch == '-' || ch == '.' ||
            ch == '_' || ch == '~') sb.append(ch)
        else sb.append(s, i, i + 3)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** SURT (Sort-friendly URI Reordering Transform) url key — what
    * standard CDX consumers (pywb, OpenWayback) sort and look up on
    * (r14 verdict #7): scheme and userinfo dropped, host labels
    * REVERSED and comma-joined, `)` then path+query, all lowercased,
    * default ports (80/443) dropped, other ports kept after the host.
    * `https://Example.ORG:443/A/b?q=1` → `org,example)/a/b?q=1`.
    * URLs without a hierarchical `scheme://host` part fall back to the
    * plain percent-encoded key (the pre-r15 behavior).
    *
    * CANONICALIZATION FLAGS (r15 verdict #5 — pywb's defaults, off by
    * default here so existing indexes stay byte-stable):
    *
    *   - `stripWww`: drop a leading `www.` / `www<digits>.` host label
    *     (`www2.Example.org` and `example.org` key identically).
    *   - `scrubSession`: drop session-id query parameters
    *     ([[SessionParams]], case-insensitive names) and the servlet
    *     `;jsessionid=…` path-matrix suffix; an emptied query drops
    *     its `?`. The matrix strip applies to the PATH part only
    *     (advice r16): `?x=1;jsessionid=abc` is a query VALUE, not a
    *     servlet matrix parameter, and keeps its bytes.
    *   - `normalizeEncoding` (r16 verdict #5): IDN hosts fold to their
    *     punycode ASCII form (`bücher.example` ≡ `xn--bcher-kva
    *     .example` — `java.net.IDN.toASCII`, RFC 3490; a host the
    *     codec rejects keeps its raw bytes), and percent-escapes of
    *     unreserved bytes decode ([[normalizePercent]]) so `/%41b`,
    *     `/Ab`, and `/ab` key identically; mixed-case hex collapses
    *     via the key's final lowercase.
    *
    * Host-literal handling (advice r15): a bracketed IPv6 authority
    * (`[2001:db8::1]:8080`) keeps its literal UNREVERSED — reversing
    * colon-free labels of an address is meaningless — with the port
    * stripped after the closing bracket; a trailing-dot host
    * (`example.org.`) keys like its undotted form (the DNS root dot is
    * not a label); a dotted-quad IPv4 host keeps its byte order
    * unreversed (r17 — r16 verdict #5's last residual; the surt
    * library's `hostToSURT` matches `\d+\.\d+\.\d+\.\d+` without
    * octet range checks, so `999.1.2.3` also counts, and so do we —
    * reversing an address's octets is as meaningless as reversing an
    * IPv6 literal's groups, and pywb lookups key IPs verbatim). */
  def surtKey(url: String, stripWww: Boolean = false,
              scrubSession: Boolean = false,
              normalizeEncoding: Boolean = false,
              /** LEGACY reproduction only (review r17 session pass):
                * true reverses dotted-quad hosts like names — the
                * pre-r17 behavior — so [[graft.store.Takedown
                * .eraseExports]]' style sniff can regenerate an index
                * written before the IPv4 fix byte-identically instead
                * of silently rewriting its keys in the new style
                * (the encoding fix got `canonEncoding` for the same
                * reason). Never set on new writes. */
              ipv4Reversed: Boolean = false): String = {
    if (url == null) return "-"
    val u = url.trim
    val si = u.indexOf("://")
    def fallback = u.replace(" ", "%20")
    if (si <= 0) return fallback
    var rest = u.substring(si + 3)
    val fi = rest.indexOf('#')
    if (fi >= 0) rest = rest.substring(0, fi) // fragment never keys
    val pi = rest.indexWhere(c => c == '/' || c == '?')
    var auth = if (pi < 0) rest else rest.substring(0, pi)
    var path = if (pi < 0) "" else rest.substring(pi)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    var host = auth.toLowerCase(java.util.Locale.ROOT)
    var port = ""
    if (host.startsWith("[")) {
      // Bracketed IP literal: the port separator is only AFTER the
      // closing bracket — lastIndexOf(':') inside the address would
      // mangle it (advice r15).
      val cb = host.indexOf(']')
      if (cb < 0) return fallback
      val after = host.substring(cb + 1)
      if (after.startsWith(":") && after.drop(1).forall(_.isDigit)) {
        val p = after.drop(1)
        if (p.nonEmpty && p != "80" && p != "443") port = ":" + p
        host = host.substring(0, cb + 1)
      } else if (after.nonEmpty) return fallback
    } else {
      val ci = host.lastIndexOf(':')
      if (ci >= 0 && host.substring(ci + 1).forall(_.isDigit)) {
        val p = host.substring(ci + 1)
        host = host.substring(0, ci)
        if (p.nonEmpty && p != "80" && p != "443") port = ":" + p
      }
      // DNS root dot: `example.org.` is the same name — an empty
      // trailing label would otherwise emit a leading "," (advice r15).
      host = host.stripSuffix(".")
      if (normalizeEncoding && host.exists(_ > 127))
        // Punycode fold — only attempted when a non-ASCII label is
        // present (ASCII hosts are already their own ACE form, and the
        // codec's length checks must not reject a long-but-valid
        // ASCII host the legacy path accepted).
        host = try java.net.IDN.toASCII(host)
          .toLowerCase(java.util.Locale.ROOT)
        catch { case _: IllegalArgumentException => host }
      if (stripWww && host.matches("www\\d*\\..+"))
        host = host.substring(host.indexOf('.') + 1)
    }
    if (normalizeEncoding && path.nonEmpty)
      path = normalizePercent(path)
    if (scrubSession && path.nonEmpty) {
      // Servlet path-matrix form: /page;jsessionid=ABC?x=1. The strip
      // applies to the path part ONLY (advice r16): the same bytes
      // inside the query string are a parameter VALUE
      // (`/p?x=1;jsessionid=abc`), and stripping them would collapse
      // distinct URLs onto one key.
      val qi0 = path.indexOf('?')
      val pathPart = (if (qi0 < 0) path else path.substring(0, qi0))
        .replaceAll("(?i);jsessionid=[^/]*", "")
      path = if (qi0 < 0) pathPart else pathPart + path.substring(qi0)
      val qi = path.indexOf('?')
      if (qi >= 0) {
        val kept = path.substring(qi + 1).split("&", -1).filter { kv =>
          val name = kv.takeWhile(_ != '=')
            .toLowerCase(java.util.Locale.ROOT)
          !SessionParams.contains(name)
        }
        path = path.substring(0, qi) +
          (if (kept.forall(_.isEmpty)) "" else kept.mkString("?", "&", ""))
      }
    }
    if (host.isEmpty) fallback
    else {
      val key =
        if (host.startsWith("[")) host // IP literal: never reversed
        else if (!ipv4Reversed && isIpv4(host)) host // dotted quad: ditto (r17)
        else host.split('.').reverse.mkString(",")
      (key + port + ")" +
        (if (path.isEmpty) "/" else path)
          .toLowerCase(java.util.Locale.ROOT)).replace(" ", "%20")
    }
  }

  /** ONE CDXJ line (`<urlkey> <timestamp> {json}\n`) — the single
    * format authority shared by [[encodeResponses]]' index emission and
    * [[graft.store.Takedown.eraseExports]]' regeneration: an erased
    * archive's surviving lines must come out byte-identical to what the
    * writer emitted (offset field aside), which only holds if both
    * sides print through the same code. `refersTo` non-null marks a
    * revisit line (`"mod":"revisit"` + the `refers` field the erasure
    * probe needs to find revisits implicating a banned original). */
  private[graft] def cdxLine(url: String, ts: String, mime: String,
                             status: Long, digest: String,
                             location: String, refersTo: String,
                             length: Int, offset: Int, filename: String,
                             surt: Boolean, canon: Boolean = false,
                             /** `false` reproduces a LEGACY (pre-r17)
                               * canon index — www/session canon without
                               * encoding normalization; only the erase
                               * regeneration's style sniff sets it. */
                             canonEncoding: Boolean = true,
                             /** `true` reproduces a LEGACY (pre-r17)
                               * index with dotted-quad hosts reversed
                               * like names; only the erase
                               * regeneration's style sniff sets it. */
                             ipv4Reversed: Boolean = false): String = {
    val u = if (url == null) "-" else url
    val sb = new StringBuilder
    sb.append(if (surt) surtKey(u, stripWww = canon, scrubSession = canon,
        normalizeEncoding = canon && canonEncoding,
        ipv4Reversed = ipv4Reversed)
      else u.replace(" ", "%20")).append(' ')
      .append(if (ts == null || ts.isEmpty) "-" else ts).append(' ')
      .append("{\"url\":\"").append(jsonEsc(u))
      .append("\",\"mime\":\"").append(jsonEsc(mime))
      .append("\",\"status\":").append(status)
      .append(",\"digest\":\"").append(jsonEsc(digest)).append("\"")
    if (location != null)
      sb.append(",\"redirect\":\"").append(jsonEsc(location)).append("\"")
    if (refersTo != null)
      sb.append(",\"mod\":\"revisit\",\"refers\":\"")
        .append(jsonEsc(refersTo)).append("\"")
    sb.append(",\"length\":").append(length)
      .append(",\"offset\":").append(offset)
      .append(",\"filename\":\"").append(jsonEsc(filename)).append("\"}\n")
    sb.toString
  }

  /** The target file name a staging stray was headed for: strays are
    * `<prefix><attemptId>_<name>` ([[writeFiles]] / [[graft.store
    * .Takedown]]'s erase), so strip the prefix and the attempt token. */
  private[graft] def stagingTarget(stray: String, prefix: String): String = {
    val rest = stray.stripPrefix(prefix)
    val u = rest.indexOf('_')
    if (u < 0) rest else rest.substring(u + 1)
  }

  /** Delete dead staging strays (`prefix`-named dot-files) under `dir`
    * — see [[writeFiles]]. A stray whose TARGET file is missing is NOT
    * deleted (advice r16): on a store whose overwrite-rename is
    * delete-then-rename, a crash between the two leaves the staging
    * file as the only surviving copy of the target — sweeping it would
    * turn a crashed swap into permanent loss. Such strays are left for
    * [[recoverStaging]] (the erase path runs it first) or the
    * operator; the cost of keeping a genuinely dead one is a stray
    * dot-file, the cost of deleting a load-bearing one is data. */
  private[graft] def sweepStaging(dir: String, prefix: String,
                                  fs: graft.FsIO = graft.FsIO.local): Unit =
    fs.list(dir).filter(_.startsWith(prefix))
      .filter(n => fs.exists(fs.resolve(dir, stagingTarget(n, prefix))))
      .foreach(n => fs.delete(fs.resolve(dir, n)))

  /** Complete crashed swaps (advice r16): for each `prefix` stray whose
    * target is MISSING, the stray is the only surviving copy — a
    * non-atomic overwrite-rename died between deleting the target and
    * renaming the staging in. Promote it (the staging file was fully
    * written before the swap began — `validate` is belt-and-braces
    * against bytes that are torn anyway; a failing candidate is left
    * on disk and reported, never silently dropped). Strays whose
    * target exists are untouched here — [[sweepStaging]] handles them.
    * Idempotent; run before any sweep on the same prefix. */
  private[graft] def recoverStaging(dir: String, prefix: String,
                                    fs: graft.FsIO = graft.FsIO.local,
                                    validate: (String, Array[Byte]) => Boolean
                                      = (_, _) => true): Unit =
    fs.list(dir).filter(_.startsWith(prefix)).foreach { n =>
      val target = stagingTarget(n, prefix)
      if (target.nonEmpty && !fs.exists(fs.resolve(dir, target))) {
        val strayPath = fs.resolve(dir, n)
        if (validate(target, fs.read(strayPath)))
          fs.atomicSwap(strayPath, fs.resolve(dir, target))
        else
          System.err.println(s"[graft] recoverStaging: stray $n does " +
            s"not validate as $target — left on disk for the operator")
      }
    }

  /** Materialize an export frame (`path`, `content` — the
    * [[encodeResponses]] output shape) into a directory: each executor
    * writes its own files (stage → atomic rename per file, so readers
    * and re-runs never see a torn file), the distributed-export shape —
    * no driver collect, no shuffle. Returns the file count. `fs` picks
    * the durability backend ([[graft.FsIO]] — local nio by default,
    * [[graft.HadoopFs]] for HDFS-style deployments); it rides the task
    * closure, so implementations are serializable by contract.
    *
    * ONE WRITER PER EXPORT DIRECTORY (advice r15): the pre-job sweep
    * below deletes EVERY `.staging_w_*` stray, including a concurrent
    * run's live staging files — two simultaneous writeFiles (or
    * exportIncremental) calls into one directory are not supported and
    * will fail each other's renames. That matches the export model
    * (one shipment call owns its directory; re-runs are serial), and
    * stating it beats a liveness heuristic that would leave true
    * strays behind; coordinate above this call if concurrent shipments
    * into one directory ever become real — the enforcement primitive
    * is [[graft.store.WriterFence]] (r17): claim a fence on the
    * directory at coordinator start and `check()` before each
    * writeFiles/eraseExports/writeZipnum call, and a duplicated
    * coordinator fails fast instead of corrupting. */
  def writeFiles(files: DataFrame, dir: String,
                 fs: graft.FsIO = graft.FsIO.local): Long = {
    fs.mkdirs(dir)
    // Sweep staging STRAYS from prior killed/speculated attempts
    // (review r15 #5: attempt-unique names stop rename races but leak
    // a dot-file per dead attempt). Driver-side, BEFORE the job: this
    // run's own attempts haven't started, and prior runs' strays are
    // dead by definition (single-writer contract above).
    sweepStaging(dir, ".staging_w_", fs)
    val pi = files.schema.fieldIndex("path")
    val ci = files.schema.fieldIndex("content")
    files.mapPartitions { it =>
      var n = 0L
      // Staging names carry the task ATTEMPT id: under speculation (or
      // a zombie attempt), two attempts writing the same output file
      // must never share a staging path — a half-written rival could
      // otherwise be renamed into place (review r15). Dot-prefixed, so
      // Spark readers and the erasure prober both ignore strays from
      // killed attempts.
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      it.foreach { row =>
        writeOneStaged(fs, dir, attempt, row.getString(pi),
          row.getAs[Array[Byte]](ci))
        n += 1L
      }
      Iterator.single(n)
    }(Encoders.scalaLong)
      .agg(coalesce(sum(col("value")), lit(0L))).collect()(0).getLong(0)
  }

  /** One staged atomic file write — the shared body of [[writeFiles]]
    * and [[writeFilesWithReps]]. */
  private def writeOneStaged(fs: graft.FsIO, dir: String, attempt: Long,
                             name: String, bytes: Array[Byte]): Unit = {
    require(!name.contains('/') && !name.contains('\\') &&
      name != "." && name != "..",
      s"writeFiles: path '$name' must be a bare file name")
    val staging = fs.resolve(dir, s".staging_w_${attempt}_$name")
    fs.write(staging, bytes)
    fs.atomicSwap(staging, fs.resolve(dir, name))
  }

  /** [[writeFiles]] over an `emitReps` frame (`path`, `content`,
    * `reps`), LAZY: returns one `(path, reps)` row per file instead of
    * the count — the caller materializes it (localCheckpoint) to run
    * the write exactly once and keep the narrow rep rows without a
    * second pass over the bodies (r18, guide §8). Same staging/swap
    * discipline and single-writer contract as [[writeFiles]]. */
  private[graft] def writeFilesWithReps(files: DataFrame, dir: String,
                                        fs: graft.FsIO = graft.FsIO.local)
      : DataFrame = {
    fs.mkdirs(dir)
    sweepStaging(dir, ".staging_w_", fs)
    val pi = files.schema.fieldIndex("path")
    val ci = files.schema.fieldIndex("content")
    val ri = files.schema.fieldIndex("reps")
    val outSchema = StructType(Seq(
      StructField("path", StringType), files.schema("reps")))
    files.mapPartitions { it =>
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      it.map { row =>
        writeOneStaged(fs, dir, attempt, row.getString(pi),
          row.getAs[Array[Byte]](ci))
        Row(row.getString(pi), row.get(ri))
      }
    }(Encoders.row(outSchema))
  }

  /** DataFrame WARC EXPORT — `(group, url, date, content_type, body)`
    * rows → one `.warc.gz` FILE per group value: `(path, content)`
    * where `path` is `<group>.warc.gz` and `content` holds one
    * `response` record per row, the shape [[records]] →
    * [[Http.responses]] →
    * [[graft.streaming.CrawlIngest.documentsFrom]] read back —
    * round-trip spec-pinned and oracle-gated. Rows within a file are
    * ordered by `url` (deterministic archives); each record is its own
    * gzip member.
    *
    * STATUS FIDELITY (r13 verdict #2): `statusCol`, when given, carries
    * the original HTTP status into the envelope's status line (with
    * the standard reason phrase) and `locationCol` the original
    * `Location` header — so a re-imported export preserves redirect
    * chains and error statuses instead of flattening everything to
    * `200 OK` (the default when no status column exists).
    *
    * REVISIT RECORDS (`withRevisits`): rows whose body bytes duplicate
    * an earlier row (by payload digest, across the WHOLE export — the
    * write-side twin of [[resolveRevisits]]) are written as
    * payload-free `revisit` records under the identical-payload-digest
    * profile, carrying the original's digest and
    * `WARC-Refers-To-Target-URI` — the crawl-time URL-dedup shape the
    * reader resolves back. Costs one extra shuffle on the digest key.
    *
    * CDX INDEX (`withCdx`): each archive gains a sibling
    * `<group>.cdx` row — one CDXJ line per record
    * (`<urlkey> <timestamp> {json}` with the record's compressed
    * OFFSET and LENGTH in the archive), so consumers seek straight to
    * a record instead of scanning members (r13 verdict #2). The url
    * key is SURT ([[surtKey]] — the pywb/OpenWayback sort key) when
    * `cdxSurt` is set, else the URL with spaces percent-encoded;
    * offsets are byte-exact against the emitted archive (oracle-gated
    * by slicing the archive at the CDX offsets and re-parsing).
    * Revisit lines carry `"mod":"revisit"` plus the original's URI in
    * `refers` — the manifest field [[graft.store.Takedown
    * .eraseExports]] probes to find archives whose revisits implicate
    * a banned original.
    *
    * Scale: ONE shuffle on the group key (plus the opt-in digest
    * shuffle), then a narrow per-partition encode — each executor
    * writes its own files, the distributed-export shape; size groups
    * to the 100 MB–1 GB archive convention. */
  def encodeResponses(df: DataFrame, groupCol: String = "file_group",
                      urlCol: String = "url", dateCol: String = "warc_date",
                      typeCol: String = "content_type",
                      bodyCol: String = "body",
                      gzipped: Boolean = true,
                      statusCol: String = null,
                      locationCol: String = null,
                      withRevisits: Boolean = false,
                      withCdx: Boolean = false,
                      /** SURT url keys in the CDX index ([[surtKey]]) —
                        * what pywb/OpenWayback consumers sort on; false
                        * keeps the plain percent-encoded key. */
                      cdxSurt: Boolean = false,
                      /** CROSS-EXPORT revisit memory (r14 verdict #6):
                        * `(digest, url, warc_date, archive)` rows naming
                        * the original already shipped in a PRIOR export
                        * for each hex-sha1 body digest. A row whose
                        * digest matches becomes a payload-free revisit
                        * of that original even as the FIRST occurrence
                        * in this call — unless the row IS the stored
                        * original itself (same url, date AND archive —
                        * the rep's FULL identity, advice r15: a
                        * url+date-only exemption let a same-url-same-
                        * date twin in another group replay as a second
                        * full response, breaking byte-stability): a
                        * crash-replayed or re-run export must re-emit
                        * the original as a response, byte-stably, not
                        * as a revisit of itself. Feed from
                        * [[revisitStore]] via [[exportIncremental]].
                        * Implies nothing unless `withRevisits` is
                        * set. */
                      priorReps: DataFrame = null,
                      /** Canonicalized SURT keys ([[surtKey]]'s
                        * `stripWww`/`scrubSession` — pywb's defaults);
                        * only meaningful with `cdxSurt`. */
                      cdxCanon: Boolean = false,
                      /** REP SIDE-CHANNEL (r18, guide §8 — decide with
                        * small rows): each archive row additionally
                        * carries `reps`, the `(digest, url, warc_date,
                        * archive)` of every RESPONSE record it wrote
                        * (hex sha-1; null-body rows excluded) — exactly
                        * the first-occurrence-per-digest rows
                        * [[exportIncremental]] used to re-derive with a
                        * SECOND full body scan + hash. The digest bytes
                        * are already computed per record for
                        * `WARC-Payload-Digest`, so the channel is free;
                        * `.cdx` sibling rows carry an empty array. Off
                        * by default — the extra column would widen every
                        * other consumer's plan for nothing. */
                      emitReps: Boolean = false): DataFrame = {
    // Fixed positional layout for the encode loop: group, url, date,
    // type, body, status, location, revisit-of. Absent columns become
    // literals so the loop never branches on schema.
    val statusExpr =
      if (statusCol == null) lit(200L) else col(statusCol).cast("long")
    val locExpr =
      if (locationCol == null) lit(null).cast("string")
      else col(locationCol).cast("string")
    val base = df.select(col(groupCol), col(urlCol), col(dateCol),
      col(typeCol), col(bodyCol), statusExpr.as("_status"),
      locExpr.as("_loc"))
    val withRev =
      if (!withRevisits) base.withColumn("_revisit_of",
        lit(null).cast("string"))
      else {
        // Write-side revisit detection: the FIRST row per payload
        // digest (total order — deterministic across runs) is the
        // response; every later duplicate becomes a revisit of it.
        // Null bodies never cluster. A PRIOR-EXPORT rep (priorReps)
        // preempts the in-call window: the original already shipped,
        // so every occurrence here is a revisit of IT — except the
        // stored original's own re-delivery (url+date match), which
        // stays a response for replay byte-stability.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("_dig"))
          .orderBy(col(urlCol), col(dateCol), col(groupCol), col(typeCol))
        val dug = base.withColumn("_dig",
          when(col(bodyCol).isNotNull, sha1(col(bodyCol))))
        val withPrior =
          if (priorReps == null)
            dug.withColumn("_prior", lit(null).cast("string"))
              .withColumn("_pdate", lit(null).cast("string"))
              .withColumn("_parch", lit(null).cast("string"))
          else dug.join(
            priorReps.select(col("digest").as("_dig"),
              col("url").as("_prior"), col("warc_date").as("_pdate"),
              col("archive").as("_parch")),
            Seq("_dig"), "left")
        // The stored original's self-exemption matches its FULL
        // identity — url, date, AND archive (advice r15): with url+date
        // only, two same-digest rows sharing (url, date) but destined
        // for different archives both matched the exemption on replay
        // and shipped as two full responses where the first run shipped
        // one response + one revisit. The second `when` no longer
        // requires a null prior for the same reason: the EXEMPT row's
        // in-call duplicates (rn > 1) must still become revisits of the
        // window's first row, exactly as on the first run.
        val archiveName = concat(col(groupCol),
          lit(if (gzipped) ".warc.gz" else ".warc"))
        withPrior
          .withColumn("_rn", row_number().over(w))
          .withColumn("_orig", first_value(col(urlCol)).over(w))
          .withColumn("_revisit_of",
            when(col("_dig").isNotNull && col("_prior").isNotNull &&
              !(col(urlCol) === col("_prior") &&
                col(dateCol) === col("_pdate") &&
                archiveName === col("_parch")), col("_prior"))
            .when(col("_dig").isNotNull && col("_rn") > 1, col("_orig")))
          .drop("_dig", "_rn", "_orig", "_prior", "_pdate", "_parch")
      }
    // TOTAL-order sort (ALL columns, body and the status/location/
    // revisit work columns included): rows tying on any prefix — a
    // same-URL re-fetch, or a response/revisit pair for an exact
    // duplicate row — would otherwise land in shuffle-arrival order
    // and break the byte-stable re-export contract (review r13; the
    // work columns joined the frame later and review r14 caught the
    // sort no longer being total).
    val src = withRev
      .repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(urlCol), col(dateCol),
        col(typeCol), col(bodyCol), col("_status"), col("_loc"),
        col("_revisit_of"))
    val outSchema = StructType(
      Seq(StructField("path", StringType),
        StructField("content", BinaryType)) ++
      (if (emitReps) Seq(StructField("reps", ArrayType(RepStructType)))
       else Nil))
    val emitCdx = withCdx
    val withReps = emitReps
    // Honest extension: a raw (non-gzip) export must not wear the .gz
    // suffix — readers and the erasure prober route on it.
    val ext = if (gzipped) ".warc.gz" else ".warc"
    src.mapPartitions { it =>
      // Consecutive-key grouping over the sorted partition with ONE
      // row of lookahead: memory is one FILE, never the partition.
      // (Spark rows from mapPartitions iterators may be REUSED — copy
      // the fields before advancing.)
      new Iterator[Row] {
        private var pending: Row =
          if (it.hasNext) it.next().copy() else null
        private var queuedCdx: Row = null
        def hasNext: Boolean = pending != null || queuedCdx != null
        def next(): Row = {
          if (queuedCdx != null) {
            val r = queuedCdx; queuedCdx = null; return r
          }
          val group = pending.getString(0)
          val file = new java.io.ByteArrayOutputStream()
          val cdx = if (emitCdx) new StringBuilder else null
          val reps =
            if (withReps) scala.collection.mutable.ArrayBuffer.empty[Row]
            else null
          var done = false
          var ordinal = 0
          while (!done) {
            val r = pending
            // Fail FAST on null date/type/status: "WARC-Date: null"
            // baked into a published archive is permanent garbage
            // (review r13); same for a null status under a status
            // column — silence would re-introduce the 200 flattening.
            require(r.getString(2) != null && r.getString(3) != null &&
              !r.isNullAt(5),
              s"encodeResponses: null warc_date/content_type/status " +
                s"for url=${r.getString(1)}")
            val contentType = headerSafe("content_type", r.getString(3))
            val location =
              if (r.isNullAt(6)) null
              else headerSafe("location", r.getString(6))
            val status = r.getLong(5)
            val revisitOf = if (r.isNullAt(7)) null else r.getString(7)
            val body = r.getAs[Array[Byte]](4)
            val b = if (body == null) Array.empty[Byte] else body
            val digestBytes = sha1Bytes(b)
            val digest = "sha1:" + base32(digestBytes)
            val offset = file.size()
            // The HTTP response-header envelope — shared by response
            // records (headers + payload) and revisit records (headers
            // ONLY, per ISO 28500 §6.7.2: the revisit block SHOULD
            // carry the protocol headers so the duplicate's own status
            // line and Location survive — a header-less revisit
            // re-introduces exactly the status flattening r13 fixed
            // for responses; review r14).
            val httpHead =
              (s"HTTP/1.1 $status ${reasonOf(status)}\r\n" +
                s"Content-Type: $contentType\r\n" +
                (if (location != null) s"Location: $location\r\n"
                 else "") +
                s"Content-Length: ${b.length}\r\n\r\n")
                .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
            val rec =
              if (revisitOf != null) {
                // Payload-free revisit under the identical-payload-
                // digest profile — the write-side twin of
                // [[resolveRevisits]], which joins it back to its
                // original by this digest. The block holds the HTTP
                // HEADERS (status fidelity); WARC-Payload-Digest names
                // the absent payload.
                writeRecord("revisit", r.getString(1), r.getString(2),
                  httpHead, payloadDigest = digest,
                  extraHeaders = Seq(
                    "WARC-Profile" -> ("http://netpreserve.org/warc/1.0/" +
                      "revisit/identical-payload-digest"),
                    "WARC-Refers-To-Target-URI" -> revisitOf,
                    "Content-Type" -> "application/http; msgtype=response"),
                  idSeed = s"$group\n$contentType\n$ordinal")
              } else {
                val http = httpHead ++ b
                writeRecord("response", r.getString(1), r.getString(2),
                  http, payloadDigest = digest,
                  // The BLOCK Content-Type is what makes the archive
                  // interchange: without it standard WARC tooling
                  // treats the payload as an opaque blob, never an
                  // HTTP message (review r13).
                  extraHeaders = Seq(
                    "Content-Type" -> "application/http; msgtype=response"),
                  // The id seed folds the GROUP in (advice r13): the
                  // same row exported into two different archives must
                  // get two globally-unique ids (ISO 28500), while a
                  // byte-identical re-export of the same archive stays
                  // id-stable.
                  idSeed = s"$group\n$contentType\n$ordinal")
              }
            // Rep side channel: RESPONSE records with a real (non-null)
            // body are exactly the first-occurrence-per-digest rows of
            // this call whose digest [[exportIncremental]] may need to
            // record (the anti-join against the store drops the
            // already-known ones) — the window admits one response per
            // digest, and prior-rep re-deliveries carry digests the
            // store already holds.
            if (withReps && revisitOf == null && body != null)
              reps += Row(hexOf(digestBytes), r.getString(1),
                r.getString(2), s"$group$ext")
            val member = if (gzipped) gzipMember(rec) else rec
            file.write(member)
            if (emitCdx)
              cdx.append(cdxLine(r.getString(1),
                r.getString(2).filter(_.isDigit), contentType, status,
                digest, location, revisitOf, member.length, offset,
                s"$group$ext", cdxSurt, cdxCanon))
            ordinal += 1
            if (it.hasNext) {
              pending = it.next().copy()
              if (pending.getString(0) != group) done = true
            } else { pending = null; done = true }
          }
          if (emitCdx) {
            val cdxBytes = cdx.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8)
            queuedCdx =
              if (withReps) Row(s"$group.cdx", cdxBytes, Seq.empty[Row])
              else Row(s"$group.cdx", cdxBytes)
          }
          if (withReps) Row(s"$group$ext", file.toByteArray, reps.toSeq)
          else Row(s"$group$ext", file.toByteArray)
        }
      }
    }(Encoders.row(outSchema))
  }

  // ---------------------------------------------------------------
  // ZIPNUM CDX CLUSTER (r15): the COLLECTION-level index. Per-archive
  // .cdx files answer "what is in THIS archive"; a lookup service
  // (pywb's zipnum cluster, OpenWayback's sorted CDX collections)
  // wants ONE sorted index over the whole collection it can
  // binary-search without holding lines in memory: CDXJ lines sorted
  // by (urlkey, timestamp), chunked into gzip blocks inside shard
  // files, plus a tiny summary index naming each block's first key,
  // shard, offset, and length — a reader seeks the summary (1/B of
  // the lines), then inflates exactly one block.

  /** Build a zipnum cluster from an export's `.cdx` rows (`path`,
    * `content` — [[encodeResponses]]' output shape, archives ignored):
    * returns `cdx-NNNNN.gz` shard rows (each a sequence of gzip
    * members of ≤ `blockLines` sorted CDXJ lines) and
    * `cluster.idx.partNNNNN` summary fragments — one line per block:
    * `<first-line key>\t<shard>\t<offset>\t<length>`. Fragments
    * concatenate in part order into the final `cluster.idx`
    * ([[writeZipnum]] does both steps); they come out globally sorted
    * because the shards are RANGE-partitioned on the line and sorted
    * within.
    *
    * Scale: one range shuffle of the index lines (never the archive
    * bytes), then a narrow per-partition encode; the summary is
    * 1/blockLines of the index by construction, which is what makes
    * collection-scale lookups memory-free. Shard boundaries come from
    * range-partitioner sampling — re-runs over identical input produce
    * identical shards, but the boundaries are not a cross-dataset
    * contract (the summary index, not shard numbering, is the lookup
    * surface).
    *
    * TAKEDOWN CADENCE: the cluster is DERIVED data — a pure function
    * of the archives' `.cdx` files — so per [[graft.store.Takedown]]'s
    * derived-data rule it purges at its next rebuild, not in place:
    * after [[graft.store.Takedown.eraseExports]] rewrites the
    * per-archive indexes, rebuild from the DIRECTORY (read the `.cdx`
    * files back with `spark.read.format("binaryFile")` — not the
    * original export frame, which predates the erasure) and
    * [[writeZipnum]]'s stale-artifact sweep guarantees no block or
    * fragment from the pre-erasure cluster survives the rebuild. */
  def zipnumCdx(files: DataFrame, shards: Int,
                blockLines: Int = 3000,
                /** Shard file-name prefix. [[writeZipnum]] passes a
                  * GENERATION-unique one (`cdx-g<N>-`, advice r16) so
                  * a rebuild's shards never overwrite the live
                  * cluster's blocks in place. */
                shardPrefix: String = "cdx-"): DataFrame = {
    require(shards >= 1, "zipnumCdx needs at least one shard")
    require(blockLines >= 1, "zipnumCdx needs at least one line per block")
    val lines = files.filter(col("path").endsWith(".cdx"))
      .select(explode(split(decode(col("content"), "UTF-8"), "\n"))
        .as("line"))
      .filter(length(col("line")) > 0)
    val sorted = lines.repartitionByRange(shards, col("line"))
      .sortWithinPartitions("line")
    val outSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("content", BinaryType)))
    sorted.mapPartitions { it =>
      val part = org.apache.spark.TaskContext.getPartitionId()
      val name = f"$shardPrefix$part%05d.gz"
      val bos = new java.io.ByteArrayOutputStream()
      val idx = new StringBuilder
      val block = scala.collection.mutable.ArrayBuffer.empty[String]
      def flush(): Unit = if (block.nonEmpty) {
        val member = gzipMember(block.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // The block's lookup key: the first line's "<urlkey> <ts>".
        val first = block.head
        val sp1 = first.indexOf(' ')
        val sp2 = if (sp1 < 0) -1 else first.indexOf(' ', sp1 + 1)
        idx.append(if (sp2 < 0) first else first.substring(0, sp2))
          .append('\t').append(name)
          .append('\t').append(bos.size())
          .append('\t').append(member.length).append('\n')
        bos.write(member)
        block.clear()
      }
      it.foreach { r =>
        block += r.getString(0)
        if (block.size >= blockLines) flush()
      }
      flush()
      if (bos.size() == 0) Iterator.empty
      else Iterator(
        Row(name, bos.toByteArray),
        Row(f"cluster.idx.part$part%05d", idx.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8)))
    }(Encoders.row(outSchema))
  }

  /** Materialize a zipnum cluster into `dir` — the SINGLE-COMMIT-POINT
    * protocol (advice r16; staging itself is advice r15): shards are
    * written under GENERATION-unique names (`cdx-g<N>-<part>.gz`, N
    * strictly above every shard generation on disk, crashed orphans
    * included), so a rebuild never overwrites the live cluster's
    * blocks in place — the r16 design swapped shards under stable
    * names BEFORE the summary, leaving a window where old summary
    * offsets pointed into new shard bytes (gunzip fails, lookups
    * silently empty, and an unchanged-source rebuild never even
    * flagged stale). Now the `cluster.idx` swap is the ONE commit
    * point: old summary → old shards, new summary → new shards, both
    * generations fully on disk when it flips; the manifest stamps the
    * new cluster's identity LAST (source indexes + the summary's own
    * size/sha1, so a summary torn by a non-atomic overwrite-rename is
    * DETECTED by [[zipnumStale]], not served); old-generation shards
    * are swept only after the flip. Crash before the summary swap:
    * the old cluster serves untouched, the orphaned new-generation
    * shards are swept by the next successful rebuild. Crash between
    * the summary and manifest swaps: the new cluster is servable but
    * conservatively flags stale until the rerun re-stamps it.
    *
    * TAKEDOWN STAMP (r15 verdict #2): `cluster.manifest` records the
    * build geometry plus the name, size, and sha1 of every source
    * `.cdx` row — the cluster's input identity. [[zipnumStale]]
    * compares it against an export directory's current indexes, so a
    * cluster left behind by [[graft.store.Takedown.eraseExports]]
    * (which rewrites `.cdx` files) is DETECTABLE, and
    * [[zipnumLookup]]'s `verifyExports` mode refuses to serve from it
    * instead of leaking erased URL+digest attribution lines. Returns
    * the shard count. */
  def writeZipnum(files: DataFrame, dir: String, shards: Int,
                  blockLines: Int = 3000,
                  fs: graft.FsIO = graft.FsIO.local): Long = {
    // PIN the cluster rows BEFORE any file mutation: the
    // rebuild-after-erasure cadence reads `files` from this very
    // directory (the [[zipnumCdx]] takedown note), so a lazy plan
    // would race the swaps below and fail mid-scan. The pinned output
    // is metadata-scale (gzipped index lines, 1/blockLines summary) —
    // cheap to hold. The manifest aggregate below also reads `files`,
    // BEFORE any mutation, for the same reason.
    fs.mkdirs(dir)
    // Generation: strictly above every shard generation on disk —
    // including a crashed rebuild's orphans, so names never collide.
    val genRe = "^cdx-g(\\d+)-\\d{5}\\.gz$".r
    val gen = (fs.list(dir).flatMap(n =>
      genRe.findFirstMatchIn(n).map(_.group(1).toLong)) :+ 0L).max + 1L
    val pinned = zipnumCdx(files, shards, blockLines,
        shardPrefix = s"cdx-g$gen-")
      .localCheckpoint(eager = true)
    val manifest = files.filter(col("path").endsWith(".cdx"))
      .select(col("path"), octet_length(col("content")).cast("long")
        .as("sz"), sha1(col("content")).as("dig"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    // Build under staging; the live cluster stays untouched until the
    // new one is complete.
    val stage = fs.resolve(dir, ".zipnum_stage")
    fs.deleteRecursively(stage)
    fs.mkdirs(stage)
    writeFiles(pinned, stage, fs)
    val parts = fs.list(stage)
      .filter(_.startsWith("cluster.idx.part")).sorted
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(p => out.write(fs.read(fs.resolve(stage, p))))
    val summaryBytes = out.toByteArray
    val summarySha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(summaryBytes).map("%02x".format(_)).mkString
    val manifestBytes = (
      s"#zipnum\tshards=$shards\tblockLines=$blockLines\n" +
        s"#summary\t${summaryBytes.length}\t$summarySha\n" +
        manifest.map { case (n, sz, dg) => s"$n\t$sz\t$dg\n" }.mkString)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // LAND the new generation's shards: names no live summary
    // references — plain no-replace renames, on disk but unreachable
    // until the pointer flips.
    val newShards = fs.list(stage).filter(_.matches("cdx-g\\d+-\\d{5}\\.gz"))
    newShards.foreach { n =>
      fs.rename(fs.resolve(stage, n), fs.resolve(dir, n))
    }
    // THE commit point: one POINTER publish flips the whole cluster —
    // [[graft.FsIO.publish]] is atomic-visibility on every backend
    // (staged swap on nio/HDFS, single PUT on object stores), so on a
    // rename-atomic store readers never see a torn summary and on an
    // object store the pointer upgrade from detected-and-refused to
    // genuinely atomic lives in the facade, not here.
    fs.publish(fs.resolve(dir, "cluster.idx"), summaryBytes)
    // Manifest stamps the committed cluster (summary attestation
    // included) — only after everything it attests to is in place.
    fs.publish(fs.resolve(dir, "cluster.manifest"), manifestBytes)
    // Sweep artifacts the new summary no longer names (review r15 #4):
    // older generations, pre-generation legacy shards, crashed-run
    // orphans, legacy in-place fragments, and dead publish staging.
    val keep = newShards.toSet
    fs.list(dir).filter { n =>
      (n.matches("cdx-(?:g\\d+-)?\\d{5}\\.gz") && !keep.contains(n)) ||
        n.matches("cluster\\.idx\\.part\\d{5}") ||
        n.matches("\\..*\\.publish_tmp") ||
        n == ".staging_z_cluster.manifest" // pre-r17 staging name
    }.foreach(n => fs.delete(fs.resolve(dir, n)))
    fs.deleteRecursively(stage)
    newShards.size.toLong
  }

  /** Is the zipnum cluster under `clusterDir` STALE against the
    * per-archive `.cdx` indexes currently under `exportDir`? True when
    * the manifest is missing (a pre-manifest cluster, or a crash
    * between the summary and manifest swaps) or any source index was
    * added, removed, resized, or rewritten since the build — exactly
    * what [[graft.store.Takedown.eraseExports]] does, which is the
    * point: between an erasure and the rebuild, the cluster still
    * serves the victim's URL+digest attribution lines, and staleness
    * is the signal that closes that window (r15 verdict #2). Also
    * true when the on-disk summary fails the manifest's size+sha1
    * attestation (a torn pointer — review r17), when the manifest
    * itself is torn (robust parse, never a throw), and when a
    * manifest stands with NO summary at all (a crashed pointer swap).
    * Cost: one directory listing + the index bytes (1/1000s of the
    * archive bytes) — never an archive read. No summary AND no
    * manifest is NOT stale: there is genuinely nothing to serve
    * from. */
  def zipnumStale(clusterDir: String, exportDir: String,
                  fs: graft.FsIO = graft.FsIO.local): Boolean = {
    val idxPath = fs.resolve(clusterDir, "cluster.idx")
    val mPath = fs.resolve(clusterDir, "cluster.manifest")
    // No summary AND no manifest: genuinely no cluster — nothing to
    // serve from, nothing stale. A summary missing UNDER a manifest is
    // different (advice r16): a delete-then-rename store's crash
    // between the pointer delete and the rename — a committed cluster
    // lost its summary, and "empty cluster" would be a silent miss.
    if (!fs.exists(idxPath)) return fs.exists(mPath)
    if (!fs.exists(mPath)) return true
    // ROBUST parse (advice r16): on a store whose rename is
    // copy-then-delete, a crash can leave the manifest (or the
    // summary) TORN — truncated mid-line. A torn manifest must read
    // as STALE, never throw and never silently pass.
    try {
      val lines = new String(fs.read(mPath),
        java.nio.charset.StandardCharsets.UTF_8).split("\n")
      // Summary attestation (r17 manifests): the on-disk cluster.idx
      // must match the recorded size+sha1 byte-identically — the
      // single-commit-point protocol's read-side validation; a torn
      // summary swap otherwise serves silent misses. Pre-r17
      // manifests lack the line and skip the check (documented
      // downgrade, not a failure).
      lines.find(_.startsWith("#summary\t")).foreach { l =>
        val f = l.split("\t")
        val idxBytes = fs.read(idxPath)
        val dig = java.security.MessageDigest.getInstance("SHA-1")
          .digest(idxBytes).map("%02x".format(_)).mkString
        if (idxBytes.length.toLong != f(1).toLong || dig != f(2))
          return true
      }
      // Drop the geometry + attestation headers, not every '#'-leading
      // line — a group named '#…' is a legal (if odd) archive name and
      // its entry must still compare.
      val recorded = lines.zipWithIndex
        .filter { case (l, i) =>
          l.nonEmpty && !(i == 0 && l.startsWith("#zipnum\t")) &&
            !l.startsWith("#summary\t")
        }
        .map { case (l, _) =>
          val f = l.split("\t"); (f(0), f(1).toLong, f(2))
        }
        .toSet
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val current = fs.list(exportDir)
        .filter(n => n.endsWith(".cdx") && !n.startsWith("."))
        .map { n =>
          val bytes = fs.read(fs.resolve(exportDir, n))
          (n, bytes.length.toLong,
            md.digest(bytes).map("%02x".format(_)).mkString)
        }.toSet
      recorded != current
    } catch {
      // Truncated line → missing field / non-numeric size: torn
      // manifest, conservatively stale.
      case _: ArrayIndexOutOfBoundsException => true
      case _: NumberFormatException => true
    }
  }

  /** The `(shards, blockLines)` geometry a cluster was built with —
    * from its manifest header; None for a pre-manifest cluster. The
    * rebuild cadence ([[graft.store.Takedown.eraseExports]]) reuses it
    * so an erasure-triggered rebuild preserves the operator's sizing. */
  def zipnumGeometry(clusterDir: String,
                     fs: graft.FsIO = graft.FsIO.local)
      : Option[(Int, Int)] = {
    val mPath = fs.resolve(clusterDir, "cluster.manifest")
    if (!fs.exists(mPath)) return None
    new String(fs.read(mPath), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").headOption.filter(_.startsWith("#zipnum\t")).flatMap {
        h =>
          val kv = h.split("\t").drop(1).flatMap { f =>
            f.split("=", 2) match {
              case Array(k, v) if v.forall(_.isDigit) && v.nonEmpty =>
                Some(k -> v.toInt)
              case _ => None
            }
          }.toMap
          for (s <- kv.get("shards"); b <- kv.get("blockLines"))
            yield (s, b)
      }
  }

  /** A manifest WITHOUT a summary is a crashed pointer swap on a
    * delete-then-rename store (review r17 #2) — the committed cluster
    * lost its pointer, and answering "no captures" for every key
    * would be exactly the silent-miss failure mode the attestation
    * work closes. Both serving entry points refuse it even WITHOUT
    * the verifyExports gate (the /cdx route never sets one); a rerun
    * rebuild converges. */
  private def requireNoOrphanManifest(dir: String, fs: graft.FsIO,
                                      who: String): Unit =
    if (fs.exists(fs.resolve(dir, "cluster.manifest")))
      throw new IllegalStateException(
        s"$who: cluster at $dir has a manifest but NO cluster.idx — " +
          "a crashed pointer swap; rebuild with writeZipnum before " +
          "serving")

  /** UTF-8 byte order (unsigned), the order [[zipnumCdx]]'s range
    * shuffle sorted the cluster in (Spark compares strings as UTF8
    * binary). Java String `<` is UTF-16 code-unit order, which
    * DIVERGES for supplementary characters vs U+E000–U+FFFF (advice
    * r15) — a summary search in the wrong order can land on the wrong
    * block and silently miss a present key. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Point lookup over a written zipnum cluster ([[writeZipnum]]'s
    * output): binary-search `cluster.idx` for the blocks that can hold
    * `urlkey`, read ONLY those blocks' byte ranges (positioned reads —
    * [[graft.FsIO.readRanges]], one open channel per shard even across
    * a block straddle; never the rest of the shard, which at
    * collection scale is GBs the summary exists to skip), inflate
    * them, and return their matching CDXJ lines (every capture of the
    * key, across block straddles — a key's captures can span a block
    * boundary, in which case the next block's first-line key equals
    * the probe). Driver-side by design: this is the SERVING-path
    * primitive (one summary search + one or two block reads), not an
    * analytics operator — bulk joins belong on the Dataset API. The
    * summary is held in memory; it is 1/blockLines of the collection
    * by construction. A shard deleted out from under a concurrent
    * rebuild reads as Seq.empty for its blocks, never a throw (advice
    * r15).
    *
    * `verifyExports` (takedown defense, r15 verdict #2): when set to
    * the archive directory the cluster indexes, the lookup first
    * checks [[zipnumStale]] and REFUSES (IllegalStateException) to
    * serve from a cluster whose source indexes changed since the
    * build — the erase-to-rebuild window in which stale blocks still
    * attribute erased content.
    *
    * `tsFrom`/`tsTo` (the wayback CDX API's `from`/`to`): keep only
    * captures whose 14-digit timestamp is ≥/≤ the given bound —
    * PREFIX bounds work the way the API's do (`tsFrom = "2024"` means
    * everything from 2024-01-01, `tsTo = "2024"` everything through
    * 2024-12-31: the upper bound right-pads with '9'). Filtering is
    * applied to the probed blocks' lines; the block reads themselves
    * are already key-bounded. */
  def zipnumLookup(dir: String, urlkey: String,
                   fs: graft.FsIO = graft.FsIO.local,
                   verifyExports: String = null,
                   tsFrom: String = null, tsTo: String = null)
      : Seq[String] = {
    if (verifyExports != null && zipnumStale(dir, verifyExports, fs))
      throw new IllegalStateException(
        s"zipnumLookup: cluster at $dir is STALE against $verifyExports " +
          "(source .cdx indexes changed since the build — e.g. a " +
          "takedown erasure); rebuild with writeZipnum before serving")
    val idxPath = fs.resolve(dir, "cluster.idx")
    if (!fs.exists(idxPath)) {
      requireNoOrphanManifest(dir, fs, "zipnumLookup")
      return Seq.empty
    }
    val entries = new String(fs.read(idxPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty)
      .map { l =>
        val f = l.split("\t")
        // Block key is "<urlkey> <ts>" — match on the urlkey token.
        (f(0).split(" ")(0), f(1), f(2).toLong, f(3).toInt)
      }
    if (entries.isEmpty) return Seq.empty
    // The candidate run starts at the last block whose first key is
    // STRICTLY below the probe (the probe's captures may begin mid-way
    // through it) and continues through every block whose first key
    // EQUALS the probe — several, when a key's captures span block
    // boundaries. A ≤-search would land on the LAST equal-key block
    // and skip its equal-key predecessors.
    var lo = 0
    var hi = entries.length - 1
    while (lo < hi) { // greatest i with key_i < urlkey (or 0)
      val mid = (lo + hi + 1) >>> 1
      if (utf8Less(entries(mid)._1, urlkey)) lo = mid else hi = mid - 1
    }
    val run = entries.indices
      .dropWhile(_ < lo)
      .takeWhile(i => i == lo || entries(i)._1 == urlkey)
    // One positioned-read batch per DISTINCT shard in the run (a
    // straddle usually stays in one shard — one open, two seeks).
    run.groupBy(i => entries(i)._2).toSeq.sortBy(_._2.head).flatMap {
      case (shard, idxs) =>
        val spans = idxs.map(i => (entries(i)._3, entries(i)._4))
        val blocks =
          try fs.readRanges(fs.resolve(dir, shard), spans)
          catch {
            // Mid-rebuild race or an operator delete: absent shard =
            // no captures from it, not a failed lookup.
            case _: java.nio.file.NoSuchFileException => Seq.empty
            case _: java.io.FileNotFoundException => Seq.empty
          }
        blocks.flatMap { member =>
          gunzip(member)
            .map(b => new String(b,
              java.nio.charset.StandardCharsets.UTF_8)
              .split("\n").filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)
            .filter(l => l.startsWith(urlkey + " "))
            .filter { l =>
              if (tsFrom == null && tsTo == null) true
              else {
                val rest = l.substring(urlkey.length + 1)
                val sp = rest.indexOf(' ')
                val ts = if (sp < 0) rest else rest.substring(0, sp)
                // Prefix bounds: lower pads with '0' implicitly
                // (string compare), upper right-pads with '9' so
                // tsTo = "2024" admits all of 2024.
                (tsFrom == null || ts >= tsFrom) &&
                  (tsTo == null ||
                    ts <= tsTo.padTo(math.max(ts.length, tsTo.length),
                      '9'))
              }
            }
        }
    }
  }

  /** PREFIX scan over a written zipnum cluster — the wayback CDX
    * API's `matchType=prefix` (a pywb/OpenWayback user's second query:
    * every capture under `org,example)/docs/`), completing the serving
    * surface next to [[zipnumLookup]]'s exact match. Same
    * summary-search shape: the candidate run starts at the last block
    * whose first key is strictly below the prefix and continues
    * through every block whose first key CARRIES the prefix — a block
    * whose first key is above the prefix without carrying it is past
    * every prefix-keyed line (first keys are block minima), so the
    * run is exact, never a shard scan. Blocks are read IN SUMMARY
    * ORDER (consecutive same-shard blocks batch into one open
    * channel) and the scan STOPS as soon as `limit` lines are
    * collected — chunks are sized ADAPTIVELY from the observed
    * lines-per-block (seeded at 2 blocks), so an unfiltered scan
    * reads ~ceil(limit/blockLines)+1 blocks and a `limit=100` probe
    * against a billion-capture collection still costs two or three
    * positioned reads. Results
    * are in cluster key order (UTF-8), the API's contract; a
    * `limit+1`-th line existing means the result was truncated —
    * callers page by re-probing with the last returned key. Timestamp
    * bounds compose as in [[zipnumLookup]] (prefix semantics; bounds
    * filter lines, and a ts-filtered scan still honors `limit` on the
    * SURVIVING lines). `verifyExports` refuses a stale cluster the
    * same way.
    *
    * PAGING: `afterLine` (the last line of the previous page) resumes
    * the scan STRICTLY AFTER that line — the summary search restarts
    * at the resume line's key, so page N+1 re-reads one or two blocks,
    * not the whole prefix range; chaining pages reconstructs the full
    * scan with no duplicates and no gaps (spec-pinned). */
  def zipnumPrefix(dir: String, keyPrefix: String,
                   fs: graft.FsIO = graft.FsIO.local,
                   verifyExports: String = null,
                   tsFrom: String = null, tsTo: String = null,
                   limit: Int = 1000,
                   afterLine: String = null): Seq[String] = {
    require(limit >= 1, s"zipnumPrefix: limit must be >= 1, got $limit")
    if (verifyExports != null && zipnumStale(dir, verifyExports, fs))
      throw new IllegalStateException(
        s"zipnumPrefix: cluster at $dir is STALE against " +
          s"$verifyExports (source .cdx indexes changed since the " +
          "build — e.g. a takedown erasure); rebuild with writeZipnum " +
          "before serving")
    val idxPath = fs.resolve(dir, "cluster.idx")
    if (!fs.exists(idxPath)) {
      requireNoOrphanManifest(dir, fs, "zipnumPrefix")
      return Seq.empty
    }
    val entries = new String(fs.read(idxPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty)
      .map { l =>
        val f = l.split("\t")
        (f(0).split(" ")(0), f(1), f(2).toLong, f(3).toInt)
      }
    if (entries.isEmpty) return Seq.empty
    // Resume key: a page restart binary-searches at the LAST line's
    // key (≥ the prefix when it came out of this scan), so earlier
    // already-served blocks are never re-read. Clamped to the prefix:
    // a caller-corrupted resume line sorting BELOW the prefix must
    // degrade to a fresh scan (its strictly-after filter is then a
    // no-op), not mis-position the run start and silently drop the
    // whole range.
    val searchKey = {
      val k =
        if (afterLine == null) keyPrefix
        else {
          val sp = afterLine.indexOf(' ')
          if (sp < 0) afterLine else afterLine.substring(0, sp)
        }
      if (utf8Less(k, keyPrefix)) keyPrefix else k
    }
    var lo = 0
    var hi = entries.length - 1
    while (lo < hi) { // greatest i with key_i < searchKey (or 0)
      val mid = (lo + hi + 1) >>> 1
      if (utf8Less(entries(mid)._1, searchKey)) lo = mid else hi = mid - 1
    }
    val run = entries.indices
      .dropWhile(_ < lo)
      .takeWhile(i => i == lo || entries(i)._1.startsWith(keyPrefix))
    // In-order traversal with early stop: group CONSECUTIVE same-shard
    // blocks (one open channel each), keep cluster key order — the
    // exact-match lookup's groupBy-shard reorder would make "first
    // `limit` lines" depend on shard layout.
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = run.iterator
    val shardRuns = scala.collection.mutable.ArrayBuffer
      .empty[(String, scala.collection.mutable.ArrayBuffer[(Long, Int)])]
    it.foreach { i =>
      val (_, shard, off, len) = entries(i)
      if (shardRuns.nonEmpty && shardRuns.last._1 == shard)
        shardRuns.last._2 += ((off, len))
      else shardRuns += ((shard,
        scala.collection.mutable.ArrayBuffer((off, len))))
    }
    val runs = shardRuns.iterator
    // ADAPTIVE chunk sizing (review r17 session pass): blocks hold
    // ~blockLines lines each, so sizing a chunk in BLOCKS equal to
    // the remaining LINE count over-reads by a factor of blockLines
    // (up to `limit` positioned reads for lines living in one block —
    // the first cut did exactly that, contradicting the cost-model
    // doc above). Estimate lines/block from what this scan has
    // already inflated; the 2-block seed IS the documented
    // ceil(limit/blockLines)+1 for the common limit ≤ blockLines
    // case, and a ts filter swallowing blocks only adds later,
    // correctly-sized chunks.
    var blocksRead = 0L
    var rawLines = 0L
    while (out.length < limit && runs.hasNext) {
      val (shard, spans) = runs.next()
      // The chunk loop EXHAUSTS this run's spans before moving to the
      // next shard (skipping ahead mid-run would silently drop the
      // untaken blocks' lines from the page).
      var taken = 0
      while (out.length < limit && taken < spans.length) {
        val chunk =
          if (blocksRead == 0L) 2
          else {
            val avg = math.max(1L, rawLines / blocksRead)
            val remaining = (limit - out.length).toLong
            math.min(Int.MaxValue.toLong,
              (remaining + avg - 1L) / avg + 1L).toInt
          }
        val want = spans.slice(taken, taken + math.max(1, chunk)).toSeq
        taken += want.length
        val blocks =
          try fs.readRanges(fs.resolve(dir, shard), want)
          catch {
            case _: java.nio.file.NoSuchFileException => Seq.empty
            case _: java.io.FileNotFoundException => Seq.empty
          }
        val bit = blocks.iterator
        while (out.length < limit && bit.hasNext) {
          val member = bit.next()
        val memberLines = gunzip(member)
          .map(b => new String(b,
            java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        blocksRead += 1L
        rawLines += memberLines.length.toLong
        memberLines
          .iterator
          .filter { l =>
            val sp = l.indexOf(' ')
            val key = if (sp < 0) l else l.substring(0, sp)
            key.startsWith(keyPrefix) &&
              (afterLine == null || utf8Less(afterLine, l))
          }
          .filter { l =>
            if (tsFrom == null && tsTo == null) true
            else {
              val sp = l.indexOf(' ')
              val rest = if (sp < 0) "" else l.substring(sp + 1)
              val sp2 = rest.indexOf(' ')
              val ts = if (sp2 < 0) rest else rest.substring(0, sp2)
              (tsFrom == null || ts >= tsFrom) &&
                (tsTo == null ||
                  ts <= tsTo.padTo(math.max(ts.length, tsTo.length),
                    '9'))
            }
          }
          .foreach { l => if (out.length < limit) out += l }
        }
      }
    }
    out.toSeq
  }

  /** One replayed capture — [[replayCapture]]'s result: the archived
    * HTTP status/mime from the record's own head, and the response
    * BODY bytes (after the head's CRLFCRLF), which is what a wayback
    * `/web/<ts>/<url>` replay serves. */
  final case class Capture(url: String, timestamp: String, status: Long,
                           mime: String, body: Array[Byte])

  /** REPLAY — the serving half the CDX index exists FOR: resolve
    * `urlkey` (+ optional 14-digit-prefix `ts`) to its closest
    * capture through the zipnum cluster, read EXACTLY that record's
    * member span from its archive ([[graft.FsIO.readRange]] — never
    * the rest of the file), and return the archived HTTP body with
    * its recorded status/mime. Wayback closest-match semantics: the
    * requested prefix zero-pads to an instant and the capture with
    * the minimum absolute distance wins; no `ts` = latest.
    *
    * REVISITS resolve to their original (depth 1): a revisit line
    * carries `refers`; the original's key is derived in whatever
    * style this cluster uses — tried from the line's own key shape is
    * not possible (keys don't name their style), so the four writer
    * derivations are probed in least-assuming order and the first
    * that HITS serves; among the original's captures, same-digest
    * wins (that is what the revisit attests), falling back to
    * closest-in-time to the revisit. A dangling `refers` (original
    * erased or never shipped) returns None rather than the revisit's
    * empty payload.
    *
    * Returns None for: no capture, unreadable/missing archive bytes
    * (a mid-sweep race reads as absent, matching [[zipnumLookup]]),
    * or a malformed record — the HTTP layer turns None into 404. */
  def replayCapture(clusterDir: String, archiveDir: String,
                    urlkey: String, ts: String = null,
                    fs: graft.FsIO = graft.FsIO.local,
                    verifyExports: String = null,
                    /** Takedown scrub at LINE level (the /cdx route's
                      * rule): a line whose url — or whose revisit
                      * `refers` — names a victim never serves, and a
                      * revisit RESOLUTION never lands on a victim
                      * original, even while the cluster awaits its
                      * post-erasure rebuild. */
                    victims: Set[String] = Set.empty)
      : Option[Capture] = {
    val lines = scrubVictims(
      zipnumLookup(clusterDir, urlkey, fs, verifyExports), victims)
    if (lines.isEmpty) return None
    chooseLine(lines, ts, preferDigest = null).flatMap(
      lineToCapture(clusterDir, archiveDir, _, fs, depth = 0, victims))
  }

  /** The takedown line scrub `/cdx` and `/replay` share: a line serves
    * only when its `url`, and its `refers` if present, are strings naming
    * no victim. Fails closed — while any key is banned, a line whose url
    * or refers cannot be read is withheld. */
  private[graft] def scrubVictims(lines: Seq[String],
                                  victims: Set[String]): Seq[String] =
    if (victims.isEmpty) lines
    else lines.filter { l =>
      val js = l.indexOf('{')
      js >= 0 && (try {
        val node = cdxFieldMapper.readTree(l.substring(js))
        val url = node.get("url")
        val refers = node.get("refers")
        url != null && url.isTextual && !victims.contains(url.asText()) &&
          (refers == null ||
            refers.isTextual && !victims.contains(refers.asText()))
      } catch { case _: Exception => false })
    }

  /** Wayback closest-capture selection among one key's lines. */
  private def chooseLine(lines: Seq[String], ts: String,
                         preferDigest: String): Option[String] = {
    if (lines.isEmpty) return None
    val pool =
      if (preferDigest == null) lines
      else {
        val same = lines.filter(cdxField(_, "digest") == preferDigest)
        if (same.nonEmpty) same else lines
      }
    def inst(t: String): Long = {
      val p = t.filter(_.isDigit).padTo(14, '0').take(14)
      if (p.isEmpty) 0L else p.toLong
    }
    if (ts == null || ts.isEmpty)
      Some(pool.maxBy(l => inst(cdxField(l, "timestamp"))))
    else {
      val want = inst(ts)
      Some(pool.minBy(l =>
        math.abs(inst(cdxField(l, "timestamp")) - want)))
    }
  }

  private def lineToCapture(clusterDir: String, archiveDir: String,
                            line: String, fs: graft.FsIO,
                            depth: Int,
                            victims: Set[String] = Set.empty)
      : Option[Capture] = {
    val js = line.indexOf('{')
    if (js < 0) return None
    val node =
      try cdxFieldMapper.readTree(line.substring(js))
      catch { case _: Exception => return None }
    def str(f: String): String =
      Option(node.get(f)).map(_.asText()).orNull
    val filename = str("filename")
    val url = str("url")
    if (filename == null || url == null) return None
    val refers = str("refers")
    if (refers != null) {
      // Revisit: serve the ORIGINAL's bytes (depth-1 — a revisit of a
      // revisit is not a state the writer produces).
      if (depth >= 1) return None
      val digest = str("digest")
      val tsHere = cdxField(line, "timestamp")
      // The cluster's key style is not recoverable from one key, so
      // probe the four writer derivations, least-assuming first.
      val candidates = Seq(
        refers.replace(" ", "%20"),
        surtKey(refers),
        surtKey(refers, stripWww = true, scrubSession = true),
        surtKey(refers, stripWww = true, scrubSession = true,
          normalizeEncoding = true)).distinct
      return candidates.iterator
        .map(k => scrubVictims(zipnumLookup(clusterDir, k, fs), victims))
        .find(_.nonEmpty)
        .flatMap { ls =>
          chooseLine(ls.filter(cdxField(_, "refers").isEmpty),
            tsHere, preferDigest = digest)
            .flatMap(lineToCapture(clusterDir, archiveDir, _, fs,
              depth + 1, victims))
        }
    }
    val offset = Option(node.get("offset")).map(_.asLong(-1L))
      .getOrElse(-1L)
    val length = Option(node.get("length")).map(_.asInt(-1))
      .getOrElse(-1)
    if (offset < 0L || length <= 0) return None
    val member =
      try fs.readRange(fs.resolve(archiveDir, filename), offset, length)
      catch {
        case _: java.nio.file.NoSuchFileException => return None
        case _: java.io.FileNotFoundException => return None
        case _: java.io.EOFException => return None
      }
    val bytes =
      if (member.length >= 2 && (member(0) & 0xff) == 0x1f &&
        (member(1) & 0xff) == 0x8b)
        gunzip(member).getOrElse(return None)
      else member
    warcRecords(bytes).flatMap(_.headOption).flatMap { rec =>
      // Payload = the archived HTTP message; the body starts after
      // its head's CRLFCRLF (a head-less payload serves whole — some
      // writers store raw bodies for non-HTTP schemes).
      val end = rec.payloadOffset + rec.payloadLength
      var i = rec.payloadOffset
      var bodyAt = -1
      while (bodyAt < 0 && i + 3 < end) {
        if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
          bytes(i + 2) == '\r' && bytes(i + 3) == '\n') bodyAt = i + 4
        i += 1
      }
      val from = if (bodyAt < 0) rec.payloadOffset else bodyAt
      val status = Option(node.get("status")).map(_.asLong(0L))
        .getOrElse(0L)
      Some(Capture(url, cdxField(line, "timestamp"), status,
        Option(str("mime")).getOrElse("application/octet-stream"),
        java.util.Arrays.copyOfRange(bytes, from, end)))
    }
  }

  /** CDXJ line field accessor shared by [[cdxFilterLines]] and
    * [[cdxCollapseLines]]: `urlkey`/`timestamp` come from the line's
    * two lead tokens, everything else (`url`, `mime`, `status`,
    * `digest`, `length`, `offset`, `filename`, …) from its JSON
    * payload; an absent field reads as "" (filters then match against
    * the empty string — never a throw on a hand-edited line). */
  private def cdxField(line: String, field: String): String = {
    val sp = line.indexOf(' ')
    field match {
      case "urlkey" => if (sp < 0) line else line.substring(0, sp)
      case "timestamp" =>
        if (sp < 0) return ""
        val rest = line.substring(sp + 1)
        val sp2 = rest.indexOf(' ')
        if (sp2 < 0) rest else rest.substring(0, sp2)
      case f =>
        val js = line.indexOf('{')
        if (js < 0) return ""
        try {
          val node = cdxFieldMapper.readTree(line.substring(js)).get(f)
          if (node == null) "" else node.asText()
        } catch { case _: Exception => "" }
    }
  }

  /** Shared parser for [[cdxField]] — ObjectMapper is thread-safe for
    * reads, and per-line construction would dominate a filtered serve. */
  private lazy val cdxFieldMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Deadline-carrying view of a string for regex matching: `charAt`
    * re-checks the clock every 256 reads, so a catastrophic-
    * backtracking pattern (a serving endpoint matches CLIENT-supplied
    * regexes — `(a+)+$` pinning a handler thread for minutes is the
    * classic shape) aborts within its budget instead of DoSing the
    * server. The abort rides an unchecked exception out of
    * `Matcher.matches()`; [[cdxFilterLines]] converts it to the
    * loud-400 IllegalArgumentException. */
  private final class DeadlineCharSeq(s: String, deadlineNanos: Long)
      extends CharSequence {
    private var ticks = 0
    override def length(): Int = s.length
    override def charAt(i: Int): Char = {
      ticks += 1
      if ((ticks & 0xff) == 0 && System.nanoTime() > deadlineNanos)
        throw new FilterBudgetExceeded
      s.charAt(i)
    }
    override def subSequence(a: Int, b: Int): CharSequence =
      new DeadlineCharSeq(s.substring(a, b), deadlineNanos)
    override def toString: String = s
  }
  private final class FilterBudgetExceeded extends RuntimeException

  /** The wayback-cdx-server `filter=` semantics over CDXJ lines:
    * each spec is `[!]field:regex` — the regex must match the WHOLE
    * field value (`status:200`, `mime:text/.*`), `!` inverts, specs
    * AND together. A malformed spec (no colon, bad regex, more than
    * 16 specs, a regex over 512 chars) throws
    * IllegalArgumentException — a filter the caller wrote wrong must
    * fail loudly, not silently match everything. `budgetNanos` bounds
    * TOTAL matching time (client-supplied regexes can backtrack
    * catastrophically — [[DeadlineCharSeq]]); exceeding it throws the
    * same loud IllegalArgumentException. */
  def cdxFilterLines(lines: Seq[String],
                     filters: Seq[String],
                     budgetNanos: Long = Long.MaxValue): Seq[String] = {
    if (filters.isEmpty) return lines
    require(filters.length <= 16,
      s"cdx filter: ${filters.length} specs (max 16)")
    val compiled = filters.map { spec =>
      val neg = spec.startsWith("!")
      val body = if (neg) spec.substring(1) else spec
      val ci = body.indexOf(':')
      require(ci > 0, s"cdx filter '$spec' is not [!]field:regex")
      val rx = body.substring(ci + 1)
      require(rx.length <= 512,
        s"cdx filter regex too long (${rx.length} chars, max 512)")
      val p =
        try java.util.regex.Pattern.compile(rx)
        catch {
          case e: java.util.regex.PatternSyntaxException =>
            throw new IllegalArgumentException(
              s"cdx filter '$spec': bad regex — ${e.getMessage}")
        }
      (neg, body.substring(0, ci), p)
    }
    val deadline =
      if (budgetNanos == Long.MaxValue) Long.MaxValue
      else System.nanoTime() + budgetNanos
    try lines.filter { l =>
      compiled.forall { case (neg, field, p) =>
        p.matcher(new DeadlineCharSeq(cdxField(l, field), deadline))
          .matches() != neg
      }
    } catch {
      case _: FilterBudgetExceeded =>
        throw new IllegalArgumentException(
          "cdx filter: regex matching exceeded its time budget — " +
            "simplify the pattern (catastrophic backtracking?)")
    }
  }

  /** The wayback-cdx-server `collapse=` semantics over CDXJ lines:
    * `field` or `field:N` keeps the FIRST line of each ADJACENT run
    * whose field value (or its first N chars) repeats —
    * `timestamp:8` is the classic one-capture-per-day calendar
    * collapse. Adjacency is the contract (lines arrive in cluster key
    * order), which is what makes it a streaming fold rather than a
    * global group-by.
    *
    * `seedLine` carries the fold across PAGES (review r17 session
    * pass): a collapse run that straddles a page boundary would
    * otherwise emit one representative per page — seeding `prev` with
    * the previous page's last SERVED line (the client's resume line)
    * keeps first-of-run semantics over the whole paged stream. */
  def cdxCollapseLines(lines: Seq[String], spec: String,
                       seedLine: String = null): Seq[String] = {
    if (spec == null || spec.isEmpty) return lines
    val ci = spec.indexOf(':')
    val field = if (ci < 0) spec else spec.substring(0, ci)
    val n =
      if (ci < 0) Int.MaxValue
      else {
        val raw = spec.substring(ci + 1)
        require(raw.matches("\\d{1,9}") && raw.toInt >= 1,
          s"cdx collapse '$spec' is not field[:N] with N >= 1")
        raw.toInt
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var prev: String =
      if (seedLine == null) null
      else {
        val v = cdxField(seedLine, field)
        if (v.length > n) v.substring(0, n) else v
      }
    lines.foreach { l =>
      val v = cdxField(l, field)
      val key = if (v.length > n) v.substring(0, n) else v
      if (prev == null || key != prev) { out += l; prev = key }
    }
    out.toSeq
  }

  /** DOMAIN scan — the wayback CDX API's `matchType=domain` (a host
    * and ALL its subdomains), meaningful only over a SURT-keyed
    * cluster, where it is exactly two [[zipnumPrefix]] scans:
    * `org,example)` (the host's own captures — any path) and
    * `org,example,` (every subdomain — deeper host labels append
    * after a comma). `)` (0x29) sorts below `,` (0x2c) in UTF-8, so
    * concatenating the two scans preserves global cluster key order
    * and the `limit`/`afterLine` paging contract carries over: the
    * second scan only runs with whatever limit the first left, and a
    * resume line re-enters whichever scan it belongs to (its key
    * tells — subdomain keys carry the comma). `surtHost` is the
    * comma-reversed host WITHOUT the closing paren
    * (`org,example`). */
  def zipnumDomain(dir: String, surtHost: String,
                   fs: graft.FsIO = graft.FsIO.local,
                   verifyExports: String = null,
                   tsFrom: String = null, tsTo: String = null,
                   limit: Int = 1000,
                   afterLine: String = null): Seq[String] = {
    require(!surtHost.endsWith(")") && !surtHost.endsWith(","),
      s"zipnumDomain: pass the bare SURT host (got '$surtHost')")
    // A resume line from the subdomain range must not re-walk the
    // host range (its keys all sort below the resume anyway, but the
    // host scan would re-READ its blocks to discover that).
    val resumeInSubdomains = afterLine != null && {
      val sp = afterLine.indexOf(' ')
      val k = if (sp < 0) afterLine else afterLine.substring(0, sp)
      k.startsWith(surtHost + ",")
    }
    val own =
      if (resumeInSubdomains) Seq.empty
      else zipnumPrefix(dir, surtHost + ")", fs, verifyExports,
        tsFrom, tsTo, limit, afterLine)
    val remaining = limit - own.length
    if (remaining <= 0) own
    // afterLine flows to the subdomain scan UNCONDITIONALLY (review
    // r17 session pass): a host-range resume clamps to a fresh
    // subdomain scan (host keys sort below `host,`) and its
    // strictly-after filter no-ops, while a corrupted resume sorting
    // ABOVE both ranges (e.g. a sibling host's line) kills everything
    // via the same filter — without it, that corrupt shape re-served
    // the whole subdomain range with duplicates.
    else own ++ zipnumPrefix(dir, surtHost + ",", fs, verifyExports,
      tsFrom, tsTo, remaining, afterLine = afterLine)
  }

  /** BULK lookup — the Dataset-API counterpart of [[zipnumLookup]]
    * (whose doc sends bulk joins here): join a DataFrame of url keys
    * against a written cluster, returning every matching CDXJ line as
    * `(urlkey, line)`. Shape: the SUMMARY (metadata-sized by
    * construction — 1/blockLines of the collection) is read once on
    * the driver and broadcast; each key binary-searches it
    * executor-side (same strictly-below + equal-run rule as the point
    * lookup, UTF-8 byte order); keys then group by BLOCK so every
    * touched block is read and inflated EXACTLY ONCE (positioned read
    * through `fs`), no matter how many keys probe it — the whole join
    * reads summary + touched blocks, never untouched shards. One
    * shuffle (keys → blocks); misses vanish (inner-join semantics).
    * Scale: cost is O(keys · log blocks) search + O(touched blocks)
    * IO — a billion-key probe against a 100 TB collection touches at
    * most min(keys, blocks) blocks. */
  def zipnumJoin(keys: DataFrame, dir: String, keyCol: String = "urlkey",
                 fs: graft.FsIO = graft.FsIO.local): DataFrame = {
    val spark = keys.sparkSession
    val outSchema = StructType(Seq(
      StructField("urlkey", StringType), StructField("line", StringType)))
    val idxPath = fs.resolve(dir, "cluster.idx")
    if (!fs.exists(idxPath)) {
      requireNoOrphanManifest(dir, fs, "zipnumJoin")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    }
    val entries = new String(fs.read(idxPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty)
      .map { l =>
        val f = l.split("\t")
        (f(0).split(" ")(0), f(1), f(2).toLong, f(3).toInt)
      }
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val bEntries = spark.sparkContext.broadcast(entries)
    val ki = keys.schema.fieldIndex(keyCol)
    // Phase 1: key → candidate block indices (executor-side summary
    // search — the broadcast is the summary, not the data).
    val pairSchema = StructType(Seq(
      StructField("block", org.apache.spark.sql.types.IntegerType),
      StructField("urlkey", StringType)))
    val keyBlocks = keys.mapPartitions { it =>
      val es = bEntries.value
      it.flatMap { row =>
        val k = row.getString(ki)
        if (k == null) Iterator.empty
        else {
          var lo = 0
          var hi = es.length - 1
          while (lo < hi) {
            val mid = (lo + hi + 1) >>> 1
            if (utf8Less(es(mid)._1, k)) lo = mid else hi = mid - 1
          }
          Iterator.range(lo, es.length)
            .takeWhile(i => i == lo || es(i)._1 == k)
            .map(i => Row(i, k))
        }
      }
    }(Encoders.row(pairSchema))
    // Phase 2: group keys per block, read + inflate each block ONCE,
    // emit its matching lines.
    keyBlocks.groupBy(col("block"))
      .agg(collect_set(col("urlkey")).as("ks"))
      .mapPartitions { it =>
        val es = bEntries.value
        it.flatMap { row =>
          val (_, shard, off, len) = es(row.getInt(0))
          val probes = row.getAs[scala.collection.Seq[String]](1)
          val block =
            try Some(fs.readRange(fs.resolve(dir, shard), off, len))
            catch {
              case _: java.nio.file.NoSuchFileException => None
              case _: java.io.FileNotFoundException => None
            }
          block.flatMap(gunzip(_)).toSeq.flatMap { b =>
            val lines = new String(b,
              java.nio.charset.StandardCharsets.UTF_8)
              .split("\n").filter(_.nonEmpty)
            probes.flatMap { k =>
              lines.filter(_.startsWith(k + " ")).map(l => Row(k, l))
            }
          }.iterator
        }
      }(Encoders.row(outSchema))
  }

  // ---------------------------------------------------------------
  // INCREMENTAL EXPORT (r15 — r14 verdict #6): cross-export revisit
  // memory. `encodeResponses(withRevisits)` dedups payloads within ONE
  // call; a corpus ships in MANY — batch N+1 re-shipping payloads that
  // batch N's archives already hold as full response records defeats
  // the revisit mechanism exactly where it matters. The durable
  // digest→original table below (the [[graft.streaming.CrawlMedia]]
  // rep-store pattern, write-side) carries the memory across calls.

  /** One row per first-shipped payload digest: which (url, warc_date)
    * owns the content and which archive holds it. First-writer-wins
    * (later exports of the same digest never rename the original —
    * the naming-authority rule the media rep store established). */
  val RepSchema: StructType = StructType(Seq(
    StructField("digest", StringType), StructField("url", StringType),
    StructField("warc_date", StringType),
    StructField("archive", StringType)))

  /** Open (or resume) the durable cross-export rep store —
    * collapse-managed like every delta-keyed store. */
  def revisitStore(spark: org.apache.spark.sql.SparkSession,
                   storePath: String,
                   tableName: String = "warc_export_reps",
                   collapseEvery: Long = 16L): graft.store.ParquetStore =
    new graft.store.ParquetStore(spark, RepSchema, storePath, tableName,
      collapseKeys = Seq("digest"), collapseEvery = collapseEvery)

  /** One export CALL of an incremental corpus shipment: encode `rows`
    * with revisit detection against BOTH this call (the in-call
    * window) and every prior call (`repStore`), materialize the
    * archives into `outDir` ([[writeFiles]] — atomic per-file renames,
    * re-runs overwrite byte-identically), then record this call's NEW
    * digests as reps (first row per digest under the same total order
    * the window used; anti-joined so an existing digest is never
    * renamed). Returns files written.
    *
    * Ordering is load-bearing: reps append AFTER the archives land, so
    * a rep can never name a record that was never written. The crash
    * window between the two is at-least-once, not corrupting: a crash
    * before the rep append re-ships those payloads as full responses
    * on the retry (duplicate bytes, correct records), and the retry's
    * rep append converges. A crash-REPLAY of a completed call is
    * byte-stable: the stored originals re-emit as responses (url+date
    * match — [[encodeResponses]]' priorReps contract), in-call
    * duplicates re-emit as the same revisits, and [[writeFiles]]
    * replaces each file with identical bytes.
    *
    * Scale: adds ONE digest equi-join against the rep store (O(unique
    * payloads) rows, AQE picks the strategy); this call's rep rows ride
    * the encode pass itself as a narrow side channel
    * ([[encodeResponses]]' `emitReps` — the digest bytes are already
    * computed per record for `WARC-Payload-Digest`), so bodies are
    * read and hashed ONCE per call (r18, guide §8 — before this the
    * rep aggregation was a second full body scan + hash). `rows` must
    * still be DETERMINISTIC across evaluations for cross-call replay
    * byte-stability; the repo's fixtures read parquet, which is. */
  def exportIncremental(rows: DataFrame,
                        repStore: graft.store.ParquetStore,
                        outDir: String,
                        groupCol: String = "file_group",
                        urlCol: String = "url",
                        dateCol: String = "warc_date",
                        typeCol: String = "content_type",
                        bodyCol: String = "body",
                        gzipped: Boolean = true,
                        statusCol: String = null,
                        locationCol: String = null,
                        withCdx: Boolean = false,
                        cdxSurt: Boolean = false,
                        cdxCanon: Boolean = false,
                        fs: graft.FsIO = graft.FsIO.local): Long = {
    // The rep's FULL identity rides the join (url, date, AND archive —
    // advice r15): encodeResponses' self-exemption must match all
    // three, or a same-url-same-date twin bound for another archive
    // replays as a second full response.
    val prior = repStore.latestPerKey(Seq("digest"))
      .select(col("digest"), col("url"), col("warc_date"), col("archive"))
    // ONE pass over the bodies (r18, guide §8): the checkpoint below IS
    // the write action — every archive lands here — and it pins the
    // narrow per-file rep rows the encode loop emitted alongside
    // (`emitReps`), so the rep derivation never re-reads or re-hashes a
    // body. The emitted rows are exactly the old min-over-total-order
    // aggregation's output for digests the store doesn't hold: the
    // revisit window admits ONE response per digest (its first row in
    // the same total order), and the response rows a prior rep exempts
    // carry digests the anti-join below drops (spec-pinned: twins,
    // exact-duplicate rows, crash replay — WarcSpec).
    val written = writeFilesWithReps(
      encodeResponses(rows, groupCol, urlCol, dateCol,
        typeCol, bodyCol, gzipped, statusCol, locationCol,
        withRevisits = true, withCdx = withCdx, cdxSurt = cdxSurt,
        priorReps = prior, cdxCanon = cdxCanon, emitReps = true),
      outDir, fs).localCheckpoint(eager = true)
    val n = written.count()
    val fresh = written
      .select(explode(col("reps")).as("_r"))
      .select(col("_r.digest").as("digest"), col("_r.url").as("url"),
        col("_r.warc_date").as("warc_date"),
        col("_r.archive").as("archive"))
      .join(repStore.selectAll.select(col("digest")).distinct(),
        Seq("digest"), "left_anti")
      .persist()
    try {
      if (!fresh.isEmpty) { repStore.appendStreaming(fresh); () }
    } finally { fresh.unpersist(); () }
    n
  }
}
