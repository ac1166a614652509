package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-crawl ingestion front end — the stage BEFORE the `documents`
  * table exists: parse a crawl archive container into records, strip
  * the HTML down to text, drop boilerplate lines, and emit
  * documents-shaped (doc_id, url, text) rows for everything
  * downstream (quality gates, dedup, decontamination, packing).
  *
  * The container is a WARC-style headered, LENGTH-PREFIXED record
  * format ("GARC/1.0"): file magic, then per record a sentinel line,
  * `key: value` header lines (id / url / len), a blank line, exactly
  * `len` payload bytes, and a terminating newline. Parsing walks byte
  * positions using the DECLARED lengths — never by scanning payload
  * for delimiters — with the hand-rolled-codec discipline of
  * [[Multimodal.decodeAviFrames]]: every offset bounds-checked against
  * the buffer, caps on header size / payload size / record count, and
  * RESYNC-on-corruption (a malformed record advances to the next
  * sentinel occurrence, so one bad record never poisons the rest of
  * the segment — CrawlSpec corrupts archives byte-by-byte to pin
  * this). Because the walk is length-prefixed, a payload CONTAINING
  * the sentinel bytes parses as one intact record (spec-pinned) — the
  * property naive split-on-delimiter ingestion gets wrong.
  *
  * Reference note: the reference engine ingests plain newline text
  * only (/root/reference/src/mapreduce.cpp:19-29); this whole front
  * end is extension surface a pretraining pipeline needs.
  *
  * Scale shape: crawl corpora arrive as MANY segment files (classic
  * WARC rotation is ~1 GB per segment), and `binaryFile` rows
  * distribute one segment per task — parallelism is the segment
  * count, the standard model for WARC processing. The parse is one
  * forward pass with O(1) state per record; parse and HTML-strip run
  * in the SAME narrow stage (no shuffle ever carries raw payload
  * bytes — the only exchange in the registered query is the final
  * presentation sort). The HTML→text strip is pure codegen'd column
  * expressions (regexp_replace / replace / filter / transform), no
  * UDF. At 100 TB nothing changes: more segments, same per-segment
  * walk, same narrow extraction.
  *
  * The fixture WRITER ([[writeArchives]]) is test plumbing on the
  * q_csv_roundtrip pattern (write the fixture from the current dir's
  * table, read it back through both engines): it builds a bounded
  * archive set from the `documents` table driver-side — in production
  * the archives already exist, written by the crawler; the engine
  * surface is the reader. Payloads are sanitized to printable ASCII
  * at write time so the DuckDB oracle's 1-based CHARACTER arithmetic
  * over `read_text` equals the engine's BYTE arithmetic — the oracle
  * replays the exact length-prefixed framing with a recursive
  * position-walk CTE, not a delimiter split.
  */
object Crawl {

  // ---- container grammar ----
  val FileMagic = "GARC/1.0\n"
  val Sentinel = "--GARC-REC--\n"
  val MaxRecordsPerFile: Int = 1 << 20
  val MaxPayloadBytes: Int = 64 << 20
  val MaxHeaderBytes: Int = 4096

  /** Loud cap on one segment's RAW bytes: the parsers materialize one
    * whole segment as `Array[Byte]` per task (the standard model —
    * crawlers rotate segments at ~1 GB, so one segment is one task's
    * working set). An unsplittable over-rotated segment must fail
    * LOUDLY here, not OOM an executor mid-shuffle; the fix is on the
    * producer side (rotate smaller segments), so the guard names it. */
  val MaxSegmentBytes: Int = 1 << 30

  /** Loud cap on a gz segment's DECOMPRESSED bytes (the gzip-bomb /
    * over-rotation guard for [[gunzipMembers]]): the decompressed
    * stream must also fit one task's array. Real WARC rotation (~1 GB
    * compressed, ~3-4x inflation) sits under this only when segments
    * are rotated on UNCOMPRESSED size too — the guard message says so
    * instead of letting the copy loop exhaust the heap. */
  val MaxInflatedBytes: Int = Int.MaxValue - 64

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8
  private val MagicBytes = FileMagic.getBytes(Ascii)
  private val SentinelBytes = Sentinel.getBytes(Ascii)

  /** `cap` is a test seam (specs pin the loud failure without
    * allocating gigabyte arrays); every production call site uses the
    * [[MaxSegmentBytes]] default. */
  private[operators] def guardSegmentSize(n: Int,
      cap: Int = MaxSegmentBytes): Unit =
    require(n <= cap,
      s"crawl segment is $n bytes, over the $cap-byte " +
        "per-task cap — rotate smaller segments at the crawler " +
        "(standard WARC rotation is ~1 GB)")

  /** Serialize records into one archive segment (the writer the spec
    * and fixture share; production archives come from the crawler). */
  def encodeArchive(records: Seq[(Long, String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(MagicBytes)
    records.foreach { case (id, url, payload) =>
      val body = payload.getBytes(Utf8)
      out.write(SentinelBytes)
      out.write(s"id: $id\nurl: $url\nlen: ${body.length}\n\n".getBytes(Ascii))
      out.write(body)
      out.write('\n')
    }
    out.toByteArray
  }

  /** Walk one archive segment; emit (rec_id, url, payload) for every
    * well-formed record, resyncing past malformed ones. Never throws
    * on hostile bytes: every read is bounds-checked, lengths are
    * capped, and a record is accepted only if its declared payload
    * ends exactly on a record boundary (terminating newline or EOF) —
    * a lying `len` that lands mid-text fails that check and the
    * parser rescans for the next sentinel. */
  def parseArchive(bytes: Array[Byte]): Seq[(Long, String, String)] = {
    guardSegmentSize(bytes.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def startsWith(at: Int, pat: Array[Byte]): Boolean =
      at >= 0 && at + pat.length <= bytes.length && {
        var i = 0
        while (i < pat.length && bytes(at + i) == pat(i)) i += 1
        i == pat.length
      }
    def nextSentinel(from: Int): Int = {
      var i = math.max(from, 0)
      while (i + SentinelBytes.length <= bytes.length &&
          !startsWith(i, SentinelBytes)) i += 1
      if (i + SentinelBytes.length <= bytes.length) i else bytes.length
    }
    if (!startsWith(0, MagicBytes)) return out.toSeq
    var pos = MagicBytes.length
    while (pos < bytes.length && out.size < MaxRecordsPerFile) {
      if (!startsWith(pos, SentinelBytes)) pos = nextSentinel(pos + 1)
      else {
        val hs = pos + SentinelBytes.length
        // blank line ("\n\n") within the header cap ends the headers
        var blank = -1
        var i = hs
        val lim = math.min(bytes.length - 1, hs + MaxHeaderBytes)
        while (blank < 0 && i < lim) {
          if (bytes(i) == '\n' && bytes(i + 1) == '\n') blank = i else i += 1
        }
        val parsed = if (blank < 0) None else {
          val hdrText = new String(bytes, hs, blank - hs, Utf8)
          // a header block running INTO the next record's sentinel is
          // a malformed record (its own blank line never came) — treat
          // as corrupt so resync restarts at that embedded sentinel
          // instead of silently merging two records' headers
          if (hdrText.contains(Sentinel.stripLineEnd)) None else {
          val kv = hdrText.split("\n")
            .iterator.flatMap { line =>
              val j = line.indexOf(": ")
              if (j > 0) Some(line.substring(0, j) -> line.substring(j + 2))
              else None
            }.toMap
          def num(key: String, maxDigits: Int): Option[Long] =
            kv.get(key).filter(s => s.nonEmpty && s.length <= maxDigits &&
              s.forall(_.isDigit)).map(_.toLong)
          val ps = blank + 2
          (num("id", 18), kv.get("url").filter(_.nonEmpty),
            num("len", 9)) match {
            case (Some(id), Some(url), Some(len))
                if len <= MaxPayloadBytes && ps + len <= bytes.length &&
                  (ps + len == bytes.length || bytes(ps + len.toInt) == '\n') =>
              Some((id, url,
                new String(bytes, ps, len.toInt, Utf8), ps + len.toInt + 1))
            case _ => None
          }
          }
        }
        parsed match {
          case Some((id, url, payload, next)) =>
            out += ((id, url, payload)); pos = next
          case None => pos = nextSentinel(pos + 1)
        }
      }
    }
    out.toSeq
  }

  /** The transformation half of [[parseArchives]]: any frame with a
    * binary `content` column — batch OR STREAMING — to typed record
    * rows. Stateless per segment, so the identical narrow plan serves
    * the continuous-ingestion form
    * ([[graft.streaming.StreamOps.crawlIngestStream]]). */
  def extractFromSegments(segments: DataFrame): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select(col("content")).as[Array[Byte]]
      .flatMap(parseArchive _)
      .toDF("doc_id", "url", "html")
  }

  /** One segment file per task → typed record rows: the
    * [[Multimodal.sampleAviFrames]] demux shape (one row in, many
    * typed rows out, partition-parallel, no driver involvement). */
  def parseArchives(s: SparkSession, glob: String): DataFrame =
    extractFromSegments(s.read.format("binaryFile").load(glob))

  // ---- REAL WARC/1.0: gzip-compressed, WARC-grammar segments (the
  //      CommonCrawl layout) ----

  /** WARC/1.0 record grammar, per the ISO 28500 family as CommonCrawl
    * ships it: version line `WARC/1.0\r\n`, `Name: value\r\n` header
    * lines, a blank `\r\n`, exactly `Content-Length` payload bytes,
    * then the `\r\n\r\n` record separator. `WARC-Type: response`
    * records wrap a full HTTP response (status line + HTTP headers +
    * `\r\n\r\n` + body); warcinfo/request/metadata records interleave
    * and must be filtered out by type, not position. */
  val WarcVersion = "WARC/1.0\r\n"
  private val WarcVersionBytes = WarcVersion.getBytes(Ascii)
  private val CrlfCrlfBytes = "\r\n\r\n".getBytes(Ascii)

  /** `sha1:BASE32` of a payload block — the `WARC-Block-Digest` value
    * grammar CommonCrawl writes (RFC 4648 base32, SHA-1 over the
    * record's content block). */
  def warcBlockDigest(payload: Array[Byte], from: Int, len: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(payload, from, len)
    val d = md.digest()
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(32)
    var acc = 0L
    var bits = 0
    var i = 0
    while (i < d.length) {
      acc = (acc << 8) | (d(i) & 0xffL)
      bits += 8
      while (bits >= 5) {
        sb.append(alpha(((acc >> (bits - 5)) & 31L).toInt))
        bits -= 5
      }
      i += 1
    }
    if (bits > 0) sb.append(alpha(((acc << (5 - bits)) & 31L).toInt))
    s"sha1:${sb.toString}"
  }

  /** Decompress a multi-member gzip segment — CommonCrawl writes ONE
    * gzip member PER RECORD and concatenates them, so a whole segment
    * decompresses in one pass and any record boundary is also a
    * member boundary. The walk is MEMBER-AT-A-TIME with each member's
    * output held back until its own CRC32 + ISIZE trailer verifies:
    * a bit-flipped member is therefore dropped WHOLE — never streamed
    * through garbled for the grammar walk to misparse (a plain
    * GZIPInputStream pass has exactly that leak: deflate happily
    * inflates flipped bytes and the CRC only trips after they're
    * out — CrawlSpec pins the difference). Decompression stops at the
    * first damaged or truncated member: deflate carries no sync
    * points, so the tail of a damaged segment is lost by construction
    * (every real WARC reader shares this; record-level
    * WARC-Block-Digest re-verification is the layer above).
    * Grammar-level corruption INSIDE CRC-clean members is the WARC
    * walk's resync job, one layer up. Never throws on hostile bytes;
    * the only loud exits are the segment-size guards. */
  def gunzipMembers(bytes: Array[Byte],
      maxInflated: Long = MaxInflatedBytes): Array[Byte] = {
    guardSegmentSize(bytes.length)
    val len = bytes.length
    def u32le(at: Int): Long =
      (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
        ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
    val out = new java.io.ByteArrayOutputStream(
      math.min(bytes.length.toLong * 4L, 1L << 20).toInt)
    var pos = 0
    var halt = false
    while (!halt && pos + 10 <= len) {
      // RFC 1952 member header: magic 1f 8b, CM=deflate, FLG, then
      // optional FEXTRA/FNAME/FCOMMENT/FHCRC fields
      if (bytes(pos) != 0x1f.toByte || bytes(pos + 1) != 0x8b.toByte ||
          bytes(pos + 2) != 8.toByte) halt = true
      else {
        val flg = bytes(pos + 3)
        var p = pos + 10
        if ((flg & 4) != 0) {
          if (p + 2 > len) { halt = true; p = len }
          else p += 2 + ((bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8))
        }
        if (!halt && (flg & 8) != 0) {
          while (p < len && bytes(p) != 0) p += 1
          p += 1
        }
        if (!halt && (flg & 16) != 0) {
          while (p < len && bytes(p) != 0) p += 1
          p += 1
        }
        if (!halt && (flg & 2) != 0) p += 2
        if (halt || p >= len) halt = true
        else {
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(bytes, p, len - p)
            val member = new java.io.ByteArrayOutputStream()
            val crc = new java.util.zip.CRC32()
            val buf = new Array[Byte](64 << 10)
            var memberOk = true
            try {
              while (memberOk && !inf.finished()) {
                val n = inf.inflate(buf)
                if (n > 0) {
                  require(out.size().toLong + member.size() + n
                      <= maxInflated,
                    s"gz crawl segment inflates past $maxInflated " +
                      "bytes per task — rotate segments on " +
                      "UNCOMPRESSED size at the crawler (or this is " +
                      "a gzip bomb)")
                  member.write(buf, 0, n)
                  crc.update(buf, 0, n)
                } else if (inf.needsInput() || inf.needsDictionary())
                  memberOk = false // truncated deflate stream
              }
            } catch {
              case _: java.util.zip.DataFormatException => memberOk = false
            }
            val trailerAt = p + inf.getBytesRead.toInt
            if (memberOk && inf.finished() && trailerAt + 8 <= len &&
                u32le(trailerAt) == crc.getValue &&
                u32le(trailerAt + 4) ==
                  (member.size().toLong & 0xffffffffL)) {
              member.writeTo(out)
              pos = trailerAt + 8
            } else halt = true // damaged/truncated member: drop whole
          } finally inf.end()
        }
      }
    }
    out.toByteArray
  }

  /** Walk one DECOMPRESSED WARC/1.0 segment; emit (uri, html_body)
    * for every well-formed `WARC-Type: response` record, resyncing
    * past malformed ones. The same length-prefixed discipline as
    * [[parseArchive]]: positions advance by the DECLARED
    * Content-Length — never by scanning payload for delimiters — so a
    * payload containing the version string parses as one intact
    * record; every read is bounds-checked; a record is accepted only
    * if its declared payload ends exactly on the `\r\n\r\n` record
    * separator (or EOF), and a lying length fails that check and
    * rescans for the next version line. The HTTP header block inside
    * a response payload is skipped up to its own first `\r\n\r\n`; a
    * response payload with no HTTP break is malformed HTTP and yields
    * no row (the WARC walk itself continues normally — its framing
    * was valid). Never throws on hostile bytes. */
  def parseWarc(bytes: Array[Byte]): Seq[(String, String)] =
    parseWarcRecords(bytes, wantType = "response", skipHttp = true)

  /** The general form of [[parseWarc]]: keep `wantType` records; with
    * `skipHttp` the payload is treated as a wrapped HTTP message and
    * everything up to its first `\r\n\r\n` is dropped (the `response`
    * contract), without it the whole payload block IS the content
    * (the `conversion` contract — WET records carry bare text). The
    * walk, bounds checks, resync, and WARC-Block-Digest gate are
    * identical for every record type. */
  def parseWarcRecords(bytes: Array[Byte], wantType: String,
      skipHttp: Boolean): Seq[(String, String)] = {
    guardSegmentSize(bytes.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def startsWith(at: Int, pat: Array[Byte]): Boolean =
      at >= 0 && at + pat.length <= bytes.length && {
        var i = 0
        while (i < pat.length && bytes(at + i) == pat(i)) i += 1
        i == pat.length
      }
    def nextVersion(from: Int): Int = {
      var i = math.max(from, 0)
      while (i + WarcVersionBytes.length <= bytes.length &&
          !startsWith(i, WarcVersionBytes)) i += 1
      if (i + WarcVersionBytes.length <= bytes.length) i else bytes.length
    }
    if (!startsWith(0, WarcVersionBytes)) return out.toSeq
    var pos = 0
    var nRecs = 0
    while (pos < bytes.length && nRecs < MaxRecordsPerFile) {
      if (!startsWith(pos, WarcVersionBytes)) pos = nextVersion(pos + 1)
      else {
        nRecs += 1
        val hs = pos + WarcVersionBytes.length
        // blank line (\r\n\r\n) within the header cap ends the headers
        var blank = -1
        var i = hs
        val lim = math.min(bytes.length - 3, hs + MaxHeaderBytes)
        while (blank < 0 && i < lim) {
          if (startsWith(i, CrlfCrlfBytes)) blank = i else i += 1
        }
        val parsed = if (blank < 0) None else {
          val hdrText = new String(bytes, hs, blank - hs, Utf8)
          // a header block running INTO the next record's version line
          // means this record's own blank line never came — corrupt;
          // resync restarts at that embedded version line
          if (hdrText.contains(WarcVersion.stripLineEnd)) None else {
            val kv = hdrText.split("\r\n")
              .iterator.flatMap { line =>
                val j = line.indexOf(": ")
                if (j > 0) Some(line.substring(0, j) -> line.substring(j + 2))
                else None
              }.toMap
            val len = kv.get("Content-Length")
              .filter(s => s.nonEmpty && s.length <= 9 &&
                s.forall(_.isDigit)).map(_.toInt)
              .filter(_ <= MaxPayloadBytes)
            val ps = blank + 4
            len match {
              case Some(l) if ps + l <= bytes.length &&
                  (ps + l == bytes.length ||
                    startsWith(ps + l, CrlfCrlfBytes)) =>
                Some((kv, ps, l, ps + l + 4))
              case _ => None
            }
          }
        }
        parsed match {
          case Some((kv, ps, l, next)) =>
            // type filter FIRST (r12 advice): a CommonCrawl-layout
            // segment interleaves warcinfo/request/metadata records
            // with the wanted ones — sha1-hashing payloads that are
            // about to be discarded roughly tripled digest work per
            // kept record
            val isWanted = kv.get("WARC-Type").contains(wantType)
            // record-level integrity, the layer ABOVE the gzip member
            // CRC: a present sha1 WARC-Block-Digest must match the
            // payload block or the record is dropped (the walk
            // continues — its framing was consistent); digests in
            // other algorithms pass through unverified
            val digestOk = isWanted &&
              kv.get("WARC-Block-Digest").forall(d =>
                !d.startsWith("sha1:") || d == warcBlockDigest(bytes, ps, l))
            if (digestOk) {
              kv.get("WARC-Target-URI").filter(_.nonEmpty).foreach { uri =>
                if (skipHttp) {
                  // skip the wrapped HTTP response's own header block
                  var j = ps
                  val plim = ps + l - 3
                  var break = -1
                  while (break < 0 && j < plim) {
                    if (startsWith(j, CrlfCrlfBytes)) break = j else j += 1
                  }
                  if (break >= 0) {
                    val bs = break + 4
                    out += ((uri, new String(bytes, bs, ps + l - bs, Utf8)))
                  }
                } else out += ((uri, new String(bytes, ps, l, Utf8)))
              }
            }
            pos = next
          case None => pos = nextVersion(pos + 1)
        }
      }
    }
    out.toSeq
  }

  /** The transformation half of the gz-WARC path — any frame with a
    * binary `content` column, batch OR STREAMING, to (url, html)
    * response rows: gunzip (member CRC gate) + grammar walk + digest
    * check + HTTP skip in one narrow stage ([[extractFromSegments]]'s
    * role for the real-WARC grammar). */
  def extractWarcFromSegments(segments: DataFrame): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select(col("content")).as[Array[Byte]]
      .flatMap(b => parseWarc(gunzipMembers(b)))
      .toDF("url", "html")
  }

  /** One gz WARC segment per task → (url, html) rows for the response
    * records — no shuffle ever carries raw bytes. */
  def parseWarcSegments(s: SparkSession, glob: String): DataFrame =
    extractWarcFromSegments(s.read.format("binaryFile").load(glob))

  /** (url, html) response rows → documents-shaped (doc_id, url,
    * n_html, text): doc_id parsed off the crawler's `/doc/<id>` URL
    * convention (a production ingest assigns monotone ids here — the
    * incremental-dedup ordering contract), then the shared HTML→text
    * strip. Used identically by the batch query and the streaming
    * ingestion form, so their plans share one narrow stage. */
  def warcDocs(recs: DataFrame): DataFrame =
    extractText(recs.select(
      regexp_extract(col("url"), "/doc/([0-9]+)$", 1)
        .cast("long").as("doc_id"),
      col("url"), col("html")))

  // ---- HTML → text: both engines run THESE patterns (RE2-safe: no
  //      backreferences, non-greedy supported by both Java regex and
  //      DuckDB's RE2) ----
  private val ScriptRe = "(?s)<script[^>]*>.*?</script>"
  private val StyleRe = "(?s)<style[^>]*>.*?</style>"
  private val CommentRe = "(?s)<!--.*?-->"
  private val TagRe = "<[^>]*>"
  /** A content line must carry at least this many purely-alphabetic
    * words to survive the boilerplate drop (nav bars, "Copyright
    * 2026", bare headings all fall below it). */
  val MinContentWords = 4

  /** html column → cleaned text column. Order matters and is the
    * contract: (1) script/style/comment BLOCKS out first (their
    * bodies contain `<`, quotes, even `</hi>` close-tags that would
    * derail a bare tag strip), (2) tags → space, (3) entity decode
    * AFTER tag strip (`&lt;raw&gt;` must surface as literal text, not
    * get stripped as a tag) with `&amp;` decoded LAST (so `&amp;lt;`
    * yields the literal string `&lt;`, the HTML spec's double-escape
    * semantics), (4) per-LINE whitespace collapse + boilerplate drop:
    * keep lines with ≥ [[MinContentWords]] alphabetic words. */
  def htmlToText(html: Column): Column = {
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(html,
      ScriptRe, " "), StyleRe, " "), CommentRe, " ")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = replace(replace(replace(replace(replace(noTags,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    val lines = transform(split(decoded, "\n"),
      l => trim(regexp_replace(l, "\\s+", " ")))
    val kept = filter(lines, l =>
      size(filter(split(l, " "), w => w.rlike("^[A-Za-z]+$")))
        >= lit(MinContentWords))
    array_join(kept, " ")
  }

  /** (doc_id, url, html) → (doc_id, url, n_html, text): the full
    * extraction, pure column expressions in one narrow stage. */
  def extractText(parsed: DataFrame): DataFrame =
    parsed.select(col("doc_id"), col("url"),
      length(col("html")).cast("long").as("n_html"),
      htmlToText(col("html")).as("text"))

  // ---- URL canonicalization: the FIRST dedup layer of crawl prep
  //      (a crawler sees the same page under many spellings long
  //      before content dedup can) ----

  /** Query parameters that never change the page: the tracking names
    * both engines drop, as one anchored pattern (`p` is one
    * `name[=value]` token). */
  private val TrackingParamRe = "^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=|$)"

  /** Canonical spelling of an absolute http(s) URL — the contract
    * (each rule is individually spec-pinned, and the whole map is
    * IDEMPOTENT, property-tested):
    *
    *   1. the fragment goes (`#...` is client-side only);
    *   2. scheme and host are case-folded (RFC 3986 §6.2.2.1 — the
    *      PATH is case-sensitive and is NOT folded);
    *   3. a default port is dropped (`:80` on http, `:443` on https;
    *      any other explicit port is meaningful and kept);
    *   4. trailing `/` runs are stripped from the path, and an empty
    *      path becomes `/` (so `…org`, `…org/`, `…org//` agree);
    *   5. tracking query parameters ([[TrackingParamRe]]: `utm_*`,
    *      `fbclid`, `gclid`) are dropped; surviving parameters keep
    *      their original ORDER (reordering `?a=1&b=2` is not safe in
    *      general — servers may care), and a query left empty drops
    *      its `?`.
    *
    * Anything that is not an absolute http(s) URL fails LOUDLY in
    * both engines (Spark `raise_error` in the CASE's else branch;
    * the mirror's `error()`) — canonical identity for relative or
    * exotic-scheme strings would silently merge distinct pages. A
    * URL with a USERINFO component (`user@host`) is also routed to
    * the loud branch (r12 advice): RFC 3986 §6.2.2.1 case-folds only
    * scheme and host, but the authority grab here would fold the
    * userinfo too, silently merging `User@h` with `user@h` —
    * credential-bearing URLs are out of a crawl canonicalizer's
    * scope, so they refuse rather than mis-fold.
    * Pure codegen'd column expressions; at 100 TB this is a narrow
    * per-row projection feeding one map-side-combinable aggregate. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val scheme =
      lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport =
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(regexp_replace(hostport, ":443$", ""))
    val rest =
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)", 1)
    val path0 = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(rest, "^[^?]*\\?(.*)", 1)
    val keptQuery = array_join(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)), "&")
    when((scheme === "http" || scheme === "https") &&
        length(hostport) > 0 && !hostport.contains("@"),
      concat(scheme, lit("://"), host, path,
        when(keptQuery === "", lit("")).otherwise(concat(lit("?"), keptQuery))))
      .otherwise(raise_error(concat(
        lit("canonicalizeUrl: absolute http(s) URL without userinfo " +
          "required, got: "), u)))
  }

  /** Keeper RECORDS under URL canonicalization: one row per canonical
    * URL — the record with the smallest doc_id — with its payload
    * intact. Slim-key discipline (the crawl module's "no shuffle ever
    * carries payload bytes" contract): the group shuffles only
    * (canon_url, doc_id); keepers join back to the record set on the
    * UNIQUE record id, `shuffle_hash`-pinned because at corpus scale
    * the keeper side is corpus-sized (never a broadcast candidate)
    * and the pin keeps the spec-scale plan deterministic under AQE
    * (the bigramLogprob precedent). Callers checkpoint `recs` once
    * (the single-parse discipline) so the walk never re-runs. */
  def urlKeeperRecords(recs: DataFrame): DataFrame = {
    val keepers = recs
      .select(canonicalizeUrl(col("url")).as("canon_url"), col("doc_id"))
      .groupBy("canon_url").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    recs.join(keepers.hint("shuffle_hash"), Seq("doc_id"))
  }

  // ---- domain/host gate: the UT1/CCNet blocklist stage every
  //      production crawl pipeline runs immediately after URL dedup
  //      (block known-bad hosts and whole domains BEFORE paying for
  //      content extraction; an allowlist overrides both) ----

  /** Host of a CANONICAL url for POLICY purposes: the authority with
    * any explicit port dropped (a blocklist names hosts, not ports —
    * `evil.example:8080` and `evil.example` are the same policy
    * target). [[canonicalizeUrl]] already lower-cased it, stripped
    * default ports, and REJECTED userinfo loudly (`user@host` never
    * reaches here). Bracket-aware (r15 advice): the host is taken as
    * the whole `[...]` literal when the authority is an IPv6 bracket
    * form — `[2001:db8::1]:8080` → `[2001:db8::1]` — so a colon
    * inside the address is never mistaken for a port; a reg-name host
    * is everything before its first colon. */
  def canonicalHost(canonUrl: Column): Column =
    regexp_extract(regexp_extract(canonUrl, "://([^/?#]+)", 1),
      "^(\\[[^\\]]*\\]|[^:]*)", 1)

  /** The registered queries' domain POLICY (the UT1-style curated
    * lists, one entry per rule class so the fixture keeps every rule
    * load-bearing):
    *   - `malware.badhost.example` — exact-host block;
    *   - domain `tracker.net` — blocks the apex AND every subdomain
    *     (`cdn.tracker.net`), but NOT the anchoring near-miss
    *     `xtracker.net` (ends with `tracker.net`, not `.tracker.net`);
    *   - `research.tracker.net` — allowlisted, and ALSO on the
    *     blocked-host list: the allow override must beat both block
    *     forms (UT1 semantics — a curated exception outranks the bulk
    *     lists). */
  val BlockedHosts: Seq[String] =
    Seq("malware.badhost.example", "research.tracker.net")
  val BlockedDomains: Seq[String] = Seq("tracker.net")
  val AllowedHosts: Seq[String] = Seq("research.tracker.net")

  /** Per-HOST policy verdicts: `hosts` (host, n_docs — the host plane,
    * vastly smaller than the corpus) gains `verdict` ∈ allowed |
    * blocked_host | blocked_domain | kept. Allow wins over BOTH block
    * forms; a domain entry `d` blocks host = d and host ending
    * `.d` — matched as an EQUIJOIN against the host's dot-suffix set
    * (≤ label-count entries per host, exploded), never a per-rule
    * regex scan, so a UT1-scale list (millions of rows) stays one
    * broadcast hash probe per suffix. The policy tables are bounded
    * curated metadata — the broadcast never outgrows the driver;
    * the suffix hit-set joins back host-to-host (unique keys,
    * unskewed, `shuffle_hash`-pinned for plan determinism). */
  def domainVerdicts(hosts: DataFrame, blockedHosts: DataFrame,
      blockedDomains: DataFrame, allowedHosts: DataFrame): DataFrame = {
    val withSfx = hosts
      .withColumn("__labels", split(col("host"), "\\."))
      .withColumn("__sfx", expr(
        "transform(sequence(0, size(__labels) - 1), " +
          "i -> array_join(slice(__labels, i + 1, size(__labels) - i), " +
          "'.'))"))
    val domHit = withSfx
      .select(col("host"), explode(col("__sfx")).as("domain"))
      .join(broadcast(blockedDomains.select("domain")), Seq("domain"),
        "left_semi")
      .select("host").distinct()
      .withColumn("__bd", lit(true))
    withSfx
      .join(broadcast(allowedHosts.select(col("host"),
        lit(true).as("__ah"))), Seq("host"), "left")
      .join(broadcast(blockedHosts.select(col("host"),
        lit(true).as("__bh"))), Seq("host"), "left")
      .join(domHit.hint("shuffle_hash"), Seq("host"), "left")
      .withColumn("verdict",
        when(col("__ah").isNotNull, lit("allowed"))
          .when(col("__bh").isNotNull, lit("blocked_host"))
          .when(col("__bd").isNotNull, lit("blocked_domain"))
          .otherwise(lit("kept")))
      .drop("__ah", "__bh", "__bd", "__labels", "__sfx")
  }

  /** The domain gate's three policy tables as one value — the
    * continuous prepare threads it through as a unit. */
  final case class DomainPolicy(blockedHosts: DataFrame,
      blockedDomains: DataFrame, allowedHosts: DataFrame)

  /** The registered policy Seqs ([[BlockedHosts]] etc.) as frames. */
  def defaultPolicy(s: SparkSession): DomainPolicy = {
    import s.implicits._
    DomainPolicy(BlockedHosts.toDF("host"),
      BlockedDomains.toDF("domain"), AllowedHosts.toDF("host"))
  }

  /** [[domainGate]] over a bundled [[DomainPolicy]]. */
  def domainGate(docs: DataFrame, urlCol: String,
      policy: DomainPolicy): DataFrame =
    domainGate(docs, urlCol, policy.blockedHosts,
      policy.blockedDomains, policy.allowedHosts)

  /** GATE a record frame (any frame with `urlCol`) under the domain
    * policy: keep rows whose canonical host's verdict is kept or
    * allowed. Policy runs on the HOST plane ([[domainVerdicts]]);
    * the only corpus-scale work is one host aggregate (map-side
    * combined) and the keep-set attach back — [[Skew.hotSaltedJoin]]
    * on the Zipf `host` key (a big host dominates a crawl the way a
    * stopword dominates a token stream; the hot set is the
    * self-scaling cutoff over the host counts the gate already
    * computed). Result columns = the input's, gated. */
  def domainGate(docs: DataFrame, urlCol: String,
      blockedHosts: DataFrame, blockedDomains: DataFrame,
      allowedHosts: DataFrame): DataFrame = {
    val withHost = docs.withColumn("host",
      canonicalHost(canonicalizeUrl(col(urlCol))))
    // host-plane aggregate, checkpointed (r15 advice): three consumers
    // (the verdict keep-set, the hot head's total, the head itself)
    // read it — without the pin each re-ran the corpus aggregate
    val hc = withHost.groupBy("host")
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val keep = domainVerdicts(hc, blockedHosts, blockedDomains,
        allowedHosts)
      .where(col("verdict").isin("kept", "allowed"))
      .select("host")
    val hot = Skew.hotKeysByCount(hc, "host", "n_docs")
    Skew.hotSaltedJoin(withHost, keep, "host", hot, col("doc_id"))
      .drop("host")
  }

  // ---- fixture ----

  /** Absolute fixture root, embedded verbatim in the oracle SQL (the
    * [[Sources.FixtureRoot]] static-path discipline). */
  val FixtureRoot: String = s"${Sources.FixtureRoot}/crawl_garc"
  /** Archive segments per fixture root. One segment = one parse task
    * ([[parseArchives]] is file-parallel, like every real WARC
    * reader), so this bounds the walk/demux parallelism of every
    * archive-fed query: 4 serialized the gunzip + grammar walk + media
    * decode on a 32-core box (measured: the r18 suite's archive
    * queries showed zero 8→32-core scaling). 32 matches production
    * shape — crawlers rotate thousands of small segments, never 4
    * giant ones. Record→segment assignment (doc_id % n) is invisible
    * to every output: no reader exposes file names, the oracle reads
    * the same bytes by glob, and record sets are compared sorted. */
  private[operators] val FixtureFiles = 32

  /** Deterministic HTML page around a document's text: head noise
    * (title/style/script), nav + heading + footer boilerplate, a
    * comment, one entity-bearing content line, one DIGIT-bearing
    * content line (r15 — a NANP phone, a dotted-quad IPv4, and the
    * version-string near-miss `v2.10.3` that must SURVIVE redaction;
    * the synthetic corpus is digit-free, so this line is what makes
    * the IP/phone scrub classes oracle-load-bearing through every
    * composed crawl prepare: both engines parse the same bytes and
    * replay the same generated redaction chain), then the text in
    * 12-word `<p>` lines. Every strip rule above has a target here.
    * The digit line's alpha-word count clears BOTH survival rules:
    * ≥ [[MinContentWords]] purely-alpha words at extraction, and
    * post-redaction ≥ 80% letter-bearing words at the scrub. */
  def wrapHtml(id: Long, text: String): String = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    val paras = words.grouped(12)
      .map(c => s"<p>${c.mkString(" ")}</p>").mkString("\n")
    s"""<html>
       |<head><title>Doc $id</title>
       |<style>body { color: #000; } .nav { display: none; }</style>
       |<script>var x = 1 < 2; var s = "</hi>"; if (x) { go(s); }</script>
       |</head>
       |<body>
       |<nav>Home | About | Contact</nav>
       |<h1>Document $id</h1>
       |<!-- crawl metadata: fetched by graftbot -->
       |<p>alpha beta gamma delta &amp; epsilon &lt;raw&gt; zeta</p>
       |<p>dial 415-555-2671 or ping 10.0.0.1 build v2.10.3 ok</p>
       |$paras
       |<div class="footer">Copyright 2026 example.org</div>
       |</body></html>""".stripMargin
  }

  /** Write the current dir's documents as [[FixtureFiles]] archive
    * segments (doc_id % n → segment, ascending within). Driver-side
    * BY DESIGN: this is the fixture writer standing in for the
    * crawler (q_csv_roundtrip's role), not an engine operator — the
    * engine surface under test is the reader. Text is sanitized to
    * printable ASCII so oracle character positions == byte offsets. */
  def writeArchives(s: SparkSession, dir: String): Unit =
    writeArchivesWith(s, dir, FixtureRoot) { (id, ascii) =>
      wrapHtml(id, ascii)
    }

  /** Fixture writes are PURE functions of the dir's documents table,
    * so each root writes ONCE per JVM per source table (the
    * [[graft.operators.Layout]] written-fixture discipline): Bench
    * re-invokes query closures on every timed pass, and at sf0.1 the
    * video fixture alone is ~900 MB of hex per write — rewriting
    * identical bytes six times was the single largest line of the
    * first r13 sweep (107 s). The memo tracks what is currently ON
    * DISK per root (root → source fingerprint), NOT a grow-only
    * (root, fingerprint) set: all dirs share one physical root per
    * fixture family, so after querying dir A, then dir B (which
    * overwrites the root), dir A must rewrite — a set would remember
    * A's old key and silently serve B's archive bytes to A's query.
    * A table regenerated on disk gets a fresh fingerprint and
    * rewrites identically. */
  private val writtenFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def writeOnce(rootDir: String, dir: String)(
      write: => Unit): Unit = {
    val fp = Tables.fingerprint(dir, "documents")
    // compute-if-stale, atomic per root: the write runs inside the
    // mapping function so a concurrent second caller blocks until the
    // bytes are on disk rather than reading a half-written root
    writtenFixtures.compute(rootDir, (_, prev) => {
      if (prev != fp) write
      fp
    })
  }

  /** Shared fixture writer: one archive set under `root`, payload per
    * doc from `payloadOf(doc_id, asciiText)`. Bounded driver-side
    * loop over the doc-count rows (the crawler stand-in, not an
    * engine data path). */
  private def writeArchivesWith(s: SparkSession, dir: String,
      rootDir: String)(payloadOf: (Long, String) => String): Unit =
    writeOnce(rootDir, dir) {
      writeArchivesWithNow(s, dir, rootDir)(payloadOf)
    }

  /** Create `rootDir` and delete its `part<N><ext>` segments for each
    * of `exts`, so a rewrite leaves exactly the segments it writes: a
    * stale segment from an earlier, wider layout would otherwise be
    * read by both the reader and the glob-based oracle. Other files are
    * not ours to delete (the [[isOwnShard]] rule). */
  private def clearedSegmentRoot(rootDir: String,
      exts: String*): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(rootDir)
    java.nio.file.Files.createDirectories(root)
    val own = exts.map(e =>
      s"part\\d+${java.util.regex.Pattern.quote(e)}".r)
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && own.exists(_.matches(f.getName)))
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    root
  }

  private[operators] def writeArchivesWithNow(s: SparkSession,
      dir: String, rootDir: String)(
      payloadOf: (Long, String) => String): Unit = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
    val root = clearedSegmentRoot(rootDir, ".garc")
    (0 until FixtureFiles).foreach { f =>
      val recs = rows.iterator
        .filter(_.getLong(0) % FixtureFiles == f)
        .map { r =>
          val id = r.getLong(0)
          val ascii = r.getString(1).replaceAll("[^\\x20-\\x7e]", "")
          (id, s"https://${r.getString(2)}.example.org/doc/$id",
            payloadOf(id, ascii))
        }.toSeq
      java.nio.file.Files.write(root.resolve(s"part$f.garc"),
        encodeArchive(recs))
    }
  }

  /** MEDIA fixture root + writer: archives whose records carry an
    * IMAGE payload — a 9×8 raw gray pixel plane hex-encoded (144
    * chars for 72 bytes; hex keeps the segment ASCII so the oracle's
    * character walk still equals byte offsets, and hex-pair
    * arithmetic lets SQL read pixel VALUES straight off the payload).
    * Pixels follow the mm_image_dedup scheme (first 72 printable
    * chars of the doc text), so the media trajectory is
    * independently recomputable. */
  val MediaFixtureRoot: String = s"${Sources.FixtureRoot}/crawl_media"

  def writeMediaArchives(s: SparkSession, dir: String): Unit =
    writeArchivesWith(s, dir, MediaFixtureRoot) { (_, ascii) =>
      val px = new Array[Int](72)
      var i = 0
      while (i < 72 && i < ascii.length) {
        px(i) = ascii.charAt(i).toInt; i += 1
      }
      px.map(p => f"$p%02x").mkString
    }

  /** AUDIO/VIDEO-in-archive fixture roots (r13): crawl archives whose
    * records carry REAL media CONTAINERS hex-encoded — a WAV (RIFF
    * header + PCM16LE) per audio record, an MJPEG AVI per video
    * record — so the engine path is archive walk → hex decode → the
    * genuine container demux ([[Multimodal.audioFingerprint64Pooled]]
    * / [[Multimodal.videoFingerprint64Pooled]], AudioSystem / AVI +
    * ImageIO) → pooled fingerprint → banded keep-min. Payload algebra
    * matches `mm_audio_dedup_pooled` / `mm_video_dedup_pooled`
    * exactly: per doc, n = 130 + (doc_id % 4)·3 samples/frames, value
    * i = (ord(ascii(i)) − 80)·256 (audio) or ord(ascii(i)) − 32
    * (video), zero-padded — so the same duplicate structure the
    * pooled queries proved now arrives THROUGH the archive layer. */
  val AudioFixtureRoot: String = s"${Sources.FixtureRoot}/crawl_audio"
  val VideoFixtureRoot: String = s"${Sources.FixtureRoot}/crawl_video"

  private def avLength(id: Long): Int = 130 + (id % 4).toInt * 3

  def writeAudioArchives(s: SparkSession, dir: String): Unit =
    writeArchivesWith(s, dir, AudioFixtureRoot) { (id, ascii) =>
      val n = avLength(id)
      val samples = Array.tabulate(n)(i =>
        if (i < ascii.length) (ascii.charAt(i).toInt - 80) * 256 else 0)
      Multimodal.encodePcmWav(samples)
        .map(b => f"${b & 0xff}%02x").mkString
    }

  def writeVideoArchives(s: SparkSession, dir: String): Unit =
    writeArchivesWith(s, dir, VideoFixtureRoot) { (id, ascii) =>
      val n = avLength(id)
      val frames = (0 until n).map(i => Multimodal.flatJpeg8x8(
        if (i < ascii.length) ascii.charAt(i).toInt - 32 else 0))
      Multimodal.encodeMjpegAvi(frames, 8, 8)
        .map(b => f"${b & 0xff}%02x").mkString
    }

  /** URL-variant fixture root: archives where the crawler saw the
    * SAME page under several URL spellings — exactly the situation
    * [[canonicalizeUrl]] exists for. */
  val UrlFixtureRoot: String = s"${Sources.FixtureRoot}/crawl_url"

  /** Per doc: the base URL always, then (deterministically by doc_id)
    * a case/port respelling, a tracking-param + fragment respelling,
    * a trailing-slash respelling — all of which must canonicalize TO
    * the base — plus a genuinely distinct `?page=2` variant (kept
    * distinct), a `?page=2` + tracking mix (merges with the page-2
    * variant, not the base), and an `http://…:80` respelling (a
    * DIFFERENT scheme — stays its own page). Record ids are
    * `doc_id*8 + variant` so first-crawled-wins is checkable from
    * the id algebra alone. */
  def writeUrlArchives(s: SparkSession, dir: String): Unit =
    writeOnce(UrlFixtureRoot, dir) {
      writeUrlArchivesNow(s, dir, UrlFixtureRoot)
    }

  private[operators] def writeUrlArchivesNow(s: SparkSession, dir: String,
      rootDir: String): Unit = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy("doc_id").collect()
    val root = clearedSegmentRoot(rootDir, ".garc")
    (0 until FixtureFiles).foreach { f =>
      val recs = rows.iterator.filter(_.getLong(0) % FixtureFiles == f)
        .flatMap { r =>
          val d = r.getLong(0)
          val src = r.getString(1)
          val base = s"https://$src.example.org/doc/$d"
          // every spelling serves the SAME page (it IS the same page —
          // that's why URL dedup is sound); content keyed on the DOC,
          // not the record, so the composed-prepare stages downstream
          // see realistic duplicated-content keepers too
          val html = wrapHtml(d,
            r.getString(2).replaceAll("[^\\x20-\\x7e]", ""))
          def page(k: Long, u: String): (Long, String, String) =
            (d * 8 + k, u, html)
          // gate pages (r14): one extra page per d % 6 ∈ {0..4} on a
          // host that makes exactly one domain-gate rule class
          // load-bearing — exact-host block, subdomain block, the
          // allow override beating BOTH block lists, apex-domain
          // block, and the suffix-anchoring near-miss that must NOT
          // match ('xtracker.net' ends with 'tracker.net' but not
          // '.tracker.net')
          val gateHost = (d % 6) match {
            case 0 => Some("malware.badhost.example")
            case 1 => Some("cdn.tracker.net")
            case 2 => Some("research.tracker.net")
            case 3 => Some("tracker.net")
            case 4 => Some("xtracker.net")
            case _ => None
          }
          Seq(page(0, base)) ++
            (if (d % 2 == 0) Seq(page(1,
              s"HTTPS://${src.toUpperCase}.Example.ORG:443/doc/$d")) else Nil) ++
            (if (d % 3 == 0) Seq(page(2,
              s"$base?utm_source=feed&utm_medium=rss#sec-2")) else Nil) ++
            (if (d % 4 == 0) Seq(page(3, s"$base/")) else Nil) ++
            (if (d % 5 == 0) Seq(page(4, s"$base?page=2")) else Nil) ++
            (if (d % 10 == 0) Seq(page(5,
              s"$base?page=2&utm_campaign=x&gclid=abc")) else Nil) ++
            (if (d % 7 == 0) Seq(page(6,
              s"http://$src.example.org:80/doc/$d")) else Nil) ++
            gateHost.map(h => page(7, s"https://$h/doc/$d")).toSeq
        }.toSeq
      java.nio.file.Files.write(root.resolve(s"part$f.garc"),
        encodeArchive(recs))
    }
  }

  /** WARC fixture root: each segment is written TWICE — `partN.warc`
    * (the raw record stream) and `partN.warc.gz` (the same records,
    * one gzip member each, concatenated — the CommonCrawl layout).
    * The engine reads ONLY the `.warc.gz` twin; the oracle walks the
    * raw twin (DuckDB cannot gunzip), so the hash-match pins
    * member-per-record decompression + the WARC grammar walk against
    * the independently-parsed identical bytes (the md5-twin oracle
    * discipline). */
  val WarcFixtureRoot: String = s"${Sources.FixtureRoot}/crawl_warc"

  /** Serialize one WARC/1.0 record's HEADER block; the
    * `WARC-Block-Digest` (sha1, base32 — the CommonCrawl grammar) and
    * `Content-Length` headers are appended last, derived from the
    * payload as crawlers write them — so every record carries a real
    * digest for [[parseWarc]]'s record-level integrity check to
    * verify. */
  private def warcHeaderBytes(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val hdr = new java.io.ByteArrayOutputStream()
    hdr.write(WarcVersionBytes)
    headers.foreach { case (k, v) =>
      hdr.write(s"$k: $v\r\n".getBytes(Ascii))
    }
    hdr.write((s"WARC-Block-Digest: " +
      s"${warcBlockDigest(payload, 0, payload.length)}\r\n").getBytes(Ascii))
    hdr.write(s"Content-Length: ${payload.length}\r\n\r\n".getBytes(Ascii))
    hdr.toByteArray
  }

  private def assembleWarcRecord(hdr: Array[Byte],
      payload: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(hdr)
    b.write(payload)
    b.write(CrlfCrlfBytes)
    b.toByteArray
  }

  /** Serialize one WARC/1.0 record — the pure grammar serializer, no
    * size policy (r14 advice: a cap `require` here crash-looped the
    * streaming WET sink on a poison record, since a deterministic
    * record replays on every restart). Fixture writers go through
    * [[encodeFixtureRecord]], which enforces the cap-parity contract
    * loudly; the production WET sink ([[writeWetShards]]) DROPS
    * oversized records with a counter instead of failing the job. */
  def encodeWarcRecord(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] =
    assembleWarcRecord(warcHeaderBytes(headers, payload), payload)

  /** Half each reader cap — the boundary of the cap-parity contract:
    * the DuckDB mirror walk does NOT replay the reader's
    * MaxHeaderBytes/MaxPayloadBytes defensive caps, so engine/oracle
    * parity is proven only where no cap can fire, with headroom. */
  private[operators] def warcRecordOversized(
      headers: Seq[(String, String)], payload: Array[Byte]): Boolean =
    payload.length > MaxPayloadBytes / 2 ||
      warcHeaderBytes(headers, payload).length > MaxHeaderBytes / 2

  /** [[encodeWarcRecord]] under the cap-parity contract (r12 advice),
    * for FIXTURE writers only: every record a fixture produces must
    * sit at <= HALF each reader cap — loudly, so a future fixture
    * that would make a cap decide engine/oracle parity fails at WRITE
    * time with the reason, never as a hash mismatch. (The production
    * WET path must NOT fail on data — it drops with a counter.) */
  def encodeFixtureRecord(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val hdr = warcHeaderBytes(headers, payload)
    require(payload.length <= MaxPayloadBytes / 2,
      s"encodeFixtureRecord: payload ${payload.length} B exceeds half " +
        s"the reader's MaxPayloadBytes cap (${MaxPayloadBytes}) — the " +
        "oracle walk does not replay the cap, so parity would silently " +
        "depend on it")
    require(hdr.length <= MaxHeaderBytes / 2,
      s"encodeFixtureRecord: header block ${hdr.length} B exceeds half " +
        s"the reader's MaxHeaderBytes cap (${MaxHeaderBytes}) — the " +
        "oracle walk does not replay the cap")
    assembleWarcRecord(hdr, payload)
  }

  /** One complete gzip member around one record's bytes. */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(b)
    gz.write(record)
    gz.close()
    b.toByteArray
  }

  /** Write the current dir's documents as WARC/1.0 segments (raw +
    * gzipped twins): per segment a `warcinfo` head record, then per
    * doc a `request` record AND a `response` record wrapping an HTTP
    * response around the page — so the extractor's WARC-Type filter
    * and HTTP-header skip both have real targets. Driver-side fixture
    * writer standing in for the crawler ([[writeArchives]]'s role);
    * payload text sanitized to printable ASCII so the raw twin's
    * character positions equal byte offsets for the oracle walk. */
  def writeWarcArchives(s: SparkSession, dir: String): Unit =
    writeOnce(WarcFixtureRoot, dir) {
      writeWarcArchivesNow(s, dir, WarcFixtureRoot)
    }

  private[operators] def writeWarcArchivesNow(s: SparkSession,
      dir: String, rootDir: String): Unit = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
    val root = clearedSegmentRoot(rootDir, ".warc", ".warc.gz")
    def recId(n: Long): String =
      f"<urn:uuid:00000000-0000-4000-8000-$n%012d>"
    (0 until FixtureFiles).foreach { f =>
      val recs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      recs += encodeFixtureRecord(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> recId(900000000L + f),
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/warc-fields"),
        ("software: graftbot/1.0\r\n" +
          "format: WARC File Format 1.0\r\n").getBytes(Ascii))
      rows.iterator.filter(_.getLong(0) % FixtureFiles == f).foreach { r =>
        val id = r.getLong(0)
        val host = s"${r.getString(2)}.example.org"
        val url = s"https://$host/doc/$id"
        val ascii = r.getString(1).replaceAll("[^\\x20-\\x7e]", "")
        recs += encodeFixtureRecord(Seq(
          "WARC-Type" -> "request",
          "WARC-Record-ID" -> recId(2 * id),
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> url,
          "Content-Type" -> "application/http; msgtype=request"),
          (s"GET /doc/$id HTTP/1.1\r\nHost: $host\r\n" +
            "User-Agent: graftbot/1.0\r\n\r\n").getBytes(Ascii))
        recs += encodeFixtureRecord(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> recId(2 * id + 1),
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> url,
          "Content-Type" -> "application/http; msgtype=response"),
          ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
            s"charset=UTF-8\r\nX-Crawl-Doc: $id\r\n\r\n" +
            wrapHtml(id, ascii)).getBytes(Ascii))
      }
      // the oracle's recursive walk budgets 100000 steps per segment
      // (one step per record) and the reader caps MaxRecordsPerFile;
      // neither bound is replayed by the other engine, so the fixture
      // must stay far below BOTH — loudly (r12 advice)
      require(recs.size <= 50000 && recs.size <= MaxRecordsPerFile / 2,
        s"writeWarcArchives: ${recs.size} records in one segment " +
          "approaches the oracle walk's 100000-step budget / the " +
          "reader's MaxRecordsPerFile cap — parity would silently " +
          "depend on a bound the other engine does not replay")
      java.nio.file.Files.write(root.resolve(s"part$f.warc"),
        recs.toArray.flatten)
      java.nio.file.Files.write(root.resolve(s"part$f.warc.gz"),
        recs.toArray.flatMap(gzipMember))
    }
  }

  // ---- WET output: the engine WRITES the WARC family too ----

  /** WET output root — engine OUTPUT (re-created per run), not a
    * fixture: the extracted-text corpus serialized back out as
    * WARC/1.0 `conversion` records, the WET layout crawl pipelines
    * ship alongside their WARC inputs. */
  val WetRoot: String = s"${Sources.FixtureRoot}/wet_out"

  /** Distributed WET writer: a (doc_id, url, text) frame → one
    * `part-<partitionId>.warc.gz` shard PER TASK, each a warcinfo
    * head record followed by one gzip member per `conversion` record
    * (the CommonCrawl WET layout; [[encodeWarcRecord]] stamps the
    * real `WARC-Block-Digest` + `Content-Length`, so the read path's
    * integrity gates have teeth against the engine's own output).
    * This is the standard shared-storage shard model — every task
    * writes its own file, no driver involvement, no shuffle; the
    * local filesystem stands in for the shared store exactly as it
    * does for the parquet sinks. Stale shards from a previous run
    * (possibly MORE partitions than this one) are cleared first so a
    * re-run's directory holds exactly this frame's corpus. */
  /** A file this writer owns and may clear: its own shard naming
    * pattern (plus abandoned `.tmp` halves of it). Anything else in
    * the directory — unrelated files, subdirectories — is NOT ours to
    * delete (r12 advice: the unfiltered clear destroyed unrelated
    * files and threw DirectoryNotEmptyException on subdirectories). */
  private def isOwnShard(f: java.io.File): Boolean =
    f.isFile && f.getName.startsWith("part-") &&
      (f.getName.endsWith(".warc.gz") || f.getName.endsWith(".warc.gz.tmp"))

  /** Returns the number of oversized docs DROPPED (see
    * [[writeWetShards]] — 0 in every healthy run). */
  def writeWetSegments(docs: DataFrame, outDir: String): Long = {
    val root = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(root)
    // listFiles, not Files.list: no stream handle to close, and the
    // null-on-IO-error shape matches the latestIndex discipline;
    // cleared files are ONLY this writer's own shard pattern
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(isOwnShard)
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    writeWetShards(docs, outDir, "part")
  }

  /** The batch-id-keyed form for the STREAMING sink
    * ([[graft.streaming.StreamOps.wetWriteStream]]): shards named
    * `part-<batchId>-<pid>.warc.gz`, and ONLY this batch's own shards
    * cleared before writing — a replayed batch (even one whose
    * earlier attempt ran with a different partition count) leaves
    * exactly its final shard set while other batches' shards are
    * never touched. */
  def writeWetShardsForBatch(docs: DataFrame, outDir: String,
      batchId: Long): Long = {
    val prefix = f"part-$batchId%05d"
    val root = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(root)
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"$prefix-"))
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    writeWetShards(docs, outDir, prefix)
  }

  /** Shared distributed shard writer: one
    * `<prefix>-<partitionId>.warc.gz` per non-empty task.
    *
    * Members STREAM straight to the shard file (r12 watch item): each
    * gzip member is written to a buffered `FileOutputStream` as it is
    * encoded, so per-task memory is bounded by ONE record — never the
    * shard (the previous whole-shard `ByteArrayOutputStream` coupled
    * task memory to shard size, fine at the ~150 MB WET rotation but
    * a silent assumption). The write goes to a `.tmp` sibling and
    * commits with an atomic rename, so a killed task never leaves a
    * half-shard under the final name — the rotation contract: a
    * `part-*.warc.gz` file, once visible, is complete.
    *
    * Oversized records (r14 advice): a doc whose payload or header
    * block would breach the [[warcRecordOversized]] cap-parity bound
    * is DROPPED here with a counter (returned, and surfaced on the
    * Spark UI as the `graft.wet.oversizedDropped` accumulator) — it
    * must NOT throw: in the streaming triangle a deterministic record
    * replays on every restart, so a poison record would permanently
    * crash-loop the continuous pipeline the exactly-once design is
    * meant to keep alive. The dropped doc's absence from the shard
    * set is the contract; the fixture writers keep the loud form
    * ([[encodeFixtureRecord]]). */
  private def writeWetShards(docs: DataFrame, outDir: String,
      prefix: String): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dropped = spark.sparkContext
      .longAccumulator("graft.wet.oversizedDropped")
    docs.select(col("doc_id"), col("url"), col("text"))
      .as[(Long, String, String)]
      .foreachPartition { (it: Iterator[(Long, String, String)]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val fin = java.nio.file.Paths
            .get(outDir, f"$prefix-$pid%05d.warc.gz")
          val tmp = java.nio.file.Paths
            .get(outDir, f"$prefix-$pid%05d.warc.gz.tmp")
          val out = new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(tmp.toFile))
          try {
            out.write(gzipMember(encodeWarcRecord(Seq(
              "WARC-Type" -> "warcinfo",
              "WARC-Record-ID" ->
                f"<urn:uuid:00000000-0000-4000-8000-${800000000L + pid}%012d>",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "Content-Type" -> "application/warc-fields"),
              ("software: graft-wet/1.0\r\n" +
                "format: WARC File Format 1.0\r\n").getBytes(Ascii))))
            it.foreach { case (id, url, text) =>
              val headers = Seq(
                "WARC-Type" -> "conversion",
                "WARC-Record-ID" ->
                  f"<urn:uuid:00000000-0000-4000-8000-$id%012d>",
                "WARC-Date" -> "2026-01-01T00:00:00Z",
                "WARC-Target-URI" -> url,
                "Content-Type" -> "text/plain")
              val payload = text.getBytes(Utf8)
              // the warcRecordOversized bound, staged so the header
              // (and its sha1 digest) builds exactly once per kept doc
              if (payload.length > MaxPayloadBytes / 2) dropped.add(1L)
              else {
                val hdr = warcHeaderBytes(headers, payload)
                if (hdr.length > MaxHeaderBytes / 2) dropped.add(1L)
                else out.write(gzipMember(
                  assembleWarcRecord(hdr, payload)))
              }
            }
          } finally out.close()
          java.nio.file.Files.move(tmp, fin,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      }
    dropped.value
  }

  /** Read a WET shard set back: the IDENTICAL gunzip + grammar walk +
    * digest gate as the response path, keeping `conversion` records
    * whose payload block IS the text (no HTTP skip). */
  def parseWetSegments(s: SparkSession, glob: String): DataFrame = {
    val spark = s
    import spark.implicits._
    s.read.format("binaryFile").load(glob)
      .select(col("content")).as[Array[Byte]]
      .flatMap(b => parseWarcRecords(gunzipMembers(b),
        wantType = "conversion", skipHttp = false))
      .toDF("url", "text")
  }

  /** DuckDB replays the SAME length-prefixed framing: a recursive CTE
    * walks 1-based character positions (== byte offsets on the ASCII
    * fixture) from each segment's magic through sentinel → headers →
    * blank line → `len`-char payload → next record, then the same
    * strip/decode/boilerplate algebra. No delimiter splitting.
    * Exposed as a CTE body (`raw` … `warc_docs`) so composing mirrors
    * (`pipeline_crawl_prepare`) can re-root downstream chains on the
    * extracted corpus; callers must prefix `WITH RECURSIVE`. */
  /** Just the framing walk (`raw` … `recs`) over the archives under
    * `root` — the binary-record consumers (`mm_warc_media`) reuse the
    * walk without the HTML strip stages. Callers prefix
    * `WITH RECURSIVE`. */
  private[operators] def sqlWalkCtes(root: String): String = {
    // position after "--GARC-REC--\n" (13 chars) relative blank-line
    // offset, reused all over the walk
    val rel = "strpos(substr(c, pos + 13), chr(10) || chr(10))"
    val hdr = s"substr(c, pos + 13, $rel - 1)"
    val len = s"CAST(regexp_extract($hdr, 'len: ([0-9]+)', 1) AS BIGINT)"
    s"""raw AS MATERIALIZED (
       |  SELECT content AS c FROM read_text('$root/*.garc')
       |  WHERE substr(content, 1, 9) = 'GARC/1.0' || chr(10)),
       |walk AS (
       |  SELECT c, CAST(10 AS BIGINT) AS pos, 0 AS step FROM raw
       |  UNION ALL
       |  SELECT c, pos + 13 + $rel + 1 + $len + 1, step + 1
       |  FROM walk
       |  WHERE substr(c, pos, 13) = '--GARC-REC--' || chr(10)
       |    AND $rel > 0 AND step < 100000),
       |recs AS MATERIALIZED (
       |  SELECT CAST(regexp_extract(h, 'id: ([0-9]+)', 1) AS BIGINT)
       |      AS doc_id,
       |    regexp_extract(h, 'url: ([^\n]+)', 1) AS url,
       |    substr(c, ps, n_html) AS html, n_html
       |  FROM (
       |    SELECT c, $hdr AS h, pos + 13 + $rel + 1 AS ps, $len AS n_html
       |    FROM walk
       |    WHERE substr(c, pos, 13) = '--GARC-REC--' || chr(10)
       |      AND $rel > 0))""".stripMargin
  }

  /** The HTML→text strip algebra as CTEs (`stripped` … `warc_docs`)
    * over any `src` relation with (doc_id, url, html, n_html) — the
    * GARC and WARC walks share it verbatim. */
  private[operators] def sqlStripCtes(src: String): String = {
    s"""stripped AS (
       |  SELECT doc_id, url, n_html,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      html, '$ScriptRe', ' ', 'g'), '$StyleRe', ' ', 'g'),
       |      '$CommentRe', ' ', 'g'), '$TagRe', ' ', 'g') AS t0
       |  FROM $src),
       |decoded AS (
       |  SELECT doc_id, url, n_html,
       |    replace(replace(replace(replace(replace(t0,
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |      '&#39;', chr(39)), '&amp;', '&') AS t1
       |  FROM stripped),
       |warc_docs AS MATERIALIZED (
       |  SELECT doc_id, url, n_html,
       |    array_to_string(list_filter(
       |      list_transform(string_split(t1, chr(10)),
       |        l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))),
       |      l -> len(list_filter(string_split(l, ' '),
       |        w -> regexp_full_match(w, '[A-Za-z]+')))
       |        >= $MinContentWords), ' ') AS text
       |  FROM decoded)""".stripMargin
  }

  private[operators] def sqlWarcCtes: String =
    s"""${sqlWalkCtes(FixtureRoot)},
       |${sqlStripCtes("recs")}""".stripMargin

  /** DuckDB replays the WARC/1.0 grammar over the RAW `.warc` twin of
    * the gz fixture: the recursive walk advances by 10 (version line)
    * + header block + 4 (blank) + Content-Length + 4 (record
    * separator); `recs` then keeps `WARC-Type: response` records,
    * skips each payload's HTTP header block to its first CRLFCRLF,
    * and derives doc_id from the target URI — exactly the engine's
    * walk, minus only the gunzip the twin layout pins. */
  private[operators] def sqlWarcGzWalkCtes(root: String): String = {
    val crlf2 = "chr(13) || chr(10) || chr(13) || chr(10)"
    val rel = s"strpos(substr(c, pos + 10), $crlf2)"
    val hdr = s"substr(c, pos + 10, $rel - 1)"
    val clen =
      s"CAST(regexp_extract($hdr, 'Content-Length: ([0-9]+)', 1) AS BIGINT)"
    s"""raw AS MATERIALIZED (
       |  SELECT content AS c FROM read_text('$root/*.warc')
       |  WHERE substr(content, 1, 10) = 'WARC/1.0' || chr(13) || chr(10)),
       |walk AS (
       |  SELECT c, CAST(1 AS BIGINT) AS pos, 0 AS step FROM raw
       |  UNION ALL
       |  SELECT c, pos + 10 + $rel + 3 + $clen + 4, step + 1
       |  FROM walk
       |  WHERE substr(c, pos, 10) = 'WARC/1.0' || chr(13) || chr(10)
       |    AND $rel > 0 AND step < 100000),
       |recs AS MATERIALIZED (
       |  SELECT CAST(regexp_extract(url, '/doc/([0-9]+)$$', 1) AS BIGINT)
       |      AS doc_id,
       |    url, substr(pay, hb + 4) AS html,
       |    CAST(length(substr(pay, hb + 4)) AS BIGINT) AS n_html
       |  FROM (
       |    SELECT
       |      regexp_extract(h, 'WARC-Type: ([a-z]+)', 1) AS typ,
       |      regexp_extract(h, 'WARC-Target-URI: ([^\\r\\n]+)', 1) AS url,
       |      substr(c, ps, n) AS pay,
       |      strpos(substr(c, ps, n), $crlf2) AS hb
       |    FROM (
       |      SELECT c, $hdr AS h, pos + 10 + $rel + 3 AS ps, $clen AS n
       |      FROM walk
       |      WHERE substr(c, pos, 10) = 'WARC/1.0' || chr(13) || chr(10)
       |        AND $rel > 0))
       |  WHERE typ = 'response' AND url <> '' AND hb > 0)""".stripMargin
  }

  /** [[canonicalizeUrl]]'s EXACT algebra as CTEs (`parts` … `ucanon`)
    * over the framing walk's `recs` — fragment drop, scheme/host
    * fold, default-port strip, trailing-slash collapse, ordered
    * tracking-param filter, the loud non-http(s) guard. Shared by the
    * standalone dedup mirror and the composed-prepare mirror (the
    * proven-chain CTE-reuse discipline). Callers prefix
    * `WITH RECURSIVE`. */
  private[operators] def sqlUrlCanonCtes(root: String): String =
    s"""${sqlWalkCtes(root)},
       |parts AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(nf,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
       |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)', 1)
       |      AS rest
       |  FROM (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf
       |        FROM recs)),
       |ucanon AS MATERIALIZED (
       |  SELECT doc_id, url,
       |    CASE WHEN scheme IN ('http', 'https') AND length(hostport) > 0
       |        AND strpos(hostport, '@') = 0
       |      THEN scheme || '://' ||
       |        (CASE WHEN scheme = 'http'
       |          THEN regexp_replace(hostport, ':80$$', '')
       |          ELSE regexp_replace(hostport, ':443$$', '') END) ||
       |        (CASE WHEN p = '' THEN '/' ELSE p END) ||
       |        (CASE WHEN kq = '' THEN '' ELSE '?' || kq END)
       |      ELSE CAST(error('canonicalizeUrl: absolute http(s) URL ' ||
       |        'without userinfo required, got: ' || url) AS VARCHAR)
       |      END AS canon_url
       |  FROM (
       |    SELECT doc_id, url, scheme, hostport,
       |      regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '')
       |        AS p,
       |      coalesce(array_to_string(list_filter(
       |        string_split(regexp_extract(rest, '^[^?]*\\?(.*)', 1), '&'),
       |        q -> q <> '' AND NOT regexp_matches(q, '$TrackingParamRe')),
       |        '&'), '') AS kq
       |    FROM parts))""".stripMargin

  /** The [[domainVerdicts]] decision as a SQL CASE over a `host`
    * column, generated from the SAME policy Seqs the Spark side uses
    * (no drift possible). The domain arm mirrors the suffix-equijoin
    * semantics exactly: host = d OR host LIKE '%.d' — anchored at a
    * label boundary, so `xtracker.net` does not match `tracker.net`. */
  private def sqlDomainVerdictCase(host: String): String = {
    def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")
    val domArm = BlockedDomains
      .map(d => s"($host = '$d' OR $host LIKE '%.$d')").mkString(" OR ")
    s"""CASE WHEN $host IN (${inList(AllowedHosts)}) THEN 'allowed'
       |  WHEN $host IN (${inList(BlockedHosts)}) THEN 'blocked_host'
       |  WHEN $domArm THEN 'blocked_domain'
       |  ELSE 'kept' END""".stripMargin
  }

  /** Host-of-canonical-url as SQL — [[canonicalHost]]'s algebra
    * (bracket-aware first-colon parse, verbatim). */
  private def sqlCanonHost(canonUrl: String): String =
    s"regexp_extract(regexp_extract($canonUrl, '://([^/?#]+)', 1), " +
      "'^(\\[[^\\]]*\\]|[^:]*)', 1)"

  /** Mirror of the standalone domain-filter diagnostic: canon →
    * keepers → host plane with per-host keeper counts (the skew
    * diagnostic) → the policy verdict per host. */
  private def sqlDomainFilter: String =
    s"""WITH RECURSIVE ${sqlUrlCanonCtes(UrlFixtureRoot)},
       |dkeep AS (SELECT canon_url, min(doc_id) AS doc_id FROM ucanon
       |  GROUP BY canon_url),
       |hp AS (SELECT ${sqlCanonHost("canon_url")} AS host,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM dkeep GROUP BY host)
       |SELECT host, ${sqlDomainVerdictCase("host")} AS verdict, n_docs
       |FROM hp ORDER BY host""".stripMargin

  /** Mirror of the standalone URL-dedup layer: the canon algebra,
    * then first-crawled-wins per canonical URL. */
  private def sqlUrlDedup: String =
    s"""WITH RECURSIVE ${sqlUrlCanonCtes(UrlFixtureRoot)}
       |SELECT canon_url,
       |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
       |  min_by(url, doc_id) AS keeper_url,
       |  CAST(count(*) AS BIGINT) AS n_variants
       |FROM ucanon GROUP BY canon_url ORDER BY canon_url""".stripMargin

  /** Mirror of the URL-dedup → corpus-prep composition: the canon
    * algebra picks one keeper RECORD per canonical URL (slim min
    * aggregate + join back on the unique record id — payload bytes
    * never ride the group), the DOMAIN GATE drops blocked hosts
    * (r14 — the UT1/CCNet stage, between URL dedup and content prep,
    * the same verdict CASE as the standalone diagnostic), then the
    * surviving keeper pages run the shared strip chain, the
    * documents-shaping CTE (lang off the keeper URL's host,
    * scheme-agnostic since an `http://` keeper is a legitimate
    * page), and the ENTIRE fullPrepare chain. */
  private def sqlUrlPrepare: String =
    s"""WITH RECURSIVE ${sqlUrlCanonCtes(UrlFixtureRoot)},
       |keepers AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
       |  FROM ucanon GROUP BY canon_url),
       |kept AS MATERIALIZED (
       |  SELECT r.doc_id, r.url, r.html, r.n_html
       |  FROM recs r JOIN keepers k USING (doc_id)
       |  JOIN ucanon u ON u.doc_id = r.doc_id
       |  WHERE (${sqlDomainVerdictCase(sqlCanonHost("u.canon_url"))})
       |    IN ('kept', 'allowed')),
       |${sqlStripCtes("kept")},
       |crawl_docs AS MATERIALIZED (SELECT doc_id,
       |    regexp_extract(url, '://([^.]+)\\.', 1) AS lang,
       |    CAST(length(text) AS BIGINT) AS n_chars, text
       |  FROM warc_docs),
       |${Prepare.sqlFullPrepareCtes("crawl_docs")}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  /** Mirror of the WET round trip: the oracle never sees the WET
    * shards at all — it replays the PROVEN extraction (walk + strip)
    * and the hash asserts the engine's WET write → gunzip → grammar
    * walk → digest gate → read is the IDENTITY on the extracted
    * corpus (the q_csv_roundtrip discipline on the WARC family's
    * write side). */
  private def sqlWetRoundtrip: String =
    s"""WITH RECURSIVE $sqlWarcCtes
       |SELECT doc_id, url, text FROM warc_docs
       |ORDER BY doc_id""".stripMargin

  private def sqlWarcExtract: String =
    s"""WITH RECURSIVE $sqlWarcCtes
       |SELECT doc_id, url, n_html, text FROM warc_docs
       |ORDER BY doc_id""".stripMargin

  private def sqlWarcGzExtract: String =
    s"""WITH RECURSIVE ${sqlWarcGzWalkCtes(WarcFixtureRoot)},
       |${sqlStripCtes("recs")}
       |SELECT doc_id, url, n_html, text FROM warc_docs
       |ORDER BY doc_id""".stripMargin

  /** Mirror of the crawl→corpus composition: the warc extraction
    * chain, a documents-shaping CTE (lang from the URL host's source
    * label, n_chars recomputed from the extracted text), then the
    * ENTIRE fullPrepare chain re-rooted on it. */
  private def sqlCrawlPrepare: String =
    s"""WITH RECURSIVE $sqlWarcCtes,
       |crawl_docs AS MATERIALIZED (SELECT doc_id,
       |    regexp_extract(url, 'https://([^.]+)\\.', 1) AS lang,
       |    CAST(length(text) AS BIGINT) AS n_chars, text
       |  FROM warc_docs),
       |${Prepare.sqlFullPrepareCtes("crawl_docs")}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  /** Mirror of the LANGUAGE-ROUTED crawl→corpus composition: the warc
    * extraction chain, the trained NB router's model + routing CTEs
    * ([[NbLangid.sqlModelCtes]] / [[NbLangid.sqlRouteCtes]] — the
    * text_nb_langid oracle's exact algebra), a documents-shaping CTE
    * whose `lang` is the ROUTED prediction instead of the URL host
    * label, then the ENTIRE fullPrepare chain re-rooted on it. */
  private def sqlCrawlPrepareLangid: String =
    s"""WITH RECURSIVE $sqlWarcCtes,
       |${NbLangid.sqlModelCtes()},
       |${NbLangid.sqlRouteCtes("warc_docs")},
       |crawl_docs AS MATERIALIZED (SELECT w.doc_id, r.pred AS lang,
       |    CAST(length(w.text) AS BIGINT) AS n_chars, w.text
       |  FROM warc_docs w JOIN routed r USING (doc_id)),
       |${Prepare.sqlFullPrepareCtes("crawl_docs")}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  /** Mirror of the REAL-WARC crawl→corpus composition: the gz-twin
    * grammar walk + strip chain, the same documents-shaping CTE as
    * [[sqlCrawlPrepare]], then the ENTIRE fullPrepare chain re-rooted
    * on it — one hash from a CommonCrawl-layout segment's bytes to
    * the packing-manifest digest. */
  private def sqlWarcPrepare: String =
    s"""WITH RECURSIVE ${sqlWarcGzWalkCtes(WarcFixtureRoot)},
       |${sqlStripCtes("recs")},
       |crawl_docs AS MATERIALIZED (SELECT doc_id,
       |    regexp_extract(url, 'https://([^.]+)\\.', 1) AS lang,
       |    CAST(length(text) AS BIGINT) AS n_chars, text
       |  FROM warc_docs),
       |${Prepare.sqlFullPrepareCtes("crawl_docs")}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  /** Mirror of the media trajectory: the framing walk over the media
    * archives, pixel values read straight off the hex payload
    * (`CAST('0x' || substr(...) AS BIGINT)` per byte pair), the dHash
    * bit algebra, then [[Multimodal.sqlSurvivorTail]]'s EXHAUSTIVE
    * close — archive bytes to dedup survivors, one hash pin. */
  private def sqlMediaDedup(maxHamming: Int): String = {
    def px(p: Int): String =
      s"CAST('0x' || substr(html, ${2 * p - 1}, 2) AS BIGINT)"
    def half(range: Range, off: Int): String = range.map { bit =>
      val y = bit / 8
      val x = bit % 8
      s"CASE WHEN ${px(y * 9 + x + 1)} > ${px(y * 9 + x + 2)} " +
        s"THEN CAST(${1L << (bit - off)} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH RECURSIVE ${sqlWalkCtes(MediaFixtureRoot)},
       |sig AS (SELECT doc_id,
       |    CAST(${half(0 until 32, 0)} AS BIGINT) AS lo,
       |    CAST(${half(32 until 64, 32)} AS BIGINT) AS hi
       |  FROM recs),
       |${Multimodal.sqlSurvivorTail(maxHamming)}""".stripMargin
  }

  /** Mirror of the AUDIO-in-archive trajectory — the STRONG form, the
    * `mm_warc_media` precedent one container deeper: the walk yields
    * each record's hex WAV payload; the canonical 44-byte RIFF +
    * PCM16LE layout the fixture's AudioSystem writer emits puts
    * sample p's little-endian int16 at 1-based hex positions 89 + 4p
    * (low byte) and 91 + 4p (high byte), so the oracle reads SAMPLE
    * VALUES straight off the archive payload, replays the 65-stripe
    * pooling with integer sums and cross-multiplied mean comparisons
    * (the `mm_audio_dedup_pooled` closed form), and closes
    * exhaustive — one hash pins archive framing + hex + WAV layout +
    * pooled fingerprint + banding end to end. */
  private def sqlAvAudioDedup(maxHamming: Int): String =
    s"""WITH RECURSIVE ${sqlWalkCtes(AudioFixtureRoot)},
       |base AS (SELECT doc_id, html AS s,
       |    (length(html) - 88) // 4 AS n FROM recs),
       |pos AS (SELECT doc_id, s, n,
       |    unnest(generate_series(0, n - 1)) AS p FROM base),
       |v AS (SELECT doc_id, n, p,
       |    CAST('0x' || substr(s, CAST(89 + 4 * p AS INTEGER), 2)
       |      AS BIGINT)
       |    + 256 * CAST('0x' || substr(s, CAST(91 + 4 * p AS INTEGER), 2)
       |      AS BIGINT) AS u
       |  FROM pos),
       |v2 AS (SELECT doc_id, n, p,
       |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS val FROM v),
       |cells AS MATERIALIZED (SELECT doc_id,
       |    LEAST(p // GREATEST(n // 65, 1), 64) AS si,
       |    CAST(SUM(val) AS BIGINT) AS sm, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM v2 GROUP BY 1, 2),
       |bits AS (SELECT l.doc_id, l.si AS b,
       |    CASE WHEN l.sm * r.c > r.sm * l.c THEN 1 ELSE 0 END AS bit
       |  FROM cells l JOIN cells r
       |    ON l.doc_id = r.doc_id AND r.si = l.si + 1
       |  WHERE l.si < 64),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT)
       |      << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT)
       |      << CAST(b - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits GROUP BY doc_id),
       |${Multimodal.sqlSurvivorTail(maxHamming)}""".stripMargin

  /** Mirror of the VIDEO-in-archive trajectory: JPEG entropy coding
    * is opaque to SQL, so the oracle cannot read frame levels off the
    * AVI payload the way the audio mirror reads PCM. It regenerates
    * each doc's frame-level sequence from the SAME documents-table
    * algebra the fixture writer used (flat 8×8 frames decode
    * bit-exactly — the `mm_video_dedup_pooled` mirror's proven
    * replay) and pins archive MEMBERSHIP through the walk: the base
    * CTE joins the walked record ids, so a record lost or duplicated
    * by the archive layer moves the hash, while a corrupted payload
    * moves the ENGINE's side instead (the engine fingerprints only
    * what it demuxes from the archive bytes). */
  private def sqlAvVideoDedup(maxHamming: Int): String =
    s"""WITH RECURSIVE ${sqlWalkCtes(VideoFixtureRoot)},
       |base AS (SELECT d.doc_id,
       |    substr(regexp_replace(d.text, '[^ -~]', '', 'g'), 1, 139) AS s,
       |    130 + (d.doc_id % 4) * 3 AS n
       |  FROM documents d
       |  JOIN (SELECT DISTINCT doc_id FROM recs) r ON d.doc_id = r.doc_id),
       |pos AS (SELECT doc_id, s, n,
       |    unnest(generate_series(0, n - 1)) AS p FROM base),
       |v AS (SELECT doc_id, n, p,
       |    CASE WHEN len(s) >= p + 1
       |      THEN ord(substr(s, CAST(p + 1 AS INTEGER), 1)) - 32
       |      ELSE 0 END AS val
       |  FROM pos),
       |cells AS MATERIALIZED (SELECT doc_id,
       |    LEAST(p // GREATEST(n // 65, 1), 64) AS si,
       |    CAST(SUM(val) AS BIGINT) AS sm, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM v GROUP BY 1, 2),
       |bits AS (SELECT l.doc_id, l.si AS b,
       |    CASE WHEN l.sm * r.c > r.sm * l.c THEN 1 ELSE 0 END AS bit
       |  FROM cells l JOIN cells r
       |    ON l.doc_id = r.doc_id AND r.si = l.si + 1
       |  WHERE l.si < 64),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT)
       |      << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT)
       |      << CAST(b - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bits GROUP BY doc_id),
       |${Multimodal.sqlSurvivorTail(maxHamming)}""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- the ingestion front end, end to end: write the archive
    //      fixture (crawler stand-in), parse the length-prefixed
    //      container, strip HTML, drop boilerplate, emit
    //      documents-shaped rows. Both engines parse the same bytes;
    //      the hash pins framing offsets, header extraction, payload
    //      lengths, strip order, entity semantics, and the per-line
    //      boilerplate rule — per document, full text. ----
    Q("q_warc_extract", Some(sqlWarcExtract)) { (s, dir) =>
      writeArchives(s, dir)
      extractText(parseArchives(s, s"$FixtureRoot/*.garc"))
        .orderBy("doc_id")
    },

    // ---- REAL WARC: the same front end over gzip-compressed
    //      WARC/1.0 segments in the CommonCrawl layout — one gzip
    //      member per record, warcinfo/request records interleaved
    //      with the responses, each response wrapping a full HTTP
    //      message. The engine gunzips the multi-member stream, walks
    //      the WARC grammar by DECLARED Content-Length, filters
    //      `WARC-Type: response`, skips the HTTP header block, then
    //      runs the identical strip chain. The oracle walks the RAW
    //      `.warc` twin of the same segments (byte-identical to the
    //      decompressed stream by construction), so the hash pins
    //      decompression + grammar + type filter + HTTP skip + strip,
    //      end to end. Same narrow one-exchange shape as
    //      q_warc_extract. ----
    Q("q_warc_extract_gz", Some(sqlWarcGzExtract)) { (s, dir) =>
      writeWarcArchives(s, dir)
      warcDocs(parseWarcSegments(s, s"$WarcFixtureRoot/*.warc.gz"))
        .orderBy("doc_id")
    },

    // ---- the TRUE end-to-end pretraining pipeline: raw crawl
    //      archives → parse → HTML strip → documents-shaped rows →
    //      the ENTIRE composed corpus prep (canonicalize → quality
    //      gate → ExactSubstr → near-dup → decontaminate → pack) —
    //      one hash pin from archive bytes to packing manifest. The
    //      gate's language key comes from the URL host's source
    //      label; n_chars is recomputed from the extracted text
    //      (crawl docs have no metadata columns, exactly as in
    //      production — everything derives from the archive). ----
    Q("pipeline_crawl_prepare", Some(sqlCrawlPrepare)) { (s, dir) =>
      writeArchives(s, dir)
      // parse ONCE: the extraction is eagerly checkpointed before the
      // composed prepare, whose stage-report legs reference the crawl
      // corpus from several consumers — without this the plan re-ran
      // the archive scan + parse once per leg (3 binaryFile scans
      // measured in r11's PLANS.md; the fullPrepare stage-boundary
      // discipline, applied to the stage BEFORE stage 0). At 100 TB
      // that is one pass over raw bytes instead of three.
      val crawled = extractText(parseArchives(s, s"$FixtureRoot/*.garc"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "https://([^.]+)\\.", 1).as("lang"),
          length(col("text")).cast("long").as("n_chars"),
          col("text"))
        .localCheckpoint()
      Prepare.fullPrepare(crawled)
    },

    // ---- the METADATA-FREE production shape: the crawl has no
    //      language labels, so the trained NB router
    //      (text_nb_langid's exact model, trained on the labeled
    //      corpus's % 5 ≠ 0 split — the very split its confusion
    //      matrix evaluates) assigns `lang` to every extracted doc
    //      and THAT routing keys the per-language quality gate. The
    //      URL-host label of pipeline_crawl_prepare is the
    //      metadata-available twin; this is what runs when the host
    //      tells you nothing. One hash pins extract → route → gate →
    //      … → pack. ----
    Q("pipeline_crawl_prepare_langid",
        Some(sqlCrawlPrepareLangid)) { (s, dir) =>
      writeArchives(s, dir)
      val crawled0 =
        extractText(parseArchives(s, s"$FixtureRoot/*.garc"))
          .localCheckpoint()
      // memoized per-dir model (r14 — the kn5 discipline): repeat
      // invocations pay only the scoring join; text_nb_langid shares
      // the entry (same train split, same table generation)
      val routed = NbLangid.routeMemo(s, dir, crawled0)
      val crawled = crawled0
        .join(routed.hint("shuffle_hash"), Seq("doc_id"))
        .select(col("doc_id"), col("pred").as("lang"),
          length(col("text")).cast("long").as("n_chars"),
          col("text"))
        .localCheckpoint()
      Prepare.fullPrepare(crawled)
    },

    // ---- the same composition over the REAL crawl format: gz
    //      WARC/1.0 segments (member-per-record gzip, digest-gated
    //      grammar walk, HTTP skip) → documents-shaped rows → the
    //      ENTIRE composed corpus prep. With q_warc_extract_gz
    //      pinning the front end and pipeline_crawl_prepare pinning
    //      the composition, this closes the triangle: an actual
    //      CommonCrawl-layout dump to a training-ready packing
    //      manifest, one hash. Same single-parse checkpoint
    //      discipline — one pass over raw bytes. ----
    Q("pipeline_warc_prepare", Some(sqlWarcPrepare)) { (s, dir) =>
      writeWarcArchives(s, dir)
      val crawled =
        warcDocs(parseWarcSegments(s, s"$WarcFixtureRoot/*.warc.gz"))
          .select(col("doc_id"),
            regexp_extract(col("url"), "https://([^.]+)\\.", 1)
              .as("lang"),
            length(col("text")).cast("long").as("n_chars"),
            col("text"))
          .localCheckpoint()
      Prepare.fullPrepare(crawled)
    },

    // ---- the FIRST dedup layer of crawl prep: a crawler sees the
    //      same page under many URL spellings (case, default ports,
    //      fragments, tracking params, trailing slashes) long before
    //      content dedup can run. Canonicalize every crawled URL
    //      (pure codegen'd projection), then first-crawled-wins per
    //      canonical spelling — one map-side-combinable aggregate.
    //      The hash pins every canonicalization rule AND the merge /
    //      stay-distinct decisions (http vs https, ?page=2 vs base)
    //      record for record. ----
    Q("q_warc_url_dedup", Some(sqlUrlDedup)) { (s, dir) =>
      writeUrlArchives(s, dir)
      parseArchives(s, s"$UrlFixtureRoot/*.garc")
        .select(col("doc_id"), col("url"),
          canonicalizeUrl(col("url")).as("canon_url"))
        .groupBy("canon_url")
        .agg(min("doc_id").as("keeper_id"),
          min_by(col("url"), col("doc_id")).as("keeper_url"),
          count(lit(1)).as("n_variants"))
        .orderBy("canon_url")
    },

    // ---- the domain/host gate as a standalone DIAGNOSTIC: canonical
    //      pages per host (the per-domain doc-count skew diagnostic a
    //      crawl pipeline watches) with each host's policy verdict —
    //      every rule class load-bearing on the fixture: an exact
    //      block, a subdomain block, an apex block, the allow
    //      override beating BOTH block lists, and the anchoring
    //      near-miss ('xtracker.net' vs domain 'tracker.net') that
    //      must stay kept. The verdict algebra is shared with the
    //      composed prepare below (generated from the same policy
    //      Seqs in both engines — no drift). ----
    Q("q_warc_domain_filter", Some(sqlDomainFilter)) { (s, dir) =>
      writeUrlArchives(s, dir)
      val recs = parseArchives(s, s"$UrlFixtureRoot/*.garc")
        .localCheckpoint()
      val spark = s
      import spark.implicits._
      val hosts = urlKeeperRecords(recs)
        .select(canonicalHost(canonicalizeUrl(col("url"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_docs"))
      domainVerdicts(hosts,
          BlockedHosts.toDF("host"), BlockedDomains.toDF("domain"),
          AllowedHosts.toDF("host"))
        .select("host", "verdict", "n_docs")
        .orderBy("host")
    },

    // ---- URL dedup COMPOSED into corpus prep (the order real crawl
    //      prep runs: collapse URL spellings FIRST — it's free, the
    //      key is metadata — then the DOMAIN GATE drops known-bad
    //      hosts before any content work (r14 — the UT1/CCNet stage),
    //      then let content dedup handle the same-page-different-
    //      canonical-URL remainder). Surviving keeper records feed
    //      the ENTIRE fullPrepare chain; one hash from URL-variant
    //      archive bytes to the packing-manifest digest. Stage 0
    //      counts canonical pages SURVIVING the gate — the spec pins
    //      both counts independently from the fixture's id algebra. ----
    Q("pipeline_url_prepare", Some(sqlUrlPrepare)) { (s, dir) =>
      writeUrlArchives(s, dir)
      val spark = s
      import spark.implicits._
      // parse ONCE (the single-parse checkpoint discipline): the
      // record set is referenced from both sides of the keeper join
      val recs = parseArchives(s, s"$UrlFixtureRoot/*.garc")
        .localCheckpoint()
      val gated = domainGate(urlKeeperRecords(recs), "url",
        BlockedHosts.toDF("host"), BlockedDomains.toDF("domain"),
        AllowedHosts.toDF("host"))
      val crawled = extractText(gated)
        .select(col("doc_id"),
          // scheme-agnostic host extraction: an http:// keeper is a
          // legitimate page of its own
          regexp_extract(col("url"), "://([^.]+)\\.", 1).as("lang"),
          length(col("text")).cast("long").as("n_chars"),
          col("text"))
        .localCheckpoint()
      Prepare.fullPrepare(crawled)
    },

    // ---- the WRITE side of the WARC family: serialize the extracted
    //      corpus back out as WET shards (WARC/1.0 `conversion`
    //      records, one gzip member each, one shard per task — the
    //      layout real pipelines ship), then read it back through the
    //      same gunzip + grammar walk + digest gate. The oracle
    //      replays only the proven EXTRACTION, so the hash asserts
    //      the write→read loop is the identity on the corpus — full
    //      text, per document. ----
    Q("q_warc_wet_roundtrip", Some(sqlWetRoundtrip)) { (s, dir) =>
      writeArchives(s, dir)
      val docs = extractText(parseArchives(s, s"$FixtureRoot/*.garc"))
        .localCheckpoint()
      writeWetSegments(docs, WetRoot)
      parseWetSegments(s, s"$WetRoot/*.warc.gz")
        .select(
          regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("url"), col("text"))
        .orderBy("doc_id")
    },

    // ---- crawl archives carrying MEDIA records: the same length-
    //      prefixed walk extracts hex-encoded raw 9×8 pixel planes
    //      (crawl corpora carry images next to text; hex keeps the
    //      segment ASCII so the oracle's walk still equals byte
    //      offsets AND pixel values read straight off the payload),
    //      then the REAL codec path — decode hex → gray PNG encode →
    //      ImageIO decode → dHash64 → the banded keep-min survivor
    //      operator. Archive bytes to image-dedup survivors, one
    //      hash pin; the mirror closes exhaustive (banding recall
    //      proven on the media trajectory too). ----
    Q("mm_warc_media", Some(sqlMediaDedup(maxHamming = 3))) { (s, dir) =>
      writeMediaArchives(s, dir)
      val spark = s
      import spark.implicits._
      val sigs = Tables.spread(
          parseArchives(s, s"$MediaFixtureRoot/*.garc"), col("doc_id"))
        .select(col("doc_id"), col("html").as("hex"))
        .as[(Long, String)]
        .map { case (id, hex) =>
          val px = Array.tabulate(72)(i =>
            Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16))
          val (lo, hi) = Multimodal.dHash64(
            Multimodal.encodeGrayPng(px, 9, 8))
          (id, lo, hi)
        }.toDF("doc_id", "lo", "hi").localCheckpoint()
      Multimodal.hammingDedupSurvivors(sigs, maxHamming = 3)
    },

    // ---- crawl archives carrying AUDIO records (r13): the walk
    //      extracts hex-encoded REAL WAV containers, the engine hex-
    //      decodes and runs the genuine AudioSystem parse + 65-stripe
    //      pooled fingerprint + banded keep-min; the oracle reads PCM
    //      sample values straight off the payload hex (44-byte RIFF
    //      header, little-endian int16 pairs) and replays the pooled
    //      algebra — archive bytes to audio-dedup survivors, one
    //      hash pin. ----
    Q("mm_warc_media_audio",
        Some(sqlAvAudioDedup(maxHamming = 3))) { (s, dir) =>
      writeAudioArchives(s, dir)
      val spark = s
      import spark.implicits._
      val sigs = Tables.spread(
          parseArchives(s, s"$AudioFixtureRoot/*.garc"), col("doc_id"))
        .select(col("doc_id"), col("html").as("hex"))
        .as[(Long, String)]
        .map { case (id, hex) =>
          val bytes = Array.tabulate(hex.length / 2)(i => Integer
            .parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
          val (lo, hi) = Multimodal.audioFingerprint64Pooled(bytes)
          (id, lo, hi)
        }.toDF("doc_id", "lo", "hi").localCheckpoint()
      Multimodal.hammingDedupSurvivors(sigs, maxHamming = 3)
    },

    // ---- crawl archives carrying VIDEO records (r13): hex-encoded
    //      REAL MJPEG AVI containers through the walk, then the
    //      genuine demux + per-frame ImageIO decode + pooled
    //      fingerprint + banded keep-min. JPEG entropy coding is
    //      opaque to SQL, so the oracle regenerates the frame levels
    //      from the generating algebra and pins archive membership
    //      through the walk (see sqlAvVideoDedup's Scaladoc for the
    //      division of labor). ----
    Q("mm_warc_media_video",
        Some(sqlAvVideoDedup(maxHamming = 3))) { (s, dir) =>
      writeVideoArchives(s, dir)
      val spark = s
      import spark.implicits._
      val sigs = Tables.spread(
          parseArchives(s, s"$VideoFixtureRoot/*.garc"), col("doc_id"))
        .select(col("doc_id"), col("html").as("hex"))
        .as[(Long, String)]
        .map { case (id, hex) =>
          val bytes = Array.tabulate(hex.length / 2)(i => Integer
            .parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
          val (lo, hi) = Multimodal.videoFingerprint64Pooled(bytes)
          (id, lo, hi)
        }.toDF("doc_id", "lo", "hi").localCheckpoint()
      Multimodal.hammingDedupSurvivors(sigs, maxHamming = 3)
    })
}
