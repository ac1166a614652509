package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The raw-crawl ingestion front end: framing round trips, the
  * length-prefixed-beats-delimiter property, resync-on-corruption
  * (the seeded-corruption discipline of the RIFF/AVI codecs), and the
  * HTML→text strip contract rule by rule.
  */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  private val recs = Seq(
    (1L, "https://a.example.org/1", "<p>one two three four five</p>"),
    (2L, "https://a.example.org/2", "<p>alpha beta gamma delta</p>"),
    (3L, "https://b.example.org/3", "<p>red green blue cyan magenta</p>"))

  test("well-formed archive round trips exactly") {
    val parsed = Crawl.parseArchive(Crawl.encodeArchive(recs))
    assert(parsed == recs)
  }

  test("a payload CONTAINING the record sentinel parses as ONE intact " +
      "record (length-prefixed framing, not delimiter splitting)") {
    val trap = (5L, "https://t.example.org/5",
      s"<p>before before before before</p>\n${Crawl.Sentinel}" +
        "id: 999\nurl: x\nlen: 0\n\n\n<p>after after after after</p>")
    val parsed = Crawl.parseArchive(Crawl.encodeArchive(Seq(recs.head, trap)))
    assert(parsed == Seq(recs.head, trap),
      "declared length must carry the walk OVER embedded sentinel bytes")
  }

  test("a truncated final payload (len overruns EOF) drops that record " +
      "and keeps every earlier one") {
    val bytes = Crawl.encodeArchive(recs)
    val cut = java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 10)
    assert(Crawl.parseArchive(cut) == recs.dropRight(1))
  }

  test("a lying len lands mid-text, fails the record-boundary check, " +
      "and the parser resyncs to the NEXT record") {
    val s = new String(Crawl.encodeArchive(recs),
      java.nio.charset.StandardCharsets.US_ASCII)
    // shrink record 2's declared length (its payload is 29 bytes):
    // the payload no longer ends on a newline boundary -> rejected,
    // resync recovers record 3
    val lied = s.replaceFirst("len: 29", "len: 11")
    assert(s != lied, "fixture layout changed; update the lied length")
    val parsed = Crawl.parseArchive(
      lied.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    assert(parsed == Seq(recs(0), recs(2)))
  }

  test("a corrupted sentinel skips just that record; later records " +
      "are recovered by resync") {
    val bytes = Crawl.encodeArchive(recs)
    val s = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
    // first sentinel after the magic belongs to record 1
    val at = s.indexOf(Crawl.Sentinel)
    bytes(at) = 'X'
    assert(Crawl.parseArchive(bytes) == recs.drop(1))
  }

  test("a garbage header block (no blank line within the cap) skips " +
      "the record without consuming the rest of the file") {
    val good = Crawl.encodeArchive(Seq(recs.head))
    val noBlank = (Crawl.FileMagic + Crawl.Sentinel +
      "id: 7\nurl: u\nlen: 4\n" + ("x" * 64)) // headers never terminate
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val glued = noBlank ++ java.util.Arrays.copyOfRange(good,
      Crawl.FileMagic.length, good.length)
    assert(Crawl.parseArchive(glued) == Seq(recs.head))
  }

  test("seeded byte-flip fuzz: the parser never throws on corrupted " +
      "archives and never emits more records than were written") {
    val base = Crawl.encodeArchive(recs)
    val rnd = new scala.util.Random(0xC0FFEE)
    (1 to 200).foreach { _ =>
      val mutated = base.clone()
      (1 to 1 + rnd.nextInt(6)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      val parsed = Crawl.parseArchive(mutated) // must not throw
      assert(parsed.size <= recs.size)
    }
  }

  test("a file without the archive magic yields no records") {
    assert(Crawl.parseArchive("PKjunkjunk".getBytes) == Nil)
    assert(Crawl.parseArchive(Array.emptyByteArray) == Nil)
  }

  test("htmlToText: block strip, tag strip, entity order, and the " +
      "boilerplate line rule, each against an engineered target") {
    val html = Seq(
      "<html>",
      "<head><title>Doc 9</title>",
      "<style>body { color: #000; }</style>",
      "<script>var s = \"</hi>\"; var x = 1 < 2;</script>",
      "</head><body>",
      "<nav>Home | About | Contact</nav>",
      "<!-- meta -->",
      "<p>alpha beta gamma delta &amp; epsilon &lt;raw&gt; zeta</p>",
      "<p>double escape &amp;lt; stays literal here okay</p>",
      "<p>tiny line</p>",
      "<div>Copyright 2026 example.org</div>",
      "</body></html>").mkString("\n")
    val out = Seq((9L, "u", html)).toDF("doc_id", "url", "html")
      .select(Crawl.htmlToText(col("html")).as("text"))
      .collect()(0).getString(0)
    assert(out ==
      "alpha beta gamma delta & epsilon <raw> zeta " +
        "double escape &lt; stays literal here okay",
      s"got: $out")
  }

  test("langid routing: the NB router's labels on crawl-extracted text " +
      "agree with ground truth above the router's own held-out " +
      "confusion floor, and the routed prepare keeps a corpus") {
    Crawl.writeArchives(spark, sfDir)
    val labeled = graft.Tables.load(spark, sfDir, "documents")
    val crawled = Crawl.extractText(
      Crawl.parseArchives(spark, s"${Crawl.FixtureRoot}/*.garc"))
    val routed = NbLangid
      .route(labeled.where(col("doc_id") % 5 =!= 0), crawled)
    val withTruth = routed
      .join(labeled.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(withTruth.length == labeled.count(),
      "every crawled doc must receive exactly one routed label")
    val agree = withTruth.count { case (p, t) => p == t }.toDouble /
      withTruth.length
    // the router's measured floor: its held-out diagonal rate (the
    // registered text_nb_langid confusion matrix)
    val conf = NbLangid.confusion(labeled).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val floor = conf.collect { case (a, p, n) if a == p => n }.sum
      .toDouble / conf.map(_._3).sum
    assert(agree >= floor,
      f"crawl-text routing agreement $agree%.3f must not fall below " +
        f"the router's held-out floor $floor%.3f (extraction noise " +
        "must not break the router)")
    // OOV-invariance theorem (controlled): injecting tokens outside
    // the train vocabulary into every doc must not flip a single
    // routing decision — the exact pathology the in-vocab restriction
    // removes (OOV tokens used to scale the lang-DEPENDENT
    // denominator, biasing the argmax toward the smallest corpus).
    // The real extraction also reflows paragraphs and drops short
    // trailing lines — genuine token loss — so the theorem is pinned
    // on a pure-injection fixture, not the extraction output.
    val train = labeled.where(col("doc_id") % 5 =!= 0)
    val clean = labeled.select(col("doc_id"), col("text"))
    val noisy = clean.withColumn("text",
      concat(col("text"),
        lit(" alpha beta gamma delta & epsilon <raw> zeta qqzx")))
    val cleanRouted = NbLangid.route(train, clean)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val noisyRouted = NbLangid.route(train, noisy)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(noisyRouted == cleanRouted,
      "routing must be invariant under pure OOV-token injection")
    // and the composed prepare under the routed labels still packs
    val rows = graft.SparkEntry
      .queries("pipeline_crawl_prepare_langid")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(rows("0_input") == labeled.count())
    assert(rows("7_pack") > 0,
      "a training corpus must survive the langid-routed pipeline")
  }

  test("pipeline_crawl_prepare: the crawl front feeds the full corpus " +
      "prep — stage 0 counts every archived record, the chain is " +
      "monotone, and a packed corpus survives") {
    val rows = graft.SparkEntry
      .queries("pipeline_crawl_prepare")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    val nDocs = graft.Tables.load(spark, sfDir, "documents").count()
    assert(rows("0_input") == nDocs,
      "every archived record must reach the pipeline input")
    // extracted crawl text already passed htmlToText's line rules
    // (>= 4 alphabetic words guaranteed by the content line), so the
    // scrub stage drops nothing here
    assert(rows("1_scrub") == nDocs)
    assert(rows("2_canonicalize") == nDocs)
    val stages = Seq("2_canonicalize", "3_quality_gate",
      "4_exact_substr", "5_near_dup", "6_decontaminate")
    for (Seq(a, b) <- stages.sliding(2))
      assert(rows(b) <= rows(a), s"$b grew docs vs $a")
    assert(rows("6_decontaminate") > 0 && rows("7_pack") > 0,
      "a training corpus must survive the crawl-rooted pipeline")
  }

  test("pipeline_warc_prepare: the gz-WARC-rooted composed prepare " +
      "equals the GARC-rooted one row for row — both fixtures carry " +
      "the same sanitized corpus, so every stage count, token sum and " +
      "the packing digest must agree across crawl FORMATS") {
    val viaWarc = graft.SparkEntry
      .queries("pipeline_warc_prepare")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val viaGarc = graft.SparkEntry
      .queries("pipeline_crawl_prepare")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaWarc == viaGarc,
      "the composed prepare must not depend on which crawl container " +
        s"delivered the corpus: $viaWarc vs $viaGarc")
  }

  test("mm_warc_media: survivors extracted from the media archives " +
      "equal mm_image_dedup's direct-plane survivors (the crawl round " +
      "trip preserves the signature plane exactly)") {
    val viaArchive = graft.SparkEntry
      .queries("mm_warc_media")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val direct = graft.SparkEntry
      .queries("mm_image_dedup")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaArchive == direct,
      "archive-extracted pixels must reproduce the direct dHash plane")
  }

  // ---- REAL WARC/1.0 over multi-member gzip ----

  private def httpResponse(id: Long, html: String): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      s"X-Crawl-Doc: $id\r\n\r\n" + html)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def responseRec(id: Long, url: String,
      payload: Array[Byte]): Array[Byte] =
    Crawl.encodeWarcRecord(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:uuid:$id>",
      "WARC-Target-URI" -> url,
      "Content-Type" -> "application/http; msgtype=response"), payload)

  private def warcSegment(docs: Seq[(Long, String, String)])
      : Seq[Array[Byte]] = {
    val info = Crawl.encodeWarcRecord(Seq(
      "WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graftbot/1.0\r\n".getBytes)
    info +: docs.flatMap { case (id, url, html) =>
      Seq(
        Crawl.encodeWarcRecord(Seq(
          "WARC-Type" -> "request",
          "WARC-Target-URI" -> url,
          "Content-Type" -> "application/http; msgtype=request"),
          s"GET / HTTP/1.1\r\nHost: h\r\n\r\n".getBytes),
        responseRec(id, url, httpResponse(id, html)))
    }
  }

  private val wrecs = recs
  private def wantWarc = wrecs.map { case (_, url, html) => (url, html) }

  test("gz WARC round trip: gunzip the member-per-record stream, keep " +
      "only WARC-Type: response, skip the HTTP headers") {
    val gz = warcSegment(wrecs).flatMap(Crawl.gzipMember).toArray
    assert(Crawl.parseWarc(Crawl.gunzipMembers(gz)) == wantWarc,
      "responses must survive; warcinfo and request records must not")
  }

  test("WARC: a payload CONTAINING the version line parses as ONE " +
      "intact record (Content-Length framing, not delimiter splitting)") {
    val trap = (7L, "https://t.example.org/doc/7",
      s"<p>before before before before</p>\n${Crawl.WarcVersion}" +
        "WARC-Type: response\r\nContent-Length: 0\r\n\r\n" +
        "<p>after after after after</p>")
    val seg = warcSegment(Seq(wrecs.head, trap)).flatten.toArray
    assert(Crawl.parseWarc(seg) ==
      Seq(wantWarc.head, (trap._2, trap._3)),
      "declared length must carry the walk OVER embedded version bytes")
  }

  test("WARC: a lying Content-Length fails the record-separator check " +
      "and the parser resyncs to the NEXT record") {
    val seg = warcSegment(wrecs).flatten.toArray
    val s = new String(seg, java.nio.charset.StandardCharsets.US_ASCII)
    // record 2's response payload: HTTP head (49 bytes) + 30-byte body
    val want = httpResponse(2L, wrecs(1)._3).length
    val lied = s.replaceFirst(s"Content-Length: $want",
      s"Content-Length: ${want - 13}")
    assert(s != lied, "fixture layout changed; update the lied length")
    val parsed = Crawl.parseWarc(
      lied.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    assert(parsed == Seq(wantWarc(0), wantWarc(2)),
      s"got $parsed")
  }

  test("WARC: a response payload with no HTTP header break yields no " +
      "row, but the walk continues to later records") {
    val bad = responseRec(9L, "https://x.example.org/doc/9",
      "no http break here at all".getBytes)
    val seg = (warcSegment(Seq(wrecs.head)) ++ Seq(bad) ++
      warcSegment(wrecs.drop(2)).drop(1)).flatten.toArray
    assert(Crawl.parseWarc(seg) == Seq(wantWarc(0), wantWarc(2)))
  }

  test("WARC gz: a truncated final member keeps every intact earlier " +
      "record and never throws") {
    val members = warcSegment(wrecs).map(Crawl.gzipMember)
    val gz = members.flatten.toArray
    val cut = java.util.Arrays.copyOfRange(gz, 0,
      gz.length - members.last.length / 2)
    val parsed = Crawl.parseWarc(Crawl.gunzipMembers(cut))
    assert(parsed == wantWarc.dropRight(1),
      "records before the truncated member must survive")
  }

  test("WARC gz: a bit flip inside a middle member drops that member " +
      "WHOLE (per-member CRC gate — garbled bytes never reach the " +
      "grammar walk) and truncates there; earlier records are intact") {
    val members = warcSegment(wrecs).map(Crawl.gzipMember)
    val gz = members.flatten.toArray
    // members: info, req1, resp1, req2, resp2, ... — flip a byte
    // inside member 4 (response #2)'s deflate data
    val off = members.take(4).map(_.length).sum + members(4).length / 2
    gz(off) = (gz(off) ^ 0x55).toByte
    val parsed = Crawl.parseWarc(Crawl.gunzipMembers(gz))
    assert(parsed == Seq(wantWarc.head),
      "response #1 must survive byte-exact; the damaged response #2 " +
        "must be dropped whole, never surfaced garbled; the tail " +
        "after the damage is lost (deflate has no sync points)")
  }

  test("WARC: seeded byte-flip fuzz on the decompressed grammar never " +
      "throws and never over-emits") {
    val base = warcSegment(wrecs).flatten.toArray
    val rnd = new scala.util.Random(0xBEEF)
    (1 to 200).foreach { _ =>
      val mutated = base.clone()
      (1 to 1 + rnd.nextInt(6)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      assert(Crawl.parseWarc(mutated).size <= wantWarc.size)
    }
  }

  test("WARC-Block-Digest: a tampered payload whose framing is intact " +
      "is dropped by the record-level sha1 check; records without a " +
      "sha1 digest pass through unverified") {
    val seg = warcSegment(wrecs).flatten.toArray
    // flip one payload byte INSIDE record 2's html body: framing and
    // Content-Length stay consistent, only the content lies
    val s = new String(seg, java.nio.charset.StandardCharsets.US_ASCII)
    val at = s.indexOf("alpha beta")
    assert(at > 0, "fixture body changed; update the tamper target")
    seg(at) = 'X'
    assert(Crawl.parseWarc(seg) == Seq(wantWarc(0), wantWarc(2)),
      "the digest gate must drop exactly the tampered record")
    // no digest header -> no verification (the spec-level records in
    // responseRec carry digests via encodeWarcRecord; hand-build one
    // without)
    val nodig = (Crawl.WarcVersion +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: u\r\n" +
      "Content-Length: 21\r\n\r\n" +
      "HTTP/1.1 200 OK\r\n\r\nhi" + "\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(Crawl.parseWarc(nodig) == Seq(("u", "hi")))
  }

  test("WARC gz: garbage that is not gzip at all yields no records") {
    assert(Crawl.parseWarc(Crawl.gunzipMembers(
      "totally not gzip".getBytes)) == Nil)
    assert(Crawl.parseWarc(Array.emptyByteArray) == Nil)
  }

  test("segment-size guards fail LOUDLY: raw cap and inflation cap " +
      "both name the rotation fix (never a silent truncate or OOM)") {
    val e1 = intercept[IllegalArgumentException](
      Crawl.guardSegmentSize(101, cap = 100))
    assert(e1.getMessage.contains("rotate smaller segments"))
    val member = Crawl.gzipMember(("x" * 4096).getBytes)
    val e2 = intercept[IllegalArgumentException](
      Crawl.gunzipMembers(member, maxInflated = 1024L))
    assert(e2.getMessage.contains("UNCOMPRESSED"))
  }

  test("q_warc_extract_gz equals q_warc_extract row for row: the gz " +
      "WARC path and the GARC path extract the identical corpus") {
    val gz = graft.SparkEntry
      .queries("q_warc_extract_gz")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val garc = graft.SparkEntry
      .queries("q_warc_extract")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(gz == garc)
  }

  test("parseArchives distributes one segment per task and the " +
      "composed query equals a direct per-doc recompute") {
    Crawl.writeArchives(spark, sfDir)
    val got = Crawl.extractText(
        Crawl.parseArchives(spark, s"${Crawl.FixtureRoot}/*.garc"))
      .orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
      .map { r =>
        val clean = r.getString(1).replaceAll("[^\\x20-\\x7e]", "")
        val words = clean.trim.split("\\s+").filter(_.nonEmpty)
        val paras = words.grouped(12).map(_.toSeq)
          .filter(_.count(_.matches("[A-Za-z]+")) >= Crawl.MinContentWords)
          .map(_.mkString(" "))
        ((r.getLong(0),
          (Seq("alpha beta gamma delta & epsilon <raw> zeta",
            "dial 415-555-2671 or ping 10.0.0.1 build v2.10.3 ok") ++
            paras.toSeq)
            .mkString(" ")))
      }
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"doc ${w._1}") }
  }

  // ---- URL canonicalization (the first dedup layer of crawl prep) ----

  test("canonicalizeUrl: every rule individually — fragment, case fold " +
      "(path case KEPT), scheme-matched default ports, trailing slash, " +
      "tracking params with survivor ORDER preserved") {
    val cases = Seq(
      "https://a.example.org/doc/1#sec" -> "https://a.example.org/doc/1",
      "HTTPS://A.Example.ORG/Doc/X" -> "https://a.example.org/Doc/X",
      "https://a.example.org:443/doc/1" -> "https://a.example.org/doc/1",
      "http://a.example.org:80/doc/1" -> "http://a.example.org/doc/1",
      // a NON-default port is meaningful and kept
      "https://a.example.org:8443/d" -> "https://a.example.org:8443/d",
      // the OTHER scheme's default is not this scheme's default
      "https://a.example.org:80/d" -> "https://a.example.org:80/d",
      "https://a.example.org/doc/1///" -> "https://a.example.org/doc/1",
      "https://a.example.org" -> "https://a.example.org/",
      "https://a.example.org/" -> "https://a.example.org/",
      "https://a.example.org/p?utm_source=x&b=2&gclid=1&a=1" ->
        "https://a.example.org/p?b=2&a=1",
      "https://a.example.org/p?utm_campaign=x&fbclid=y" ->
        "https://a.example.org/p",
      // utm_* is a name rule, not a substring rule
      "https://a.example.org/p?utmx=1" -> "https://a.example.org/p?utmx=1")
    val got = cases.map(_._1).toDF("url")
      .select(Crawl.canonicalizeUrl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("canonicalizeUrl is IDEMPOTENT over a seeded URL grid: " +
      "canon(canon(u)) == canon(u)") {
    val rnd = new scala.util.Random(42)
    val urls = (1 to 300).map { _ =>
      val scheme = Seq("https", "HTTP", "http")(rnd.nextInt(3))
      val host = Seq("A.ex.org", "b.ex.org", "C.EX.ORG")(rnd.nextInt(3))
      val port = Seq("", ":80", ":443", ":8080")(rnd.nextInt(4))
      val path = Seq("", "/", "/p", "/P/q", "/p///")(rnd.nextInt(5))
      val query =
        Seq("", "?a=1", "?utm_source=x", "?a=1&utm_c=2&b=3")(rnd.nextInt(4))
      val frag = Seq("", "#f")(rnd.nextInt(2))
      s"$scheme://$host$port$path$query$frag"
    }
    val once = urls.toDF("url")
      .select(Crawl.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    val twice = once.toDF("c")
      .select(Crawl.canonicalizeUrl(col("c"))).as[String].collect().toSeq
    assert(once == twice)
  }

  test("canonicalizeUrl fails LOUDLY on anything that is not an " +
      "absolute http(s) URL") {
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
    // userinfo URLs are also refused (r12 advice): RFC 3986 folds
    // only scheme and host, but the authority grab would fold the
    // userinfo too, silently merging User@h with user@h
    Seq("ftp://a.example.org/x", "relative/path", "//no.scheme/x",
      "https://User@a.example.org/x", "http://u:pw@a.example.org/")
      .foreach { bad =>
        val e = intercept[Exception](Seq(bad).toDF("url")
          .select(Crawl.canonicalizeUrl(col("url"))).collect())
        assert(chain(e).contains("canonicalizeUrl"), bad)
      }
  }

  test("q_warc_url_dedup: groups and keepers recomputed INDEPENDENTLY " +
      "from the fixture's id algebra — merge set, first-crawled keeper, " +
      "keeper spelling, and stay-distinct pages all agree") {
    val got = graft.SparkEntry.queries("q_warc_url_dedup")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
      .as[(Long, String)].collect()
    val expected = docs.flatMap { case (d, src) =>
      val base = s"https://$src.example.org/doc/$d"
      val baseGroup = (base, d * 8, base,
        1L + Seq(2, 3, 4).count(m => d % m == 0))
      val page2 = if (d % 5 == 0)
        Some((s"$base?page=2", d * 8 + 4, s"$base?page=2",
          1L + (if (d % 10 == 0) 1L else 0L)))
      else None
      val http = if (d % 7 == 0)
        Some((s"http://$src.example.org/doc/$d", d * 8 + 6,
          s"http://$src.example.org:80/doc/$d", 1L))
      else None
      val gate = gateHostOf(d).map { h =>
        (s"https://$h/doc/$d", d * 8 + 7, s"https://$h/doc/$d", 1L)
      }
      Seq(baseGroup) ++ page2 ++ http ++ gate
    }.sortBy(_._1).toSeq
    assert(got == expected)
  }

  /** The fixture's gate-host algebra (one page per d % 6 ∈ {0..4}),
    * mirrored from the writer — each host makes one domain-gate rule
    * class load-bearing. */
  private def gateHostOf(d: Long): Option[String] = (d % 6) match {
    case 0 => Some("malware.badhost.example")
    case 1 => Some("cdn.tracker.net")
    case 2 => Some("research.tracker.net")
    case 3 => Some("tracker.net")
    case 4 => Some("xtracker.net")
    case _ => None
  }

  test("q_warc_domain_filter: every policy rule class decides a host " +
      "— exact block, subdomain block, apex block, allow overriding " +
      "BOTH block lists, the suffix-anchoring near-miss kept, and " +
      "per-host counts recomputed from the fixture's id algebra") {
    val got = graft.SparkEntry.queries("q_warc_domain_filter")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got("malware.badhost.example")._1 == "blocked_host")
    assert(got("cdn.tracker.net")._1 == "blocked_domain",
      "a subdomain of a blocked domain must be blocked")
    assert(got("tracker.net")._1 == "blocked_domain",
      "the blocked domain's apex must be blocked")
    assert(got("research.tracker.net")._1 == "allowed",
      "the allowlist must beat BOTH the host and the domain block")
    assert(got("xtracker.net")._1 == "kept",
      "'xtracker.net' ends with 'tracker.net' but not '.tracker.net' " +
        "— the suffix match must anchor at a label boundary")
    // per-host counts: one gate page per doc in the host's d % 6 class
    val ids = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long].collect()
    for ((h, cls) <- Seq(("malware.badhost.example", 0L),
        ("cdn.tracker.net", 1L), ("research.tracker.net", 2L),
        ("tracker.net", 3L), ("xtracker.net", 4L)))
      assert(got(h)._2 == ids.count(_ % 6 == cls).toLong,
        s"$h count must equal the d % 6 == $cls doc population")
    // every src host is kept (the bulk of the crawl passes the gate)
    assert(got.keys.filter(_.startsWith("src"))
      .forall(h => got(h)._1 == "kept"))
  }

  test("domainVerdicts on crafted hosts: deep subdomains block through " +
      "any label depth; sibling domains and bare TLDs never match") {
    val hosts = Seq(
      ("a.b.c.tracker.net", 5L), ("tracker.net", 1L),
      ("nettracker.org", 2L), ("net", 1L), ("clean.example", 9L))
      .toDF("host", "n_docs")
    val got = Crawl.domainVerdicts(hosts,
        Seq("never.example").toDF("host"),
        Seq("tracker.net").toDF("domain"),
        Seq.empty[String].toDF("host"))
      .select("host", "verdict").as[(String, String)].collect().toMap
    assert(got("a.b.c.tracker.net") == "blocked_domain",
      "the suffix explode must reach arbitrary label depth")
    assert(got("tracker.net") == "blocked_domain")
    assert(got("nettracker.org") == "kept")
    assert(got("net") == "kept",
      "a bare TLD host must not match a blocked domain's own suffix")
    assert(got("clean.example") == "kept")
  }

  test("canonicalHost: bracket-aware port strip — an IPv6 bracket " +
      "literal keeps its colons, a reg-name drops its explicit port, " +
      "a portless host passes through (r15 advice)") {
    val got = Seq(
      "https://evil.example:8080/p",
      "https://[2001:db8::1]:8080/p",
      "https://[2001:db8::1]/p",
      "https://plain.example/p")
      .toDF("u")
      .select(Crawl.canonicalHost(col("u")).as("h"))
      .as[String].collect().toSeq
    assert(got == Seq("evil.example", "[2001:db8::1]", "[2001:db8::1]",
      "plain.example"),
      s"bracket-aware host parse: $got")
  }

  test("the fixture's digit content line is scrub-load-bearing (r15): " +
      "extraction keeps it intact, redaction hits the phone AND the " +
      "dotted quad, and the version-string near-miss survives — so " +
      "every composed crawl prepare now hash-verifies the IP/phone " +
      "classes cross-engine instead of riding a digit-free corpus") {
    val html = Crawl.wrapHtml(7L, "one two three four five six")
    val txt = Crawl.extractText(
        Seq((7L, "https://x.example.org/7", html))
          .toDF("doc_id", "url", "html"))
      .select("text").as[String].head()
    assert(txt.contains(
      "dial 415-555-2671 or ping 10.0.0.1 build v2.10.3 ok"),
      s"extraction must keep the digit line intact: $txt")
    val scrubbed = TextAnalysis.scrubbed(
        Seq((7L, txt)).toDF("doc_id", "text"))
      .select("text").as[String].head()
    assert(scrubbed.contains("dial <PHONE> or ping <IP> build v2.10.3 ok"),
      s"phone + IP redact, the version near-miss survives: $scrubbed")
    assert(!scrubbed.contains("415") && !scrubbed.contains("10.0.0.1"))
  }

  // ---- WET: the WRITE side of the WARC family ----

  test("WET round trip is the identity across partitions, including an " +
      "empty text and a text CONTAINING the WARC version line") {
    val docs = Seq(
      (1L, "https://a.example.org/doc/1", "plain text body one"),
      (2L, "https://a.example.org/doc/2",
        s"evil ${Crawl.WarcVersion}embedded version line"),
      (3L, "https://b.example.org/doc/3", ""),
      (4L, "https://b.example.org/doc/4", "four four four four"))
    withTempDir("wet_rt") { dir =>
      Crawl.writeWetSegments(
        docs.toDF("doc_id", "url", "text").repartition(3), dir)
      val files = new java.io.File(dir).listFiles()
      assert(files.nonEmpty && files.forall(_.getName.endsWith(".warc.gz")))
      val back = Crawl.parseWetSegments(spark, s"$dir/*.warc.gz")
        .as[(String, String)].collect().toSet
      assert(back == docs.map(d => (d._2, d._3)).toSet)
    }
  }

  test("writeWetSegments clears STALE shards from a wider previous " +
      "run — a re-run's directory holds exactly this frame's corpus") {
    withTempDir("wet_stale") { dir =>
      val wide = (1L to 9L)
        .map(i => (i, s"https://a.example.org/doc/$i", s"doc $i"))
      Crawl.writeWetSegments(wide.toDF("doc_id", "url", "text")
        .repartition(4), dir)
      val narrow = Seq((99L, "https://a.example.org/doc/99", "only doc"))
      Crawl.writeWetSegments(narrow.toDF("doc_id", "url", "text")
        .coalesce(1), dir)
      val back = Crawl.parseWetSegments(spark, s"$dir/*.warc.gz")
        .as[(String, String)].collect().toSet
      assert(back == Set(("https://a.example.org/doc/99", "only doc")))
    }
  }

  test("writeWetSegments clears ONLY its own shard pattern — unrelated " +
      "files and subdirectories in the output dir survive (r12 advice: " +
      "the unfiltered clear destroyed them / threw on directories)") {
    withTempDir("wet_foreign") { d =>
      val dir = java.nio.file.Paths.get(d)
      val foreign = dir.resolve("manifest.json")
      java.nio.file.Files.write(foreign, "{}".getBytes("UTF-8"))
      val sub = dir.resolve("checkpoint")
      java.nio.file.Files.createDirectories(sub)
      java.nio.file.Files.write(sub.resolve("state"), "x".getBytes("UTF-8"))
      // an abandoned tmp half-shard from a killed task IS ours: cleared
      val staleTmp = dir.resolve("part-00007.warc.gz.tmp")
      java.nio.file.Files.write(staleTmp, "half".getBytes("UTF-8"))
      val docs = Seq((5L, "https://a.example.org/doc/5", "five tokens"))
      Crawl.writeWetSegments(
        docs.toDF("doc_id", "url", "text").coalesce(1), dir.toString)
      assert(java.nio.file.Files.exists(foreign),
        "unrelated file must survive the shard clear")
      assert(java.nio.file.Files.exists(sub.resolve("state")),
        "subdirectory must survive the shard clear")
      assert(!java.nio.file.Files.exists(staleTmp),
        "an abandoned .tmp half-shard is ours and must be cleared")
      val back = Crawl.parseWetSegments(spark, s"$dir/*.warc.gz")
        .as[(String, String)].collect().toSet
      assert(back == Set(("https://a.example.org/doc/5", "five tokens")))
      // and no .tmp remains after a successful commit (atomic rename)
      assert(!new java.io.File(dir.toString).listFiles()
        .exists(_.getName.endsWith(".tmp")))
    }
  }

  test("WET: an oversized record is DROPPED with a counter, never " +
      "thrown (r14 advice: a throw would crash-loop the streaming " +
      "triangle on a deterministic poison record); the fixture " +
      "encoder keeps the loud form") {
    // a URL past half the reader's header cap: a real-world poison
    // record shape (crawl URLs can exceed 2 KB) that is cheap to build
    val longUrl = "https://a.example.org/" + ("q" * Crawl.MaxHeaderBytes)
    val docs = Seq(
      (1L, "https://a.example.org/doc/1", "kept body one"),
      (2L, longUrl, "poison record body"),
      (3L, "https://a.example.org/doc/3", "kept body three"))
    withTempDir("wet_oversz") { dir =>
      val droppedN = Crawl.writeWetSegments(
        docs.toDF("doc_id", "url", "text").repartition(2), dir)
      assert(droppedN == 1L, s"exactly the poison record drops: $droppedN")
      val back = Crawl.parseWetSegments(spark, s"$dir/*.warc.gz")
        .as[(String, String)].collect().toSet
      assert(back == Set(
        ("https://a.example.org/doc/1", "kept body one"),
        ("https://a.example.org/doc/3", "kept body three")),
        "intact siblings survive; the poison record is absent")
      // the FIXTURE encoder still fails loudly on the same record — a
      // fixture that would make a reader cap decide parity is a bug at
      // write time, not a silent drop
      val e = intercept[IllegalArgumentException] {
        Crawl.encodeFixtureRecord(Seq(
          "WARC-Type" -> "conversion", "WARC-Target-URI" -> longUrl),
          "x".getBytes("UTF-8"))
      }
      assert(e.getMessage.contains("MaxHeaderBytes"))
    }
  }

  test("fixture memo tracks what is ON DISK per root: dir A -> dir B " +
      "-> dir A again rewrites A's archives instead of serving B's " +
      "bytes (r14 advice: the grow-only key set skipped the rewrite)") {
    // a second documents table in a scratch dir, disjoint doc_ids
    withTempDir("crawl_dirB") { dirB =>
      Seq((900001L, "tiny corpus b one", "alpha", "en"),
          (900002L, "tiny corpus b two", "beta", "en"))
        .toDF("doc_id", "text", "source", "lang")
        .write.parquet(s"$dirB/documents.parquet")
      def fixtureIds(): Set[Long] = {
        import org.apache.spark.sql.functions.col
        Crawl.parseArchives(spark, s"${Crawl.FixtureRoot}/*.garc")
          .select(col("doc_id")).as[Long].collect().toSet
      }
      Crawl.writeArchives(spark, sfDir)
      val idsA = fixtureIds()
      assert(!idsA.contains(900001L))
      Crawl.writeArchives(spark, dirB)
      assert(fixtureIds() == Set(900001L, 900002L),
        "dir B's write must overwrite the shared fixture root")
      Crawl.writeArchives(spark, sfDir)
      assert(fixtureIds() == idsA,
        "returning to dir A must REWRITE its archives — a stale memo " +
          "would silently serve dir B's bytes here")
    }
  }

  test("AV-in-archive: the audio/video archive trajectories reproduce " +
      "the pooled in-table queries' survivor sets exactly — the same " +
      "fingerprint algebra, one real container layer deeper") {
    def rows(name: String) = graft.SparkEntry.queries(name)(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(rows("mm_warc_media_audio") == rows("mm_audio_dedup_pooled"),
      "archive-borne WAVs must dedup exactly as the in-table audio")
    assert(rows("mm_warc_media_video") == rows("mm_video_dedup_pooled"),
      "archive-borne AVIs must dedup exactly as the in-table video")
  }

  test("WET: a tampered text byte in the engine's OWN output drops " +
      "that record at read (the digest gate holds on conversion " +
      "records); intact siblings survive") {
    val docs = Seq(
      (1L, "https://a.example.org/doc/1", "distinctive payload body"),
      (2L, "https://a.example.org/doc/2", "sibling record text here"))
    withTempDir("wet_tamper") { dir =>
      Crawl.writeWetSegments(docs.toDF("doc_id", "url", "text").coalesce(1),
        dir)
      val shard = new java.io.File(dir).listFiles().head
      val raw = Crawl.gunzipMembers(
        java.nio.file.Files.readAllBytes(shard.toPath))
      val s = new String(raw, java.nio.charset.StandardCharsets.US_ASCII)
      // same-LENGTH flip keeps the framing walk consistent — only the
      // record-level digest can catch it
      val tampered = s.replace("distinctive payload body",
        "distinctivX payload body")
      assert(s != tampered)
      val back = Crawl.parseWarcRecords(
        tampered.getBytes(java.nio.charset.StandardCharsets.US_ASCII),
        wantType = "conversion", skipHttp = false)
      assert(back == Seq(
        ("https://a.example.org/doc/2", "sibling record text here")))
    }
  }

  test("pipeline_url_prepare: stage 0 counts canonical PAGES — URL " +
      "spellings collapse BEFORE content prep (count recomputed " +
      "independently from the fixture's id algebra), the chain is " +
      "monotone, and a packed corpus survives") {
    val rows = graft.SparkEntry
      .queries("pipeline_url_prepare")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // canonical group count from the fixture's id-divisibility algebra:
    // one base group per doc, a ?page=2 group iff d%5==0, an http://
    // group iff d%7==0 (the same recompute q_warc_url_dedup pins) —
    // MINUS the domain-gated pages (r14): of the per-doc gate pages
    // (d%6 in {0..4}) only the allowed override (d%6==2) and the
    // anchoring near-miss (d%6==4) survive to content prep
    val expectedPages = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long].collect()
      .map(d => 1L + (if (d % 5 == 0) 1L else 0L) +
        (if (d % 7 == 0) 1L else 0L) +
        (if (d % 6 == 2 || d % 6 == 4) 1L else 0L)).sum
    assert(rows("0_input") == expectedPages,
      "the pipeline input must be gate-surviving canonical pages")
    val stages = Seq("1_scrub", "2_canonicalize", "3_quality_gate",
      "4_exact_substr", "5_near_dup", "6_decontaminate")
    for (Seq(a, b) <- stages.sliding(2))
      assert(rows(b) <= rows(a), s"$b grew docs vs $a")
    assert(rows("6_decontaminate") > 0 && rows("7_pack") > 0,
      "a training corpus must survive the URL-dedup-rooted pipeline")
  }

  test("urlKeeperRecords keeps exactly one record per canonical URL — " +
      "the smallest record id — with its payload intact") {
    val recs = Seq(
      (10L, "https://a.example.org/p", "<p>page body one two three</p>"),
      (11L, "https://A.example.org:443/p#x", "<p>same page spelled twice</p>"),
      (12L, "https://a.example.org/p?utm_source=x", "<p>and thrice</p>"),
      (20L, "https://a.example.org/p?page=2", "<p>a different page</p>"))
      .toDF("doc_id", "url", "html")
    val kept = Crawl.urlKeeperRecords(recs)
      .select("doc_id", "url", "html")
      .as[(Long, String, String)].collect().toSet
    assert(kept == Set(
      (10L, "https://a.example.org/p", "<p>page body one two three</p>"),
      (20L, "https://a.example.org/p?page=2", "<p>a different page</p>")))
  }

  test("q_warc_wet_roundtrip equals the direct extraction row for row") {
    val rt = graft.SparkEntry.queries("q_warc_wet_roundtrip")(spark, sfDir)
      .select("doc_id", "url", "text")
      .as[(Long, String, String)].collect().toSeq
    val direct = Crawl.extractText(
        Crawl.parseArchives(spark, s"${Crawl.FixtureRoot}/*.garc"))
      .orderBy("doc_id").select("doc_id", "url", "text")
      .as[(Long, String, String)].collect().toSeq
    assert(rt == direct)
  }

  test("archive fixture rewrites clear their own stale part segments " +
      "and nothing else") {
    import java.nio.file.{Files, Paths}
    val writers: Seq[(String, Seq[String], String => Unit)] = Seq(
      ("garc", Seq(".garc"), root =>
        Crawl.writeArchivesWithNow(spark, sfDir, root)((_, t) => t)),
      ("url", Seq(".garc"), Crawl.writeUrlArchivesNow(spark, sfDir, _)),
      ("warc", Seq(".warc", ".warc.gz"),
        Crawl.writeWarcArchivesNow(spark, sfDir, _)))
    for ((name, exts, write) <- writers)
      withTempDir("crawl_stale") { root =>
        val stale =
          exts.map(e => Paths.get(root, s"part${Crawl.FixtureFiles}$e"))
        val foreign = Paths.get(root, "notes.txt")
        (stale :+ foreign).foreach(Files.writeString(_, "stale"))
        write(root)
        stale.foreach(p => assert(!Files.exists(p), s"$name kept $p"))
        assert(Files.exists(foreign), s"$name deleted a file not its own")
        for (e <- exts) {
          val parts = Paths.get(root).toFile.list()
            .count(n => n.startsWith("part") && n.endsWith(e) &&
              !n.stripSuffix(e).contains('.'))
          assert(parts == Crawl.FixtureFiles, s"$name$e: $parts segments")
        }
      }
  }
}
