package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integration pins for the composed corpus-preparation pipeline —
  * a hand-computed fixture where EVERY stage drops a specific known
  * document, so a stage-boundary bug (filter order, column contract,
  * survivor rule) moves a pinned number; plus algebraic cross-stage
  * invariants on the real sf0.001 corpus.
  */
class PrepareSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  /** Fixture: 13 docs, one engineered casualty per stage.
    *  - doc 17 (aa, HIGH n_chars so only scrub can explain its loss):
    *    a numeric counter line + a 2-word boilerplate line — every
    *    line fails a line rule, the doc empties and drops at stage 1
    *  - lang aa: 1 (120 uniq tokens, keeps), 2 (EXACTLY doc1's first
    *    50 tokens — fully deleted by ExactSubstr, drops at stage 4),
    *    3/4 (low n_chars, gated out at stage 3; 3 alphabetic words
    *    each so the scrub line rules pass them)
    *  - lang bb: 5 (30 tokens, keeps), 6 (verbatim COPY of 5 — near-dup
    *    J=1.0, drops at stage 5), 7/8 gated out
    *  - lang cc: 9 (train, shares a 7-token phrase = 3 rare 5-grams
    *    with eval doc 20 — flagged, drops at stage 6), 20 (eval split
    *    doc_id % 10 = 0, leaves the train corpus at stage 6),
    *    13/14 gated out */
  private lazy val fixture = {
    val shared = "q1 q2 q3 q4 q5 q6 q7"
    Seq(
      (1L, "aa", 1000L, toks("t", 120)),
      (2L, "aa", 900L, toks("t", 50)),
      (17L, "aa", 999L, "12 34 56\nBuy now"),
      (3L, "aa", 10L, "xaa xab xac"),
      (4L, "aa", 10L, "xad xae xaf"),
      (5L, "bb", 1000L, toks("v", 30)),
      (6L, "bb", 900L, toks("v", 30)),
      (7L, "bb", 10L, "xba xbb xbc"),
      (8L, "bb", 10L, "xbd xbe xbf"),
      (9L, "cc", 1000L, s"w1 w2 $shared w3 w4"),
      (20L, "cc", 900L, s"y1 y2 $shared y3 y4"),
      (13L, "cc", 10L, "xca xcb xcc"),
      (14L, "cc", 10L, "xcd xce xcf")
    ).toDF("doc_id", "lang", "n_chars", "text")
  }

  test("fullPrepare: every stage drops exactly its engineered casualty") {
    val rows = Prepare.fullPrepare(fixture).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(rows("0_input")._1 == 13L)
    // doc 17's counter line fails the 80%-alphabetic-words rule and
    // its 2-word line fails the minimum — the doc empties and drops
    // HERE despite its high n_chars (the gate would have kept it)
    assert(rows("1_scrub")._1 == 12L)
    assert(rows("1_scrub")._2 == rows("0_input")._2 - 5L,
      "scrub must shed exactly doc 17's five tokens")
    // canonicalization never drops a doc; the fixture has no
    // punctuation/symbols so its token total is unchanged too
    assert(rows("2_canonicalize")._1 == 12L)
    assert(rows("2_canonicalize")._2 == rows("1_scrub")._2)
    // gate keeps the top ceil(4/2)=2 per lang by (n_chars desc, doc_id)
    assert(rows("3_quality_gate")._1 == 6L)
    // doc2 is one duplicated 50-window; doc1's first occurrence wins,
    // doc2 empties and drops; every other doc is untouched
    assert(rows("4_exact_substr")._1 == 5L)
    assert(rows("4_exact_substr")._2 == (120 + 30 + 30 + 11 + 11).toLong)
    // doc6 is a verbatim copy of doc5: Jaccard 1.0 >= 0.9, keep-min
    assert(rows("5_near_dup")._1 == 4L)
    // doc9 shares 3 distinct rare 5-grams with eval doc 20 -> flagged;
    // the eval doc itself leaves the train corpus
    assert(rows("6_decontaminate")._1 == 2L)
    assert(rows("6_decontaminate")._2 == (120 + 30).toLong)
    // pack: (120+1) + (30+1) = 152 tokens -> 1 chunk; manifest is
    // doc1@0, doc5@121
    val (nChunks, packTokens, digest) = rows("7_pack")
    assert(nChunks == 1L && packTokens == 152L)
    val expectedDigest = java.security.MessageDigest.getInstance("MD5")
      .digest("1:0,5:121".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(digest.contains(expectedDigest),
      s"manifest digest drifted: $digest vs $expectedDigest")
  }

  test("scrub stage: a PII span is redacted and a boilerplate line " +
      "dropped while the doc survives EVERY other stage to the pack") {
    val d = Seq(
      (1L, "zz", 1000L,
        toks("p", 40) + "\nvisit https://spam.example/x now\nBuy now"),
      (2L, "zz", 900L, toks("r", 30)),
      (3L, "zz", 10L, "xza xzb xzc"),
      (4L, "zz", 10L, "xzd xze xzf")
    ).toDF("doc_id", "lang", "n_chars", "text")
    // the operator itself: URL span redacted in place, the 2-word
    // boilerplate line dropped, the 40-token content line untouched
    val scrubbed = TextAnalysis.scrubbed(d)
      .where(col("doc_id") === 1L).select("text").collect()(0).getString(0)
    assert(scrubbed == toks("p", 40) + "\nvisit <URL> now",
      s"scrub must redact the URL and drop only the 2-word line: " +
        s"'$scrubbed'")
    val rows = Prepare.fullPrepare(d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    // no doc drops at scrub; exactly the boilerplate line's 2 tokens go
    assert(rows("1_scrub")._1 == 4L)
    assert(rows("1_scrub")._2 == rows("0_input")._2 - 2L)
    // doc 1 then survives gate (top-2 by n_chars), substr (43 tokens <
    // 50-window), near-dup (distinct), decontaminate (no eval split
    // docs) and lands in the pack with doc 2: manifest 1@0 (44 incl.
    // separator), 2@44
    assert(rows("6_decontaminate")._1 == 2L)
    val expectedDigest = java.security.MessageDigest.getInstance("MD5")
      .digest("1:0,2:44".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows("7_pack")._3.contains(expectedDigest),
      s"doc 1 must reach the pack with its scrubbed token count: " +
        s"${rows("7_pack")}")
  }

  test("scrub stage r14 classes: phone and IP spans redact exactly — " +
      "each class on its own fixture line, the IP-before-phone order " +
      "keeps a dotted quad whole, and near-misses stay untouched") {
    def scrub(t: String): String =
      Seq((1L, t)).toDF("doc_id", "text")
        .select(TextAnalysis.scrubText(col("text")).as("t"))
        .collect()(0).getString(0)
    // phone class: NANP with separators, parens + country code, and
    // the bare 10-digit run production scrubs also redact
    assert(scrub("call us at 555-123-4567 for help")
      == "call us at <PHONE> for help")
    assert(scrub("intl desk +1 (555) 123-4567 any time")
      == "intl desk <PHONE> any time")
    assert(scrub("raw line is 5551234567 ok here")
      == "raw line is <PHONE> ok here")
    // IP class: dotted quad goes as ONE token (never a phone prefix)
    assert(scrub("server at 192.168.0.1 answered fine")
      == "server at <IP> answered fine")
    assert(scrub("edge quad 255.255.255.255 pings fine too")
      == "edge quad <IP> pings fine too")
    // near-misses survive: a 3-group dotted number is neither class
    // (phone needs 10+ digits, IP needs 4 groups), a short number is
    // not a phone, a version string is not an IP (word boundary)
    assert(scrub("version 1.2.3 shipped on time")
      == "version 1.2.3 shipped on time")
    assert(scrub("only 123456 digits live here")
      == "only 123456 digits live here")
    // an IP inside a URL is already <URL> — one span, not two
    assert(scrub("see https://10.0.0.1/admin for the panel")
      == "see <URL> for the panel")
    // email with digits redacts as EMAIL, not phone
    assert(scrub("mail ops5551234567@example.org with logs")
      == "mail <EMAIL> with logs")
  }

  test("fullPrepare: an empty pack stage yields NULL digest/count " +
      "(DuckDB string_agg-over-zero-rows parity, r10 advice)") {
    // every doc_id % 10 == 0: the whole surviving corpus is eval split,
    // so the train/pack stages are empty — Spark must mirror DuckDB's
    // NULL (string_agg/SUM over zero rows), not md5('')
    val allEval = Seq(
      (10L, "aa", 1000L, toks("e", 30)),
      (20L, "aa", 900L, toks("f", 30))
    ).toDF("doc_id", "lang", "n_chars", "text")
    val row = Prepare.fullPrepare(allEval)
      .where(col("stage") === "7_pack").collect()(0)
    assert(row.isNullAt(3), s"empty pack stage must have NULL digest: $row")
    assert(row.isNullAt(1) && row.isNullAt(2),
      s"empty pack stage must have NULL count/tokens: $row")
  }

  test("fullPrepare: cross-stage invariants hold on the real corpus") {
    val rows = Prepare
      .fullPrepare(graft.Tables.load(spark, sfDir, "documents"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the real corpus is single-line, pattern-free and alphabetic, so
    // the scrub stage is the identity on it (the discriminating cases
    // live in the engineered fixtures above); canonicalization is a
    // per-row rewrite: doc count exactly preserved (token totals may
    // legitimately move either way as punctuation runs fold into
    // token separators)
    assert(rows("1_scrub") == rows("0_input"))
    assert(rows("2_canonicalize")._1 == rows("1_scrub")._1)
    val stages = Seq("1_scrub", "2_canonicalize", "3_quality_gate",
      "4_exact_substr", "5_near_dup", "6_decontaminate")
    // survivor counts and token totals are monotone nonincreasing
    for (Seq(a, b) <- stages.sliding(2) if a != "1_scrub") {
      assert(rows(b)._1 <= rows(a)._1, s"$b grew docs vs $a")
      assert(rows(b)._2 <= rows(a)._2, s"$b grew tokens vs $a")
    }
    // packing adds exactly one separator token per surviving doc and
    // the chunk count is the exact ceiling
    val (nFinal, tokFinal) = rows("6_decontaminate")
    val (nChunks, tokPacked) = (rows("7_pack")._1, rows("7_pack")._2)
    assert(tokPacked == tokFinal + nFinal)
    assert(nChunks ==
      (tokPacked + Packing.SeqLen - 1) / Packing.SeqLen)
    assert(nFinal > 0, "fixture corpus must survive the pipeline")
  }

  test("trained gate vs heuristic gate: a low-quality doc long enough " +
      "to pass the per-language top half is dropped by the trained " +
      "classifier at its PR-chosen threshold") {
    val d = graft.Tables.load(spark, sfDir, "documents")
    val canon = TextAnalysis.canonicalized(TextAnalysis.scrubbed(d))
    val heurKept = Sampling.topHalfByScore(canon, "lang", "n_chars")
      .select("doc_id").as[Long].collect().toSet
    val trainedKept = QualityTrained.trainedGate(spark, sfDir)(canon)
      .select("doc_id").as[Long].collect().toSet
    // the labels the model was trained toward: the rule heuristic
    val lowQuality = TextAnalysis.qualityScore(d)
      .where(!col("keep")).select("doc_id").as[Long].collect().toSet
    val caught = (heurKept -- trainedKept) intersect lowQuality
    assert(caught.nonEmpty,
      "the trained gate must catch at least one low-quality doc that " +
        "sails through the length-based top-half heuristic " +
        s"(heuristic kept ${heurKept.size}, trained kept " +
        s"${trainedKept.size}, low-quality ${lowQuality.size})")
    // and the composed query's stage-2 row is exactly the trained set
    val stage2 = graft.SparkEntry
      .queries("pipeline_full_prepare_trained")(spark, sfDir)
      .where(col("stage") === "3_quality_gate").collect()(0).getLong(1)
    assert(stage2 == trainedKept.size.toLong)
  }

  test("ppl gate: a gibberish doc (tokens the model never saw) lands " +
      "in the TAIL tercile and is dropped; the composed stage-2 count " +
      "is exactly scored-docs minus the NTILE tail") {
    // engineered canon frame: the gate trains on the frame it scores,
    // so two docs of mutually-reinforcing common word sequences score
    // LOW perplexity while the one-off rare-token soup (appearing
    // once, never reinforced) scores the floor-heavy tail
    val mk = (1 to 4).flatMap(_ => Seq("the", "cat", "sat", "on",
      "the", "mat")).mkString(" ")
    val canon = Seq(
      (1L, "zz", 100L, mk),
      (2L, "zz", 100L, mk),
      (3L, "zz", 100L, "zqxv kjwq vbnm plrt ywce qofd zzyx")
    ).toDF("doc_id", "lang", "n_chars", "text")
    val kept = KnLm.pplGate(canon)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L),
      s"the gibberish doc must land in the tail tercile: kept $kept")
    // composed query: stage 2 == scored docs minus floor(n/3) (the
    // NTILE tail), scored docs == canon docs with >= 5 tokens
    val d = graft.Tables.load(spark, sfDir, "documents")
    val scored = TextAnalysis.canonicalized(TextAnalysis.scrubbed(d))
      .where(size(split(col("text"), "\\s+")) >= 5)
      .count()
    val stage2 = graft.SparkEntry
      .queries("pipeline_full_prepare_ppl")(spark, sfDir)
      .where(col("stage") === "3_quality_gate").collect()(0).getLong(1)
    assert(stage2 == scored - scored / 3,
      s"stage 2 must keep head+middle terciles of $scored scored docs" +
        s", got $stage2")
  }

  test("ref-trained ppl gate: the reference LM belongs to the TRUSTED " +
      "corpus — self-reinforcing gibberish that GAMES the self-trained " +
      "gate (two copies reinforce each other past the lone good doc) " +
      "cannot game the ref gate, which keeps the in-distribution doc") {
    // canon: two IDENTICAL gibberish docs + one doc of trusted-corpus
    // vocabulary. Terciles of 3 keep 2. Self-trained (train = eval):
    // the gibberish 5-grams occur TWICE, the good doc's once, so the
    // gibberish pair scores the head and the good doc drops — the
    // self-training failure mode CCNet's trusted reference LM exists
    // to prevent. Ref-trained: the good doc backs off through seen
    // trusted vocabulary while the gibberish floors at OOV, so the
    // good doc is kept and one gibberish copy drops.
    val gib = "zqxv kjwq vbnm plrt ywce qofd zzyx"
    val good = "key agg row scan slow fast table value part hash"
    val canon = Seq(
      (1L, "zz", 100L, good),
      (2L, "zz", 100L, gib),
      (3L, "zz", 100L, gib)
    ).toDF("doc_id", "lang", "n_chars", "text")
    val selfKept = KnLm.pplGate(canon)
      .select("doc_id").as[Long].collect().toSet
    val refKept = KnLm.pplGateRefMemo(sfDir)(canon)
      .select("doc_id").as[Long].collect().toSet
    assert(selfKept == Set(2L, 3L),
      s"the self-trained gate must be GAMED by the reinforcing pair " +
        s"(that is the failure mode): $selfKept")
    assert(refKept.contains(1L) && refKept.size == 2,
      s"the ref-trained gate must keep the in-distribution doc: $refKept")
    // and the composed ref query's stage-3 count is exactly
    // head + middle of the scored docs (the same tercile arithmetic)
    val d = graft.Tables.load(spark, sfDir, "documents")
    val scored = TextAnalysis.canonicalized(TextAnalysis.scrubbed(d))
      .where(size(split(col("text"), "\\s+")) >= 5)
      .count()
    val stage3 = graft.SparkEntry
      .queries("pipeline_full_prepare_ppl_ref")(spark, sfDir)
      .where(col("stage") === "3_quality_gate").collect()(0).getLong(1)
    assert(stage3 == scored - scored / 3,
      s"stage 3 must keep head+middle terciles of $scored scored docs" +
        s", got $stage3")
  }

  test("decontaminated ref gate: a trusted doc contaminated by the " +
      "eval split flips a gate decision ONLY in the undeconned form; " +
      "with no contamination the two gates agree doc for doc") {
    withTempDir("refd") { root =>
      def writeDocs(name: String,
          rows: Seq[(Long, String, String)]): String = {
        val dir = s"$root/$name"
        rows.map { case (id, src, t) => (id, t, "zz", src, t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.parquet(s"$dir/documents.parquet")
        dir
      }
      val base = "key agg row scan slow fast table value part hash"
      val vt = "qq ww ee rr tt yy uu ii oo pp" // vocabulary only T carries
      val contam = "c1 c2 c3 c4 c5 c6 c7" // 3 shared rare 5-grams with E
      val trusted = Seq(
        (11L, "src0", s"$vt $contam"), // T: contaminated trusted doc
        (12L, "src0", base), (13L, "src0", base), (14L, "src0", base))
      val dirContam =
        writeDocs("contam", trusted :+ ((20L, "src9", contam))) // E
      val dirClean = writeDocs("clean", trusted) // no eval split at all
      // candidate C (doc 1) is written in T's private vocabulary; doc 2
      // is base verbatim, doc 3 a 2-rotation of base (4 seen + 2 unseen
      // 5-grams) — its nll sits BETWEEN C-with-T (T teaches C's grams,
      // tiny nll) and C-without-T (full OOV floor), so the tercile cut
      // lands on opposite sides of C under the two models (3 docs keep
      // head+middle = 2)
      val canon = Seq(
        (1L, "zz", 100L, vt),
        (2L, "zz", 100L, base),
        (3L, "zz", 100L, "row scan slow fast table value part hash key agg"))
        .toDF("doc_id", "lang", "n_chars", "text")
      def kept(gate: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): Set[Long] =
        gate(canon).select("doc_id").as[Long].collect().toSet
      val undecon = kept(KnLm.pplGateRefMemo(dirContam))
      val decon = kept(KnLm.pplGateRefDeconMemo(dirContam))
      assert(undecon.contains(1L),
        s"UNDECONNED: the contaminated doc T teaches the reference LM " +
          s"C's vocabulary, so C passes the gate: $undecon")
      assert(!decon.contains(1L),
        s"DECONNED: with T dropped from training, C is out-of-" +
          s"distribution and must fall in the tail tercile: $decon")
      assert(undecon.size == 2 && decon.size == 2,
        "both gates keep exactly head+middle of 3 scored docs")
      // control: with no eval overlap anywhere, decontamination is a
      // no-op and the two gates agree doc for doc — the flip above is
      // CAUSED by the contamination, not by the decon machinery itself
      assert(kept(KnLm.pplGateRefMemo(dirClean)) ==
        kept(KnLm.pplGateRefDeconMemo(dirClean)))
    }
  }

  test("two non-NFC-equal encodings of one near-dup collapse ONLY " +
      "through the canonical pipeline (the stage-1 wiring's point)") {
    // docs 31/32: the same ten accented words, composed (NFC) vs
    // decomposed (e + U+0301); 33/34 are low-quality gate fodder so
    // the gate keeps exactly 31 and 32
    val word = "caf\u00e9"          // composed e-acute (NFC)
    val wordNfd = "cafe\u0301"        // decomposed e + combining acute (NFD)
    val tenA = (1 to 10).map(i => s"$word$i").mkString(" ")
    val tenB = (1 to 10).map(i => s"$wordNfd$i").mkString(" ")
    val d = Seq(
      (31L, "zz", 1000L, tenA),
      (32L, "zz", 900L, tenB),
      (33L, "zz", 10L, "xna xnb xnc"),
      (34L, "zz", 10L, "xnd xne xnf")
    ).toDF("doc_id", "lang", "n_chars", "text")
    // raw plane: every shingle differs byte-wise -> NO candidate pair
    assert(Dedup.prefixJaccardPairs(d.where(col("doc_id") < 33),
      shingleWidth = 3).count() == 0L,
      "raw-plane shingles must hash apart (else the fixture is wrong)")
    // canonical plane: identical -> the pair exists
    assert(Dedup.prefixJaccardPairs(
      TextAnalysis.canonicalized(d.where(col("doc_id") < 33)),
      shingleWidth = 3).count() == 1L)
    // and the composed pipeline therefore drops doc 32 at stage 4
    val rows = Prepare.fullPrepare(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("3_quality_gate") == 2L)
    assert(rows("4_exact_substr") == 2L)
    assert(rows("5_near_dup") == 1L,
      "the NFC-decomposed near-dup must collapse inside fullPrepare")
  }
}
