package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, over
  * `documents`:
  *
  *   - exact dedup (hash-groupBy over a fixed-width digest — never shuffle
  *     raw document bodies at scale);
  *   - exact n-gram Jaccard (oracle-checkable; bounded candidate set);
  *   - MinHash + LSH banding (the 100 TB path: signatures are fixed-size,
  *     candidates come from band-bucket equijoins, never all-pairs);
  *   - SimHash (128-bit) with chunk-banding (hamming ≤ 3 ⇒ one of 4
  *     32-bit chunks equal, so candidate generation is again an equijoin
  *     with 2³² bucket values — sub-quadratic at 10⁹ docs).
  *
  * The scale-path hash functions are Spark-native (`xxhash64`) and
  * deterministic across runs and executors; those queries have no SQL
  * oracle (DuckDB has no xxhash64) and get rows-only checks. Each hash
  * family additionally registers an oracle-pinned TWIN under md5-derived
  * 60-bit hashes (`dedup_minhash_md5`, `dedup_simhash_md5`) whose entire
  * algebra a generated DuckDB mirror replicates bit-for-bit.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Minimum duplicated-substring length, in tokens, for
    * [[exactSubstrSpans]] — the ExactSubstr threshold class (Lee et al.
    * 2022 use 50 BPE tokens; this corpus' tokens are whitespace words). */
  val ExactSubstrMinLen: Int = 50

  /** ExactSubstr-class duplicated-span detection: every MAXIMAL token
    * span of a document that lies inside some substring of length ≥
    * `minLen` occurring more than once corpus-wide (intra- or
    * cross-document) — exactly the removal ranges of Lee et al. 2022's
    * ExactSubstr dedup, at variable length, not a fixed window.
    *
    * Exactness without a suffix array: the union of duplicated
    * `minLen`-token windows EQUALS the union of duplicated substrings of
    * length ≥ `minLen`. (⊆ a duplicated window is itself a qualifying
    * substring; ⊇ a duplicated substring of length m ≥ L is covered by
    * its m−L+1 L-subwindows, each duplicated wherever the substring
    * recurs.) So hashing fixed-L windows loses nothing: merging
    * overlapping duplicated windows into islands yields the exact
    * maximal spans, and a span's length is data-dependent (≥ L, up to
    * the whole document).
    *
    * 100 TB shape — and why NOT a distributed suffix sort: suffix-array
    * construction needs a corpus-GLOBAL range sort of every suffix with
    * unbounded comparison keys; with the match threshold fixed at L, the
    * window-digest formulation is exact (above) and needs only (1) one
    * md5-keyed map-side-combinable occurrence count, (2) the count
    * attach via [[Skew.hotSaltedJoin]] — a boilerplate window's
    * occurrence stream is unbounded against its 1-row count, the
    * aggregate-fed join shape AQE's skew rule structurally cannot split
    * (TokenJoinSkewSpec) — and (3) a per-document island merge whose
    * window partition is bounded by document length, never corpus-wide.
    * No stage sorts or pairs anything global. */
  def exactSubstrSpans(d: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame = {
    val L = minLen
    val ww = windowDigests(spread(d)
      .select(col("doc_id"), tokensCol.as("ts")), L)
    // occurrence counts: one keyed aggregate; cached — referenced by
    // the grand total, the hot set, and the join's small side
    // (clear-between-queries policy)
    val cnt = ww.groupBy("h").agg(count(lit(1)).as("n")).cache()
    val hot = Skew.hotKeysByCount(cnt, "h", "n")
    val dup = Skew.hotSaltedJoin(ww, cnt, "h", hot, col("doc_id"))
      .where(col("n") > 1)
      .select(col("doc_id"), col("p"))
    // island merge: windows [p, p+L-1] sorted by p merge while the next
    // start is ≤ previous end + 1 (contiguous coverage); both analytic
    // steps and the span aggregate ride ONE doc_id-partitioned sort
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val run = byDoc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    dup
      .withColumn("__pp", lag(col("p"), 1).over(byDoc))
      .withColumn("__new",
        when(col("__pp").isNull || col("p") > col("__pp") + L, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(run))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min("p").as("span_start"),
        (max("p") + (L - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"),
        col("n_windows"))
  }

  /** The APPLY half of [[exactSubstrSpans]] — ExactSubstr REMOVAL
    * (Lee et al. 2022 drop all-but-one copy): the corpus-wide FIRST
    * occurrence (min (doc_id, p)) of every duplicated `minLen`-window
    * survives; every LATER duplicated-window occurrence marks its
    * [p, p+L−1] positions for deletion, and a document's cleaned text
    * is its surviving tokens in order —
    * `pipeline_paragraph_dedup`'s first-occurrence-wins contract at
    * variable-length granularity. Emits per doc: token count, removed
    * position count, md5 of the space-joined survivors (NULL when
    * nothing survives).
    *
    * Scale shape: winners and occurrence counts come from ONE
    * map-side-combinable min-struct aggregate on the window digest;
    * the winner attach rides [[Skew.hotSaltedJoin]] (a boilerplate
    * window's occurrence stream is unbounded against its 1-row
    * winner); the position-level anti-flag join is keyed by the
    * UNIQUE (doc_id, pos) pair — no skew possible — and reassembly is
    * one per-doc aggregate. */
  def exactSubstrRemoval(d: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame =
    exactSubstrKept(d, minLen)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        when(col("n_tokens") > col("n_removed"), md5(col("__kept")))
          .as("kept_md5"))

  /** The CLEANED-TEXT form of [[exactSubstrRemoval]] — same winner
    * rule, same plan, but the surviving tokens come back as a text
    * column so a downstream stage (near-dup, decontamination,
    * packing) can consume the cleaned corpus directly. Documents left
    * empty by the removal are DROPPED (nothing to carry forward). */
  def exactSubstrCleaned(d: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame =
    exactSubstrKept(d, minLen)
      .where(col("n_tokens") > col("n_removed"))
      .select(col("doc_id"), col("__kept").as("text"),
        (col("n_tokens") - col("n_removed")).as("n_kept"))

  /** Shared core of the two apply forms: per doc, token count,
    * removed-position count, and the space-joined survivor string
    * (`__kept`) — one definition so the md5 contract and the cleaned
    * text can never diverge. */
  private def exactSubstrKept(d: DataFrame, minLen: Int): DataFrame = {
    val L = minLen
    val toks = spread(d).select(col("doc_id"), tokensCol.as("ts"))
    val ww = windowDigests(toks, L)
    // winners + counts in one keyed aggregate; cached — referenced by
    // the grand total, the hot set, and the join's small side
    val win = ww.groupBy("h")
      .agg(min(struct(col("doc_id"), col("p"))).as("w"),
        count(lit(1)).as("n"))
      .cache()
    val hot = Skew.hotKeysByCount(win, "h", "n")
    val rem = Skew.hotSaltedJoin(ww, win, "h", hot, col("doc_id"))
      .where(col("n") > 1 &&
        !(col("w.doc_id") === col("doc_id") && col("w.p") === col("p")))
      .select(col("doc_id"), col("p"))
    reassembleKept(toks, removalIntervals(rem, L))
  }

  /** All window start positions of `toks` (doc_id, ts) as slim
    * (doc_id, p, h) rows, `h` a 2×64-bit xxhash64 struct of the
    * L-token window — 16 fixed bytes in place of the r1–r18
    * md5-of-joined-string digest (a ~300-byte string build + crypto
    * hash per window, and a 32-char shuffle key). The digest is only
    * ever an EQUALITY key (winner rule and occurrence counts are
    * hash-agnostic), so any deterministic injective-enough function
    * preserves the output; the two differently-seeded lanes (the
    * second prepends a constant, giving an independent initial state)
    * keep the collision budget at md5's effective class. The
    * streaming/incremental index digests ([[substrWindowDigests]])
    * deliberately KEEP md5 — they persist across commits and feed the
    * DuckDB-mirrored incremental queries. */
  private def windowDigests(toks: DataFrame, L: Int): DataFrame =
    toks
      .where(size(col("ts")) >= L)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L), (size(col("ts")) - L).cast("long")))
          .as("p"))
      .select(col("doc_id"), col("p"),
        struct(
          xxhash64(expr(s"slice(ts, p + 1, $L)")).as("h1"),
          xxhash64(lit(1L), expr(s"slice(ts, p + 1, $L)")).as("h2"))
          .as("h"))

  /** Merge removable window starts (doc_id, p) — each covering
    * [p, p+L−1] — into per-doc sorted disjoint intervals
    * (doc_id, iv: array<struct<a,b>>): the [[exactSubstrSpans]] island
    * rule (overlapping or touching windows coalesce) collapsed to ONE
    * slim row per doc, so reassembly never explodes spans to positions
    * (r1–r18 shipped one row per REMOVED TOKEN POSITION through a
    * distinct and a (doc_id, pos) join against the full token plane —
    * ×L rows, two extra exchanges). */
  private def removalIntervals(rem: DataFrame, L: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val run = byDoc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    rem
      .withColumn("__pp", lag(col("p"), 1).over(byDoc))
      .withColumn("__new",
        when(col("__pp").isNull || col("p") > col("__pp") + L, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(run))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min("p").as("a"), (max("p") + (L - 1)).as("b"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("a"), col("b")))).as("iv"))
  }

  /** Rebuild each doc's surviving text from its token array and its
    * removal intervals IN-ROW: the kept tokens are the gap slices
    * between consecutive intervals (plus the head/tail gaps), so the
    * token plane is never exploded, joined per-position, or re-sorted
    * — output (doc_id, n_tokens, n_removed, __kept) exactly as the
    * r1–r18 posexplode/join/collect_list reassembly produced. */
  private def reassembleKept(toks: DataFrame, iv: DataFrame): DataFrame =
    toks.join(iv, Seq("doc_id"), "left")
      .withColumn("iv", coalesce(col("iv"),
        expr("cast(array() as array<struct<a:bigint,b:bigint>>)")))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        expr("aggregate(iv, cast(0 as bigint)," +
          " (acc, s) -> acc + s.b - s.a + 1)").as("n_removed"),
        expr("""array_join(flatten(transform(sequence(0, size(iv)),
          |  i -> slice(ts,
          |    cast((case when i = 0 then 0
          |          else iv[i-1].b + 1 end) + 1 as int),
          |    cast(greatest((case when i = size(iv)
          |            then size(ts) - 1 else iv[i].a - 1 end)
          |      - (case when i = 0 then 0 else iv[i-1].b + 1 end)
          |      + 1, 0) as int)))), ' ')""".stripMargin).as("__kept"))

  /** INCREMENTAL ExactSubstr removal — the continuous-ingestion shape
    * (pairing [[crossCorpusPairs]]' near-dup variant): clean a NEW
    * batch against an EXISTING corpus without ever rescanning
    * old×old. The old side contributes only its DISTINCT window
    * digests (exactly the index a production pipeline persists and
    * appends to); a new window is removable iff its text exists in
    * the old index (old always wins) OR a new-side first occurrence
    * precedes it (the [[exactSubstrRemoval]] winner rule within the
    * batch). Equal, by construction, to full-corpus removal filtered
    * to the new docs — but the old side costs one distinct-digest
    * pass, not a re-clean.
    *
    * Scale: the new-side winner/count aggregate and the old index
    * meet on the DIGEST plane (one row per distinct window each), so
    * the corpus-scale occurrence stream crosses a single
    * [[Skew.hotSaltedJoin]] attach of the combined per-digest row. */
  def exactSubstrIncremental(fresh: DataFrame, old: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame =
    exactSubstrAgainstIndex(fresh, substrWindowDigests(old, minLen), minLen)

  /** The DISTINCT window-digest index of a corpus — exactly the
    * structure a production pipeline persists and appends to between
    * ingestion batches (the old side of [[exactSubstrIncremental]],
    * and the accumulated state of the streaming twin in
    * [[graft.streaming.StreamOps]]). One column `h`. */
  def substrWindowDigests(d: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame =
    substrWindows(d, minLen).select("h").distinct()

  /** Per-DOC distinct window digests (doc_id, h) — the ATTRIBUTION
    * rows the VERSIONED substr chain persists ([[graft.streaming
    * .StreamOps.incrementalSubstrStreamVersioned]]): a digest is
    * shared across every doc that carries the span, so a retraction
    * must remove exactly ITS doc's claim on each digest — digests
    * other docs also contributed stay live through those docs — and
    * the one-column [[substrWindowDigests]] set cannot express that.
    * ~|per-doc distinct windows| rows instead of |global distinct
    * digests| — the honest storage cost of retractability. */
  def substrDocDigests(d: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame =
    substrWindows(d, minLen).select("doc_id", "h").distinct()

  private def substrWindows(d: DataFrame, minLen: Int): DataFrame =
    spread(d)
      .select(col("doc_id"), tokensCol.as("ts"))
      .where(size(col("ts")) >= minLen)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L), (size(col("ts")) - minLen).cast("long")))
          .as("p"))
      .select(col("doc_id"), col("p"),
        md5(array_join(expr(s"slice(ts, p + 1, $minLen)"), " ")).as("h"))

  /** [[exactSubstrIncremental]] with the old side already reduced to
    * its digest index — the form a persisted-index consumer calls. */
  def exactSubstrAgainstIndex(fresh: DataFrame, digestIdx: DataFrame,
      minLen: Int = ExactSubstrMinLen): DataFrame = {
    val L = minLen
    val oldIdx = digestIdx.select("h").distinct()
      .withColumn("__old", lit(true))
    val nw = substrWindows(fresh, L)
    // new-side winners + counts, combined with the old index on the
    // digest plane (1 row per digest each side); cached — referenced
    // by the grand total, the hot set, and the join's small side
    val idx = nw.groupBy("h")
      .agg(min(struct(col("doc_id"), col("p"))).as("w"),
        count(lit(1)).as("n"))
      .join(oldIdx, Seq("h"), "left")
      .cache()
    val hot = Skew.hotKeysByCount(idx, "h", "n")
    val rem = Skew.hotSaltedJoin(nw, idx, "h", hot, col("doc_id"))
      .where(col("__old").isNotNull ||
        (col("n") > 1 &&
          !(col("w.doc_id") === col("doc_id") && col("w.p") === col("p"))))
      .select(col("doc_id"), col("p"))
    reassembleKept(spread(fresh).select(col("doc_id"), tokensCol.as("ts")),
        removalIntervals(rem, L))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        when(col("n_tokens") > col("n_removed"), md5(col("__kept")))
          .as("kept_md5"))
  }

  /** Drop exact-duplicate rows by key columns (first winner arbitrary —
    * use [[exactKeepMin]] when a deterministic survivor is needed). */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Deterministic exact dedup: keep exactly ONE row per duplicate group
    * — the one with the smallest `idCol`. Deterministic WHICH-row choice
    * requires `idCol` to be unique within a group (the normal case:
    * doc_id is a key); among rows tying on BOTH key and id, exactly one
    * survives but which physical row is shuffle-order-dependent. A single
    * row_number window partitioned on a digest of the key: one shuffle
    * (vs the round-1 min-agg + join, which was two exchanges AND kept
    * every row tying for min id), and the 16-byte digest is the
    * partitioning key so group routing never hashes full document
    * bodies. */
  def exactKeepMin(df: DataFrame, key: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(md5(key)).orderBy(idCol.asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  private def tokensCol: Column = split(col("text"), "\\s+")

  /** See [[Tables.spread]] — single-file-input mitigation, keyed on
    * doc_id: every downstream signature/fingerprint aggregate groups by
    * doc_id, so the exploded shingle/token rows (the widest data in
    * those plans) are already co-partitioned and never re-shuffled. */
  private def spread(d: DataFrame): DataFrame =
    Tables.spread(d, col("doc_id"))

  /** Word-bigram shingles, distinct, as one exploded (doc_id, gram) pair
    * per shingle. Documents with < 2 tokens contribute the whole text.
    *
    * Shape matters: `explode` is applied DIRECTLY to the gram expression
    * (one select), not to a pre-projected `grams` column. With the extra
    * projection step, the Generate's implicit `size(...) > 0` filter gets
    * substituted with the full gram expression and pushed to the scan
    * side, where the interpreted higher-order functions re-evaluate per
    * row ahead of the exchange — a measured 10x slowdown. */
  private def shingles(d: DataFrame, n: Int = 2): DataFrame = {
    val terms = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
    spread(d).select(col("doc_id"), tokensCol.as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) >= n,
          array_distinct(expr(
            s"transform(sequence(0, size(toks)-$n), " +
              s"i -> concat_ws(' ', $terms))")))
          .otherwise(array(concat_ws(" ", col("toks"))))).as("g"))
  }

  /** Pluggable hashing for MinHash/LSH: `hashes` maps one shingle to two
    * independent base hashes, `rotl` rotates within the hash width (slot
    * hash i = h1 XOR rotl(h2, i)), `bandHash` buckets one signature band
    * slice. [[xxhash64Scheme]] (default) uses the full 64-bit native
    * hash; [[md5Scheme]] derives 60-bit hashes from md5 prefixes with
    * algebra DuckDB can replicate bit-for-bit — the oracle-pinned twin. */
  final case class MinHashScheme(
      hashes: Column => (Column, Column),
      rotl: (Column, Int) => Column,
      bandHash: (Column, Int) => Column,
      /** Widest rotation domain the scheme supports; [[minhashSignatures]]
        * validates `numHashes` against this at the API boundary so the
        * error names the caller's parameter instead of surfacing from a
        * require buried inside `rotl` mid-plan-construction. */
      maxSlots: Int)

  /** Fast native scheme: xxhash64 base hashes, true 64-bit rotation,
    * xxhash64 band buckets. No SQL oracle (DuckDB lacks xxhash64). */
  val xxhash64Scheme: MinHashScheme = MinHashScheme(
    g => (xxhash64(g), xxhash64(g, lit(1))),
    (c, i) =>
      if (i == 0) c
      else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i)),
    (sl, b) => xxhash64(sl, lit(b)),
    maxSlots = 64)

  /** First 15 hex chars of md5 as a non-negative 60-bit long — THE
    * parity-critical definition every md5-scheme call site and every
    * generated DuckDB mirror (`CAST('0x' || substr(md5(x), 1, 15) AS
    * BIGINT)`) must agree on; keep it in exactly one place. */
  private def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Oracle-computable scheme: base hashes are [[md5Hash60]] values
    * (60 bits — always non-negative, so shifts/compares behave
    * identically in Spark and DuckDB), rotation stays inside 60 bits by
    * masking BEFORE the left shift (DuckDB's `<<` errors on BIGINT
    * overflow), and band buckets are md5 over the decimal-rendered slot
    * slice. Slower than xxhash64 (string md5 per shingle) — it exists to
    * hash-match the complete banding algebra against DuckDB, not as the
    * scale path. */
  val md5Scheme: MinHashScheme = MinHashScheme(
    g => (md5Hash60(g), md5Hash60(concat(g, lit("#")))),
    (c, i) => {
      // rotation lives in the 60-bit domain: beyond it the shift widths
      // go negative and Java's mod-64 shift semantics would corrupt
      // hashes silently — so numHashes > 60 must fail loudly here
      require(i < 60, s"md5Scheme supports at most 60 slots, got index $i")
      if (i == 0) c
      else shiftleft(c.bitwiseAND(lit((1L << (60 - i)) - 1)), i)
        .bitwiseOR(shiftrightunsigned(c, 60 - i))
    },
    (sl, b) => md5(concat(lit(s"$b:"),
      array_join(transform(sl, _.cast("string")), ","))),
    maxSlots = 60)

  /** THE near-dup threshold constants — shared by the registered
    * batch queries (`pipeline_drop_near_dups` family, via these
    * defaults) AND the continuous prepare's streaming near-dup stage
    * (`StreamOps.crawlPrepareStream`, which passes no overrides). One
    * definition, because a drifted default would silently change the
    * continuous corpus while every parity fixture still passed —
    * fixtures sit far from the 0.8 boundary (DedupSpec pins the
    * constants and the sharing). */
  val NearDupNumHashes: Int = 64
  val NearDupBands: Int = 16
  val NearDupMinEst: Double = 0.8

  /** MinHash signatures: each shingle is hashed ONCE (two independent
    * base hashes), and the `numHashes` slot hashes are derived as
    * `h1 XOR rotl(h2, i)` — pure bitwise ops (ANSI-safe, no overflow)
    * instead of 64 string hashes per shingle, keeping the per-slot `min`
    * aggregate codegen tiny. Returns (doc_id, sig). */
  def minhashSignatures(d: DataFrame, numHashes: Int = NearDupNumHashes,
      scheme: MinHashScheme = xxhash64Scheme): DataFrame = {
    require(numHashes <= scheme.maxSlots,
      s"numHashes=$numHashes exceeds the scheme's rotation domain " +
        s"(maxSlots=${scheme.maxSlots})")
    val (h1, h2) = scheme.hashes(col("g"))
    val hashed = shingles(d).select(col("doc_id"),
      h1.as("h1"), h2.as("h2"))
    val aggs = (0 until numHashes).map(i =>
      min(col("h1").bitwiseXOR(scheme.rotl(col("h2"), i))).as(s"m$i"))
    hashed.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding over MinHash signatures: docs sharing any band bucket are
    * candidates; estimated Jaccard = fraction of equal signature slots.
    * The band-bucket self-join carries only (doc_id, band hash); the wide
    * signature arrays re-attach after pair dedup, so they never ride
    * through the candidate shuffle.
    *
    * Cache lifecycle: the signature DataFrame is `.cache()`d because the
    * returned plan references it three times; the entries live until
    * `spark.catalog.clearCache()` (the Verify/Bench harnesses clear after
    * every query) or session end. Long-lived sessions composing many
    * corpora should clear between corpora — the footprint is
    * numDocs × numHashes × 8 B per call site. */
  /** Per-document band-bucket array: band b's hash over its `rows`-slot
    * slice of the signature. THE banding algebra — [[minhashPairs]]
    * (intra-corpus) and [[crossCorpusPairs]] (incremental) must bucket
    * identically or a doc deduped one way escapes the other, and the
    * generated DuckDB mirrors ([[sqlMinhashMd5]], [[sqlCrossMinhashMd5]])
    * mirror this one definition. */
  private def bandBuckets(scheme: MinHashScheme, bands: Int, rows: Int)
      : Column =
    array((0 until bands).map(b =>
      scheme.bandHash(slice(col("sig"), b * rows + 1, rows), b)): _*)

  /** The exploded (doc_id, band, bh) band-bucket TABLE of a signature
    * frame — [[bandBuckets]] as rows instead of an inline array. This
    * is the structure the durable streaming near-dup index PERSISTS
    * (hash-bucketed on (band, bh)): banding a signature is a pure
    * function of the sig, so computing it once at signing time and
    * storing the slim rows means no consumer ever re-bands the
    * accumulated index ­— the r15 verdict's ×bands-per-batch
    * re-banding flag. ~16 rows × (8 B id + bucket hash) per doc. */
  def bandedSignatures(sigs: DataFrame,
      numHashes: Int = NearDupNumHashes, bands: Int = NearDupBands,
      scheme: MinHashScheme = xxhash64Scheme): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    sigs.select(col("doc_id"),
      posexplode(bandBuckets(scheme, bands, numHashes / bands))
        .as(Seq("band", "bh")))
  }

  /** Candidate near-dup pairs from PRE-BANDED tables: `bandedNew`'s
    * docs against `bandedOld`'s (which must INCLUDE the new rows when
    * new-new pairs are wanted — the streaming consumer unions batch
    * bands in). Keep-min orientation (doc_old < doc_new); candidates
    * come from the (band, bh) equijoin — never all-pairs. Both inputs
    * must ride the SAME scheme/bands ([[bandedSignatures]]). */
  def minhashCandidatesBanded(bandedOld: DataFrame,
      bandedNew: DataFrame): DataFrame = {
    val ba = bandedOld.select(col("doc_id").as("doc_old"),
      col("band"), col("bh"))
    val bn = bandedNew.select(col("doc_id").as("doc_new"),
      col("band"), col("bh"))
    bn.join(ba, Seq("band", "bh"))
      .where(col("doc_old") < col("doc_new"))
      .select("doc_new", "doc_old")
      .dropDuplicates("doc_new", "doc_old")
  }

  /** Hot-bucket threshold for [[minhashCandidatesBandedGuarded]] —
    * the generic [[Skew.HotGroupThreshold]] (the constant moved there
    * in r18 when the guard generalized; this alias keeps the near-dup
    * call sites and specs stable). */
  val NearDupHotThreshold: Int = Skew.HotGroupThreshold

  /** Salt fan-out for hot (band, bh) groups — [[Skew.HotGroupSalts]]. */
  val NearDupHotSalts: Int = Skew.HotGroupSalts

  /** [[minhashCandidatesBanded]] with a SKEW GUARD (r17 — the r16
    * verdict's bands-chain risk): the (band, bh) equijoin inherits
    * shingle skew — a boilerplate-heavy web corpus concentrates
    * thousands of docs onto one band hash, so one reducer receives
    * the whole group and emits its quadratic candidate block while
    * every other partition idles. PAIR OUTPUT IS UNCHANGED (the
    * guard repartitions work, never semantics): (band, bh) groups
    * above `hotThreshold` on the index side are routed to a SALTED
    * join — index rows salt by pmod(xxhash64(doc_old), salts), probe
    * rows fan out to all salts — so each hot key spreads over
    * `salts` reducers (each probe·old pair meets exactly once, on
    * the old row's salt); everything else takes the plain equijoin
    * untouched. Cost: one count-aggregate over the index-side bands
    * (map-side combined, output one row per distinct (band, bh)),
    * a broadcast of the hot-key set (≤ |index|/hotThreshold rows by
    * pigeonhole), and ×salts probe-row fan-out on hot keys only.
    * The streaming near-dup probe uses this by default (its index
    * side is already bucket-pruned, so the aggregate is batch-share
    * sized); DedupSpec pins output identity against the unguarded
    * join and the max post-salt group bound on an engineered
    * boilerplate corpus. The guard core is the generic
    * [[Skew.guardedKeyJoin]] (r18 — shared with the image-dedup
    * chunk join, which has the same skew exposure). */
  def minhashCandidatesBandedGuarded(bandedOld: DataFrame,
      bandedNew: DataFrame, hotThreshold: Int = NearDupHotThreshold,
      salts: Int = NearDupHotSalts): DataFrame = {
    val ba = bandedOld.select(col("doc_id").as("doc_old"),
      col("band"), col("bh"))
    val bn = bandedNew.select(col("doc_id").as("doc_new"),
      col("band"), col("bh"))
    Skew.guardedKeyJoin(ba, bn, Seq("band", "bh"), col("doc_old"),
        hotThreshold, salts)
      .where(col("doc_old") < col("doc_new"))
      .select("doc_new", "doc_old")
      .dropDuplicates("doc_new", "doc_old")
  }

  /** Verified pairs from a candidate list: attach the wide signature
    * arrays AFTER pair dedup (doc_new sigs from `sigNew`, doc_old
    * sigs from `sigOld` — the streaming consumer passes the
    * bucket-PRUNED index sigs ∪ the batch's own), estimate Jaccard,
    * threshold. The [[minhashPairs]] verify stage, factored out so a
    * pre-banded candidate path shares it verbatim. */
  def minhashPairsFromCandidates(cand: DataFrame, sigNew: DataFrame,
      sigOld: DataFrame, numHashes: Int = NearDupNumHashes,
      minEst: Double = NearDupMinEst): DataFrame =
    cand
      .join(sigNew.select(col("doc_id").as("doc_new"),
        col("sig").as("sig_n")), "doc_new")
      .join(sigOld.select(col("doc_id").as("doc_old"),
        col("sig").as("sig_o")), "doc_old")
      .withColumn("est_jaccard", estJaccard("sig_n", "sig_o", numHashes))
      .where(col("est_jaccard") >= minEst)
      .select("doc_new", "doc_old", "est_jaccard")

  /** Estimated Jaccard from two aligned signatures: matching-slot
    * fraction. Shared by both pair generators for the same lockstep
    * reason as [[bandBuckets]]. */
  private def estJaccard(sigA: String, sigB: String, numHashes: Int)
      : Column =
    expr(s"array_eq_count($sigA, $sigB) / cast($numHashes as double)")

  def minhashPairs(d: DataFrame,
      numHashes: Int = NearDupNumHashes, bands: Int = NearDupBands,
      minEst: Double = NearDupMinEst,
      scheme: MinHashScheme = xxhash64Scheme): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // The plan references sigs three times (band explode + two re-attach
    // joins); cache so the shingle scan + 64-slot aggregate runs once.
    // Footprint is numDocs × numHashes × 8B — tiny relative to the corpus.
    val sigs = minhashSignatures(d, numHashes, scheme).cache()
    val banded = sigs.select(col("doc_id"),
      posexplode(bandBuckets(scheme, bands, rows)).as(Seq("band", "bh")))
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"))
    val cand = a.join(b, Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .withColumn("est_jaccard", estJaccard("sig_a", "sig_b", numHashes))
      .where(col("est_jaccard") >= minEst)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Banded MinHash near-duplicate pairs of `sigNew` docs against an
    * accumulated signature frame `sigAll` (a persisted old-corpus
    * index unioned with the batch itself — the durable streaming
    * consumer's shape; the [[exactSubstrAgainstIndex]] discipline
    * applied to the MinHash family): (doc_new, doc_old, est_jaccard)
    * with doc_old < doc_new — the keep-min orientation, so
    * `distinct doc_new` IS the batch's drop set. Both sides are
    * (doc_id, sig) tables from [[minhashSignatures]] under the SAME
    * scheme; banding and estimation ride the shared [[bandBuckets]] /
    * [[estJaccard]] algebra, so a pair found here is exactly the pair
    * [[minhashPairs]] finds intra-corpus — which is what makes the
    * streaming accumulated output equal the batch operator over the
    * union for id-ordered batches (ALL signatures accumulate, kept
    * and dropped alike, so a dropped doc still witnesses its
    * neighborhood). Candidates come from the (band, bh) equijoin —
    * never all-pairs; the wide signature arrays re-attach after pair
    * dedup.
    *
    * CACHE LIFECYCLE (caller-owned — r16 advice): both inputs are
    * `.cache()`d here because each is referenced twice (band explode
    * + signature re-attach) and a non-materialized signature frame
    * would recompute its shingle scan + 64-slot min aggregate per
    * reference. The entries are NEVER unpersisted by this method —
    * they live until `spark.catalog.clearCache()` or session end
    * (the Verify/Bench harnesses clear after every query). A
    * long-lived caller invoking this repeatedly must clear the cache
    * between invocations or pass pre-materialized
    * (localCheckpoint'd) frames — which Spark's cache layer resolves
    * to the same plan, making the re-cache here a cheap no-op-sized
    * overlay; the durable streaming consumer does exactly that
    * ([[graft.streaming.StreamOps]] checkpoints each batch's
    * signature frames and uses the factored candidate/verify stages
    * directly). */
  def minhashPairsAgainstSigs(sigAll: DataFrame, sigNew: DataFrame,
      numHashes: Int = NearDupNumHashes, bands: Int = NearDupBands,
      minEst: Double = NearDupMinEst,
      scheme: MinHashScheme = xxhash64Scheme): DataFrame = {
    val sa = sigAll.select("doc_id", "sig").cache()
    val sn = sigNew.select("doc_id", "sig").cache()
    val cand = minhashCandidatesBanded(
      bandedSignatures(sa, numHashes, bands, scheme),
      bandedSignatures(sn, numHashes, bands, scheme))
    minhashPairsFromCandidates(cand, sn, sa, numHashes, minEst)
  }

  /** 128-bit SimHash fingerprint per document (term-frequency-weighted
    * token hashes; bit i set iff the weighted sum of token-hash bit i is
    * positive), as two longs (doc_id, fp_lo, fp_hi).
    *
    * 128 bits (not 64) is a banding requirement, not extra precision for
    * its own sake: candidate generation pairs documents sharing one of 4
    * chunks, and with 16-bit chunks (64-bit fp) a 10⁹-doc corpus packs
    * ~15k docs into each of the 65 536 chunk values — in-bucket pairing
    * goes quadratic. 32-bit chunks give 2³² bucket values (~0.25 docs per
    * bucket at 10⁹), keeping candidate counts linear. See SCALE.md. */
  def simhash128(d: DataFrame): DataFrame = {
    // NB: no explicit TF weighting pass — summing ±1 per token OCCURRENCE
    // equals weighting distinct tokens by term frequency, so the
    // groupBy(doc_id, tok) shuffle would be pure overhead. One shuffle
    // total (the per-doc aggregate), with map-side partial aggregation.
    // Two independent 64-bit token hashes give the 128 bit positions.
    val hashed = spread(d)
      .select(col("doc_id"), explode(tokensCol).as("tok"))
      .select(col("doc_id"),
        xxhash64(col("tok")).as("h0"), xxhash64(col("tok"), lit(1)).as("h1"))
    val bitSums = (0 until 128).map { i =>
      val h = if (i < 64) col("h0") else col("h1")
      // branch-free ±1: 2*bit - 1
      sum(shiftright(h, i % 64).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$i")
    }
    def pack(off: Int): Column = (0 until 64).map(i =>
      when(col(s"b${off + i}") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _) // disjoint bits: + is bitwise OR
    hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), pack(0).as("fp_lo"), pack(64).as("fp_hi"))
  }

  /** SimHash near-dup candidate pairs via 4×32-bit chunk banding (exact
    * recall for hamming ≤ 3 by pigeonhole: ≤3 differing bits can touch at
    * most 3 of the 4 chunks), verified with `bit_count(xor)` over both
    * halves. */
  def simhashPairs(d: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk banding guarantees recall only for hamming <= 3")
    // Cached: the self-join below references the fingerprints twice.
    val fp = simhash128(d).cache()
    val bandCols = Seq(
      col("fp_lo").bitwiseAND(lit(0xFFFFFFFFL)),
      shiftrightunsigned(col("fp_lo"), 32),
      col("fp_hi").bitwiseAND(lit(0xFFFFFFFFL)),
      shiftrightunsigned(col("fp_hi"), 32))
    val chunks = fp.select(col("doc_id"), col("fp_lo"), col("fp_hi"),
      posexplode(array(bandCols: _*)).as(Seq("ci", "cv")))
    val a = chunks.select(col("ci"), col("cv"), col("doc_id").as("doc_a"),
      col("fp_lo").as("fa_lo"), col("fp_hi").as("fa_hi"))
    val b = chunks.select(col("ci"), col("cv"), col("doc_id").as("doc_b"),
      col("fp_lo").as("fb_lo"), col("fp_hi").as("fb_hi"))
    a.join(b, Seq("ci", "cv"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        (bit_count(col("fa_lo").bitwiseXOR(col("fb_lo"))) +
          bit_count(col("fa_hi").bitwiseXOR(col("fb_hi")))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** 60-bit SimHash twin under md5-derived token hashes — the
    * oracle-pinned counterpart of [[simhashPairs]], same algebra
    * end-to-end: per-occurrence token hash → ±1 bit sums → sign-packed
    * fingerprint → 4×15-bit chunk banding (pigeonhole-exact for
    * hamming ≤ 3) → `bit_count(xor)` verification. 60 bits keep every
    * value non-negative so shifts and comparisons agree bit-for-bit with
    * the generated DuckDB mirror ([[sqlSimhashMd5]]); the 128-bit
    * xxhash64 flavor remains the scale path. */
  def simhash60Md5Pairs(d: DataFrame, maxId: Long,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk banding guarantees recall only for hamming <= 3")
    val toks = spread(d.where(col("doc_id") < maxId))
      .select(col("doc_id"), explode(tokensCol).as("t"))
      .select(col("doc_id"), md5Hash60(col("t")).as("h"))
    val bitSums = (0 until 60).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$i"))
    val pack = (0 until 60).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val fp = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), pack.as("fp"))
    val chunkArr = array((0 until 4).map(c =>
      shiftrightunsigned(col("fp"), c * 15)
        .bitwiseAND(lit((1L << 15) - 1))): _*)
    val chunks = fp.select(col("doc_id"), col("fp"),
      posexplode(chunkArr).as(Seq("ci", "cv")))
    val a = chunks.select(col("ci"), col("cv"),
      col("doc_id").as("doc_a"), col("fp").as("fa"))
    val b = chunks.select(col("ci"), col("cv"),
      col("doc_id").as("doc_b"), col("fp").as("fb"))
    a.join(b, Seq("ci", "cv"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over an undirected near-dup pair list via
    * iterative min-label propagation: every node's label converges to the
    * smallest doc_id reachable from it — the canonical representative of
    * its duplicate CLUSTER (transitive closure, vs the greedy pairwise
    * policy of [[dropNearDuplicates]]).
    *
    * Each iteration is one join + partial-agg shuffle (labels are slim
    * (id, comp) longs); `localCheckpoint` truncates lineage so the plan
    * doesn't grow with iterations, and the driver only ever sees a
    * bounded has-anything-changed scalar. Converges in O(graph diameter)
    * iterations — near-dup graphs are unions of near-cliques (LSH bands
    * connect all members of a dup group directly), so diameter is tiny in
    * practice. Rounds past `autoJumpAfter` switch to pointer-jumping
    * (comp := label(comp), one extra materialization + self-join per
    * round), squaring the propagation distance — O(log diameter) rounds
    * from there. The cutover is evidence-based: still-changing labels
    * after 3 rounds MEANS the graph isn't the near-clique fast path, so
    * cliquey corpora never pay the extra shuffle (bench: the two modes
    * are within VM noise at sf0.1 — 2.1–2.9 s overlapping across runs —
    * precisely because dup graphs converge before the switch; a
    * 120-chain spec converges in far fewer rounds than its diameter
    * only via the auto-switch). `pointerJump = true` forces jumping
    * from round 1. A graph that STILL exceeds `maxIter` FAILS LOUDLY
    * rather than returning partially-propagated labels. Returns
    * (doc_id, component). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      pointerJump: Boolean = false, autoJumpAfter: Int = 3): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .unionAll(pairs.select(col("doc_b").cast("long").as("src"),
        col("doc_a").cast("long").as("dst")))
      .distinct().cache()
    // Labels are materialized through an explicit localCheckpointed RDD
    // handle (not Dataset.localCheckpoint, whose pinned blocks have no
    // public release path): once iteration i+1 is live, iteration i's
    // blocks are unpersisted. Without this every superseded checkpoint
    // stayed pinned in executor storage for the life of the query —
    // O(iterations × |labels|) blocks at 10⁹ nodes. Only the FINAL
    // iteration's slim (id, comp) blocks outlive the loop (released by
    // the ContextCleaner when the result goes out of scope). Lineage
    // still truncates: each round's plan starts from the checkpointed
    // RDD, never the full iteration history.
    var pinned: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    // Materializes a (id, comp[, chg]) plan into a fresh checkpoint and,
    // when a `chg` column is present, counts changed rows DURING the same
    // job through an accumulator — the convergence signal costs zero
    // extra jobs (the round-2 shape ran a second limit(1).count() job per
    // iteration; at tiny per-iteration data the fixed job overhead was
    // the dominant cost). Task retries can only inflate the count, never
    // zero it, so the `== 0` convergence test is retry-safe.
    def materialize(df: DataFrame): (DataFrame, Long) = {
      // the change flag is resolved BY NAME — a positional read (r2 shape:
      // schema.size > 2 + getBoolean(2)) would silently flip convergence
      // semantics if a caller projection ever reordered/added columns
      val chgIdx =
        if (df.schema.fieldNames.contains("chg")) df.schema.fieldIndex("chg")
        else -1
      val acc = spark.sparkContext.longAccumulator
      val rdd =
        if (chgIdx < 0) df.rdd
        else df.rdd.map { r =>
          if (!r.isNullAt(chgIdx) && r.getBoolean(chgIdx)) acc.add(1L)
          r
        }
      rdd.localCheckpoint()
      rdd.count() // eager: runs the job that persists + truncates
      val out = spark.createDataFrame(rdd, df.schema)
      if (pinned != null) pinned.unpersist(blocking = false)
      pinned = rdd
      (out, acc.value)
    }
    // Round 0 for free: the node-set aggregation that would initialize
    // comp = id costs the same shuffle as folding the first hash-min step
    // into it (comp = min(id, min neighbor)) — one propagation round
    // fewer, which on near-clique dup graphs is a third of the rounds.
    var converged = false
    try {
    var labels = materialize(edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("m"))
      .select(col("id"), least(col("id"), col("m")).as("comp")))._1
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src").as("id")).agg(min("comp").as("nbr_comp"))
      // the change flag is computed IN the update projection (a second
      // labels-vs-updated join per iteration would double the shuffles)
      val hashMin = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
            .as("comp"),
          (col("nbr_comp") < col("comp")).as("chg"))
      // Pointer-jumping: forced on by the caller, or auto-engaged once
      // the loop outlives the near-clique fast path (see scaladoc).
      val (updated, changed) =
        if (!pointerJump && i < autoJumpAfter) materialize(hashMin)
        else {
          val h = materialize(hashMin)._1
          val jump = h.select(col("id").as("comp"), col("comp").as("jcomp"))
          materialize(h.join(jump, Seq("comp"), "left")
            .select(col("id"),
              coalesce(col("jcomp"), col("comp")).as("comp"),
              (col("chg") ||
                coalesce(col("jcomp") < col("comp"), lit(false))).as("chg")))
        }
      converged = changed == 0
      labels = updated.select("id", "comp")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(graph diameter exceeds maxIter); labels would be wrong — " +
          "raise maxIter or enable pointerJump for O(log n) rounds")
    labels.select(col("id").as("doc_id"), col("comp").as("component"))
    } finally {
      // error paths (non-convergence, a failed iteration job) must not
      // leak the cached edge set; on failure the last pinned label
      // checkpoint is dead weight too, so release both. On success the
      // final labels stay pinned — they back the returned plan.
      // Best-effort: if the context is already dying, the unpersist's
      // own failure must not mask the root-cause exception.
      try {
        edges.unpersist()
        if (!converged && pinned != null) pinned.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Converged component labels over THE registered pair graph (exact
    * token Jaccard ≥ 0.9, doc_id < 300), memoized per data dir.
    * `dedup_components` and `dedup_cluster_sizes` consume the SAME
    * fixed-point — computing it from scratch in each was the round-6
    * bench's top two lines (~10% of the sweep) for one graph. The memo
    * is the deliberate share: the frame is backed by the final
    * iteration's localCheckpointed RDD blocks (slim (id, comp) longs),
    * which `spark.catalog.clearCache()` does NOT release (catalog
    * clears only touch Dataset/SQL caches), so the share survives the
    * harnesses' between-query cache clears by design rather than by
    * accident of cache state. Footprint is one slim label set per
    * documents table. */
  private val componentMemo = new Memo[DataFrame]

  private def jaccardComponentLabels(s: SparkSession, dir: String)
      : DataFrame =
    componentMemo(dir, "documents", "jaccard-0.9")(
      connectedComponents(
        exactJaccardPairs(docs(s, dir), maxId = 300, threshold = 0.9)))

  /** Near-duplicate corpus filter over an arbitrary near-dup pair list
    * (doc_a < doc_b): drop every document that has a near-duplicate with
    * a smaller doc_id (greedy min-id survivor — the standard single-pass
    * policy; [[connectedComponents]] provides the full
    * transitive-clustering alternative). Survivors = corpus anti-joined
    * against the distinct doc_b side — the loser list is slim ids, so
    * the anti-join never shuttles document bodies. */
  def dropNearDuplicates(d: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("doc_b").as("doc_id")).distinct()
    d.join(losers, Seq("doc_id"), "left_anti")
  }

  /** [[dropNearDuplicates]] with the MinHash+LSH candidate generator —
    * the 100 TB default. */
  def dropNearDuplicates(d: DataFrame,
      numHashes: Int = NearDupNumHashes, bands: Int = NearDupBands,
      minEst: Double = NearDupMinEst): DataFrame =
    dropNearDuplicates(d, minhashPairs(d, numHashes, bands, minEst))

  /** Incremental-ingestion near-dup candidates: MinHash band collisions
    * BETWEEN a new batch and the existing corpus only (the per-crawl
    * dedup pattern — the corpus is already internally deduped, and
    * new-new pairs belong to the batch's own intra-pass). The band join
    * is new-side × old-side, so candidate volume is bounded by
    * cross-side bucket collisions and the old corpus is never
    * self-joined. At 100 TB the old side's signatures/bands are a
    * precomputed index the new batch probes — exactly this plan with
    * the old-side aggregate read from storage. Returns
    * (doc_new, doc_old, est_jaccard).
    *
    * Cache lifecycle (same policy as [[minhashPairs]]): BOTH signature
    * frames are `.cache()`d — each is referenced twice by the returned
    * plan (band explode + estimate re-attach) — and live until
    * `spark.catalog.clearCache()` or session end. The Verify/Bench
    * harnesses clear after every query; a long-lived session composing
    * many incremental batches should clear between batches, or the
    * accumulated footprint is 2 × numDocs × numHashes × 8 B per call.
    * (The metadata-sized `cum` cache in `Sampling.topHalfByScore` follows
    * the same clear-between-queries policy.) */
  def crossCorpusPairs(newDocs: DataFrame, oldDocs: DataFrame,
      numHashes: Int = NearDupNumHashes, bands: Int = NearDupBands,
      minEst: Double = NearDupMinEst,
      scheme: MinHashScheme = xxhash64Scheme): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigN = minhashSignatures(newDocs, numHashes, scheme).cache()
    val sigO = minhashSignatures(oldDocs, numHashes, scheme).cache()
    val bandArr = bandBuckets(scheme, bands, rows)
    val bn = sigN.select(col("doc_id").as("doc_new"),
      posexplode(bandArr).as(Seq("band", "bh")))
    val bo = sigO.select(col("doc_id").as("doc_old"),
      posexplode(bandArr).as(Seq("band", "bh")))
    val cand = bn.join(bo, Seq("band", "bh"))
      .select("doc_new", "doc_old")
      .dropDuplicates("doc_new", "doc_old")
    cand
      .join(sigN.select(col("doc_id").as("doc_new"), col("sig").as("sig_n")),
        "doc_new")
      .join(sigO.select(col("doc_id").as("doc_old"), col("sig").as("sig_o")),
        "doc_old")
      .withColumn("est_jaccard", estJaccard("sig_n", "sig_o", numHashes))
      .where(col("est_jaccard") >= minEst)
      .select("doc_new", "doc_old", "est_jaccard")
  }

  /** EXACT shingle-Jaccard ≥ t pairs over the WHOLE corpus with no
    * all-pairs join — prefix filtering (AllPairs/PPJoin family,
    * Chaudhuri et al. 2006 / Xiao et al. 2008), the scale-safe exact
    * counterpart of the MinHash approximation over the SAME
    * word-bigram [[shingles]] sets.
    *
    * Theorem (prefix filter): order all shingles by a global total
    * order (ascending document frequency, ties by shingle — rarest
    * first); give each doc the first p = n − ⌈t·n⌉ + 1 of its n
    * shingles. If J(a,b) ≥ t then the two prefixes share a shingle:
    * |a∩b| ≥ t·|a∪b| ≥ ⌈t·n_a⌉, and if a's prefix missed all of a∩b,
    * the intersection would fit inside a's suffix of n_a − p =
    * ⌈t·n_a⌉ − 1 elements — contradiction (symmetrically for b; under
    * a COMMON order the two prefixes must overlap). Plus the length
    * filter: J ≥ t forces t·n_b ≤ n_a ≤ n_b/t (|a∩b| ≤ min, ≥ t·max)
    * — both applied with exact integer arithmetic (t = tNum/tDen).
    *
    * Positional filter (PPJoin, also lossless): J ≥ t needs overlap
    * α ≥ t/(1+t)·(n_a+n_b). A shared prefix shingle at ranks (r_a,
    * r_b) of the global order bounds the overlap: at the FIRST shared
    * shingle nothing earlier is shared, so overlap ≤ min(n_a−r_a+1,
    * n_b−r_b+1); the max of that quantity over all shared prefix
    * shingles is ≥ the first-shingle bound, hence still a valid upper
    * bound — pairs whose bound falls below α are dropped before the
    * exact verify (measured 2.5× candidate cut at sf0.1).
    *
    * 100 TB shape: candidates come from an equijoin on PREFIX shingles
    * only — by construction each doc exposes its globally RAREST
    * shingles, so join buckets are df-bounded from the bottom of the
    * Zipf curve, the opposite end from the boilerplate hot keys (and
    * the df attach that computes that order rides
    * [[Skew.hotSaltedJoin]] since it DOES touch the hot end). Exact
    * verification joins full shingle sets onto candidate pairs only.
    * Every stage is an equijoin or a per-doc window; nothing is
    * quadratic in the corpus. (On THIS synthetic corpus's ~40-word
    * vocabulary even rare bigrams recur heavily, so candidate counts
    * are far denser than a web corpus's — the plan shape, not the
    * constant, is what transfers.) */
  /** Generated mirror of [[prefixJaccardPairs]] under a `width`-word
    * shingle plane — ONE generator for every width (the sqlIlog
    * discipline), so the bigram and trigram flavors cannot diverge.
    * Threshold fixed at 9/10 like the registered queries. */
  private def sqlJaccardPrefix(width: Int): String =
    s"""WITH ${sqlJaccardPrefixCtes(width)}
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM v WHERE 10 * inter >= 9 * (na + nb - inter)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The CTE body of [[sqlJaccardPrefix]] (`toks` … `v`), exposed so
    * composing mirrors (the cross-modal `mm_pair_dedup`) can conjoin
    * the caption plane with another pair plane without restating the
    * prefix-filter algebra. */
  private[operators] def sqlJaccardPrefixCtes(width: Int): String = {
    val gram = (0 until width).map(j => s"ts[i+$j]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts
       |      FROM documents),
       |tk AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= $width
       |        THEN list_distinct(list_transform(
       |          range(1, len(ts) - ${width - 2}), i -> $gram))
       |        ELSE [array_to_string(ts, ' ')] END) AS g
       |      FROM toks),
       |df AS (SELECT g, COUNT(*) AS df FROM tk GROUP BY g),
       |r AS (SELECT t.doc_id, t.g,
       |        ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |          ORDER BY d.df, t.g) AS rk,
       |        COUNT(*) OVER (PARTITION BY t.doc_id) AS n
       |      FROM tk t JOIN df d USING (g)),
       |p AS (SELECT doc_id, g, rk, n FROM r
       |      WHERE rk <= n - ((9 * n + 9) // 10) + 1),
       |cand0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        CAST(MAX(LEAST(a.n - a.rk + 1, b.n - b.rk + 1))
       |          AS BIGINT) AS ub,
       |        ANY_VALUE(a.n) AS pna, ANY_VALUE(b.n) AS pnb
       |      FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
       |        AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9
       |      GROUP BY doc_a, doc_b),
       |cand AS (SELECT doc_a, doc_b FROM cand0
       |      WHERE ub * 19 >= 9 * (pna + pnb)),
       |sets AS (SELECT doc_id, list(g) AS toks, COUNT(*) AS n
       |      FROM tk GROUP BY doc_id),
       |v AS (SELECT doc_a, doc_b,
       |        len(list_intersect(sa.toks, sb.toks)) AS inter,
       |        sa.n AS na, sb.n AS nb
       |      FROM cand JOIN sets sa ON sa.doc_id = doc_a
       |                JOIN sets sb ON sb.doc_id = doc_b)""".stripMargin
  }

  /** `pinAttach` materializes the shared dfreq frame EAGERLY
    * (`localCheckpoint`, the fullPrepare stage-boundary discipline)
    * instead of lazily caching it: when this operator runs as ONE
    * PLANE of a composition whose other plane races it inside the
    * same job (`mm_pair_dedup`), the lazy cache materializes on
    * whichever consumer branch executes first, and AQE then plans
    * the OTHER consumers against either the in-memory frame or a
    * re-executed aggregate — flipping the measured exchange count
    * across a range run to run (8–10 observed; shuffle_hash hints
    * alone do not close it because the race is in cache
    * materialization, not join strategy). The eager checkpoint makes
    * every consumer see one stable leaf — one deterministic plan,
    * one pinnable number. Standalone callers keep the lazy default
    * (single consumer chain, no race, and the aggregate stays inside
    * the measured plan). */
  def prefixJaccardPairs(d: DataFrame, tNum: Int = 9, tDen: Int = 10,
      shingleWidth: Int = 2, pinAttach: Boolean = false): DataFrame = {
    // shingle strings leave the CANDIDATE plane here (guide §2.3 —
    // shuffle keys, not payloads): the df aggregate, the rank attach,
    // the prefix window and the candidate self-join only ever test
    // shingles for EQUALITY and a consistent total order, so a
    // 2×64-bit hash pair carries the same information at 16 fixed
    // bytes instead of a ~15–25 char string. The prefix/positional
    // filters stay sound under ANY corpus-consistent total order
    // ((df, hash) here vs the oracle's (df, string) — candidate sets
    // may differ, exact verification makes the OUTPUT identical).
    // The VERIFY plane (`sets` below) deliberately keeps the RAW
    // shingle strings: array_intersect's hash-set fast path covers
    // atomic element types only — struct elements drop it to an
    // O(|A|·|B|) ordering scan per candidate pair, measured 5× on the
    // dense bigram plane (454k candidates at sf0.1) — and raw strings
    // also keep the exact-Jaccard verification collision-free.
    val tk = shingles(d, shingleWidth)
    val tkH = tk.select(col("doc_id"),
      struct(xxhash64(col("g")).as("h1"),
        xxhash64(lit(1L), col("g")).as("h2")).as("g"))
    // per-shingle document frequency: one map-side-combinable
    // aggregate; cached — referenced by the grand total, the hot set,
    // and the join's small side (clear-between-queries policy)
    val dfreq0 = tkH.groupBy("g").agg(count(lit(1)).as("df"))
    val dfreq = if (pinAttach) dfreq0.localCheckpoint()
      else dfreq0.cache()
    val hot = Skew.hotKeysByCount(dfreq, "g", "df")
    // rarest-first rank and the set size off ONE doc_id exchange
    val wd = Window.partitionBy("doc_id")
    val wr = wd.orderBy(col("df"), col("g"))
    val pref = Skew.hotSaltedJoin(tkH, dfreq, "g", hot, col("doc_id"))
      .withColumn("n", count(lit(1)).over(wd))
      .withColumn("rk", row_number().over(wr))
      .where(col("rk") <=
        col("n") - expr(s"($tNum * n + $tDen - 1) DIV $tDen") + 1)
      .select(col("doc_id"), col("g"), col("rk"), col("n"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("g"),
        col("rk").as("rka"), col("n").as("pna"))
      .join(pref.select(col("doc_id").as("doc_b"), col("g"),
        col("rk").as("rkb"), col("n").as("pnb")), Seq("g"))
      .where(col("doc_a") < col("doc_b") &&
        col("pna") * tDen >= col("pnb") * tNum &&
        col("pnb") * tDen >= col("pna") * tNum)
      .groupBy("doc_a", "doc_b")
      .agg(max(least(col("pna") - col("rka") + 1,
        col("pnb") - col("rkb") + 1)).as("ub"),
        first("pna").as("pna"), first("pnb").as("pnb"))
      .where(col("ub") * (tNum + tDen) >=
        lit(tNum) * (col("pna") + col("pnb")))
      .select("doc_a", "doc_b")
    val sets = tk.groupBy("doc_id")
      .agg(collect_list("g").as("toks"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
        col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .where(col("inter") * tDen >=
        lit(tNum) * (col("na") + col("nb") - col("inter")))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** EXACT containment join — |A∩B| / |A| ≥ t over 8-token-WINDOW
    * sets, the asymmetric relation symmetric Jaccard structurally
    * misses: a short document fully quoted inside a much larger one
    * has containment 1.0 but Jaccard ≈ |A|/|B| → 0 (the spec
    * demonstrates exactly that blind spot against
    * [[prefixJaccardPairs]]). Window-level containment reads as "the
    * fraction of A's text spans that appear verbatim in B" — the
    * subset-duplicate / boilerplate-coverage detector.
    *
    * Prefix theorem for the ASYMMETRIC case: order windows by global
    * df (rarest first); A exposes its first n_a − ⌈t·n_a⌉ + 1. If
    * C(A→B) ≥ t then |A∩B| ≥ ⌈t·n_a⌉, and if B contained none of A's
    * prefix the intersection would fit in A's suffix of ⌈t·n_a⌉ − 1
    * elements — contradiction. B contributes ALL its windows (no
    * prefix, and no length/positional filter exists: containment puts
    * no constraint on |B|). Candidates therefore cost Σ over A-prefix
    * windows of df(w) — and because each doc exposes its RAREST
    * windows and the window vocabulary is position-rich (unlike the
    * bigram-shingle plane), those df values sit at the bottom of the
    * distribution. Exact verification joins window sets onto
    * candidate pairs only; containment in exact integer ppm. */
  def containmentPairs(d: DataFrame, winLen: Int = 8,
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val L = winLen
    val tk = spread(d).select(col("doc_id"), tokensCol.as("ts"))
      .where(size(col("ts")) >= L)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L), (size(col("ts")) - L).cast("long")))
          .as("p"))
      .select(col("doc_id"),
        // equality-only digest: same 2×64-bit xxhash64 pair as
        // [[windowDigests]] (the md5-of-joined-string build was the
        // window plane's hot expression; candidates/intersections are
        // hash-agnostic and verification is exact over the same sets)
        struct(
          xxhash64(expr(s"slice(ts, p + 1, $L)")).as("h1"),
          xxhash64(lit(1L), expr(s"slice(ts, p + 1, $L)")).as("h2"))
          .as("g"))
      .distinct()
      // slim fixed-width digest rows referenced by FOUR consumers
      // (df build, prefix attach, B-side index, set build) — cached
      // like the minhash signature frames; released by the harness's
      // clear-between-queries policy
      .cache()
    // per-window document frequency: one keyed aggregate; cached —
    // referenced by the total, the hot set, and the attach small side
    val dfreq = tk.groupBy("g").agg(count(lit(1)).as("df")).cache()
    val hot = Skew.hotKeysByCount(dfreq, "g", "df")
    val wd = Window.partitionBy("doc_id")
    val wr = wd.orderBy(col("df"), col("g"))
    val pref = Skew.hotSaltedJoin(tk, dfreq, "g", hot, col("doc_id"))
      .withColumn("n", count(lit(1)).over(wd))
      .withColumn("rk", row_number().over(wr))
      .where(col("rk") <=
        col("n") - expr(s"($tNum * n + $tDen - 1) DIV $tDen") + 1)
      .select(col("doc_id"), col("g"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("g"))
      .join(tk.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .where(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // verify sets as fixed-width HEX STRINGS of the digest pair:
    // array_intersect's hash-set fast path covers atomic element
    // types only — struct elements drop to an O(|A|·|B|) ordering
    // scan per candidate pair (the dedup_jaccard_prefix lesson);
    // lpad keeps the two lanes' concatenation injective
    val ghex = concat(lpad(hex(col("g.h1")), 16, "0"),
      lpad(hex(col("g.h2")), 16, "0"))
    val sets = tk.groupBy("doc_id")
      .agg(collect_list(ghex).as("gs"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("gs").as("ga"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("gs").as("gb")),
        "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb")))
        .cast("long"))
      .where(col("inter") * tDen >= lit(tNum) * col("na"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        expr("inter * 1000000 DIV na").as("containment_ppm"))
  }

  /** Exact distinct-token Jaccard pairs over a bounded id range — the
    * quadratic ground-truth operator (deliberately NOT the scale path;
    * MinHash is). Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. */
  def exactJaccardPairs(d: DataFrame, maxId: Long, threshold: Double)
      : DataFrame = {
    val tk = d.where(col("doc_id") < maxId)
      .select(col("doc_id"), array_distinct(tokensCol).as("toks"))
    val a = tk.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
    val b = tk.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** DuckDB mirror of [[exactJaccardPairs]] (doc_id < 300, kept in sync
    * with the registered queries that embed it). */
  private val sqlJaccardPairs =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
      |      AS jaccard
      |  FROM (SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
      |        FROM documents WHERE doc_id < 300) a
      |  JOIN (SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
      |        FROM documents WHERE doc_id < 300) b
      |    ON a.doc_id < b.doc_id""".stripMargin

  /** DuckDB mirror of [[minhashPairs]] under [[md5Scheme]] — the SAME
    * shingle → base-hash → rotated-slot-min → band-bucket → candidate →
    * estimate algebra, generated for the given parameters so Spark and
    * DuckDB agree bit-for-bit (60-bit non-negative hashes; masked-shift
    * rotation because DuckDB `<<` errors on BIGINT overflow). */
  private def sqlMinhashMd5(numHashes: Int, bands: Int, minEst: Double,
      maxId: Long): String = {
    val rows = numHashes / bands
    def rotl(i: Int): String =
      if (i == 0) "h2"
      else s"(((h2 & ${(1L << (60 - i)) - 1}) << $i) | (h2 >> ${60 - i}))"
    val slotMins = (0 until numHashes)
      .map(i => s"MIN(xor(h1, ${rotl(i)})) AS m$i").mkString(",\n    ")
    val bandRows = (0 until bands).map { b =>
      val slots = (0 until rows)
        .map(i => s"CAST(m${b * rows + i} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5('$b:' || $slots) AS bh FROM sig"
    }.mkString("\n    UNION ALL ")
    val eq = (0 until numHashes)
      .map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
       |      THEN list_distinct(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i+1]))
       |      ELSE [array_to_string(toks, ' ')] END) AS g
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |        FROM documents WHERE doc_id < $maxId)),
       |h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substr(md5(g || '#'), 1, 15) AS BIGINT) AS h2
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, $slotMins
       |  FROM h GROUP BY doc_id),
       |banded AS (
       |    $bandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b
       |         FROM banded a JOIN banded bb
       |           ON a.band = bb.band AND a.bh = bb.bh
       |             AND a.doc_id < bb.doc_id),
       |est AS (SELECT doc_a, doc_b, ($eq) / $numHashes.0 AS est_jaccard
       |        FROM cand JOIN sig sa ON sa.doc_id = doc_a
       |                  JOIN sig sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, est_jaccard FROM est
       |WHERE est_jaccard >= $minEst ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB mirror of [[crossCorpusPairs]] + the anti-join survivor
    * select, under [[md5Scheme]] — same slot/band algebra as
    * [[sqlMinhashMd5]], with the candidate join restricted to
    * new-side × old-side (doc_id >= split vs < split). */
  private def sqlCrossMinhashMd5(numHashes: Int, bands: Int,
      minEst: Double, split: Long, maxId: Long): String = {
    val rows = numHashes / bands
    def rotl(i: Int): String =
      if (i == 0) "h2"
      else s"(((h2 & ${(1L << (60 - i)) - 1}) << $i) | (h2 >> ${60 - i}))"
    val slotMins = (0 until numHashes)
      .map(i => s"MIN(xor(h1, ${rotl(i)})) AS m$i").mkString(",\n    ")
    val bandRows = (0 until bands).map { b =>
      val slots = (0 until rows)
        .map(i => s"CAST(m${b * rows + i} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5('$b:' || $slots) AS bh FROM sig"
    }.mkString("\n    UNION ALL ")
    val eq = (0 until numHashes)
      .map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
       |      THEN list_distinct(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i+1]))
       |      ELSE [array_to_string(toks, ' ')] END) AS g
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |        FROM documents WHERE doc_id < $maxId)),
       |h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substr(md5(g || '#'), 1, 15) AS BIGINT) AS h2
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, $slotMins
       |  FROM h GROUP BY doc_id),
       |banded AS (
       |    $bandRows),
       |cand AS (SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       |         FROM banded n JOIN banded o
       |           ON n.band = o.band AND n.bh = o.bh
       |         WHERE n.doc_id >= $split AND o.doc_id < $split),
       |est AS (SELECT doc_new, doc_old, ($eq) / $numHashes.0 AS ej
       |        FROM cand JOIN sig sa ON sa.doc_id = doc_new
       |                  JOIN sig sb ON sb.doc_id = doc_old)
       |SELECT d.doc_id, md5(d.text) AS digest FROM documents d
       |WHERE d.doc_id >= $split AND d.doc_id < $maxId
       |  AND d.doc_id NOT IN (SELECT doc_new FROM est WHERE ej >= $minEst)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB mirror of [[simhash60Md5Pairs]] — generated for the given
    * parameters so both engines run the identical bit-sum / sign-pack /
    * chunk-band / popcount algebra. */
  private def sqlSimhashMd5(maxId: Long, maxHamming: Int): String = {
    val bitSums = (0 until 60)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val pack = (0 until 60)
      .map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val chunkRows = (0 until 4).map(c =>
      s"SELECT doc_id, fp, $c AS ci, (fp >> ${c * 15}) & ${(1 << 15) - 1}" +
        " AS cv FROM fp").mkString("\n    UNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
       |  FROM documents WHERE doc_id < $maxId),
       |h AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
       |      FROM tok),
       |bits AS (SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $pack AS fp FROM bits),
       |chunks AS (
       |    $chunkRows),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fa,
       |                b.doc_id AS doc_b, b.fp AS fb
       |         FROM chunks a JOIN chunks b
       |           ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    Q("dedup_exact", Some(
      """SELECT COUNT(*) AS n_docs,
        |       COUNT(DISTINCT md5(text)) AS n_unique,
        |       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
        |FROM documents""".stripMargin)) { (s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))
    },

    // Exact token-set Jaccard over a bounded candidate set (doc_id < 300
    // both sides) — the oracle-checkable ground truth the approximate
    // methods are judged against in tests.
    Q("dedup_ngram_jaccard", Some(
      s"""SELECT doc_a, doc_b, jaccard FROM ($sqlJaccardPairs)
         |WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin)) {
      (s, dir) =>
        exactJaccardPairs(docs(s, dir), maxId = 300, threshold = 0.9)
          .orderBy("doc_a", "doc_b")
    },

    // Transitive dedup clustering: connected components (iterative
    // min-label propagation) over the exact-Jaccard pair graph; the
    // oracle recomputes the transitive closure with a recursive CTE.
    // This is the iterative-driver shape (reference O9) applied to the
    // corpus-dedup extension — fixed-point loop, bounded driver scalars.
    Q("dedup_components", Some(
      s"""WITH RECURSIVE
         |p AS (SELECT doc_a, doc_b FROM ($sqlJaccardPairs)
         |      WHERE jaccard >= 0.9),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach
         |  JOIN edges ON reach.r = edges.src),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
         |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM comp GROUP BY component ORDER BY component""".stripMargin)) {
      (s, dir) =>
        jaccardComponentLabels(s, dir)
          .groupBy("component").agg(count(lit(1)).as("n_members"))
          .orderBy("component")
    },

    // Cluster-size distribution of the transitive dup graph — how much
    // corpus mass sits in 2-clusters vs long chains decides banding
    // thresholds and survivor policy. Consumes the SAME memoized label
    // frame as dedup_components (jaccardComponentLabels) — the
    // fixed-point runs once per dir, this query adds only
    // metadata-sized aggregates on the slim labels.
    Q("dedup_cluster_sizes", Some(
      s"""WITH RECURSIVE
         |p AS (SELECT doc_a, doc_b FROM ($sqlJaccardPairs)
         |      WHERE jaccard >= 0.9),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach
         |  JOIN edges ON reach.r = edges.src),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |sizes AS (SELECT component, COUNT(*) AS sz FROM comp
         |          GROUP BY component)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin)) {
      (s, dir) =>
        jaccardComponentLabels(s, dir)
          .groupBy("component").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
          .orderBy("cluster_size")
    },

    Q("dedup_minhash_lsh", None) { (s, dir) => minhashPairs(docs(s, dir)) },

    // The SAME MinHash banding algebra under the md5 scheme, end-to-end
    // hash-matched against a generated DuckDB mirror: pins the
    // signature/rotation/banding/estimate logic itself, not just
    // statistical properties of it (the xxhash64 flavor above stays the
    // no-oracle scale path).
    Q("dedup_minhash_md5",
      Some(sqlMinhashMd5(numHashes = 16, bands = 4, minEst = 0.6,
        maxId = 300))) { (s, dir) =>
      minhashPairs(docs(s, dir).where(col("doc_id") < 300),
        numHashes = 16, bands = 4, minEst = 0.6, scheme = md5Scheme)
    },

    // The flagship corpus-filter operation end-to-end: survivors after
    // dropping every doc with a smaller-id near-duplicate. Driven by the
    // exact-Jaccard pair graph so the whole operation is SQL-oracle-able
    // (the LSH-driven flavor is exercised by DedupSpec).
    Q("pipeline_drop_near_dups", Some(
      s"""SELECT d.doc_id, md5(d.text) AS digest FROM documents d
         |WHERE d.doc_id < 300 AND d.doc_id NOT IN (
         |  SELECT DISTINCT doc_b FROM ($sqlJaccardPairs)
         |  WHERE jaccard >= 0.9)
         |ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
      val d = docs(s, dir).where(col("doc_id") < 300)
      dropNearDuplicates(d, exactJaccardPairs(docs(s, dir), 300, 0.9))
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .orderBy("doc_id")
    },

    // Incremental-ingestion dedup end-to-end: the new batch (doc_id in
    // [300, 600)) survives unless a MinHash band collision with the
    // EXISTING corpus (doc_id < 300) verifies at est_jaccard >= 0.6 —
    // the per-crawl-snapshot operation. md5 scheme so the full
    // cross-side band algebra + anti-join hash-matches DuckDB; the
    // xxhash64 flavor of crossCorpusPairs is the scale path
    // (DedupSpec pins its recall on engineered cross-side near-dups).
    Q("pipeline_incremental_dedup", Some(
      sqlCrossMinhashMd5(numHashes = 16, bands = 4, minEst = 0.6,
        split = 300, maxId = 600))) { (s, dir) =>
      val all = docs(s, dir)
      val old = all.where(col("doc_id") < 300)
      val fresh = all.where(col("doc_id") >= 300 && col("doc_id") < 600)
      val losers = crossCorpusPairs(fresh, old, numHashes = 16, bands = 4,
          minEst = 0.6, scheme = md5Scheme)
        .select(col("doc_new").as("doc_id")).distinct()
      fresh.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .orderBy("doc_id")
    },

    Q("dedup_simhash", None) { (s, dir) => simhashPairs(docs(s, dir)) },

    // The SAME SimHash algebra under md5-derived 60-bit hashes,
    // hash-matched cell-exact against a generated DuckDB mirror — pins
    // the bit-sum/sign-pack/chunk-band/popcount logic itself (the
    // 128-bit xxhash64 flavor above stays the no-oracle scale path).
    Q("dedup_simhash_md5", Some(sqlSimhashMd5(maxId = 300, maxHamming = 3))) {
      (s, dir) => simhash60Md5Pairs(docs(s, dir), maxId = 300)
    },

    // ---- cross-source vocabulary overlap matrix: exact token-set
    //      Jaccard between every source pair (the corpus-composition
    //      diagnostic run before choosing mix weights — near-identical
    //      sources are mix-weight double counting). Shape at scale: the
    //      distinct (source, token) set is vocabulary-sized, not
    //      corpus-sized; the token self-join's per-key fan-out is
    //      bounded by S^2 where S = number of SOURCES (a token in every
    //      source meets S rows), so no Zipf key can explode it — the
    //      hot-key bound is structural, unlike the doc-keyed token
    //      joins that need salting. Jaccard reported in exact integer
    //      ppm (BIGINT DIV), no float division. ----
    Q("dedup_source_overlap", Some(
      """WITH st AS (SELECT DISTINCT source, tok FROM (
        |        SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
        |        FROM documents)),
        |sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
        |i AS (SELECT a.source AS src_a, b.source AS src_b,
        |        COUNT(*) AS inter
        |      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
        |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
        |  CAST(inter * 1000000 // (na.n + nb.n - inter) AS BIGINT)
        |    AS jaccard_ppm
        |FROM i JOIN sz na ON src_a = na.source
        |       JOIN sz nb ON src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin)) { (s, dir) =>
      val st = docs(s, dir)
        .select(col("source"), explode(split(col("text"), "\\s+")).as("tok"))
        .distinct()
      val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = st.select(col("source").as("src_a"), col("tok"))
        .join(st.select(col("source").as("src_b"), col("tok")), Seq("tok"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"),
          col("n_a"), col("n_b"),
          expr("inter * 1000000 DIV (n_a + n_b - inter)").as("jaccard_ppm"))
        .orderBy("src_a", "src_b")
    },

    // ---- paragraph-level exact dedup (the C4/CCNet removal stage:
    //      Raffel et al. 2020 §2.2 drop repeated spans corpus-wide;
    //      CCNet dedups at paragraph granularity). A "paragraph" here
    //      is a fixed 16-token window (the synthetic corpus carries no
    //      sentence punctuation — same convention family as
    //      text_chunks), and only the corpus-wide FIRST occurrence
    //      (min (doc_id, pidx)) of each paragraph text survives; every
    //      later copy — cross-doc boilerplate or intra-doc repetition —
    //      is dropped. Winners come from ONE map-side-combinable
    //      min-struct aggregate on the md5 key, never a corpus-wide
    //      window; the winner-attach join rides hotSaltedJoin because a
    //      boilerplate paragraph's occurrence count is unbounded while
    //      its winner row is 1 — the aggregate-fed join shape AQE's
    //      skew split structurally cannot cover (TokenJoinSkewSpec).
    //      Output: per-doc paragraph counts + md5 of the surviving
    //      reassembled text, NULL when nothing survives (both engines'
    //      aggregate-over-no-rows convention). ----
    Q("pipeline_paragraph_dedup", Some(
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts
        |      FROM documents),
        |g AS (SELECT doc_id, ts, unnest(generate_series(0,
        |        CAST(CEIL(len(ts) / 16.0) AS BIGINT) - 1)) AS pidx
        |      FROM toks),
        |p AS (SELECT doc_id, CAST(pidx AS INTEGER) AS pidx,
        |        array_to_string(
        |          list_slice(ts, pidx * 16 + 1, pidx * 16 + 16), ' ')
        |          AS ptext
        |      FROM g),
        |r AS (SELECT doc_id, pidx, ptext,
        |        ROW_NUMBER() OVER (PARTITION BY ptext
        |          ORDER BY doc_id, pidx) AS rn FROM p)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_paras,
        |  CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  md5(string_agg(CASE WHEN rn = 1 THEN ptext END, ' '
        |    ORDER BY pidx)) AS kept_md5
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val occ = Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), split(col("text"), "\\s+").as("ts"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, cast(ceil(size(ts) / 16.0) as int) - 1),
            |  g -> array_join(slice(ts, g * 16 + 1, 16), ' '))"""
            .stripMargin)).as(Seq("pidx", "ptext")))
        .withColumn("h", md5(col("ptext")))
      // winners + occurrence counts in one keyed aggregate; cached —
      // referenced by the grand total, the hot set, and the join's
      // small side (clear-between-queries policy, as minhashPairs)
      val win = occ.groupBy("h")
        .agg(min(struct(col("doc_id"), col("pidx"))).as("w"),
          count(lit(1)).as("occs"))
        .cache()
      val hot = Skew.hotKeysByCount(win, "h", "occs")
      Skew.hotSaltedJoin(occ, win.select(col("h"), col("w")), "h", hot,
          col("doc_id"))
        .withColumn("kept",
          col("w.doc_id") === col("doc_id") && col("w.pidx") === col("pidx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          expr("""md5(array_join(transform(
            |  array_sort(collect_list(
            |    case when kept then struct(pidx, ptext) end)),
            |  s -> s.ptext), ' '))""".stripMargin).as("__md5"))
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          when(col("n_kept") > 0, col("__md5")).as("kept_md5"))
        .orderBy("doc_id")
    },

    // ---- ExactSubstr dedup spans (Lee et al. 2022): maximal
    //      VARIABLE-LENGTH token spans lying inside any substring of
    //      ≥ 50 tokens that occurs more than once corpus-wide — the
    //      removal ranges every serious corpus clean computes. The
    //      window-union equivalence (see exactSubstrSpans) makes this
    //      exact with no suffix sort; the oracle replays the identical
    //      algebra: window digests → counts → dup positions → LAG-based
    //      island merge → per-island span. ----
    Q("pipeline_exact_substr", Some(s"""
      |WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts
      |      FROM documents),
      |w AS (SELECT doc_id, ts,
      |        unnest(generate_series(0, len(ts) - $ExactSubstrMinLen)) AS p
      |      FROM toks WHERE len(ts) >= $ExactSubstrMinLen),
      |ww AS (SELECT doc_id, p,
      |        md5(array_to_string(
      |          list_slice(ts, p + 1, p + $ExactSubstrMinLen), ' ')) AS h
      |      FROM w),
      |c AS (SELECT h, COUNT(*) AS n FROM ww GROUP BY h),
      |dup AS (SELECT doc_id, p FROM ww JOIN c USING (h) WHERE c.n > 1),
      |o AS (SELECT doc_id, p,
      |        LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp
      |      FROM dup),
      |i AS (SELECT doc_id, p,
      |        SUM(CASE WHEN pp IS NULL OR p > pp + $ExactSubstrMinLen
      |          THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY p
      |            ROWS UNBOUNDED PRECEDING) AS island
      |      FROM o)
      |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
      |  CAST(MAX(p) + ${ExactSubstrMinLen - 1} AS BIGINT) AS span_end,
      |  CAST(MAX(p) - MIN(p) + $ExactSubstrMinLen AS BIGINT) AS span_len,
      |  CAST(COUNT(*) AS BIGINT) AS n_windows
      |FROM i GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin)) { (s, dir) =>
      exactSubstrSpans(docs(s, dir)).orderBy("doc_id", "span_start")
    },

    // ---- ExactSubstr REMOVAL (the apply half): first occurrence of
    //      every duplicated 50-window survives, later copies' spans
    //      delete their positions; per-doc cleaned-text md5 pins the
    //      reassembly. The oracle states the same winner rule
    //      window-style (rn > 1 over (doc_id, p) — identically the
    //      min-struct winner). ----
    Q("pipeline_exact_substr_removal", Some(s"""
      |WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts
      |      FROM documents),
      |w AS (SELECT doc_id, ts,
      |        unnest(generate_series(0, len(ts) - $ExactSubstrMinLen)) AS p
      |      FROM toks WHERE len(ts) >= $ExactSubstrMinLen),
      |ww AS (SELECT doc_id, p,
      |        md5(array_to_string(
      |          list_slice(ts, p + 1, p + $ExactSubstrMinLen), ' ')) AS h
      |      FROM w),
      |r AS (SELECT doc_id, p,
      |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
      |      FROM ww),
      |rem AS (SELECT DISTINCT doc_id, pos FROM (
      |      SELECT doc_id,
      |        unnest(generate_series(p, p + ${ExactSubstrMinLen - 1}))
      |          AS pos
      |      FROM r WHERE rn > 1)),
      |tt AS (SELECT doc_id, ts, unnest(generate_series(0, len(ts) - 1))
      |        AS pos
      |      FROM toks),
      |j AS (SELECT t.doc_id, t.pos, t.ts[t.pos + 1] AS tok,
      |        r.pos IS NOT NULL AS rm
      |      FROM tt t LEFT JOIN rem r
      |        ON t.doc_id = r.doc_id AND t.pos = r.pos)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE rm) AS BIGINT) AS n_removed,
      |  md5(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY pos))
      |    AS kept_md5
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      exactSubstrRemoval(docs(s, dir)).orderBy("doc_id")
    },

    // ---- INCREMENTAL ExactSubstr: clean the new batch (doc_id in
    //      [300, 600)) against the existing corpus (< 300) — the old
    //      side contributes only its distinct window digests (the
    //      persisted-index shape; pipeline_incremental_dedup's split
    //      convention), old always wins, new-internal copies fall to
    //      the first-occurrence rule. ----
    Q("pipeline_incremental_substr", Some(s"""
      |WITH oton AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts
      |      FROM documents WHERE doc_id < 300),
      |ntok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts
      |      FROM documents WHERE doc_id >= 300 AND doc_id < 600),
      |oww AS (SELECT md5(array_to_string(
      |          list_slice(ts, p + 1, p + $ExactSubstrMinLen), ' ')) AS h
      |      FROM (SELECT ts, unnest(generate_series(0,
      |          len(ts) - $ExactSubstrMinLen)) AS p
      |        FROM oton WHERE len(ts) >= $ExactSubstrMinLen)),
      |oidx AS (SELECT DISTINCT h FROM oww),
      |nww AS (SELECT doc_id, p,
      |        md5(array_to_string(
      |          list_slice(ts, p + 1, p + $ExactSubstrMinLen), ' ')) AS h
      |      FROM (SELECT doc_id, ts, unnest(generate_series(0,
      |          len(ts) - $ExactSubstrMinLen)) AS p
      |        FROM ntok WHERE len(ts) >= $ExactSubstrMinLen)),
      |r AS (SELECT doc_id, p, h,
      |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
      |      FROM nww),
      |rem AS (SELECT DISTINCT doc_id, pos FROM (
      |      SELECT doc_id,
      |        unnest(generate_series(p, p + ${ExactSubstrMinLen - 1}))
      |          AS pos
      |      FROM r WHERE rn > 1 OR h IN (SELECT h FROM oidx))),
      |tt AS (SELECT doc_id, ts, unnest(generate_series(0, len(ts) - 1))
      |        AS pos
      |      FROM ntok),
      |j AS (SELECT t.doc_id, t.pos, t.ts[t.pos + 1] AS tok,
      |        r.pos IS NOT NULL AS rm
      |      FROM tt t LEFT JOIN rem r
      |        ON t.doc_id = r.doc_id AND t.pos = r.pos)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE rm) AS BIGINT) AS n_removed,
      |  md5(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY pos))
      |    AS kept_md5
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val all = docs(s, dir)
      exactSubstrIncremental(
        all.where(col("doc_id") >= 300 && col("doc_id") < 600),
        all.where(col("doc_id") < 300))
        .orderBy("doc_id")
    },

    // ---- prefix-filtered EXACT Jaccard join (AllPairs/PPJoin):
    //      every bigram-shingle-Jaccard ≥ 0.9 pair corpus-wide with
    //      exact values, from a prefix-shingle equijoin + length
    //      filter + exact verification — no all-pairs anywhere (vs
    //      dedup_ngram_jaccard's deliberately bounded-quadratic
    //      unigram ground truth, and the exact twin of what
    //      dedup_minhash_* approximates on the same shingle sets).
    //      The oracle replays the identical df-order/prefix/verify
    //      algebra. ----
    Q("dedup_jaccard_prefix", Some(sqlJaccardPrefix(width = 2))) {
      (s, dir) => prefixJaccardPairs(docs(s, dir)).orderBy("doc_a", "doc_b")
    },

    // ---- the TRIGRAM-shingle flavor at the same 0.9 threshold: wider
    //      shingles make the vocabulary position-richer, so on the
    //      fixture's dense ~40-word vocabulary the candidate equijoin
    //      thins 50x (454k → 9.1k candidate rows at sf0.1, measured)
    //      while surfacing essentially the same duplicate pairs — the
    //      tuning knob a real corpus turns when the shingle plane is
    //      too dense; the bigram query stays as-is for oracle
    //      continuity. Same prefix/length/positional theorems (they
    //      are width-independent), same generated mirror. ----
    Q("dedup_jaccard_prefix3", Some(sqlJaccardPrefix(width = 3))) {
      (s, dir) =>
        prefixJaccardPairs(docs(s, dir), shingleWidth = 3)
          .orderBy("doc_a", "doc_b")
    },

    // ---- EXACT containment join (|A∩B|/|A| ≥ 1/2 over 8-token
    //      window sets): the asymmetric subset-duplicate relation —
    //      "half of A's spans appear verbatim in B" — that symmetric
    //      Jaccard misses by construction. A-side prefix of rarest
    //      windows vs B-side full index (the asymmetric prefix
    //      theorem, Scaladoc); exact verify + integer ppm. ----
    Q("dedup_containment", Some("""
      |WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts
      |      FROM documents),
      |tk AS (SELECT DISTINCT doc_id,
      |        md5(array_to_string(list_slice(ts, p + 1, p + 8), ' ')) AS g
      |      FROM (SELECT doc_id, ts,
      |          unnest(generate_series(0, len(ts) - 8)) AS p
      |        FROM toks WHERE len(ts) >= 8)),
      |df AS (SELECT g, COUNT(*) AS df FROM tk GROUP BY g),
      |r AS (SELECT t.doc_id, t.g,
      |        ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |          ORDER BY d.df, t.g) AS rk,
      |        COUNT(*) OVER (PARTITION BY t.doc_id) AS n
      |      FROM tk t JOIN df d USING (g)),
      |p AS (SELECT doc_id, g FROM r
      |      WHERE rk <= n - ((1 * n + 1) // 2) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |      FROM p a JOIN tk b ON a.g = b.g AND a.doc_id <> b.doc_id),
      |sets AS (SELECT doc_id, list(g) AS gs, COUNT(*) AS n FROM tk
      |      GROUP BY doc_id),
      |v AS (SELECT doc_a, doc_b,
      |        CAST(len(list_intersect(sa.gs, sb.gs)) AS BIGINT) AS inter,
      |        CAST(sa.n AS BIGINT) AS na
      |      FROM cand JOIN sets sa ON sa.doc_id = doc_a
      |                JOIN sets sb ON sb.doc_id = doc_b)
      |SELECT doc_a, doc_b, inter, na,
      |  CAST(inter * 1000000 // na AS BIGINT) AS containment_ppm
      |FROM v WHERE 2 * inter >= 1 * na
      |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      containmentPairs(docs(s, dir)).orderBy("doc_a", "doc_b")
    })
}
