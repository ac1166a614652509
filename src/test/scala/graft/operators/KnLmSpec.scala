package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The interpolated-KN plane's reason to exist: finite, monotone
  * scores on held-out text the unsmoothed MLE plane cannot score.
  */
class KnLmSpec extends SparkSpec {
  import spark.implicits._

  /** train docs (% 5 != 0) establish bigrams over {a,b,c,d}; eval
    * docs (% 5 == 0) carry 0, 1, 2 unseen bigrams at equal length. */
  private lazy val fixture = Seq(
    (1L, "a b c d a b c d a"),
    (2L, "a b c d a b c d a"),
    (3L, "b c d a b c d a b"),
    // 8 bigrams each; z is OOV
    (5L, "a b c d a b c d a"),   // all seen
    (10L, "a b c d a b c d z"),  // 1 unseen (d z)
    (15L, "a b c d a b c z z")   // 2 unseen (c z), (z z)
  ).toDF("doc_id", "text")

  private lazy val rows = KnLm.knLogprob(fixture).collect()
    .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
    .toMap

  test("held-out docs with unseen bigrams get FINITE nonnegative nll " +
      "(the unsmoothed plane assigns them probability zero)") {
    assert(rows.keySet == Set(5L, 10L, 15L))
    rows.foreach { case (id, (nb, nll, per)) =>
      assert(nb == 8, s"doc $id bigram count")
      assert(nll >= 0L && per >= 0L, s"doc $id negative nll")
      assert(per == nll / 8, s"doc $id floor-div norm")
    }
  }

  test("nll is strictly monotone in the number of unseen bigrams at " +
      "equal length (the operating property a perplexity filter needs)") {
    assert(rows(5L)._2 < rows(10L)._2,
      s"1 OOV bigram must cost more than 0: ${rows(5L)} vs ${rows(10L)}")
    assert(rows(10L)._2 < rows(15L)._2,
      s"2 OOV bigrams must cost more than 1: ${rows(10L)} vs ${rows(15L)}")
  }

  test("kn3Logprob: the backoff LEVELS discriminate — unseen trigram " +
      "with a seen backoff bigram costs less than one whose backoff " +
      "is also unseen, and fully-seen text costs least") {
    val d = Seq(
      // train: trigram/bigram vocabulary over {a,b,c,d} incl. the dc
      // bigram the eB backoff needs
      (1L, "a b c d a b c d a"),
      (2L, "b c a b c a b c a"),
      (3L, "d c d c d c d c d"),
      // eval: 9 tokens -> 7 trigrams each; identical prefix, tails
      // engineered per backoff level
      (5L, "a b c d a b c d a"),   // eA: all trigrams seen
      (10L, "a b c d a b x d c"),  // eB: unseen tris, backoffs reach
                                   //     SEEN bigrams (xd->d ctx, dc)
      (15L, "a b c d a b x q z")   // eC: unseen tris, backoffs land
                                   //     on the OOV continuation floor
    ).toDF("doc_id", "text")
    val rows = KnLm.kn3Logprob(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(5L, 10L, 15L))
    rows.foreach { case (id, (nt, nll)) =>
      assert(nt == 7, s"doc $id trigram count")
      assert(nll >= 0L, s"doc $id negative nll")
    }
    assert(rows(5L)._2 < rows(10L)._2,
      s"seen text must cost less: ${rows(5L)} vs ${rows(10L)}")
    assert(rows(10L)._2 < rows(15L)._2,
      "a seen-bigram backoff must cost less than the OOV floor: " +
        s"${rows(10L)} vs ${rows(15L)}")
  }

  test("kn5Logprob: ALL FIVE backoff levels discriminate — each one " +
      "level deeper into the backoff chain costs strictly more") {
    val d = Seq(
      // train: one 9-token line, twice — every n-gram context has
      // exactly ONE continuation, so at each level the interpolated
      // probability of a seen gram strictly exceeds its own backoff
      (1L, "a b c d e f g h a"),
      (2L, "a b c d e f g h a"),
      // eval: ONE 5-gram each, engineered to ground at exactly one
      // level of the chain
      (5L, "a b c d e"),   // seen 5-gram
      (10L, "x b c d e"),  // unseen 5-gram, SEEN 4-gram suffix
      (15L, "x y c d e"),  // grounds at the seen trigram "c d e"
      (20L, "x y z d e"),  // grounds at the seen bigram "d e"
      (25L, "x y z w v")   // fully OOV: the continuation floor
    ).toDF("doc_id", "text")
    val rows = KnLm.kn5Logprob(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(5L, 10L, 15L, 20L, 25L))
    rows.foreach { case (id, (n5, nll)) =>
      assert(n5 == 1, s"doc $id 5-gram count")
      assert(nll >= 0L, s"doc $id negative nll")
    }
    val chain = Seq(5L, 10L, 15L, 20L, 25L).map(rows(_)._2)
    assert(chain == chain.sorted && chain.distinct == chain,
      "each backoff level deeper must cost STRICTLY more " +
        s"(seen5 < back4 < back3 < back2 < floor): $chain")
  }

  test("pipeline_ppl_buckets: terciles are balanced, monotone in the " +
      "perplexity score, and deterministic under ties") {
    val rows = graft.SparkEntry
      .queries("pipeline_ppl_buckets")(spark, sf01Dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    // NTILE balance: sizes differ by at most one
    val sizes = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(1, 2, 3), s"buckets: $sizes")
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced: $sizes")
    // monotone: ordering docs by (nll, doc_id) never decreases bucket
    val ordered = rows.sortBy(t => (t._2, t._1)).map(_._3).toSeq
    assert(ordered.zip(ordered.drop(1)).forall { case (a, b) => a <= b },
      "bucket must be monotone in the (nll_per, doc_id) order")
    // head bucket holds the LOWEST perplexity (what CCNet keeps)
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket(1).max <= byBucket(3).min ||
      byBucket(1).max <= byBucket(2).min,
      "head tercile must sit at the low-perplexity end")
  }

  test("kn5LogprobOver two-corpus: the reference-LM direction — a crawl " +
      "doc matching the TRUSTED corpus scores lower nll than one " +
      "diverging from it, and no held-out convention filters the eval " +
      "side (both %5 classes score)") {
    val trusted = Seq(
      (1L, "a b c d e f g h a"),
      (2L, "a b c d e f g h a")).toDF("doc_id", "text")
    val crawl = Seq(
      (100L, "a b c d e"),  // %5 == 0: in-distribution w.r.t. trusted
      (101L, "v w x y z")   // %5 != 0: diverges from the reference LM
    ).toDF("doc_id", "text")
    val rows = KnLm.kn5LogprobOver(trusted, crawl).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.keySet == Set(100L, 101L),
      "eval must score EVERY crawl doc — no %5 held-out filter")
    assert(rows(100L) < rows(101L),
      s"in-distribution must beat divergence: $rows")
  }

  test("text_kn5_logprob_ref: trusted sources train, ALL other sources' " +
      "docs (both %5 splits) score; a memo-hit rerun is byte-identical") {
    val got = graft.SparkEntry.queries("text_kn5_logprob_ref")(
      spark, sf01Dir).collect().map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty)
    val srcOf = graft.Tables.load(spark, sf01Dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scoredIds = got.map(_._1).toSet
    assert(scoredIds.forall(id => !KnLm.TrustedSources.contains(srcOf(id))),
      "no trusted-source doc may appear on the eval side")
    assert(scoredIds.exists(_ % 5 == 0) && scoredIds.exists(_ % 5 != 0),
      "both %5 classes must score — the ref query has no held-out split")
    // second run rides the fingerprint memo (the model planes are
    // checkpointed leaves) and must be byte-identical
    val again = graft.SparkEntry.queries("text_kn5_logprob_ref")(
      spark, sf01Dir).collect().map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(again == got)
  }

  test("kn5 memo lifecycle: regenerating the table evicts every " +
      "superseded variant entry AND releases its checkpointed planes " +
      "(pinned-block count returns to one generation's footprint)") {
    val dir = java.nio.file.Files
      .createTempDirectory("kn5_lifecycle").toString
    def writeDocs(salt: String): Unit =
      (0L until 12L).map { i =>
        val src = s"src${i % 6}" // src0..3 trusted, 4..5 not
        val t = s"w$salt${i % 3} " * 8 + s"t$salt$i t$salt$i"
        (i, t.trim, "zz", src, t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val canon = Seq(
      (1L, "zz", 50L, "wa0 wa1 wa2 wa0 wa1 wa2 wa0 wa1"),
      (2L, "zz", 50L, "wb0 wb1 wb2 wb0 wb1 wb2 wb0 wb1"),
      (3L, "zz", 50L, "qq ww ee rr tt yy uu ii"))
      .toDF("doc_id", "lang", "n_chars", "text")
    def blocks: Int = spark.sparkContext.getPersistentRDDs.size
    def fpOf(k: String): String = k.substring(k.indexOf('#') + 1)
    def buildBoth(): Unit = {
      KnLm.pplGateMemo(dir)(canon).collect()
      KnLm.pplGateRefMemo(dir)(canon).collect()
    }
    // settle the baseline: the async ContextCleaner may still be
    // releasing OTHER tests' unreachable checkpoints — read base only
    // once the count holds still (the NbLangidSpec lifecycle
    // discipline), or the concurrent shrink masks the build's growth
    def settled(): Int = {
      var prev = -1; var cur = blocks
      val dl = System.currentTimeMillis() + 15000
      while (cur != prev && System.currentTimeMillis() < dl) {
        System.gc(); Thread.sleep(300); prev = cur; cur = blocks
      }
      cur
    }
    spark.catalog.clearCache()
    writeDocs("a")
    val base = settled()
    buildBoth()
    val genOne = blocks
    assert(genOne > base, "a built model must pin checkpointed planes")
    val keys1 = KnLm.kn5Memo.keys.filter(_.contains(dir))
    assert(keys1.size == 2,
      s"one live entry per variant for this dir: $keys1")
    // REGENERATE the table on disk: fresh fingerprint, both variants
    writeDocs("b")
    buildBoth()
    val keys2 = KnLm.kn5Memo.keys.filter(_.contains(dir))
    assert(keys2.size == 2 &&
      keys2.map(fpOf).intersect(keys1.map(fpOf)).isEmpty,
      s"superseded fingerprints must be evicted per variant: " +
        s"$keys1 -> $keys2")
    // the evicted models' localCheckpoint blocks are released once
    // the ContextCleaner collects the unreachable frames — poll
    // through explicit GCs rather than assuming promptness
    val deadline = System.currentTimeMillis() + 60000
    var now = blocks
    while (now > genOne && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(250); now = blocks
    }
    assert(now <= genOne,
      s"regeneration must not accumulate checkpointed planes: " +
        s"baseline $base, one generation $genOne, after regen $now")
  }

  test("an all-OOV held-out doc (unseen w1 AND w2 everywhere) still " +
      "scores finitely through the +1 continuation floor") {
    val d = fixture.unionByName(
      Seq((20L, "q r s t q r s t q")).toDF("doc_id", "text"))
    val r = KnLm.knLogprob(d).where(col("doc_id") === 20L).collect()(0)
    assert(r.getInt(1) == 8 && r.getLong(2) > 0L)
    // every bigram hits the unseen-w1 floor P = 1/T with T = ntypes +
    // (V+1) = 4 + 5 = 9: nll = 8 * (ilog(9) - ilog(1))
    val expected = 8L * UnigramLm.ilog2Q10(9L)
    assert(r.getLong(2) == expected,
      s"floor nll ${r.getLong(2)} != hand-computed $expected")
  }
}
