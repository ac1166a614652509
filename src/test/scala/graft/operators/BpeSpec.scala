package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE learn/apply correctness: the distributed fold-based learner must
  * equal a plain-Scala reference implementation of the classic
  * algorithm (overlap-counting pair stats, (count desc, pair asc)
  * tie-break, greedy left-to-right merge), including the same-symbol
  * overlap cases the fold's equivalence argument covers.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala reference: the classic word-frequency BPE learner. */
  private def refLearn(vocab: Map[String, Long], steps: Int)
      : Seq[(Int, String, String, Long)] = {
    var syms: Map[String, (List[String], Long)] =
      vocab.map { case (w, f) => w -> (w.map(_.toString).toList, f) }
    def mergeWord(l: List[String], a: String, b: String): List[String] =
      l match {
        case x :: y :: rest if x == a && y == b =>
          (a + b) :: mergeWord(rest, a, b)
        case x :: rest => x :: mergeWord(rest, a, b)
        case Nil => Nil
      }
    (1 to steps).map { k =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((_, (l, f)) <- syms; p <- l.zip(l.tail))
        counts(p) = counts.getOrElse(p, 0L) + f
      val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      syms = syms.map { case (w, (l, f)) => w -> (mergeWord(l, a, b), f) }
      (k, a, b, n)
    }
  }

  private def corpusDf(vocab: Map[String, Long]) =
    vocab.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(4)

  test("learnMerges equals the reference on the classic corpus " +
      "(ties broken lexicographically)") {
    // the Sennrich corpus: 'es'/'st' tie at 9 on step 1 — lex order
    // must pick ('e','s')
    val vocab = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L)
    val got = Bpe.learnMerges(corpusDf(vocab), steps = 8)
    assert(got == refLearn(vocab, 8))
    assert(got.head._2 == "e" && got.head._3 == "s" && got.head._4 == 9L)
  }

  test("learnMerges equals the reference on a same-symbol-run corpus " +
      "(overlapping pair counts + greedy merge of runs)") {
    // 'aaaa' x 7: step 1 counts (a,a)=21 (3 overlapping pairs x 7) and
    // merges to [aa, aa]; subsequent steps exercise merged-symbol pairs
    val vocab = Map("aaaa" -> 7L, "aaab" -> 4L, "baaa" -> 2L,
      "ab" -> 5L)
    val got = Bpe.learnMerges(corpusDf(vocab), steps = 6)
    assert(got == refLearn(vocab, 6))
    assert(got.head._2 == "a" && got.head._3 == "a" && got.head._4 == 33L)
  }

  test("seeded property: learn equals the reference on random corpora") {
    for (seed <- Seq(3, 19, 101)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcd"
      val vocab = (1 to 30 + rnd.nextInt(40)).map { _ =>
        val w = (1 to 1 + rnd.nextInt(7))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        w -> (1L + rnd.nextInt(9))
      }.toMap // duplicate words collapse — fine, it's a vocab
      val steps = 3 + rnd.nextInt(5)
      assert(Bpe.learnMerges(corpusDf(vocab), steps) ==
        refLearn(vocab, steps), s"mismatch at seed=$seed steps=$steps")
    }
  }

  test("applyMerges: greedy fold tokenization, including the aaa " +
      "overlap shape, matches the reference merge") {
    val words = Seq("aaaa", "aaa", "aab", "baa", "abab", "b", "")
      .toDF("word")
    val merges = Seq(("a", "a"), ("a", "b"))
    val got = Bpe.applyMerges(words, "word", merges, "syms")
      .select("word", "syms").as[(String, Seq[String])].collect().toMap
    assert(got("aaaa") == Seq("aa", "aa"))
    assert(got("aaa") == Seq("aa", "a"))
    assert(got("aab") == Seq("aa", "b")) // (a,b) can't fire: 'a' consumed
    assert(got("baa") == Seq("b", "aa"))
    assert(got("abab") == Seq("ab", "ab"))
    assert(got("b") == Seq("b"))
    assert(got("") == Seq.empty)
  }

  test("learnMerges fails loudly when the corpus runs out of pairs") {
    val d = Seq((1L, "a b c")).toDF("doc_id", "text") // 1-char words only
    val e = intercept[IllegalStateException] {
      Bpe.learnMerges(d, steps = 2)
    }
    assert(e.getMessage.contains("exhausted"))
  }

  test("registered query: 8 rows, steps 1..8, deterministic across runs") {
    val q = graft.SparkEntry.queries("text_bpe_merges")
    val a = q(spark, sfDir).collect().map(_.toSeq)
    val b = q(spark, sfDir).collect().map(_.toSeq)
    assert(a.length == 8)
    assert(a.map(_.head).toSeq == (1 to 8).toSeq)
    assert(a.toSeq == b.toSeq)
  }

  /** Plain-Scala greedy fold: apply a merge table in order to one word. */
  private def refApply(word: String, merges: Seq[(String, String)])
      : List[String] = {
    def mergeWord(l: List[String], a: String, b: String): List[String] =
      l match {
        case x :: y :: rest if x == a && y == b =>
          (a + b) :: mergeWord(rest, a, b)
        case x :: rest => x :: mergeWord(rest, a, b)
        case Nil => Nil
      }
    merges.foldLeft(word.map(_.toString).toList) {
      case (acc, (a, b)) => mergeWord(acc, a, b)
    }
  }

  test("text_bpe_tokenize: per-doc counts and fingerprint equal a " +
      "plain-Scala learn+apply reconstruction on the real corpus") {
    val got = graft.SparkEntry.queries("text_bpe_tokenize")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(got.size == docs.length)
    val merges = Bpe.learnMerges(
      graft.Tables.load(spark, sfDir, "documents").select(col("text")),
      steps = 8).map(m => (m._2, m._3))
    // spot-check 25 docs: cheap, and any learn/apply/order divergence
    // already breaks the md5 over the full in-order symbol stream
    for ((id, text) <- docs.sortBy(_._1).take(25)) {
      val words = text.split("\\s+").toSeq
      val streams = words.map(refApply(_, merges))
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(streams.map(_.mkString(" ")).mkString(" ")
          .getBytes("UTF-8")).map("%02x".format(_)).mkString
      val (nWords, nSyms, gotFp) = got(id)
      assert(nWords == words.size, s"doc $id n_words")
      assert(nSyms == streams.map(_.size.toLong).sum, s"doc $id n_syms")
      assert(gotFp == fp, s"doc $id fingerprint")
    }
  }

  test("text_bpe_tokenize memoizes the merge table per dir " +
      "(build-once/tokenize-many) and stays deterministic") {
    val q = graft.SparkEntry.queries("text_bpe_tokenize")
    val a = q(spark, sfDir).collect().toSeq
    val b = q(spark, sfDir).collect().toSeq
    assert(a == b)
    // memoized learn must equal a fresh learn
    val fresh = Bpe.learnMerges(
      graft.Tables.load(spark, sfDir, "documents").select(col("text")),
      steps = 8)
    assert(Bpe.mergesMemo(sfDir, "documents", "steps8")(
      fail("the tokenize query must have memoized the table")) == fresh)
  }

  test("text_bpe_tokenize relearns when the documents table is " +
      "rewritten in place under the same dir") {
    val q = graft.SparkEntry.queries("text_bpe_tokenize")
    val src = graft.Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") < 120)
    def learn(d: org.apache.spark.sql.DataFrame) =
      Bpe.learnMerges(d.select(col("text")), steps = 8)
    // the second generation reverses every text, so its merge table
    // differs from the first one's
    val gen1 = src
    val gen2 = src.withColumn("text", reverse(col("text")))
    assert(learn(gen1) != learn(gen2))
    withTempDir("bpe_regen") { dir =>
      withTempDir("bpe_fresh") { freshDir =>
        def write(d: org.apache.spark.sql.DataFrame, to: String): Unit =
          d.write.mode("overwrite").parquet(s"$to/documents.parquet")
        write(gen1, dir)
        q(spark, dir).collect()
        write(gen2, dir)
        write(gen2, freshDir)
        val got = q(spark, dir).collect().toSeq
        val want = q(spark, freshDir).collect().toSeq
        assert(got.size == want.size)
        val stale = got.zip(want).count(p => p._1 != p._2)
        assert(stale == 0, s"of ${want.size} rows: the rewritten table " +
          "must be tokenized with its own merges")
      }
    }
  }

  test("applyFold keeps empty words as empty symbol arrays (split " +
      "artifacts stay aligned between Spark and the SQL mirror)") {
    val words = Seq("", "ab", "").toDF("word")
    val got = Bpe.applyMerges(words, "word", Seq(("a", "b")), "syms")
      .select("syms").as[Seq[String]].collect()
    assert(got.count(_.isEmpty) == 2 && got.exists(_ == Seq("ab")))
  }
}
