package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer training —
  * the subword-vocabulary learner every modern tokenizer pipeline
  * offers next to BPE ([[Bpe]] is the merge-based half of the pair):
  * seed a candidate-piece vocabulary from corpus substrings, then
  * iterate Viterbi-EM — E-step segments every word into its maximum-
  * likelihood piece sequence under current piece probabilities, M-step
  * re-estimates probabilities from the segmentation counts and PRUNES
  * pieces the Viterbi paths never used (single characters are floored,
  * never pruned, so segmentation stays total — SentencePiece's
  * character-coverage rule).
  *
  * INTEGER-EXACT likelihood accounting (what makes the whole EM
  * trajectory hash-matchable across engines): piece log-probabilities
  * are fixed-point base-2 logs with 10 fractional bits —
  * score(c, T) = ilog2_q10(c) − ilog2_q10(T) (the quotient never
  * materializes, so no overflow and no rounding of a ratio) — where
  * [[ilog2Q10]] is 10 steps of exact shift/square arithmetic, the
  * classic square-and-compare fixed-point log2. Every comparison the
  * algorithm makes (Viterbi max, tie-breaks, argmax of seed counts)
  * is over BIGINTs: no float ever touches a decision or an output.
  * Viterbi ties break deterministically by (score desc, piece-count
  * asc, path-string asc); both engines implement the same recurrence,
  * so they agree even where the tie-break is not globally canonical.
  *
  * Scale shape: the corpus is touched ONCE (the word-frequency
  * aggregate); everything after runs on the distinct-word plane (the
  * [[Bpe.learnMerges]] discipline). The per-word Viterbi is a narrow
  * higher-order fold over the word's characters with the bounded piece
  * table broadcast as a literal map — embarrassingly parallel, no
  * shuffle; per EM iteration the driver syncs one vocab-bounded piece
  * table (≤ TopK + alphabet rows, the trainCentroids discipline). The
  * DuckDB mirror unrolls the identical algebra: substring seeding,
  * the 10-step fixed-point log chain, and the DP as position-unrolled
  * CTEs with the same candidate joins and tie-break rank.
  */
object UnigramLm {

  /** Longest candidate piece (substring seed length bound). */
  val MaxPieceLen = 4

  /** Multi-character seed pieces kept (by count desc, piece asc);
    * single characters are always kept on top of these. */
  val TopK = 16

  /** Viterbi-EM iterations (fixed — the oracle unrolls them). */
  val EmIters = 2

  /** Oracle DP unroll bound = corpus max word length; [[train]] fails
    * loudly if the data exceeds it (a silently truncated DP would
    * diverge from the mirror). */
  val MaxWordLen = 8

  /** floor(1024 · log2(m)) by exact integer arithmetic: exponent from
    * the bit length, then 10 square-and-compare steps on a 20-bit
    * fixed-point mantissa. Deterministic and engine-independent — the
    * SQL mirror runs the same shifts. Valid for 1 ≤ m < 2^43 (the
    * mantissa squaring stays in BIGINT). */
  def ilog2Q10(m: Long): Long = {
    require(m >= 1 && m < (1L << 43), s"ilog2Q10 domain: $m")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(m)
    var z = (m << 20) >> e
    var acc = e * 1024L
    var k = 0
    while (k < 10) {
      z = (z * z) >> 20
      if (z >= (1L << 21)) { acc += 1L << (9 - k); z >>= 1 }
      k += 1
    }
    acc
  }

  /** q10 log2-probability of a piece: count c in a model totalling t. */
  def scoreQ10(c: Long, t: Long): Long = ilog2Q10(c) - ilog2Q10(t)

  /** Per-word Viterbi under a bounded literal score map: DP over
    * positions as one narrow `aggregate` fold (acc = best[0..j-1] as
    * an array of (s, np, path) structs), candidates = the ≤
    * [[MaxPieceLen]] pieces ending at j that exist in the vocabulary,
    * winner by (s desc, np asc, path asc) via an array_sort
    * comparator. Single characters are always in the vocabulary, so
    * the candidate list is never empty. Returns (word, freq, s, np,
    * path). */
  private def viterbi(wf: DataFrame, scores: Map[String, Long]): DataFrame = {
    val scMap = typedLit(scores)
    def bestAt(word: Column, acc: Column, j: Column): Column = {
      val cands = filter(
        transform(sequence(greatest(lit(1), j - (MaxPieceLen - 1)), j),
          start => {
            val prev = element_at(acc, start)
            val piece = word.substr(start, j - start + 1)
            val sc = element_at(scMap, piece)
            struct(
              (prev.getField("s") + sc).as("s"),
              (prev.getField("np") + 1).as("np"),
              when(prev.getField("path") === "", piece)
                .otherwise(concat(prev.getField("path"), lit(" "), piece))
                .as("path"))
          }),
        c => c.getField("s").isNotNull)
      element_at(array_sort(cands, (l, r) =>
        when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .when(l.getField("np") < r.getField("np"), -1)
          .when(l.getField("np") > r.getField("np"), 1)
          .when(l.getField("path") < r.getField("path"), -1)
          .when(l.getField("path") > r.getField("path"), 1)
          .otherwise(0)), 1)
    }
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0L).as("s"), lit(0).as("np"), lit("").as("path"))),
      (acc, j) => concat(acc, array(bestAt(col("word"), acc, j))))
    wf.select(col("word"), col("freq"),
        element_at(dp, length(col("word")) + 1).as("b"))
      .select(col("word"), col("freq"), col("b.s").as("s"),
        col("b.np").as("np"), col("b.path").as("path"))
  }

  /** The full train loop. Returns (final pieces (piece, count,
    * score_q10), per-iteration corpus log-likelihood in q10 units). */
  def train(d: DataFrame): (Seq[(String, Long, Long)], Seq[Long]) = {
    val wf = d
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .cache()
    val maxLen = wf.agg(max(length(col("word")))).first.getInt(0)
    require(maxLen <= MaxWordLen,
      s"corpus word length $maxLen exceeds the oracle's $MaxWordLen-" +
        "position DP unroll — raise MaxWordLen (regenerates the mirror)")
    // seed: every substring of length 1..MaxPieceLen, occurrence-
    // weighted by word frequency (overlaps counted); all single chars
    // + the TopK multi-char pieces. The top-K is a vocab-plane sort —
    // bounded input by construction (≤ Σ|w|·L distinct substrings of
    // the DISTINCT-word set), never corpus-scale.
    val seed: Seq[(String, Long)] = {
      val cnt = wf.select(col("freq"), explode(expr(
          s"""flatten(transform(sequence(1, $MaxPieceLen), l ->
             |  CASE WHEN length(word) >= l
             |    THEN transform(sequence(1, length(word) - l + 1),
             |           i -> substring(word, i, l))
             |    ELSE cast(array() as array<string>) END))"""
            .stripMargin)).as("piece"))
        .groupBy("piece").agg(sum("freq").cast("long").as("n")).cache()
      val chars = cnt.where(length(col("piece")) === 1)
      val multi = cnt.where(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece")).limit(TopK)
      val res = chars.unionAll(multi).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      cnt.unpersist(blocking = false)
      res
    }
    var pieces = seed
    val lls = Seq.newBuilder[Long]
    for (_ <- 1 to EmIters) {
      val t = pieces.map(_._2).sum
      val scMap = pieces.map { case (p, c) => p -> scoreQ10(c, t) }.toMap
      val best = viterbi(wf, scMap).cache()
      lls += best.agg(sum(col("freq") * col("s")).cast("long"))
        .first.getLong(0)
      // E-counts: one vocab-plane aggregate, vocab-bounded driver sync
      val cm = best
        .select(col("freq"), explode(split(col("path"), " ")).as("piece"))
        .groupBy("piece").agg(sum("freq").cast("long").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      best.unpersist(blocking = false)
      pieces = pieces.flatMap { case (p, _) =>
        val c = cm.getOrElse(p, 0L)
        if (p.length == 1) Some(p -> math.max(c, 1L)) // char floor
        else if (c > 0) Some(p -> c)                  // survived
        else None                                     // pruned
      }
    }
    wf.unpersist(blocking = false)
    val tF = pieces.map(_._2).sum
    (pieces.map { case (p, c) => (p, c, scoreQ10(c, tF)) }, lls.result())
  }

  // ---------------------------------------------------------------
  // DuckDB mirror generators — one source of truth per algebra block,
  // the Bpe.sqlLearnCtes discipline.
  // ---------------------------------------------------------------

  /** The 10-step fixed-point log chain over a CTE carrying column `m`
    * (≥ 1): emits `${out}_0..10` then `$out` with column `ilog`. */
  private def sqlIlogCtes(in: String, out: String,
      keepCols: Seq[String]): String = {
    val keep = keepCols.map(_ + ", ").mkString
    // Mirrors ilog2Q10's require: m << 20 overflows BIGINT at
    // m >= 2^43, so the chain refuses loudly instead of computing
    // garbage (same guard as NbLangid.withIlog / its sqlIlog).
    val z0 =
      s"""${out}_0 AS (SELECT ${keep}
         |  CASE WHEN m >= 1 AND m < ${1L << 43}
         |    THEN CAST(length(bin(m)) - 1 AS BIGINT) * 1024
         |    ELSE CAST(error(concat('ilog2_q10 domain: m must be in ' ||
         |      '[1, 2^43), got ', CAST(m AS VARCHAR))) AS BIGINT)
         |  END AS acc,
         |  (m << 20) >> (length(bin(m)) - 1) AS z FROM $in)""".stripMargin
    val steps = (0 until 10).map { k =>
      val bit = 1L << (9 - k)
      s"""${out}_${k + 1} AS (SELECT ${keep}
         |  acc + CASE WHEN (z * z) >> 20 >= 2097152 THEN $bit ELSE 0 END
         |    AS acc,
         |  CASE WHEN (z * z) >> 20 >= 2097152 THEN ((z * z) >> 20) >> 1
         |       ELSE (z * z) >> 20 END AS z FROM ${out}_$k)""".stripMargin
    }
    val fin = s"$out AS (SELECT ${keep}CAST(acc AS BIGINT) AS ilog " +
      s"FROM ${out}_10)"
    (z0 +: steps :+ fin).mkString(",\n")
  }

  /** Scores for the pieces of CTE `p` (columns piece, n): total ilog +
    * per-piece ilog + `sc$it` (piece, n, score). */
  private def sqlScoreCtes(p: String, it: Int): String =
    s"""t$it AS (SELECT CAST(SUM(n) AS BIGINT) AS m FROM $p),
       |${sqlIlogCtes(s"t$it", s"tl$it", Nil)},
       |pm$it AS (SELECT piece, n, n AS m FROM $p),
       |${sqlIlogCtes(s"pm$it", s"pl$it", Seq("piece", "n"))},
       |sc$it AS MATERIALIZED (SELECT pl.piece, pl.n,
       |    CAST(pl.ilog - tl.ilog AS BIGINT) AS score
       |  FROM pl$it pl CROSS JOIN tl$it tl)""".stripMargin

  /** One EM iteration: position-unrolled Viterbi DP (same candidate
    * joins and (s desc, np asc, path asc) tie-break as the Spark
    * fold), best-per-word, log-likelihood, E-counts, and the pruned/
    * floored next piece table `p$it`. */
  private def sqlEmCtes(it: Int): String = {
    val d0 = s"d${it}_0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS s, " +
      "0 AS np, '' AS path FROM v)"
    val steps = (1 to MaxWordLen).map { j =>
      val cands = (math.max(0, j - MaxPieceLen) until j).map { i =>
        s"""SELECT d.word, d.freq, d.s + sc.score AS s, d.np + 1 AS np,
           |    CASE WHEN d.path = '' THEN sc.piece
           |         ELSE d.path || ' ' || sc.piece END AS path
           |  FROM d${it}_$i d JOIN sc$it sc
           |    ON sc.piece = substr(d.word, ${i + 1}, ${j - i})
           |  WHERE length(d.word) >= $j""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""d${it}_$j AS MATERIALIZED (SELECT word, freq, s, np, path FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY word
         |      ORDER BY s DESC, np ASC, path ASC) AS rk FROM (
         |  $cands)) WHERE rk = 1)""".stripMargin
    }
    val bests = (1 to MaxWordLen)
      .map(j => s"  SELECT word, freq, s, np, path FROM d${it}_$j " +
        s"WHERE length(word) = $j")
      .mkString("\n  UNION ALL\n")
    s"""$d0,
       |${steps.mkString(",\n")},
       |best$it AS MATERIALIZED (
       |$bests),
       |ll$it AS (SELECT CAST(SUM(freq * s) AS BIGINT) AS ll FROM best$it),
       |cnt$it AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n FROM (
       |    SELECT freq, unnest(string_split(path, ' ')) AS piece
       |    FROM best$it) GROUP BY piece),
       |p$it AS MATERIALIZED (SELECT p.piece,
       |    CASE WHEN length(p.piece) = 1 THEN GREATEST(COALESCE(c.n, 0), 1)
       |         ELSE c.n END AS n
       |  FROM p${it - 1} p LEFT JOIN cnt$it c USING (piece)
       |  WHERE length(p.piece) = 1 OR c.n IS NOT NULL)""".stripMargin
  }

  /** The full learn chain (seed → EM iterations → FINAL scores
    * `sc${EmIters + 1}`) — shared by both oracles so the train and
    * tokenize mirrors cannot diverge (the Bpe.sqlLearnCtes
    * discipline). */
  private def sqlLearnChain: String = {
    val em = (1 to EmIters).map(it =>
      s"${sqlScoreCtes(s"p${it - 1}", it)},\n${sqlEmCtes(it)}")
      .mkString(",\n")
    s"""v AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS word
       |    FROM documents) WHERE word <> '' GROUP BY word),
       |sub AS (SELECT word, freq,
       |    unnest(flatten(list_transform(range(1, ${MaxPieceLen + 1}),
       |      l -> list_transform(
       |             range(1, greatest(length(word) - l + 2, 1)),
       |             i -> substr(word, CAST(i AS INT), CAST(l AS INT))))))
       |      AS piece
       |  FROM v),
       |c0 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n FROM sub
       |  GROUP BY piece),
       |p0 AS MATERIALIZED (SELECT piece, n FROM c0 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, n FROM (SELECT piece, n, ROW_NUMBER() OVER
       |      (ORDER BY n DESC, piece) AS rk
       |    FROM c0 WHERE length(piece) > 1) WHERE rk <= $TopK),
       |$em,
       |${sqlScoreCtes(s"p$EmIters", EmIters + 1)}""".stripMargin
  }

  private def sqlOracle: String =
    s"""WITH $sqlLearnChain
       |SELECT sc.piece, sc.n, sc.score AS score_q10,
       |  (SELECT ll FROM ll1) AS ll_q10_i1,
       |  (SELECT ll FROM ll2) AS ll_q10_i2
       |FROM sc${EmIters + 1} sc ORDER BY piece""".stripMargin

  /** Tokenize mirror: the learn chain, one more Viterbi DP under the
    * FINAL scores (the model you'd ship), and the per-document
    * reassembly — md5 over the in-order piece stream pins the whole
    * learn→apply contract per document (the sqlBpeTokenize shape). */
  private def sqlTokenizeOracle: String = {
    val f = EmIters + 1
    s"""WITH $sqlLearnChain,
       |${sqlEmCtes(f)},
       |t AS (SELECT doc_id,
       |        unnest(string_split_regex(text, '\\s+')) AS word,
       |        unnest(range(1, len(string_split_regex(text, '\\s+')) + 1))
       |          AS tpos
       |      FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(b.np) AS BIGINT) AS n_pieces,
       |  md5(string_agg(b.path, ' ' ORDER BY tpos)) AS piece_fp
       |FROM t JOIN best$f b USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Doc-logprob mirror: the tokenize chain's per-word best scores
    * summed per document (negated to a positive NLL; the per-piece
    * floor division runs on the positive value so both engines
    * agree). */
  private def sqlDocLogprobOracle: String = {
    val f = EmIters + 1
    s"""WITH $sqlLearnChain,
       |${sqlEmCtes(f)},
       |t AS (SELECT doc_id,
       |        unnest(string_split_regex(text, '\\s+')) AS word
       |      FROM documents),
       |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |        CAST(SUM(b.np) AS BIGINT) AS n_pieces,
       |        CAST(-SUM(b.s) AS BIGINT) AS nll_q10
       |      FROM t JOIN best$f b USING (word)
       |      GROUP BY doc_id)
       |SELECT doc_id, n_words, n_pieces, nll_q10,
       |  CAST(nll_q10 // n_pieces AS BIGINT) AS nll_per_piece_q10
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Trained model per documents table for the APPLY queries — the
    * build-once/tokenize-many split; `text_unigram_lm` itself never
    * reads this. */
  private val trainMemo =
    new Memo[(Seq[(String, Long, Long)], Seq[Long])]

  val queries: Seq[Q] = Seq(

    // ---- Unigram-LM training end to end (seed → 2 Viterbi-EM
    //      iterations with pruning → final vocab with exact-integer
    //      scores + per-iteration likelihood) — the whole trajectory
    //      hash-matched against the generated mirror. Like
    //      text_bpe_merges, deliberately NOT memoized: the measured
    //      cost IS the learn loop (one corpus aggregate + vocab-plane
    //      EM with bounded driver syncs). ----
    Q("text_unigram_lm", Some(sqlOracle)) { (s, dir) =>
      val (ps, lls) = train(
        Tables.load(s, dir, "documents").select(col("text")))
      import s.implicits._
      ps.toDF("piece", "n", "score_q10")
        .withColumn("ll_q10_i1", lit(lls.head))
        .withColumn("ll_q10_i2", lit(lls(1)))
        .orderBy("piece")
    },

    // ---- the TOKENIZE half, corpus-wide (pairing text_bpe_tokenize):
    //      every document's word stream segmented by ONE word-plane
    //      Viterbi under the trained model's final scores, attached to
    //      doc tokens via hotSaltedJoin (Zipf words against 1-row
    //      segmentations — the aggregate-fed join shape), reassembled
    //      per doc with an md5 over the in-order piece stream. The
    //      model is memoized per table (build-once/tokenize-many), so
    //      the measured cost is segmentation + attach, not training.
    //      Scale: the DP never runs per corpus token — only per
    //      DISTINCT word; the corpus-scale stages are one explode and
    //      one salted equijoin. ----
    Q("text_unigram_tokenize", Some(sqlTokenizeOracle)) { (s, dir) =>
      segmentedTokens(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("tpos"), col("path")))),
            p => p.getField("path")), " ")).as("piece_fp"))
        .orderBy("doc_id")
    },

    // ---- per-document LM negative log-likelihood (the CCNet
    //      discipline: corpora are FILTERED by LM perplexity, and this
    //      is the integer-exact score plane that filter reads): each
    //      doc's words segmented by the trained Unigram-LM's Viterbi,
    //      nll = -(sum of best-path scores) in q10 log2 units
    //      (positive — lower is more in-distribution), plus nll per
    //      piece (the length-normalized proxy; the floor division runs
    //      on the POSITIVE value so Spark `div` truncation and DuckDB
    //      `//` flooring agree). Same memoized model + one salted
    //      attach as the tokenize half — the DP never touches corpus
    //      rows. ----
    Q("text_lm_doclogprob", Some(sqlDocLogprobOracle)) { (s, dir) =>
      segmentedTokens(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("np").cast("long").as("n_pieces"),
          (-sum("s")).cast("long").as("nll_q10"))
        .withColumn("nll_per_piece_q10",
          expr("nll_q10 div n_pieces").cast("long"))
        .orderBy("doc_id")
    })

  /** Per-token-occurrence segmentation frame (doc_id, tpos, word, np,
    * path, s): the trained model's word-plane Viterbi attached to doc
    * tokens via ONE hotSaltedJoin — shared by the tokenize and
    * doc-logprob queries (build-once/segment-many memo per dir). */
  private def segmentedTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (ps, _) = trainMemo(dir, "documents", "unigram")(
      train(Tables.load(s, dir, "documents").select(col("text"))))
    val scF = ps.map(p => p._1 -> p._3).toMap
    val docs = Tables.load(s, dir, "documents")
    val wf = docs
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .cache()
    val seg = viterbi(wf, scF)
      .select(col("word"), col("np"), col("path"), col("s"))
    val hot = Skew.hotKeysByCount(wf, "word", "freq")
    val toks = Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("tpos", "word")))
      .where(col("word") =!= "")
    Skew.hotSaltedJoin(toks, seg, "word", hot, col("doc_id"))
  }
}
