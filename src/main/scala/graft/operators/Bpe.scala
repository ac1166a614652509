package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real byte-pair-encoding merge learning over the corpus vocabulary —
  * the iterative pair-merge a tokenizer-training pass actually runs
  * (the word-frequency formulation of Sennrich et al. 2016), upgrading
  * round-6's character-class heuristic (`text_tokens_bpeish`, which
  * stays as the cheap pre-filter signal).
  *
  * Algorithm: aggregate the corpus ONCE into (word, freq) — the only
  * corpus-scale stage — split words into character symbols, then per
  * merge step: (1) count adjacent symbol pairs weighted by word
  * frequency (overlapping occurrences counted, as the reference
  * implementation's `get_stats` does), (2) pick the most frequent pair
  * (count desc, then lexicographic — deterministic in both engines on
  * the ASCII corpus), (3) merge that pair greedily left-to-right inside
  * every word.
  *
  * Scale shape: the merge itself is a per-word array fold
  * ([[mergePair]], an `aggregate` HOF) — a narrow projection, NO
  * shuffle; only the pair-count aggregate exchanges data each step, and
  * it runs on the VOCAB plane (distinct words), not the corpus. The
  * driver sees one (a, b, n) row per step — the same bounded sync as
  * `Similarity.trainCentroids`. Superseded vocab states are cached and
  * released as soon as the next state materializes, so peak footprint
  * is two vocab-sized frames regardless of step count.
  *
  * Fold-vs-scan equivalence (why the HOF is the classic merge): the
  * accumulator's last element equals `a` exactly when the previous
  * ORIGINAL symbol was an unconsumed `a` — a merge emits `a||b`, which
  * can never equal `a` (`b` is nonempty) — so `last == a && next == b`
  * fires at precisely the classic left-to-right scan's merge points,
  * including the overlap case (`aaa` + merge (a,a) → `[aa, a]`). The
  * generated DuckDB mirror ([[sqlBpeMerges]]) states the same semantics
  * window-style — flag adjacent (a,b) positions, merge the odd-indexed
  * flags of each consecutive run, drop the successor of every merged
  * position — and the registered query hash-matches it cell-exactly,
  * pinning the whole learn loop (counts, tie-break, and greedy merge)
  * across `steps` iterations. BpeSpec additionally pins the fold
  * against a plain-Scala reference implementation and the overlap
  * edge cases.
  */
object Bpe {

  /** Greedy left-to-right merge of adjacent (`a`,`b`) symbol pairs into
    * `a||b` over a symbol array — one fold, evaluated per row inside
    * codegen, no UDF. (CaseWhen short-circuits, so the 1-based
    * `element_at` never sees an empty accumulator under ANSI mode.) */
  private[operators] def mergePair(syms: Column, a: String, b: String)
      : Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) => {
        val last = when(size(acc) > 0, element_at(acc, size(acc)))
        when(last === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x)))
      })

  /** A word as its character symbols (split-on-empty artifacts
    * filtered — Spark's split can emit "" entries). */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), x => x =!= lit(""))

  /** Learn `steps` BPE merges from a (…, text) frame. Returns the merge
    * table: (step 1-based, lhs, rhs, pair count at selection time).
    * Fails loudly if the corpus runs out of mergeable pairs before
    * `steps` — a silent short table would desynchronize any tokenizer
    * built from it. */
  def learnMerges(d: DataFrame, steps: Int): Seq[(Int, String, String, Long)] = {
    require(steps >= 1, "steps must be >= 1")
    val vocab = d
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
    var cur = vocab
      .select(col("word"), col("freq"), charSyms(col("word")).as("syms"))
      .cache()
    var prev: DataFrame = null
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    try {
      for (k <- 1 to steps) {
        val best = cur
          .where(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(syms)-2), " +
              "i -> struct(syms[i] as a, syms[i+1] as b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1).collect()
        // this job materialized cur's cache, so cur's predecessor (whose
        // cached state cur's plan scans) is no longer needed
        if (prev != null) { prev.unpersist(blocking = false); prev = null }
        if (best.isEmpty) throw new IllegalStateException(
          s"corpus exhausted mergeable pairs after ${k - 1} of $steps " +
            "BPE steps — a short merge table would tokenize differently " +
            "than requested; lower `steps`")
        val (a, b, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((k, a, b, n))
        if (k < steps) {
          val next = cur
            .withColumn("syms", mergePair(col("syms"), a, b)).cache()
          prev = cur
          cur = next
        }
      }
      merges.result()
    } finally {
      if (prev != null) prev.unpersist(blocking = false)
      cur.unpersist(blocking = false)
    }
  }

  /** The tokenize fold as a column function: a word column → its BPE
    * symbol array after applying `merges` in order. Usable inside
    * higher-order lambdas (the per-doc tokenize query maps it over
    * each document's token array — fully narrow, no join). */
  def applyFold(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(charSyms(word)) {
      case (acc, (a, b)) => mergePair(acc, a, b)
    }

  /** Apply a learned merge table in order to a word column — the
    * TOKENIZE step, the other half of the BPE contract. Pure narrow
    * projection (`steps` sequential folds), partition-parallel, no
    * shuffle: exactly what a 100 TB tokenization pass wants. Adds
    * `outCol` (array<string> of BPE symbols). */
  def applyMerges(df: DataFrame, wordCol: String,
      merges: Seq[(String, String)], outCol: String): DataFrame =
    df.withColumn(outCol, applyFold(col(wordCol), merges))

  /** The 8-step merge table per documents table for the tokenize and
    * fertility queries — the build-once / tokenize-many split: repeated
    * tokenize runs measure tokenization, not index build.
    * `text_bpe_merges` deliberately does NOT use the memo — its measured
    * cost IS the learn loop. The learn runs on its OWN read (see
    * ann_ivf_int on shared-fragment execution). */
  private[operators] val mergesMemo =
    new Memo[Seq[(Int, String, String, Long)]]

  private def memoMerges(s: SparkSession, dir: String)
      : Seq[(String, String)] =
    mergesMemo(dir, "documents", "steps8")(learnMerges(
      Tables.load(s, dir, "documents").select(col("text")), steps = 8))
      .map(m => (m._2, m._3))

  /** Generated DuckDB mirror of [[learnMerges]]: the SAME vocab
    * aggregate, then `steps` chained CTE blocks each replicating one
    * learn iteration — LEAD-window pair counts, (n desc, a, b) argmax,
    * and the greedy merge stated window-style (see the object scaladoc
    * for the fold/window equivalence argument). Positions re-densify
    * each step so the run-of-flags parity logic never sees gaps. */
  /** The learn loop's CTE chain (vocab, char symbols, `steps` iteration
    * blocks ending at `s<steps>`) — shared by [[sqlBpeMerges]] and
    * [[sqlBpeTokenize]] so the mirrors cannot diverge. */
  private def sqlLearnCtes(steps: Int): String = {
    val stepCtes = (0 until steps).map { k =>
      s"""p$k AS (SELECT word, freq, pos, sym,
         |        LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |      FROM s$k),
         |c$k AS (SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS n
         |      FROM p$k WHERE nxt IS NOT NULL GROUP BY a, b),
         |b$k AS (SELECT a, b, n FROM c$k ORDER BY n DESC, a, b LIMIT 1),
         |f$k AS (SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
         |        (p.nxt IS NOT NULL AND p.sym = b.a AND p.nxt = b.b) AS f
         |      FROM p$k p CROSS JOIN b$k b),
         |g$k AS (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, f
         |          ORDER BY pos) AS grp
         |      FROM f$k),
         |m$k AS (SELECT *, f AND (ROW_NUMBER() OVER (
         |          PARTITION BY word, f, grp ORDER BY pos) % 2 = 1) AS m
         |      FROM g$k),
         |n$k AS (SELECT word, freq, pos, sym, nxt, m,
         |        COALESCE(LAG(m) OVER (PARTITION BY word ORDER BY pos),
         |          FALSE) AS pm
         |      FROM m$k),
         |s${k + 1} AS (SELECT word, freq,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
         |          AS INTEGER) AS pos,
         |        CASE WHEN m THEN sym || nxt ELSE sym END AS sym
         |      FROM n$k WHERE NOT pm)""".stripMargin
    }.mkString(",\n")
    s"""v AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |s0 AS (SELECT word, freq, CAST(i AS INTEGER) AS pos,
       |        substr(word, CAST(i AS INTEGER), 1) AS sym
       |      FROM (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i
       |            FROM v)),
       |$stepCtes""".stripMargin
  }

  private def sqlBpeMerges(steps: Int): String = {
    val out = (0 until steps).map(k =>
      s"SELECT ${k + 1} AS step, a AS lhs, b AS rhs, n FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""WITH ${sqlLearnCtes(steps)}
       |SELECT CAST(step AS INTEGER) AS step, lhs, rhs, n FROM (
       |  $out)
       |ORDER BY step""".stripMargin
  }

  /** Generated DuckDB mirror of the TOKENIZE query: replays the learn
    * CTEs, renders each distinct word's final symbol sequence
    * (`string_agg` over the terminal state), and re-derives every
    * document's BPE stream from its in-order tokens — the md5 over the
    * space-joined symbol stream pins the whole learn→apply contract
    * per document. Words with no symbols (split artifacts) contribute
    * an empty element on both sides (LEFT JOIN + COALESCE here;
    * `transform`+`array_join` keeps the empty element in Spark). */
  private def sqlBpeTokenize(steps: Int): String =
    s"""WITH ${sqlLearnCtes(steps)},
       |ws AS (SELECT word, string_agg(sym, ' ' ORDER BY pos) AS bpe,
       |        CAST(COUNT(*) AS BIGINT) AS n_syms
       |      FROM s$steps GROUP BY word),
       |t AS (SELECT doc_id,
       |        unnest(string_split_regex(text, '\\s+')) AS word,
       |        unnest(range(1, len(string_split_regex(text, '\\s+')) + 1))
       |          AS tpos
       |      FROM documents)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS INTEGER) AS n_words,
       |  CAST(SUM(COALESCE(n_syms, 0)) AS BIGINT) AS n_syms,
       |  md5(string_agg(COALESCE(bpe, ''), ' ' ORDER BY tpos)) AS bpe_fp
       |FROM t LEFT JOIN ws USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Generated DuckDB mirror of the FERTILITY query: learn CTEs, the
    * per-word terminal symbol count, and the per-language word/symbol
    * totals with the ratio in exact integer ppm. */
  private def sqlBpeFertility(steps: Int): String =
    s"""WITH ${sqlLearnCtes(steps)},
       |ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms
       |      FROM s$steps GROUP BY word),
       |t AS (SELECT lang,
       |        unnest(string_split_regex(text, '\\s+')) AS word
       |      FROM documents)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(COALESCE(n_syms, 0)) AS BIGINT) AS n_syms,
       |  CAST(SUM(COALESCE(n_syms, 0)) * 1000000 // COUNT(*) AS BIGINT)
       |    AS fertility_ppm
       |FROM t LEFT JOIN ws USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- real BPE merge learning (8 steps) — the whole iterative
    //      count→argmax→greedy-merge loop hash-matched against the
    //      generated mirror. Learning runs Spark jobs at query
    //      construction (one bounded 1-row argmax sync per step, like
    //      ann_ivf's centroid training), inside Bench's timed window —
    //      the measured cost is honest. ----
    Q("text_bpe_merges", Some(sqlBpeMerges(steps = 8))) { (s, dir) =>
      val merges = learnMerges(
        Tables.load(s, dir, "documents").select(col("text")), steps = 8)
      import s.implicits._
      merges.toDF("step", "lhs", "rhs", "n").orderBy("step")
    },

    // ---- the tokenize half, corpus-wide: every document's token
    //      stream re-segmented by the learned merge table, pinned by
    //      an md5 over the full in-order symbol stream (any wrong
    //      merge, order, or boundary changes the hash). The merge
    //      table is memoized per documents table (build-once/tokenize-many, the
    //      ann_ivf discipline), so the measured cost is tokenization:
    //      a pure narrow per-doc fold — no join, no shuffle beyond
    //      the output sort. ----
    Q("text_bpe_tokenize", Some(sqlBpeTokenize(steps = 8))) { (s, dir) =>
      val merges = memoMerges(s, dir)
      Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_words"),
          transform(col("toks"), w => applyFold(w, merges)).as("arrs"))
        .select(col("doc_id"), col("n_words"),
          size(flatten(col("arrs"))).cast("long").as("n_syms"),
          md5(array_join(transform(col("arrs"), a => array_join(a, " ")),
            " ")).as("bpe_fp"))
        .orderBy("doc_id")
    },

    // ---- tokenizer fertility by language — BPE symbols emitted per
    //      whitespace word, the metric a tokenizer team tracks when
    //      sizing vocab/merge count (multilingual fairness audits read
    //      exactly this table). Reuses the memoized merge table
    //      (build-once, the tokenize discipline) and the same narrow
    //      per-word fold; the only exchange is a ≤|langs|-group
    //      aggregate. Ratio in exact integer ppm — no float division
    //      near the hash. ----
    Q("text_bpe_fertility", Some(sqlBpeFertility(steps = 8))) { (s, dir) =>
      val merges = memoMerges(s, dir)
      Tables.load(s, dir, "documents")
        .select(col("lang"), split(col("text"), "\\s+").as("toks"))
        .select(col("lang"), size(col("toks")).cast("long").as("nw"),
          size(flatten(transform(col("toks"), w => applyFold(w, merges))))
            .cast("long").as("ns"))
        .groupBy("lang")
        .agg(sum("nw").as("n_words"), sum("ns").as("n_syms"))
        .select(col("lang"), col("n_words"), col("n_syms"),
          expr("n_syms * 1000000 DIV n_words").as("fertility_ppm"))
        .orderBy("lang")
    })
}
