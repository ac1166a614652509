package graft

/** Scale discipline enforced on every registered query's physical plan
  * (as planned, before execution): no nested-loop or cartesian joins
  * sneak in, except in the operators that are intentionally quadratic
  * ground-truth baselines over bounded subsets.
  */
class PlanHygieneSpec extends SparkSpec {

  test("no accidental nested-loop or cartesian joins in the inventory") {
    val offenders = InventoryRuns(spark, sfDir).toSeq.sortBy(_._1).flatMap {
      case (name, _) if PlanHygieneSpec.allowed(name) => None
      case (name, Left(e)) => Some(name -> Seq(s"failed: $e"))
      case (name, Right(r)) =>
        if (r.nlJoinsBefore.nonEmpty) Some(name -> r.nlJoinsBefore) else None
    }
    assert(offenders.isEmpty,
      s"quadratic join shapes outside the allowlist: $offenders")
  }
}

/** The one NL-join allow-list of the inventory (AqeParitySpec reads it
  * too). */
object PlanHygieneSpec {

  /** Intentionally quadratic (exact baselines over bounded subsets). */
  private val allowedQuadratic = Set(
    "dedup_ngram_jaccard",    // exact Jaccard ground truth, doc_id < 300
    "dedup_components",       // clusters the same bounded exact-pair graph
    "pipeline_drop_near_dups", // corpus filter over the same bounded graph
    "dedup_embedding_cosine", // exact cosine ground truth, vec_id % 20
    "ann_cosine_topk",        // brute-force exactness baseline
    "ann_hamming_topk",       // binary-ANN exactness baseline
                              // (queries broadcast, one corpus scan)
    "text_levenshtein")       // exact edit-distance baseline, doc_id < 30

  /** NOT quadratic: a crossJoin whose broadcast side is a constant-size
    * frame (a grand-total row, a k-centroid table) plans as
    * BroadcastNestedLoopJoin but is O(k·n) with tiny fixed k — the
    * standard Spark shape for attaching global scalars / small fixed
    * dimensions. Listed separately so a genuinely unbounded NL join can
    * never hide behind the "baseline" excuse. */
  private val allowedBoundedBroadcast = Set(
    "emb_centroid_assign",    // 8 fixed centroid rows broadcast (E-step)
    "pipeline_mix_weights",   // one grand-total row broadcast
    "pipeline_apply_mix",     // the same grand-total row, feeding weights
    "pipeline_strip_stopwords", // one grand-total row (docfreq threshold)
    "text_bigram_logprob",    // one grand-total row (hot-key cutoff)
    "text_common_bigrams",    // one grand-total row (hot-key cutoff)
    "pipeline_decontaminate", // one grand-total row (hot-key cutoff)
    "pipeline_pack_sequences", // one min/max bounds row (range shards)
    "pipeline_chunk_manifest", // the same bounds row via packSequences
    "pipeline_pack_boundaries", // the same bounds row via packSequences
    "text_doc_keywords",       // two 1-row totals (hot cutoff + n_docs)
    "text_rare_ngram_index",   // one 1-row total (hot cutoff)
    "pipeline_curriculum_pack", // one min/max score-bounds row
    "pipeline_paragraph_dedup", // one grand-total row (hot-key cutoff)
    "pipeline_exact_substr",    // one grand-total row (hot-key cutoff)
    "dedup_jaccard_prefix",     // one grand-total row (hot-key cutoff)
    "dedup_jaccard_prefix3",    // same, trigram flavor
    "text_unigram_tokenize",    // one grand-total row (hot-key cutoff)
    "text_lm_doclogprob",       // same (shared segmentedTokens)
    "pipeline_exact_substr_removal", // one grand-total row (hot cutoff)
    "pipeline_incremental_substr",   // one grand-total row (hot cutoff)
    "dedup_containment",             // one grand-total row (hot cutoff)
    "text_dup_spans",           // one grand-total row (hot-key cutoff)
    "pipeline_mix_temperature", // one micro-unit-total row broadcast
    "text_vocab_coverage",      // one occurrence-total row broadcast
    "pipeline_decontaminate_bloom", // one grand-total row broadcast
                                // (hot-key cutoff, as the unpruned
                                // variant)
    "q_heavy_hitters",          // one grand-total row broadcast
                                // (the tolerance gate's N)
    "pipeline_full_prepare",    // the pack stage's min/max bounds
                                // row via packSequences
    "text_nb_langid",           // fixed ≤|langs|-row score frame
                                // broadcast (the eval-token fan-out)
                                // + the 1-row vocab-size frame
    "text_kn_logprob",          // two 1-row totals (the ntypes/V1
                                // scalar frame + the hot-key cutoff)
    "text_kn3_logprob",         // the same two 1-row totals, through
                                // the shared bigram-model builders
    "pipeline_ppl_buckets",     // the same two, via knLogprob
    "text_kn5_logprob",         // the same two 1-row totals (the
                                // scalar ntypes/V1 frame at the pair
                                // entry + the hot-key cutoff)
    "pipeline_ppl_buckets_kn5", // the same two, via kn5Logprob
    "text_quality_pr",          // one 1-row positive-total row (the
                                // curve's recall denominator)
    "mm_pair_dedup",            // one grand-total row (the caption
                                // plane's hot-key cutoff, as
                                // dedup_jaccard_prefix3)
    "pipeline_crawl_prepare",   // the pack stage's min/max bounds
                                // row, as pipeline_full_prepare
    "pipeline_warc_prepare",    // same, via the gz-WARC front
    "pipeline_url_prepare",     // same, via the URL-dedup front
    "pipeline_full_prepare_ppl", // the pack bounds row + the kn5
                                // chain's two 1-row totals (the
                                // ntypes/V1 scalar frame at the pair
                                // entry + the hot-key cutoff)
    "pipeline_full_prepare_trained", // the pack bounds row + two
                                // 1-row frames of the trained gate
                                // (PR-curve positive total, chosen
                                // threshold)
    "text_kn5_logprob_ref",     // the same two 1-row totals as
                                // text_kn5_logprob, under the
                                // ref-trained (trusted-slice) model
    "pipeline_crawl_prepare_langid", // the NB router's 1-row vocab
                                // frame + <=|langs| fan-out + the pack
                                // bounds row (text_nb_langid's shapes
                                // composed with the prepare's)
    "pipeline_full_prepare_ppl_ref", // the pack bounds row + the kn5
                                // chain's 1-row totals, as
                                // pipeline_full_prepare_ppl
    "pipeline_full_prepare_ppl_refd") // the same 1-row totals + the
                                // decon stage's grand-total row (the
                                // rare-gram hot-key cutoff, the
                                // pipeline_decontaminate shape)

  val allowed: Set[String] = allowedQuadratic ++ allowedBoundedBroadcast
}
