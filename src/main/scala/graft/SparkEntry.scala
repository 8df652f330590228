package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (reference
  * parity) or the north-star extension set (relational, events, dedup,
  * similarity, text analysis). Entries with a matching [[oracleSql]] key are
  * hash-checked against DuckDB on the same parquet tables; aggregates are
  * rounded in BOTH engines so double-precision accumulation-order noise
  * cannot flip the hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3TopK(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── reference parity: the three benchmark apps (SURVEY.md §2.2) ──
    "word_count" -> ((s, d) => TextOps.wordCount(Tables.documents(s, d))),
    "inverted_index" -> ((s, d) => TextOps.invertedIndex(Tables.documents(s, d))),
    "inverted_index_pos" -> ((s, d) => TextOps.invertedIndexPos(Tables.documents(s, d))),
    "col_agg" -> ((s, d) => TextOps.columnAggregates(Tables.lineitem(s, d))),
    // ── relational completeness (SURVEY.md §2.3) ──
    "q1_pricing" -> ((s, d) => Relational.q1Pricing(s, d)),
    "q3_topk" -> ((s, d) => Relational.q3TopK(s, d)),
    "q5_region" -> ((s, d) => Relational.q5Region(s, d)),
    "join_semi" -> ((s, d) => Relational.joinSemi(s, d)),
    "join_anti" -> ((s, d) => Relational.joinAnti(s, d)),
    "window_topn" -> ((s, d) => Relational.windowTopNPerCustomer(s, d)),
    "window_running" -> ((s, d) => Relational.windowRunningTotal(s, d)),
    "rollup_agg" -> ((s, d) => Relational.rollupAgg(s, d)),
    "distinct_agg" -> ((s, d) => Relational.distinctAgg(s, d)),
    "set_ops" -> ((s, d) => Relational.setOps(s, d)),
    "topk_global" -> ((s, d) => Relational.topKGlobal(s, d)),
    // ── events: time bucketing, JSON, sessionization ──
    "events_hourly" -> ((s, d) => EventOps.hourlyRollup(s, d)),
    "events_json" -> ((s, d) => EventOps.jsonExtract(s, d)),
    "sessionize" -> ((s, d) => EventOps.sessionize(s, d)),
    "anomalies" -> ((s, d) => EventOps.anomalies(s, d)),
    "json_struct" -> ((s, d) => EventOps.jsonStruct(s, d)),
    "funnel" -> ((s, d) => EventOps.funnel(s, d)),
    "cohort_retention" -> ((s, d) => EventOps.cohortRetention(s, d)),
    // ── LLM-pipeline: text analysis ──
    "token_stats" -> ((s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextOps.textQuality(Tables.documents(s, d))),
    // vocabulary-side quality signals: per-doc hapax/type counts, and
    // coverage of the corpus top-K vocab (the tokenizer-eval OOV rate)
    "lex_diversity" -> ((s, d) => TextOps.lexicalDiversity(Tables.documents(s, d))),
    "vocab_coverage" -> ((s, d) => TextOps.vocabCoverage(Tables.documents(s, d))),
    // Gopher-style repetition gates + entropy quality signal + benchmark
    // decontamination — the remaining standard LLM corpus-filtering trio
    "rep_signals" -> ((s, d) => TextOps.repetitionSignals(Tables.documents(s, d))),
    "lm_perplexity" -> ((s, d) => TextOps.lmPerplexity(Tables.documents(s, d))),
    // interpolated Kneser-Ney bigram perplexity (d = 3/4 → exact integer
    // ratios) — the KenLM-shaped quality gate next to the add-one baseline
    "kn_perplexity" -> ((s, d) => TextOps.knPerplexity(Tables.documents(s, d))),
    "kn3_perplexity" -> ((s, d) => TextOps.kn3Perplexity(Tables.documents(s, d))),
    // the bigram→trigram GAP — both orders' bits and their difference on
    // the exact 1e-4-bit integer grid; the formulaic-spam signal
    "kn_gap" -> ((s, d) => TextOps.knGap(Tables.documents(s, d))),
    // domain-mixing pair: per-source KL from the corpus distribution, and
    // the deterministic hash-threshold sampler that applies mix weights
    "source_kl" -> ((s, d) => TextOps.sourceKl(Tables.documents(s, d))),
    "dup_spans" -> ((s, d) => TextOps.duplicatedSpans(Tables.documents(s, d))),
    "dup_substrings" -> ((s, d) => TextOps.dupSubstrings(Tables.documents(s, d))),
    "substring_dedup" -> ((s, d) => TextOps.substringDedup(Tables.documents(s, d))),
    "decontam_substrings" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.decontamSubstrings(
        docs.where(org.apache.spark.sql.functions.col("source") =!= "src0"),
        docs.where(org.apache.spark.sql.functions.col("source") === "src0"))
    }),
    "seg_dedup" -> ((s, d) => TextOps.segmentDedup(Tables.documents(s, d))),
    "mix_sources" -> ((s, d) =>
      TextOps.mixSources(Tables.documents(s, d),
        Map("src0" -> 0.25, "src1" -> 0.5))
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.col("n_chars"))),
    "entropy" -> ((s, d) => TextOps.unigramEntropy(Tables.documents(s, d))),
    "curriculum_bins" -> ((s, d) => TextOps.curriculumBins(Tables.documents(s, d))),
    "decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.decontaminate(
        docs.where(org.apache.spark.sql.functions.col("source") =!= "src0"),
        docs.where(org.apache.spark.sql.functions.col("source") === "src0"),
        minHits = 3)
    }),
    "doc_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    "lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    // TRAINED language-ID (Cavnar–Trenkle 1994 rank profiles): profiles
    // built from the labeled training split, integer out-of-place rank
    // distance classifies held-out docs from raw text alone
    "ct_lang_profiles" -> ((s, d) => TextOps.ctLangProfiles(Tables.documents(s, d))),
    "ct_lang_id" -> ((s, d) => TextOps.ctLangId(Tables.documents(s, d))),
    // trained-tokenizer fertility keyed on the PREDICTED language — the
    // per-language report with no metadata trusted (unlabeled-corpus path)
    "ct_lang_fertility" -> ((s, d) => TextOps.ctLangFertility(Tables.documents(s, d))),
    // trainable quality classifier (fastText shape, Joulin et al. 2016):
    // integer-count multinomial NB over hashed word unigrams, trained on
    // curated-tier provenance labels; micro-nat weights and logits
    "nb_quality_train" -> ((s, d) => TextOps.nbQualityTrain(Tables.documents(s, d))),
    "nb_quality_score" -> ((s, d) => TextOps.nbQualityScore(Tables.documents(s, d))),
    // equal-population calibration bins over the holdout logits: is the
    // classifier's keep-threshold trustworthy where it will be applied?
    "nb_calibration" -> ((s, d) => TextOps.nbCalibration(Tables.documents(s, d))),
    // classifier-driven survivor election: near-dup families keep the
    // member with the highest NB quality logit (ties → smallest id) —
    // the trained-quality policy slotted into the dedup argmax
    "nb_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.survivorsByScore(docs, Dedup.ngramJaccardPairs(docs),
        TextOps.nbQualityScore(docs)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("logit_micro").as("score")))
    }),
    // ── LLM-pipeline: dedup ──
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "minhash_pairs" -> ((s, d) => Dedup.minhashPairs(Tables.documents(s, d))),
    "simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    // hamming-banded near-dup pairs over the portable simhash — the
    // text-side analog of lsh_near_pairs (exact recall for hamming<bands)
    "simhash_pairs" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d))),
    // throughput variants: engine-native hash / no scalar digest. The raw
    // xxhash64-based outputs aren't SQL-replayable, so each CHECKED output
    // is an invariant the oracle CAN replay (the portable variants above
    // stay the full hash-checked entries).
    // simhash_fast's invariant: the fast signature is a pure function of
    // the text — every group of identical-text docs (keyed by the
    // replayable md5 of the text) carries exactly ONE distinct fast
    // signature, over exactly the docs that tokenize non-empty
    "simhash_fast" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      docs.join(Dedup.simhashFast(docs), "doc_id")
        .groupBy(md5(col("text").cast("binary")).as("text_key"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("simhash")).as("n_sigs"))
    }),
    // quantize_emb_fast's invariant: int8 codes reconstruct the original
    // vector within half a quantization step (|x − q·scale/127| ≤
    // scale/254 + rounding slack) — checked per dimension in the same
    // row-local pass, reported as within_bound = 1 per vector
    "quantize_emb_fast" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      emb.join(Similarity.quantizeEmbeddings(Tables.embeddings(s, d)), "vec_id")
        .select(col("vec_id"), col("scale"), size(col("v")).as("n_dims"),
          (aggregate(
            zip_with(col("v"), col("q"),
              (x, b) => abs(x - b.cast("double") * col("scale") / 127d)),
            lit(0d), (acc, e) => greatest(acc, e)) <=
            col("scale") / 254d + 1e-6).cast("int").as("within_bound"))
    }),
    "ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d))),
    // resolution over the EXACT pair set (SQL-reproducible, unlike the
    // LSH-recall-dependent minhash pairs) so the oracle can replay it
    "dedup_resolve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.resolveClusters(docs, Dedup.ngramJaccardPairs(docs))
        .where(org.apache.spark.sql.functions.col("keep") === false)
    }),
    "token_counts" -> ((s, d) => TextOps.tokenCounts(Tables.documents(s, d))),
    "chunk_docs" -> ((s, d) => TextOps.chunkDocuments(Tables.documents(s, d))),
    "pmi_pairs" -> ((s, d) => TextOps.pmiPairs(Tables.documents(s, d), minCount = 5L)),
    "zipf_fit" -> ((s, d) => TextOps.zipfFit(Tables.documents(s, d))),
    "source_overlap" -> ((s, d) => TextOps.sourceOverlap(Tables.documents(s, d))),
    // per-doc MinHash signatures as a first-class output: persisting these
    // is what makes cross-run incremental dedup practical (new docs join
    // against stored signatures instead of re-shingling the archive)
    "minhash_sigs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Dedup.minhashSignatures(Tables.documents(s, d))
        .select(col("doc_id"), posexplode(
          array((0 until 32).map(i => col(s"mh$i")): _*)).as(Seq("i", "mh")))
    }),
    "winnow_fp" -> ((s, d) => Dedup.winnowFingerprints(Tables.documents(s, d))),
    "winnow_pairs" -> ((s, d) => Dedup.winnowPairs(Tables.documents(s, d))),
    // HLL sketch internals aren't DuckDB-replayable, so the CHECKED output
    // is the sketch's accuracy contract: the estimate must land within 5%
    // (2.3σ at the default rsd 0.05) of the exact distinct count the same
    // pass computes — the oracle then asserts within_5pct = 1 everywhere,
    // turning the former rows-only blind spot into a bound check
    "approx_distinct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct("l_partkey").as("approx_parts"),
          countDistinct("l_partkey").as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
            col("exact_parts").cast("double") * 0.05).cast("int").as("within_5pct"))
    }),
    "salted_agg" -> ((s, d) => Skew.saltedAgg(Tables.lineitem(s, d),
      org.apache.spark.sql.functions.col("l_returnflag"),
      org.apache.spark.sql.functions.col("l_quantity"))
      .select(org.apache.spark.sql.functions.col("key"),
        org.apache.spark.sql.functions.col("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("sum_value"), 2).as("sum_value"))),
    // ── LLM-pipeline: similarity search ──
    "cosine_topk" -> ((s, d) => Similarity.cosineTopKPrefix(Tables.embeddings(s, d))),
    // contrastive-training prep: per query the nearest DIFFERENT-label
    // vectors (the decision-boundary negatives a triplet loss mines for)
    "hard_negatives" -> ((s, d) => Similarity.hardNegatives(Tables.embeddings(s, d))),
    // the companion audit: best same-label vs best different-label sim
    // per query; a violated margin pinpoints label noise
    "label_margins" -> ((s, d) => Similarity.labelMargins(Tables.embeddings(s, d))),
    // ANN quality eval: recall@k of the IVF probe vs the exact baseline —
    // both sides are individually hash-checked queries, so the oracle
    // replays the whole comparison
    "ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.annRecall(e,
        e.where(org.apache.spark.sql.functions.col("vec_id") < 8))
    }),
    // MMR diversified re-rank: greedy λ·relevance − (1−λ)·max-sim-to-
    // selected over the top-12 pool, all-integer scores — the oracle
    // replays every greedy round unrolled
    "mmr_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mmrRerank(e,
        e.where(org.apache.spark.sql.functions.col("vec_id") < 8))
    }),
    "embedding_stats" -> ((s, d) => Similarity.embeddingStats(Tables.embeddings(s, d))),
    "cos_near_pairs" -> ((s, d) => Similarity.cosNearPairs(Tables.embeddings(s, d))),
    // the scale path for all-pairs similarity: multi-table LSH buckets
    // (portable md5-derived plane weights — DuckDB replays candidate
    // generation exactly, so this is hash-checked, not rows-checked)
    "lsh_near_pairs" -> ((s, d) =>
      Similarity.lshNearPairs(Tables.embeddings(s, d), dims = 64, minSim = 0.5)),
    // the full semantic-dedup pipeline in one query: LSH candidate pairs →
    // connected components → keep-decisions (embedding-level analog of
    // dedup_resolve; every stage engine-portable, so DuckDB replays it)
    "emb_dedup_resolve" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Dedup.resolveClusters(
        e.select(org.apache.spark.sql.functions.col("vec_id").as("doc_id")),
        Similarity.lshNearPairs(e, dims = 64, minSim = 0.5))
        .where(org.apache.spark.sql.functions.col("keep") === false)
    }),
    "ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.where(org.apache.spark.sql.functions.col("vec_id") < 8))
    }),
    // IVF staleness probe, integer-exact: centroid DIRECTIONS as micro-unit
    // BIGINT sums over the deterministic vec_id % 16 seed groups, max-cosine
    // assignment, per-cell integer sums, drift from one double cosine over
    // exact integers — the oracle replays assignment AND drift bit-for-bit
    "ivf_cell_drift" -> ((s, d) =>
      Similarity.ivfCellDriftExact(Tables.embeddings(s, d))),
    // deterministic Lloyd k-means: seed = vec_id % k per-dim means, two
    // reassign+refine rounds, empty clusters keep their previous centroid
    // — every step exact, so the oracle replays the full iteration
    "kmeans_assign" -> ((s, d) => Similarity.kmeansAssign(Tables.embeddings(s, d))),
    // clustering sanity metric: per-cluster majority-label share over the
    // kmeans assignment — one (cid,label) aggregate on top of it
    "cluster_purity" -> ((s, d) => Similarity.clusterPurity(Tables.embeddings(s, d))),
    // confident-learning-style screen: vectors nearer another label's
    // centroid than their own, rolled up per label
    "label_noise" -> ((s, d) => Similarity.labelNoiseAudit(Tables.embeddings(s, d))),
    // centroid-based silhouette: O(n·k) separation metric over the same
    // Lloyd centroids; integer basis-point means
    "silhouette" -> ((s, d) => Similarity.silhouetteSimplified(Tables.embeddings(s, d))),
    // per-dim z-scores: one 64-row moment aggregate broadcast back, then
    // a row-local projection; checked via the integer basis-point digest
    // (array columns don't sort portably in the oracle harness)
    "emb_standardize" -> ((s, d) => Similarity.standardizeDigest(Tables.embeddings(s, d))),
    // median/MAD robust scaling — outlier-resistant twin of
    // emb_standardize; same digest discipline
    "emb_robust_scale" -> ((s, d) => Similarity.robustScaleDigest(Tables.embeddings(s, d))),
    // power-iteration top principal component, exact integer replay
    "emb_top_pc" -> ((s, d) => {
      requirePcDims(s, d)
      Similarity.topPrincipalComponent(Tables.embeddings(s, d))
    }),
    // all-but-the-top residuals (centered minus top-PC projection),
    // integer digest
    "emb_abtt" -> ((s, d) => {
      requirePcDims(s, d)
      Similarity.abttDigest(Tables.embeddings(s, d))
    }),
    // top-PC variance share — is the corpus dominated by one direction?
    "pc_var_share" -> ((s, d) => {
      requirePcDims(s, d)
      Similarity.pcVarianceShare(Tables.embeddings(s, d))
    }),
    // first-iteration BPE merge statistics: corpus word count, then
    // char-pair weights over the unique-word table only
    "bpe_pairs" -> ((s, d) => TextOps.bpePairStats(Tables.documents(s, d))),
    // doc-granularity mixture realization: greedy fill of per-source
    // token budgets, exact integer replay
    "token_budget_fill" -> ((s, d) => TextOps.tokenBudgetFill(Tables.documents(s, d))),
    // iterated BPE trainer: 8 rounds of heaviest-pair merge over the
    // vocabulary-bounded unique-word table
    "bpe_merges" -> ((s, d) => TextOps.bpeMerges(Tables.documents(s, d))),
    // unigram-LM tokenizer (Kudo 2018): integer micro-nat hard-EM —
    // seed substrings, Viterbi E-step, prune, re-estimate; the oracle
    // replays both EM rounds via unrolled DP CTEs
    "unigram_vocab" -> ((s, d) => TextOps.unigramVocab(Tables.documents(s, d))),
    // per-doc real token counts under the trained unigram vocab (the
    // applyBpe twin: one Viterbi per UNIQUE word, join back)
    "unigram_tokens" -> ((s, d) => TextOps.unigramTokens(Tables.documents(s, d))),
    // pieces-per-word / chars-per-piece by language under the SAME
    // trained vocab — integer ppm with truncating div
    "unigram_fertility" -> ((s, d) => TextOps.unigramFertility(Tables.documents(s, d))),
    // WordPiece-rule greedy longest-match encoding over the SAME trained
    // vocab — the tokenizer surface's third leg (BPE / unigram Viterbi /
    // greedy longest-match); score-free, so the encode replays as pure
    // string matching
    "wordpiece_tokens" -> ((s, d) => TextOps.wordpieceTokens(Tables.documents(s, d))),
    // token_budget_fill with the budget in REAL tokens: the corpus's own
    // 8-merge BPE table encodes every doc row-locally before the fill
    "token_budget_fill_bpe" -> ((s, d) =>
      TextOps.tokenBudgetFillBpe(Tables.documents(s, d))),
    // curation-funnel observability: cumulative doc/token survival
    // through the five standard filter stages
    "filter_cascade" -> ((s, d) => TextOps.filterCascade(Tables.documents(s, d))),
    // PSI drift per source vs the corpus length distribution; integer
    // nano-unit contribution sums
    "psi_sources" -> ((s, d) => TextOps.psiBySource(Tables.documents(s, d))),
    // SemDeDup: k-means clusters + within-cluster cosine keep-first — the
    // cluster-scoped scale path for embedding dedup (pairs are Σ cluster²,
    // never corpus²); every stage deterministic, oracle replays it all
    "semdedup" -> ((s, d) => Similarity.semDedup(Tables.embeddings(s, d))),
    // PageRank over the supplier→customer trade graph — integer micro-unit
    // arithmetic (truncating div at every step) so per-group sums are
    // order-independent and the 3-iteration cascade hash-matches
    "pagerank" -> ((s, d) => Graph.pageRank(Graph.tradeEdges(s, d))),
    // truncated Katz series over the trade graph: unnormalized in-sums,
    // no dangling recycling — the shared iterate loop minus one job/round
    "katz" -> ((s, d) => Graph.katzCentrality(Graph.tradeEdges(s, d))),
    // bounded-round HITS: supplier hubs / customer authorities on the
    // bipartite trade graph, integer mean-rescale per half-step
    "hits" -> ((s, d) => Graph.hits(Graph.tradeEdges(s, d))),
    // per-part triangle counts over the co-purchase graph — degree-ordered
    // orientation (integer-keyed), so the oracle replays the exact joins
    "triangles" -> ((s, d) => Graph.triangleCounts(Graph.coOccurrenceEdges(s, d))),
    // per-node local clustering coefficient on the same oriented-wedge
    // core; exact integer micro-units
    "lcc" -> ((s, d) => Graph.clusteringCoefficient(Graph.coOccurrenceEdges(s, d))),
    // RA link prediction: inverse-degree common-neighbor evidence from
    // capped wedge centers, existing edges anti-joined out, exact top-100
    "link_pred" -> ((s, d) => Graph.linkPredictionRA(Graph.coOccurrenceEdges(s, d))),
    // degree assortativity over the co-purchase graph: integer moments,
    // one double Pearson ratio
    "assortativity" -> ((s, d) => Graph.assortativity(Graph.coOccurrenceEdges(s, d))),
    // dense backbone: 4 bounded peeling rounds toward the 70-core.
    // k = 70 is FIXTURE-SCOPED (non-empty core at sf0.001..sf0.1 of the
    // co-purchase graph), pinned here — not in the operator — so the
    // oracle's unrolled HAVING >= 70 and this call can never drift;
    // production callers derive k from Graph.degreeQuantile
    "kcore" -> ((s, d) => Graph.kCore(Graph.coOccurrenceEdges(s, d), k = 70)),
    "link_pred_core" -> ((s, d) =>
      Graph.linkPredictionCore(Graph.coOccurrenceEdges(s, d), k = 91)),
    // 3 rounds of min-label propagation over the co-purchase graph —
    // fixed iteration count so the oracle replays each round verbatim
    "label_prop" -> ((s, d) =>
      Graph.labelPropagate(Graph.coOccurrenceEdges(s, d), iters = 3)),
    // multi-source BFS over the undirected trade graph: hop distance
    // from the 8 smallest node ids within 6 hops — pure integer state,
    // the oracle replays it as a recursive CTE
    "bfs_levels" -> ((s, d) => Graph.bfsLevels(Graph.tradeEdges(s, d))),
    // sampled harmonic centrality from the same BFS kernel: per node,
    // Σ 1000000 div dist over reaching seeds (truncating integer)
    "harmonic_centrality" -> ((s, d) =>
      Graph.harmonicCentrality(Graph.tradeEdges(s, d))),
    // bounded-round Bellman–Ford over the value-weighted trade graph
    // (integer cents, per-pair sums): 6 synchronous min-plus relaxations
    // from the 4 smallest nodes — the oracle unrolls the same rounds
    "sssp_weighted" -> ((s, d) =>
      Graph.shortestPathsWeighted(Graph.tradeEdgesWeighted(s, d))),
    // personalized PageRank: teleport + dangling mass return to the 4
    // smallest nodes — integer micro-unit recurrence, oracle-unrolled
    "ppr" -> ((s, d) =>
      Graph.personalizedPageRank(Graph.tradeEdges(s, d))),
    // communities = label_prop + rollup; the convenience that resolves,
    // rolls up, and releases its own label cache in one call
    "trade_communities" -> ((s, d) =>
      Graph.communities(Graph.coOccurrenceEdges(s, d), iters = 3)),
    // Newman modularity per community: are the propagated labels real
    // structure? All FP inputs exact integers, one rounded report
    "modularity" -> ((s, d) =>
      Graph.modularity(Graph.coOccurrenceEdges(s, d), iters = 3)),
    // top-5 characteristic terms per doc, ranked on the ROUNDED tfidf
    // so the selected set replays across engines
    "doc_keywords" -> ((s, d) => TextOps.docKeywords(Tables.documents(s, d))),
    // value-weighted PageRank over the trade graph: edge weights
    // ppm-normalized once, every division truncating integer math; the
    // Ranks convenience queues the release hook with the ReleaseRegistry
    // instead of discarding it
    "pagerank_weighted" -> ((s, d) =>
      Graph.pageRankWeightedRanks(Graph.tradeEdgesWeighted(s, d))),
    // convergence-stopped PageRank: eps=0 never fires on the still-moving
    // trade graph, so the loop runs to the maxIters=4 cap and the result
    // is bit-exact pageRank(4) — which the oracle replays as a fourth
    // unrolled integer round. Exercises the convergence machinery (r_old
    // carry + delta aggregate). Up to sf0.1 the trade graph is under
    // Graph.LocalLoopMaxRows, so the rounds run driver-local; GraphSpec's
    // properties hold the distributed rounds (one eager checkpoint per
    // round) bit-identical to them.
    "pagerank_until" -> ((s, d) => {
      val res = Graph.pageRankUntil(Graph.tradeEdges(s, d),
        epsMicro = 0L, maxIters = 4)
      if (res.pinned)
        graft.plans.Pins.queue("graph.pagerank_until")(res.release)
      res.ranks
    }),
    // pairwise two-sample KS statistic over per-doc lengths (n_chars):
    // exact integer CDFs on a shared support grid, one FP division at the end
    "ks_source" -> ((s, d) => TextOps.ksSourceLens(Tables.documents(s, d))),
    // stratified k-fold CV assignment: salted-hash rank within source % k
    "kfold_assign" -> ((s, d) => TextOps.kFoldAssign(Tables.documents(s, d))),
    // robust dispersion: median / MAD / 3σ-equivalent outlier counts
    "mad_outliers" -> ((s, d) => Relational.madOutliers(s, d)),
    // tail-robust means: clip into [p05, p95], report raw vs clipped
    "winsorized" -> ((s, d) => Relational.winsorizedMeans(s, d)),
    // signup → first-qualifying-purchase latency + conversion rate
    "time_to_convert" -> ((s, d) => EventOps.timeToConvert(s, d)),
    // sketch-algebra vocabulary overlap: per-pair |A|, |B|, |A∪B| and the
    // inclusion-exclusion intersection, all from one pass of per-source
    // HLL registers max-merged at pair level
    "hll_overlap" -> ((s, d) => RelationalX.hllOverlap(Tables.documents(s, d))),
    // last-touch attribution: purchases credit the most recent earlier
    // click/view via an ignoreNulls carry window; exact integer value sums
    "attribution" -> ((s, d) => EventOps.attribution(s, d)),
    // linear multi-touch: vi div n per preceding touch, remainder to the
    // most recent — credits sum to exactly vi per purchase
    "linear_attribution" -> ((s, d) => EventOps.linearAttribution(s, d)),
    // per-cluster dedup rollup: family size, source span, chars about to
    // be dropped — the audit report a curation run reads before deleting
    "dedup_families" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.clusterFamilies(docs, Dedup.ngramJaccardPairs(docs))
    }),
    // quality-policy survivor: each near-dup family keeps its LONGEST
    // member (ties → smallest id), not the arbitrary min-id label
    "dedup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.survivorsByQuality(docs, Dedup.ngramJaccardPairs(docs))
    }),
    // source×source near-dup overlap matrix over the unblocked MinHash
    // pairs — the cross-source contamination signal
    "cross_dup_matrix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.crossSourceDupMatrix(docs, Dedup.minhashPairs(docs))
    }),
    // temperature-scaled source weights (p ∝ n^0.7): derives the rates
    // mix_sources executes
    "temperature_mix" -> ((s, d) => TextOps.temperatureMix(Tables.documents(s, d))),
    // embedding-space drift per source: per-doc cosine spread vs the
    // global centroid + source-centroid shift (one corpus aggregate,
    // broadcast centroid, codegen'd dot products)
    "source_drift" -> ((s, d) =>
      Similarity.sourceDrift(Tables.documents(s, d), Tables.embeddings(s, d))),
    // cross-group quantile normalization of scores onto the pooled
    // distribution — two prefix-sum ranking passes, no whole-table window
    "quantile_norm" -> ((s, d) =>
      EventOps.quantileNormalize(Tables.events(s, d))),
    // RFM quintile segmentation: three prefix-sum global rankings over
    // the per-user aggregate, integer quintile arithmetic
    "user_rfm" -> ((s, d) => EventOps.userRfm(s, d)),
    // asymmetric n-gram containment |A∩B|/min(|A|,|B|) — the engulfment
    // signal Jaccard cannot see; exact within the source block
    "containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d))),
    // per-source exact-duplicate rates (keep-first against the corpus)
    "dup_rate_by_source" -> ((s, d) =>
      Dedup.dupRateBySource(Tables.documents(s, d))),
    // rolling 7-day distinct users from windowed HLL register merges —
    // the sliding COUNT DISTINCT exact aggregation cannot do incrementally
    "rolling_distinct" -> ((s, d) =>
      RelationalX.rollingDistinct(Tables.events(s, d))),
    // top behavior trigrams over per-user timelines (funnel discovery)
    "event_trigrams" -> ((s, d) => EventOps.eventTrigrams(s, d)),
    // tokenizer-fertility profile per language (chars/token, tokens/doc)
    "lang_fertility" -> ((s, d) => TextOps.langFertility(Tables.documents(s, d))),
    // symmetric bounded source divergence (JSD vs the corpus midpoint) —
    // sourceKl's finite sibling, integer nano-bit term sums
    "jsd_sources" -> ((s, d) => TextOps.jsdSources(Tables.documents(s, d))),
    // time-weighted mean over irregular per-user event streams — exact
    // decimal products (value micro-units × gap ms), one final division
    "time_weighted_avg" -> ((s, d) => EventOps.timeWeightedAvg(s, d)),
    // engine-portable HLL: registers from the md5-derived 60-bit hash,
    // integer-scaled weight sum — the sketch itself hash-matches, unlike
    // approx_count_distinct whose HLL++ bytes are Spark-private
    "hll_distinct" -> ((s, d) => RelationalX.hllDistinct(
      Tables.lineitem(s, d), "l_returnflag", "l_partkey")),
    // Count-Min sketch point queries: the frequency sketch replays whole
    // (md5-derived buckets, integer counters) — probes include an
    // out-of-vocabulary word so the collision floor is visible
    "cms_wordfreq" -> ((s, d) => {
      import s.implicits._
      RelationalX.cmsEstimate(
        RelationalX.cmsSketch(Tables.documents(s, d)),
        Seq("join", "hash", "scan", "merge", "vector", "window", "zzz_absent")
          .toDF("word"))
    }),
    // DSIR importance weights (integer ppm ratios of hashed-bigram target
    // vs corpus frequencies) — the data-selection prior for corpus mixing
    "dsir_weights" -> ((s, d) => TextOps.dsirWeights(Tables.documents(s, d))),
    // cluster-aware split: near-dup components (exact SQL-replayable pair
    // set, as in dedup_resolve) assign train/val/test by CLUSTER hash so
    // near-duplicates can never straddle a split boundary
    "leakage_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.leakageSplit(docs, Dedup.ngramJaccardPairs(docs))
    }),
    // first-order Markov transitions over per-user event sequences —
    // deterministic lead() ordering by (ts, event_id), integer ppm probs
    "page_transitions" -> ((s, d) => EventOps.pageTransitions(s, d)),
    // gaps-and-islands interval merging on per-user activity windows
    // (event ± 5 min), all epoch-second integer math
    "merge_intervals" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      RelationalX.mergeIntervals(Tables.events(s, d).select(col("user_id"),
        col("ts").cast("long").as("start_s"),
        (col("ts").cast("long") + 300L).as("end_s")))
    }),
    // hybrid retrieval: BM25 lexical ∪ cosine semantic rankings fused by
    // reciprocal rank (integer-scaled truncating division)
    "rrf_fuse" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val q = Seq(
        (0L, Seq("spark", "join", "merge")),
        (1L, Seq("window", "scan")),
        (2L, Seq("customer", "vector", "slow"))).toDF("query_id", "terms")
      val lex = TextOps.bm25TopK(Tables.documents(s, d), q, k = 20)
        .select("query_id", "doc_id", "rnk")
      val e = Tables.embeddings(s, d)
      val sem = Similarity.cosineTopK(e, e.where(col("vec_id") < 3), k = 20)
        .select(col("query_id"), col("nbr_id").as("doc_id"), col("rnk"))
      TextOps.rrfFuse(lex, sem)
    }),
    // BM25 retrieval: fixed literal query set; per-term scores integer-
    // scaled before the (query, doc) sum so aggregation order can't
    // perturb the hash
    "bm25_topk" -> ((s, d) => {
      import s.implicits._
      val q = Seq(
        (0L, Seq("spark", "join", "merge")),
        (1L, Seq("window", "scan")),
        (2L, Seq("customer", "vector", "slow"))).toDF("query_id", "terms")
      TextOps.bm25TopK(Tables.documents(s, d), q)
    }),
    // PQ-ADC search: codebook build + encoding + lookup-table scoring are
    // all deterministic (seed-partition means, smaller-code tie-breaks),
    // so the oracle replays the whole quantization end-to-end
    "pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqTopK(e, e.where(org.apache.spark.sql.functions.col("vec_id") < 8))
    }),
    // multimodal plumbing end-to-end on fixture data (payload = text
    // bytes, which javax.imageio rejects → the deterministic md5 stub
    // path runs; its features are (h % 1000003)/1000003 with the modulus
    // < 2^24, so scaling back to integer space recovers the hash residues
    // exactly and DuckDB replays the digest from the raw text)
    "media_features" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", "image")
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"),
          size(col("features")).as("n_dims"),
          expr("aggregate(features, 0L, (acc, x) -> " +
            "acc + cast(round(cast(x as double) * 1000003) as bigint))")
            .as("f_digest"))
    }),
    // sniff-classify routing on synthetic payloads: each doc's text gets
    // a deterministic magic-byte prefix by doc_id % 8 (mp3 ID3 tag, ogg
    // capture, RIFF/WAVE, RIFF/AVI, aiff FORM, au .snd, mp4 ftyp box,
    // and a no-magic control) — ASCII-safe magics only, so the oracle
    // rebuilds the identical payload string and replays the prefix
    // predicates byte for byte. rpad(16) bounds payload size and
    // guarantees the >= 12-byte sniff minimum on every row.
    "classify_media" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val pre = expr("element_at(array('ID3', 'OggS', 'RIFF0000WAVE', " +
        "'RIFF0000AVI ', 'FORM', '.snd', '0000ftyp', 'zzzzzzzz'), " +
        "cast(doc_id % 8 as int) + 1)")
      val media = Multimodal.fromBinary(
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat(pre, rpad(col("text"), 16, " ")).as("p")),
        "doc_id", "p", "video")
      Multimodal.classifyMedia(media)
        .select(col("media_id"), col("format_detected"),
          col("kind_detected"), col("decodable"))
    }),
    // perceptual-hash media dedup: aHash bits from the same replayable
    // stub residues media_features digests (integer r·16 > Σr compare —
    // no float-mean rounding), plus per-row duplicate counts via a
    // hash-partitioned window (one decode pass, one shuffle)
    "media_phash" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", "image")
      Multimodal.phashDupCounts(media)
    }),
    // Hamming-banded image NEAR-dup pairs over the same one-decode-pass
    // phash: 4 bands of 4 bits (pigeonhole-exact recall for hamming <= 3),
    // bucket-capped band join, integer popcount verify — the pairs the
    // exact-equality media_phash provably misses (a 1-2-bit flip = a
    // re-encoded/resized crawl duplicate)
    "phash_near_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", "image")
      Multimodal.phashNearPairs(media)
    }),
    // the ARCHIVE-SCALE wide variant: 64-bit (8x8-grid) code, 4 bands of
    // 16 bits — band buckets hold ~n/65536 rows, so the join stays
    // sub-quadratic where the 16-bit code's band space saturates. The
    // fixture groups every 3 consecutive doc_ids onto one payload: at 64
    // bits random md5 codes NEVER collide at hamming <= 3 (that
    // discrimination is the point, spec-pinned), so the constructed
    // groups are what keeps the oracle row non-vacuous (~3 pairs/group)
    "phash_near_pairs64" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("wp:"), expr("doc_id div 3").cast("string")).as("p")),
        "doc_id", "p", "image")
      Multimodal.phashNearPairsWide(media)
    }),
    // DCT pHash near-dups: the same 64-bit banding machinery on the
    // integer-DCT sign-vs-median code (pHash proper — robust where the
    // mean-threshold aHash is gamma-brittle). Fixture groups every 3
    // consecutive doc_ids onto one payload, as in phash_near_pairs64
    "phash_dct_near_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("dp:"), expr("doc_id div 3").cast("string")).as("p")),
        "doc_id", "p", "image")
      Multimodal.phashDctNearPairs(media)
    }),
    // DCT near-dup survivor election: the banded DCT pairs resolved into
    // min-label families, keep-the-sharpest on the 1024-cell integer
    // variance of the same decode pass (grouped fixture: members of a
    // family share the payload, so the election lands on the tie rule —
    // smallest media_id; the gamma-twin spec exercises the non-trivial
    // variance election on real images)
    "phash_dct_near_keep" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit("dk:"), expr("doc_id div 3").cast("string")).as("p")),
        "doc_id", "p", "image")
      Multimodal.phashDctNearKeep(media)
    }),
    // near-dup survivor election over the banded pairs: min-label
    // families + keep-the-sharpest (max integer grid variance, ties to
    // the smallest media_id) — the media composition of dedup_survivors
    "phash_near_keep" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", "image")
      Multimodal.phashNearKeep(media)
    }),
    // REAL video frame sampling on a mixed corpus: every 4th doc carries a
    // synthesized Y4M container (8x4 Cmono, 2-4 frames, pixel bytes from
    // an ASCII-safe arithmetic pattern — chars 48..111, so the payload is
    // byte-exactly rebuildable in SQL) whose luma planes the codec parses
    // STRUCTURALLY (header W/H/C, FRAME boundaries, Y-plane byte sums);
    // the other docs keep their raw text payload and take the md5 stub
    // pseudo-frame path. The oracle replays the y4m rows from the pixel
    // FORMULA (it never parses binary) and the stub rows from md5 — both
    // pure integer
    "media_frames" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val alphabet = (48 until 112).map(_.toChar).mkString
      def lumaChar(f: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        lit(alphabet).substr(
          pmod(col("doc_id") * 7 + f * 13 + i * 5, lit(64)).cast("int") + 1, lit(1))
      val frameStr = (f: org.apache.spark.sql.Column) => concat(lit("FRAME\n"),
        array_join(transform(sequence(lit(0), lit(31)), i => lumaChar(f, i)), ""))
      val y4m = concat(lit("YUV4MPEG2 W8 H4 F25:1 Ip A1:1 Cmono\n"),
        array_join(transform(
          sequence(lit(0), (col("doc_id") % 3 + 1).cast("int")), frameStr), ""))
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 === 0, y4m).otherwise(col("text")).as("p")),
        "doc_id", "p", "video")
      Multimodal.decodeFrames(media)
    }),
    // integer-exact grid variance + brightness + flat-frame flag on the
    // same one-decode-pass residues
    "media_quality" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val media = Multimodal.fromBinary(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", "image")
      Multimodal.imageQuality(media)
    }),
    // REAL time-localized audio fingerprinting: every 4th doc carries a
    // synthesized PCM16 WAV (integer sample formula — see audioFixture)
    // decoded through javax.sound and fingerprinted via the exact
    // integer Walsh–Hadamard band-energy hash; docs with doc_id % 8 == 4
    // carry a one-window-TRIMMED copy of doc_id−4's signal, the offset
    // duplicate the whole-clip hash can never match. Other docs keep
    // text payloads → the portable-md5 stub windows. Both paths replay
    // hash-exact in SQL.
    "audio_fingerprint" -> ((s, d) =>
      Multimodal.audioFingerprints(audioFixture(s, d))),
    // banded matching over the fingerprint windows: the constructed
    // trimmed duplicates pair with their originals at one consistent
    // window delta; identical stub payloads pair at delta 0
    "audio_dup_pairs" -> ((s, d) =>
      Multimodal.audioDupPairs(audioFixture(s, d))),
    // segment boundaries: a >= 8-bit band-energy-hash jump between
    // consecutive windows of one clip (the audio twin of scene cuts)
    "audio_cuts" -> ((s, d) =>
      Multimodal.audioSegmentBounds(audioFixture(s, d))),
    // real-decode clipping/silence/peak screen on the same fixture —
    // exact integer thresholds, md5 pseudo-stats on the stub path
    "audio_quality" -> ((s, d) =>
      Multimodal.audioQuality(audioFixture(s, d))),
    // REAL temporal video fingerprinting: every 4th doc carries a
    // synthesized Y4M container (three-seed integer pixel formula — see
    // videoFixture) whose frames each get an exact-integer 16-cell aHash;
    // docs with doc_id % 8 == 4 carry a one-frame-TRIMMED copy of
    // doc_id−4's container — the re-cut duplicate a whole-media hash can
    // never match. Text payloads → portable-md5 stub frame hashes. Both
    // paths replay hash-exact in SQL
    "video_fingerprint" -> ((s, d) =>
      Multimodal.videoFingerprints(videoFixture(s, d))),
    // banded matching over the per-frame hashes: the constructed trimmed
    // duplicates pair with their originals at one consistent frame delta;
    // identical stub payloads pair at delta 0
    "video_dup_pairs" -> ((s, d) =>
      Multimodal.videoDupPairs(videoFixture(s, d))),
    // shot-boundary summary over the same per-frame hashes: a cut is a
    // >= 4-bit aHash jump between consecutive frames of one clip
    "video_scene_cuts" -> ((s, d) =>
      Multimodal.videoSceneCuts(videoFixture(s, d))),
    "q6_forecast" -> ((s, d) => Relational.q6Forecast(s, d)),
    "q10_returns" -> ((s, d) => Relational.q10Returns(s, d)),
    "q14_promo" -> ((s, d) => Relational.q14Promo(s, d)),
    "cust_order_totals" -> ((s, d) => Relational.custOrderTotals(s, d)),
    "paged_orders" -> ((s, d) => Relational.pagedOrders(s, d)),
    "normalize_text" -> ((s, d) => TextOps.normalizeText(Tables.documents(s, d))),
    "tfidf" -> ((s, d) => TextOps.tfidf(Tables.documents(s, d))),
    "quantize_emb" -> ((s, d) => Similarity.quantizeDigest(Tables.embeddings(s, d))),
    // JL random projection to 16 dims: deterministic md5-parity ±1 sign
    // matrix over micro-unit integers — row-local, shuffle-free, and
    // every output coordinate an exact integer the oracle re-sums
    "emb_project" -> ((s, d) => Similarity.projectEmbeddings(Tables.embeddings(s, d))),
    "grouping_sets" -> ((s, d) => Relational.groupingSets(s, d)),
    "set_ops_all" -> ((s, d) => Relational.setOpsAll(s, d)),
    "union_by_name" -> ((s, d) => Relational.unionByNameDemo(s, d)),
    // ── relational: quantiles / cube / having / scalar / date / pivot ──
    "quantiles" -> ((s, d) => Relational.quantiles(s, d)),
    // sketch path for 100 TB (mergeable partials, no driver coordination).
    // approx_percentile's KLL-style internals aren't DuckDB-replayable, so
    // the CHECKED output is its rank-error contract: each returned value's
    // exact rank window [count<, count≤] must intersect the target rank
    // ±n/accuracy (±1 slack for the 2dp report rounding). One extra
    // broadcast-joined pass computes the ranks; the oracle asserts
    // rank_ok = 1 for every (group, quantile)
    "quantiles_approx" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val acc = 10000
      val q = Relational.quantilesApprox(s, d, accuracy = acc)
      val melted = q.selectExpr("l_returnflag", "n",
        "stack(3, 'p25', 0.25d, p25, 'p50', 0.5d, p50, 'p75', 0.75d, p75) AS (qname, p, v)")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("x"))
        .join(broadcast(melted), "l_returnflag")
        .groupBy("l_returnflag", "qname", "p", "v", "n")
        .agg(
          sum(when(col("x") <= col("v") + 0.005, 1L).otherwise(0L)).as("cle"),
          sum(when(col("x") < col("v") - 0.005, 1L).otherwise(0L)).as("clt"))
        .select(col("l_returnflag"), col("qname"),
          (col("cle").cast("double") >= col("p") * col("n") - col("n").cast("double") / acc - 1 &&
            col("clt").cast("double") <= col("p") * col("n") + col("n").cast("double") / acc + 1)
            .cast("int").as("rank_ok"))
    }),
    // the portable bottom-k-sample sketch: hash-checked, unlike the
    // Spark-private approx_percentile sibling above
    "quantiles_sketch" -> ((s, d) => Relational.quantilesSketch(s, d)),
    "cube_agg" -> ((s, d) => Relational.cubeAgg(s, d)),
    "having_agg" -> ((s, d) => Relational.havingAgg(s, d)),
    "scalar_funcs" -> ((s, d) => Relational.scalarFuncs(s, d)),
    "date_agg" -> ((s, d) => Relational.dateAgg(s, d)),
    "pivot_events" -> ((s, d) => EventOps.pivotByType(s, d)),
    // ── relational batch 2: remaining TPC-H shapes on this schema ──
    "q2_min_cost" -> ((s, d) => RelationalX.q2MinCostSupp(s, d)),
    "q4_exists" -> ((s, d) => RelationalX.q4Exists(s, d)),
    "q11_important" -> ((s, d) => RelationalX.q11ImportantParts(s, d)),
    "q20_dominant" -> ((s, d) => RelationalX.q20DominantShippers(s, d)),
    "q7_volume" -> ((s, d) => RelationalX.q7Volume(s, d)),
    "q8_share" -> ((s, d) => RelationalX.q8Share(s, d)),
    "q9_profit" -> ((s, d) => RelationalX.q9Profit(s, d)),
    "q12_priority" -> ((s, d) => RelationalX.q12Priority(s, d)),
    "q13_custdist" -> ((s, d) => RelationalX.q13CustDist(s, d)),
    "q15_topsupp" -> ((s, d) => RelationalX.q15TopSupplier(s, d)),
    "q17_small_qty" -> ((s, d) => RelationalX.q17SmallQty(s, d)),
    "q18_big_orders" -> ((s, d) => RelationalX.q18BigOrders(s, d)),
    "q19_brackets" -> ((s, d) => RelationalX.q19Brackets(s, d)),
    "q21_waiting" -> ((s, d) => RelationalX.q21Waiting(s, d)),
    "q22_idle_rich" -> ((s, d) => RelationalX.q22IdleRich(s, d)),
    "q16_suppcnt" -> ((s, d) => RelationalX.q16SuppCount(s, d)),
    "rank_funcs" -> ((s, d) => RelationalX.rankFuncs(s, d)),
    "window_shapes" -> ((s, d) => RelationalX.windowShapes(s, d)),
    "date_funcs" -> ((s, d) => RelationalX.dateFuncs(s, d)),
    "string_agg" -> ((s, d) => RelationalX.stringAgg(s, d)),
    "histogram" -> ((s, d) => RelationalX.histogram(s, d)),
    "range_frame" -> ((s, d) => RelationalX.rangeFrameSpend(s, d)),
    "argmax_join" -> ((s, d) => RelationalX.argmaxJoin(s, d)),
    "corr_stats" -> ((s, d) => RelationalX.corrStats(s, d)),
    "moving_avg" -> ((s, d) => RelationalX.movingAvgDaily(s, d)),
    // ── time-series: as-of join, range join, lag deltas ──
    "asof_join" -> ((s, d) => EventOps.asofClickBeforePurchase(s, d)),
    "range_join" -> ((s, d) => EventOps.rangeFollowups(s, d)),
    "lag_delta" -> ((s, d) => EventOps.lagDeltas(s, d)),
    // trailing-horizon EWMA with α=1/2: every weight an exact power of
    // two, so the float math is engine-portable despite no integer scaling
    "ewma" -> ((s, d) => EventOps.ewma(s, d)),
    // Holt level+trend smoothing of hourly counts per type; exact
    // integer micro recurrence, group-bounded row-local fold
    "holt_smooth" -> ((s, d) => EventOps.holtSmooth(s, d)),
    // lag-24 autocorrelation of densified hourly counts per type
    "seasonality" -> ((s, d) => EventOps.seasonalityStrength(s, d)),
    // snapshot diff: v2 = v1 minus 'F' orders, urgent prices bumped 10%,
    // plus a remapped-key slice re-added — exercises all three change kinds
    "snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val o = Tables.orders(s, d)
      val changed = o.where(col("o_orderstatus") =!= "F")
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT",
            round(col("o_totalprice") * 1.1, 2))
            .otherwise(col("o_totalprice")))
      val added = o.where(col("o_orderstatus") === "F" && col("o_orderkey") % 41 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      RelationalX.snapshotDiff(o, changed.unionByName(added), "o_orderkey")
    }),
    "histogram_eqdepth" -> ((s, d) => RelationalX.histogramEqDepth(s, d)),
    "skyline" -> ((s, d) => RelationalX.skylineParts(s, d)),
    // ── LLM-pipeline batch 2: redaction, splits, linkage ──
    "pii_redact" -> ((s, d) => TextOps.piiRedact(Tables.documents(s, d))),
    "split_assign" -> ((s, d) => TextOps.splitAssign(Tables.documents(s, d))),
    "sample_strata" -> ((s, d) => TextOps.sampleStrata(Tables.documents(s, d))),
    // deterministic per-epoch training order: seeded portable-hash sort
    // realized by the distributed two-pass offset scheme (no global
    // single-partition window)
    "epoch_shuffle" -> ((s, d) => TextOps.epochShuffle(Tables.documents(s, d))),
    // source-interleaved training order: per-source ranks round-robin
    // into one deterministic global position
    "interleave_order" -> ((s, d) =>
      TextOps.interleaveBySource(Tables.documents(s, d))),
    "lev_pairs" -> ((s, d) => TextOps.levenshteinPairs(Tables.part(s, d))),
    // column profiler, minus the HLL distinct estimate (engine-specific
    // sketch) so the remaining metrics are exactly replayable
    "profile_customer" -> ((s, d) => Profiler.profile(Tables.customer(s, d))
      .where(org.apache.spark.sql.functions.col("metric") =!= "approx_distinct")),
    // ── scale primitives: global index, mergeable bottom-k sample ──
    "zip_index" -> ((s, d) => Relational.globalIndex(s, d)),
    "bottomk_sample" -> ((s, d) => TextOps.bottomKSample(Tables.documents(s, d))),
    // ── flagship composition: the full corpus-curation pipeline ──
    "corpus_curate" -> ((s, d) => CorpusPipeline.curate(Tables.documents(s, d))),
    // ── scale primitives: bloom-pruned join, weighted sample, CDC merge,
    //    z-order clustering key, one-pass data-quality gate ──
    "bloom_join" -> ((s, d) =>
      Prune.bloomJoinQuery(Tables.lineitem(s, d), Tables.part(s, d))),
    "weighted_sample" -> ((s, d) => TextOps.weightedSample(Tables.documents(s, d))),
    "merge_upsert" -> ((s, d) =>
      Cdc.mergeQuery(Tables.customer(s, d), Tables.orders(s, d))),
    "zorder_box" -> ((s, d) => Layout.zBoxQuery(Tables.lineitem(s, d))),
    "dq_lineitem" -> ((s, d) => Profiler.dqLineitem(Tables.lineitem(s, d))),
    "pack_sequences" -> ((s, d) => TextOps.packSequences(Tables.documents(s, d))),
    "gap_fill" -> ((s, d) => EventOps.gapFill(s, d)),
    "array_funcs" -> ((s, d) => RelationalX.arrayFuncs(Tables.documents(s, d))),
    // the Misra-Gries sketch in its EXACT regime (distinct tracked items
    // < k ⇒ counts provably exact), so the custom aggregate itself rides
    // through the oracle gate; the sketchy regime is property-tested
    "freq_items_exact" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      TextOps.tokens(Tables.documents(s, d))
        .where(col("word").isin("the", "a", "of", "and", "is", "to", "in"))
        .agg(graft.functions.FrequentItems.freqItems(col("word"), 64).as("f"))
        .select(explode(col("f")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"))
    }),
  )

  /** Fixture embedding dimensionality the power-iteration oracle CTE is
    * unrolled for. The Spark operator derives dims from the data, so a
    * fixture change would silently diverge from the hardcoded CTE —
    * [[requirePcDims]] turns that into a loud error at query-build time,
    * and the seed literal below derives from this one constant.
    */
  /** Synthetic audio corpus for the fingerprint queries: every 4th doc
    * carries a REAL PCM16 WAV whose samples follow the integer formula
    * `s(k,t) = ((k+1)·48271 + (t+off+1)·(t+off+3)·163) % 4001 − 2000`
    * — base docs (doc_id % 8 == 0): k = doc_id, off = 0, 5 + k%3
    * windows of 64 samples; docs with doc_id % 8 == 4: a one-window
    * TRIMMED copy of doc_id−4's signal (k = doc_id−4, off = 64). The
    * quadratic t-term matters: a LINEAR formula mod a prime makes every
    * doc a cyclic sample-shift of every other, flooding the pair join
    * with accidental window-aligned matches. Other docs keep raw text
    * payloads and take the portable-md5 stub path, so the whole corpus
    * stays hash-replayable.
    */
  private def audioFixture(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wav = udf((id: Long) => {
      val k = if (id % 8 == 4) id - 4 else id
      val off = if (id % 8 == 4) 64 else 0
      val frames = (5 + (k % 3).toInt) * 64 - off
      Multimodal.MediaCodec.wavPcm16(Array.tabulate(frames)(t =>
        (((k + 1) * 48271L +
          (t + off + 1).toLong * (t + off + 3).toLong * 163L) % 4001L
          - 2000L).toShort))
    })
    Multimodal.fromBinary(
      Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0, wav(col("doc_id")))
          .otherwise(col("text").cast("binary")).as("p")),
      "doc_id", "p", "audio")
  }

  /** Synthetic video corpus for the temporal-fingerprint queries: every
    * 4th doc carries a REAL Y4M container (8×4 Cmono, `4 + k%3` frames)
    * whose pixel bytes follow an ASCII-safe integer formula — chars
    * 48..111, byte value `48 + (s1·(i+1) + s2·(i+1)·(i+3) +
    * s3·(F+1)·(i+2) + 13·F) mod 64` with three per-doc md5 seeds
    * `s_j = md5_60("vsj:" ++ k) % 1000003`, so the payload is
    * byte-exactly rebuildable in SQL. THREE independent seeds matter: a
    * formula linear in one seed makes any two docs with seeds congruent
    * mod 64 byte-identical (P ≈ 1/64 per pair — dozens of accidental
    * full duplicates); requiring all three to collide (1/64³) makes
    * accidental frame matches vanishing. Docs with doc_id % 8 == 4 carry
    * a one-frame-TRIMMED copy of doc_id−4's container (frames 1..nf−1,
    * same seeds) — the re-cut duplicate a whole-media hash can never
    * match. Other docs keep raw text payloads → the portable-md5 stub
    * frame hashes.
    */
  private def videoFixture(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val alphabet = (48 until 112).map(_.toChar).mkString
    def seed(tag: String) =
      graft.operators.Dedup.portableHash64(
        concat(lit(tag + ":"), col("k"))) % 1000003L
    def lumaChar(f: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) = {
      val m = (col("s1") * (i + 1) + col("s2") * (i + 1) * (i + 3) +
        col("s3") * (f + 1) * (i + 2) + f * 13) % 64
      lit(alphabet).substr((m + 1).cast("int"), lit(1))
    }
    val frameStr = (f: org.apache.spark.sql.Column) => concat(lit("FRAME\n"),
      array_join(transform(sequence(lit(0), lit(31)), i => lumaChar(f, i)), ""))
    val withSeeds = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 8 === 4, col("doc_id") - 4)
          .otherwise(col("doc_id")).as("k"),
        when(col("doc_id") % 8 === 4, lit(1)).otherwise(lit(0)).as("trim"))
      .withColumn("nf", (lit(4) + col("k") % 3).cast("int"))
      .withColumn("s1", seed("vs1"))
      .withColumn("s2", seed("vs2"))
      .withColumn("s3", seed("vs3"))
    val y4m = concat(lit("YUV4MPEG2 W8 H4 F25:1 Ip A1:1 Cmono\n"),
      array_join(transform(
        sequence(col("trim"), col("nf") - 1), frameStr), ""))
    Multimodal.fromBinary(
      withSeeds.select(col("doc_id"),
        when(col("doc_id") % 4 === 0, y4m).otherwise(col("text")).as("p")),
      "doc_id", "p", "video")
  }

  /** Shared oracle CTE chain replaying [[videoFixture]] +
    * [[Multimodal.videoFingerprints]] in pure integer SQL: regenerate
    * the pixel formula (never parse binary), cell sums over 2-byte
    * bands, aHash bits by the cross-multiplied `cs·16 > tot` compare,
    * stub rows by the md5 scheme. Ends with
    * `allvf(media_id, is_real, n_frames, frame_idx, fhash)`.
    */
  private val videoFpPrefixSql: String =
    """WITH vd AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 8 = 4 THEN doc_id - 4 ELSE doc_id END AS k,
      |         CASE WHEN doc_id % 8 = 4 THEN 1 ELSE 0 END AS trim
      |  FROM documents WHERE doc_id % 4 = 0),
      |vs AS MATERIALIZED (
      |  SELECT doc_id, k, trim, 4 + k % 3 AS nf,
      |         ('0x'||substr(md5('vs1:' || k),1,15))::BIGINT % 1000003 AS s1,
      |         ('0x'||substr(md5('vs2:' || k),1,15))::BIGINT % 1000003 AS s2,
      |         ('0x'||substr(md5('vs3:' || k),1,15))::BIGINT % 1000003 AS s3
      |  FROM vd),
      |vfr AS (SELECT doc_id, trim, nf, s1, s2, s3,
      |          CAST(unnest(range(trim, nf)) AS BIGINT) AS fabs FROM vs),
      |vpx AS (SELECT doc_id, trim, nf, fabs, s1, s2, s3,
      |          CAST(unnest(range(0, 32)) AS BIGINT) AS i FROM vfr),
      |vcell AS MATERIALIZED (
      |  SELECT doc_id, trim, nf, fabs, i // 2 AS c,
      |         CAST(sum(48 + (s1*(i+1) + s2*(i+1)*(i+3)
      |           + s3*(fabs+1)*(i+2) + fabs*13) % 64) AS BIGINT) AS cs
      |  FROM vpx GROUP BY 1, 2, 3, 4, 5),
      |vtot AS (SELECT doc_id, fabs, CAST(sum(cs) AS BIGINT) AS tot
      |         FROM vcell GROUP BY 1, 2),
      |realvf AS MATERIALIZED (
      |  SELECT vcell.doc_id AS media_id, TRUE AS is_real,
      |         CAST(min(nf) - min(trim) AS BIGINT) AS n_frames,
      |         CAST(vcell.fabs - min(trim) AS INT) AS frame_idx,
      |         CAST(sum(CASE WHEN cs * 16 > tot THEN 1::BIGINT << c ELSE 0 END)
      |           AS BIGINT) AS fhash
      |  FROM vcell JOIN vtot ON vtot.doc_id = vcell.doc_id
      |    AND vtot.fabs = vcell.fabs
      |  GROUP BY vcell.doc_id, vcell.fabs),
      |stubvf AS (
      |  SELECT d.doc_id AS media_id, FALSE AS is_real,
      |         CAST(4 AS BIGINT) AS n_frames, CAST(f AS INT) AS frame_idx,
      |         ('0x'||substr(md5(d.text || ':vh' || f),1,15))::BIGINT
      |           % 65536 AS fhash
      |  FROM documents d CROSS JOIN range(0, 4) t(f)
      |  WHERE d.doc_id % 4 <> 0),
      |allvf AS MATERIALIZED (
      |  SELECT * FROM realvf UNION ALL SELECT * FROM stubvf)""".stripMargin

  /** Shared oracle CTE chain replaying [[audioFixture]] +
    * [[Multimodal.audioFingerprints]] in pure integer SQL: regenerate
    * the sample formula, take the Walsh–Hadamard coefficients through
    * the popcount kernel (`coef(k) = Σ s·(−1)^{bit_count(k AND t)}`),
    * band energies (16 bands of 4 coefficients), then the
    * difference-coded 30-bit window hash; stub rows replay the md5
    * scheme. Ends with `allfp(media_id, is_real, n_windows, win_idx,
    * fhash)`.
    */
  /** The [[audioFixture]] sample replay: `d2(doc_id, k, off, frames)` +
    * `s2(doc_id, t, s)` — shared by the fingerprint and quality oracles.
    */
  private val audioSampleCtes: String =
    """WITH d2 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 8 = 4 THEN doc_id - 4 ELSE doc_id END AS k,
      |         CASE WHEN doc_id % 8 = 4 THEN 64 ELSE 0 END AS off,
      |         (5 + (CASE WHEN doc_id % 8 = 4 THEN doc_id - 4 ELSE doc_id END) % 3) * 64
      |           - CASE WHEN doc_id % 8 = 4 THEN 64 ELSE 0 END AS frames
      |  FROM documents WHERE doc_id % 4 = 0),
      |samp AS MATERIALIZED (
      |  SELECT doc_id, k, off, CAST(unnest(range(0, frames)) AS BIGINT) AS t
      |  FROM d2),
      |s2 AS (SELECT doc_id, t,
      |         ((k+1)*48271 + (t+off+1)*(t+off+3)*163) % 4001 - 2000 AS s
      |       FROM samp)""".stripMargin

  private val audioFpPrefixSql: String = audioSampleCtes +
    """,
      |
      |coef AS MATERIALIZED (
      |  SELECT doc_id, t // 64 AS w, kk,
      |         CAST(sum(s * CASE WHEN bit_count(CAST(t % 64 AS BIGINT) & kk) % 2 = 1
      |                          THEN -1 ELSE 1 END) AS BIGINT) AS c
      |  FROM s2 CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS kk) kt
      |  GROUP BY doc_id, t // 64, kk),
      |eb AS MATERIALIZED (
      |  SELECT doc_id, w, kk // 4 AS b, CAST(sum(c * c) AS BIGINT) AS e
      |  FROM coef GROUP BY 1, 2, 3),
      |db AS MATERIALIZED (
      |  SELECT doc_id, w, b,
      |         e - lead(e) OVER (PARTITION BY doc_id, w ORDER BY b) AS d,
      |         CASE WHEN e > lead(e) OVER (PARTITION BY doc_id, w ORDER BY b)
      |              THEN 1 ELSE 0 END AS bi
      |  FROM eb),
      |fp0 AS (SELECT doc_id, w, b, bi, d,
      |          lag(d) OVER (PARTITION BY doc_id, b ORDER BY w) AS pd
      |        FROM db WHERE b < 15),
      |realfp AS MATERIALIZED (
      |  SELECT doc_id AS media_id, TRUE AS is_real, CAST(w AS INT) AS win_idx,
      |         CAST(sum(CASE WHEN bi = 1 THEN 1::BIGINT << b ELSE 0 END
      |              + CASE WHEN d > pd THEN 1::BIGINT << (15 + b) ELSE 0 END)
      |           AS BIGINT) AS fhash
      |  FROM fp0 WHERE w >= 1
      |  GROUP BY doc_id, w),
      |stubfp AS (
      |  SELECT d.doc_id AS media_id, FALSE AS is_real, CAST(k AS INT) AS win_idx,
      |         ('0x'||substr(md5(d.text || ':aw' || k),1,15))::BIGINT
      |           % 1073741824 AS fhash
      |  FROM documents d CROSS JOIN range(0, 4) t(k)
      |  WHERE d.doc_id % 4 <> 0),
      |allfp AS MATERIALIZED (
      |  SELECT r.media_id, r.is_real,
      |         CAST(d2.frames // 64 - 1 AS BIGINT) AS n_windows,
      |         r.win_idx, r.fhash
      |  FROM realfp r JOIN d2 ON r.media_id = d2.doc_id
      |  UNION ALL
      |  SELECT media_id, is_real, CAST(4 AS BIGINT) AS n_windows, win_idx, fhash
      |  FROM stubfp)""".stripMargin

  /** Unrolled Viterbi DP for the unigram oracle: CTEs `{p}0 … {p}L` hold
    * the best (score, path) per word prefix of length j — each cell
    * joins the ≤`pl` predecessor cells against the `vocab` piece-score
    * CTE and keeps rank 1 under `(score DESC, piece length DESC)`, the
    * exact tie rule of the native [[graft.functions.UnigramSegment]]
    * (fully deterministic: same score + same length ⇒ identical row).
    * `{p}fin` collects each word's full-length cell.
    */
  private def unigramDpCtes(p: String, vocab: String, srcWords: String,
      L: Int, pl: Int): String = {
    val sb = new StringBuilder
    sb.append(s"${p}0 AS (SELECT word, cnt, length(word) AS len,\n" +
      s"  CAST(0 AS BIGINT) AS sc, CAST([] AS VARCHAR[]) AS path FROM $srcWords),\n")
    for (j <- 1 to L) {
      val arms = (math.max(0, j - pl) until j).map(i =>
        s"SELECT word, cnt, len, sc, path, $i AS i FROM $p$i")
        .mkString("\n          UNION ALL ")
      sb.append(
        s"""$p$j AS MATERIALIZED (
           |  SELECT word, cnt, len, sc, path FROM (
           |    SELECT u.word, u.cnt, u.len, u.sc + v.lp AS sc,
           |           list_append(u.path, v.piece) AS path,
           |           row_number() OVER (PARTITION BY u.word
           |             ORDER BY u.sc + v.lp DESC, length(v.piece) DESC) AS rn
           |    FROM ($arms) u
           |    JOIN $vocab v ON v.piece = substr(u.word, u.i + 1, $j - u.i)
           |    WHERE u.len >= $j) WHERE rn = 1),
           |""".stripMargin)
    }
    sb.append((1 to L).map(j => s"SELECT word, cnt, path FROM $p$j WHERE len = $j")
      .mkString(s"${p}fin AS MATERIALIZED (\n  ", "\n  UNION ALL ", ")"))
    sb.toString
  }

  /** Unrolled greedy longest-match chain for the WordPiece oracle: CTEs
    * `{p}0 … {p}L` hold (word, len, pos, ntok) — characters consumed and
    * tokens emitted so far. Each step advances every in-progress word by
    * its LONGEST matching `vocab` piece at `pos` (a join on
    * piece = substr(word, pos+1, length(piece)), then max(length)); a
    * word with NO match at `pos` collapses to `ntok = 1` — canonical
    * WordPiece [UNK] semantics, matching the native
    * [[graft.functions.WordPieceSegment]]. Every advance consumes ≥ 1
    * character, so `L = maxWordLen` steps suffice; `{p}fin` is the
    * finished (word, ntok) table.
    */
  private def wordpieceCtes(p: String, vocab: String, srcWords: String,
      L: Int): String = {
    val sb = new StringBuilder
    sb.append(s"${p}0 AS (SELECT word, length(word) AS len,\n" +
      s"  CAST(0 AS INT) AS pos, CAST(0 AS BIGINT) AS ntok FROM $srcWords),\n")
    for (j <- 1 to L) {
      sb.append(
        s"""$p$j AS MATERIALIZED (
           |  SELECT word, len, pos, ntok FROM $p${j - 1} WHERE pos >= len
           |  UNION ALL
           |  SELECT u.word, u.len,
           |         CAST(u.pos + max(length(v.piece)) AS INT) AS pos,
           |         u.ntok + 1 AS ntok
           |  FROM $p${j - 1} u JOIN $vocab v
           |    ON v.piece = substr(u.word, u.pos + 1, length(v.piece))
           |  WHERE u.pos < u.len
           |  GROUP BY u.word, u.len, u.pos, u.ntok
           |  UNION ALL
           |  SELECT u.word, u.len, u.len AS pos, CAST(1 AS BIGINT) AS ntok
           |  FROM $p${j - 1} u
           |  WHERE u.pos < u.len AND NOT EXISTS (
           |    SELECT 1 FROM $vocab v
           |    WHERE v.piece = substr(u.word, u.pos + 1, length(v.piece)))),
           |""".stripMargin)
    }
    sb.append(s"${p}fin AS MATERIALIZED (SELECT word, ntok FROM $p$L)")
    sb.toString
  }

  private val CtTopN = 50
  private val CtMaxN = 3
  private val CtHoldoutMod = 5

  /** The CT classification CTEs (held-out doc profiles → out-of-place
    * distances → argmin `pick(doc_id, pred_lang, dist)`), shared by
    * `ct_lang_id` and `ct_lang_fertility`.
    */
  private lazy val ctPickBody: String =
    s"""dprof AS (SELECT doc_id, gram, rnk FROM (
      |    SELECT doc_id, gram,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY count(*) DESC, gram) AS rnk
      |    FROM g2 WHERE doc_id % $CtHoldoutMod = 0
      |    GROUP BY doc_id, gram) t
      |  WHERE rnk <= $CtTopN),
      |langs AS (SELECT DISTINCT lang FROM prof),
      |dist AS (SELECT d.doc_id, l.lang,
      |    CAST(sum(coalesce(abs(d.rnk - p.rnk), $CtTopN)) AS BIGINT) AS dist
      |  FROM dprof d CROSS JOIN langs l
      |  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
      |  GROUP BY 1, 2),
      |pick AS (SELECT doc_id, lang AS pred_lang, dist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY dist, lang) AS rn FROM dist) t WHERE rn = 1)""".stripMargin

  private val NbBuckets = 256
  private val NbHoldoutMod = 5

  /** Shared oracle CTE chain for the NB quality family: hashed-unigram
    * per-class token counts over the training split and the full
    * [[NbBuckets]]-row smoothed weight table
    * `w(bucket, n_pos, n_neg, lp_pos, lp_neg)` — the exact replay of
    * [[TextOps.nbQualityTrain]] (portable md5-60 bucket hash, add-one
    * smoothing, micro-nat quantization). The body is separate from the
    * `WITH` keyword so `nb_survivors` can prepend `WITH RECURSIVE`.
    */
  private val nbPrefixSql: String = "WITH " + nbPrefixBody
  private lazy val nbPrefixBody: String =
    s"""tok AS (SELECT curated, word FROM (
      |    SELECT CAST(substr(source, 4) AS INT) < 10 AS curated,
      |      unnest(string_split_regex(text, '\\s+')) AS word
      |    FROM documents WHERE doc_id % $NbHoldoutMod <> 0) t
      |  WHERE word <> ''),
      |bt AS (SELECT curated,
      |         ('0x'||substr(md5(word),1,15))::BIGINT % $NbBuckets AS bucket
      |       FROM tok),
      |cnt AS (SELECT bucket,
      |          CAST(sum(CASE WHEN curated THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |          CAST(sum(CASE WHEN curated THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |        FROM bt GROUP BY bucket),
      |tot AS (SELECT CAST(coalesce(sum(n_pos), 0) AS BIGINT) AS tot_pos,
      |               CAST(coalesce(sum(n_neg), 0) AS BIGINT) AS tot_neg
      |        FROM cnt),
      |w AS MATERIALIZED (
      |  SELECT r.b AS bucket,
      |         coalesce(cnt.n_pos, 0) AS n_pos,
      |         coalesce(cnt.n_neg, 0) AS n_neg,
      |         CAST(round(ln((coalesce(cnt.n_pos, 0) + 1)::DOUBLE
      |           / (tot_pos + $NbBuckets)) * 1e6) AS BIGINT) AS lp_pos,
      |         CAST(round(ln((coalesce(cnt.n_neg, 0) + 1)::DOUBLE
      |           / (tot_neg + $NbBuckets)) * 1e6) AS BIGINT) AS lp_neg
      |  FROM range(0, $NbBuckets) r(b) LEFT JOIN cnt ON cnt.bucket = r.b,
      |       tot)""".stripMargin

  /** Shared oracle CTE chain for the Cavnar–Trenkle lang-ID family: the
    * per-word character n-gram explode `g2(doc_id, lang, gram)` (lengths
    * 1..[[CtMaxN]]) and the trained rank-profile table
    * `prof(lang, gram, rnk, n_occ)` — top [[CtTopN]] grams per language
    * from the training split, ranked by (count desc, gram asc). The body
    * is separate from the `WITH` keyword so `ct_lang_fertility` can
    * append it to the unigram chain.
    */
  private val ctGramPrefixSql: String = "WITH " + ctGramBody
  private lazy val ctGramBody: String =
    s"""wt AS (SELECT doc_id, lang, word FROM (
      |    SELECT doc_id, lang,
      |      unnest(string_split_regex(text, '\\s+')) AS word
      |    FROM documents) t WHERE word <> ''),
      |g1 AS (SELECT doc_id, lang, word,
      |         CAST(unnest(range(1, least($CtMaxN, length(word)) + 1)) AS INT) AS n
      |       FROM wt),
      |g2 AS (SELECT doc_id, lang, substr(word, CAST(i AS INT), n) AS gram
      |       FROM (SELECT *, unnest(range(1, length(word) - n + 2)) AS i
      |             FROM g1) t),
      |prof AS MATERIALIZED (SELECT lang, gram, rnk, CAST(n_occ AS BIGINT) AS n_occ FROM (
      |    SELECT lang, gram, count(*) AS n_occ,
      |      row_number() OVER (PARTITION BY lang
      |        ORDER BY count(*) DESC, gram) AS rnk
      |    FROM g2 WHERE doc_id % $CtHoldoutMod <> 0
      |    GROUP BY lang, gram) t
      |  WHERE rnk <= $CtTopN)""".stripMargin

  private val UniSeedMulti = 40
  private val UniKeepMulti = 20
  private val UniPieceLen = 4
  private val UniWordLen = 12

  /** Shared oracle CTE chain replaying [[TextOps.unigramVocab]]'s whole
    * EM run: seed scores → `lp0` → DP pass `a` → usage/prune → `lp1` →
    * DP pass `b`. Ends with `bfin(word, cnt, path)`, `v1(piece)`,
    * `u2(piece, usage)`.
    */
  private val unigramPrefixSql: String = {
    val (sm, km, pl, wl) = (UniSeedMulti, UniKeepMulti, UniPieceLen, UniWordLen)
    s"""WITH toks AS (SELECT unnest(string_split_regex(text, '\\s+')) AS word
      |              FROM documents),
      |uwc AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks
      |  WHERE word <> '' AND length(word) <= $wl AND NOT contains(word, chr(1))
      |  GROUP BY word),
      |sub1 AS (SELECT cnt, word,
      |           CAST(unnest(range(1, length(word) + 1)) AS INT) AS i FROM uwc),
      |sub2 AS (SELECT cnt, word, i,
      |           CAST(unnest(range(1, 1 + least($pl, length(word) - i + 1))) AS INT) AS l
      |         FROM sub1),
      |seeds AS (SELECT substr(word, i, l) AS piece,
      |            CAST(sum(cnt) AS BIGINT) AS sc FROM sub2 GROUP BY 1),
      |chars AS MATERIALIZED (SELECT piece, sc FROM seeds WHERE length(piece) = 1),
      |mseed AS MATERIALIZED (SELECT piece, sc FROM seeds WHERE length(piece) > 1
      |                       ORDER BY sc DESC, piece LIMIT $sm),
      |v0 AS (SELECT piece, sc FROM chars UNION ALL SELECT piece, sc FROM mseed),
      |t0 AS (SELECT CAST(sum(sc) AS BIGINT) AS total FROM v0),
      |lp0 AS MATERIALIZED (
      |  SELECT piece, CAST(round(ln(sc::DOUBLE / total) * 1e6) AS BIGINT) AS lp
      |  FROM v0, t0),
      |${unigramDpCtes("a", "lp0", "uwc", wl, pl)},
      |u1 AS MATERIALIZED (
      |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS u FROM (
      |    SELECT cnt, unnest(path) AS piece FROM afin) GROUP BY piece),
      |kept AS (SELECT piece FROM (
      |  SELECT mseed.piece, coalesce(u1.u, 0) AS u
      |  FROM mseed LEFT JOIN u1 USING (piece)
      |  ORDER BY u DESC, piece LIMIT $km)),
      |v1 AS MATERIALIZED (SELECT piece FROM chars
      |                    UNION ALL SELECT piece FROM kept),
      |t1 AS (SELECT CAST(sum(coalesce(u1.u, 0)) AS BIGINT) AS total,
      |              count(*) AS nv
      |       FROM v1 LEFT JOIN u1 USING (piece)),
      |lp1 AS MATERIALIZED (
      |  SELECT v1.piece, CAST(round(
      |      ln((coalesce(u1.u, 0) + 1)::DOUBLE / (total + nv)) * 1e6) AS BIGINT) AS lp
      |  FROM v1 LEFT JOIN u1 USING (piece), t1),
      |${unigramDpCtes("b", "lp1", "uwc", wl, pl)},
      |u2 AS MATERIALIZED (
      |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS usage FROM (
      |    SELECT cnt, unnest(path) AS piece FROM bfin) GROUP BY piece)""".stripMargin
  }

  /** Oracle replay of [[Similarity.mmrRerank]]: brute cosine pool, then
    * each greedy round unrolled — round j scores the not-yet-selected
    * pool rows by `λ·sq − (100−λ)·max(sim to selected)` and keeps rank 1
    * per query (ties on nbr_id). All integers after the shared
    * 4dp-cosine quantization.
    */
  private def mmrOracle(k: Int, pool: Int, lpct: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
        |bs AS (SELECT query_id, n.vec_id AS nbr_id,
        |         CASE WHEN qn * nrm = 0 THEN -1.0
        |              ELSE round(list_dot_product(qv, v) / (qn * nrm), 4) END AS sim
        |       FROM q CROSS JOIN n WHERE n.vec_id <> query_id),
        |cand AS MATERIALIZED (
        |  SELECT query_id, nbr_id, CAST(round(sim * 10000) AS BIGINT) AS sq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |              ORDER BY sim DESC, nbr_id) AS rnk FROM bs) t
        |  WHERE rnk <= $pool),
        |cc AS MATERIALIZED (
        |  SELECT x.query_id, x.nbr_id AS a, y.nbr_id AS b,
        |    CAST(round((CASE WHEN na.nrm * nb.nrm = 0 THEN -1.0
        |      ELSE round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4) END)
        |      * 10000) AS BIGINT) AS s
        |  FROM cand x JOIN cand y
        |    ON x.query_id = y.query_id AND x.nbr_id <> y.nbr_id
        |  JOIN n na ON na.vec_id = x.nbr_id
        |  JOIN n nb ON nb.vec_id = y.nbr_id),
        |s1 AS (SELECT query_id, nbr_id, CAST(1 AS INT) AS mmr_rank,
        |         CAST($lpct * sq AS BIGINT) AS score_scaled FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sq DESC, nbr_id) AS rn FROM cand) t WHERE rn = 1),
        |a1 AS MATERIALIZED (SELECT query_id, nbr_id FROM s1),
        |""".stripMargin)
    for (j <- 2 to k) {
      sb.append(
        s"""r$j AS (SELECT c.query_id, c.nbr_id, c.sq, CAST(max(cc.s) AS BIGINT) AS ms
           |  FROM cand c
           |  JOIN cc ON cc.query_id = c.query_id AND cc.a = c.nbr_id
           |  JOIN a${j - 1} s ON s.query_id = cc.query_id AND s.nbr_id = cc.b
           |  WHERE NOT EXISTS (SELECT 1 FROM a${j - 1} z
           |    WHERE z.query_id = c.query_id AND z.nbr_id = c.nbr_id)
           |  GROUP BY 1, 2, 3),
           |s$j AS (SELECT query_id, nbr_id, CAST($j AS INT) AS mmr_rank,
           |          CAST($lpct * sq - ${100 - lpct} * ms AS BIGINT) AS score_scaled FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY $lpct * sq - ${100 - lpct} * ms DESC, nbr_id) AS rn
           |  FROM r$j) t WHERE rn = 1),
           |a$j AS MATERIALIZED (SELECT query_id, nbr_id FROM a${j - 1}
           |  UNION ALL SELECT query_id, nbr_id FROM s$j),
           |""".stripMargin)
    }
    sb.append("fin AS (" +
      (1 to k).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ") + ")\n")
    sb.append("SELECT query_id, nbr_id, mmr_rank, score_scaled FROM fin")
    sb.toString
  }

  private val PcDims = 64
  private val PcSeed = math.round(1e6 / math.sqrt(PcDims)) // 125000 for 64

  private def requirePcDims(s: SparkSession, d: String): Unit = {
    val dims = Tables.embeddings(s, d)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    require(dims == PcDims,
      s"power-iteration oracle is unrolled for $PcDims dims; fixture has " +
        s"$dims — regenerate pcPrefixSql (PcDims) for the new fixture")
  }

  /** Shared CTE chain for the power-iteration family: micro-unit
    * quantized centered matrix `x(vec_id, i, xi)` and the 2-round unit
    * PC `v2(i, vi)` — the DuckDB replay of
    * `Similarity.powerIteration`. */
  private val pcPrefixSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |d0 AS (SELECT vec_id, unnest(v) AS x,
      |              unnest(range(0, len(v))) AS i FROM e),
      |m AS (SELECT i, round(avg(x), 6) AS mu FROM d0 GROUP BY i),
      |x AS (SELECT vec_id, d0.i,
      |             CAST(round((x - mu) * 1e6) AS BIGINT) AS xi
      |      FROM d0 JOIN m USING (i)),
      |v0 AS (SELECT unnest(range(0, $PcDims)) AS i, $PcSeed::BIGINT AS vi),
      |p1 AS (SELECT vec_id, CAST(sum(xi * vi) AS BIGINT) AS p
      |       FROM x JOIN v0 USING (i) GROUP BY vec_id),
      |w1 AS (SELECT i, sum(xi::HUGEINT * p::HUGEINT) AS w
      |       FROM x JOIN p1 USING (vec_id) GROUP BY i),
      |n1 AS (SELECT sqrt(list_reduce(
      |         [y * y FOR y IN list(w::DOUBLE ORDER BY i)],
      |         (a, b) -> a + b)) AS nrm FROM w1),
      |v1 AS (SELECT i, CAST(round(w::DOUBLE / nrm * 1e6) AS BIGINT) AS vi
      |       FROM w1, n1),
      |p2 AS (SELECT vec_id, CAST(sum(xi * vi) AS BIGINT) AS p
      |       FROM x JOIN v1 USING (i) GROUP BY vec_id),
      |w2 AS (SELECT i, sum(xi::HUGEINT * p::HUGEINT) AS w
      |       FROM x JOIN p2 USING (vec_id) GROUP BY i),
      |n2 AS (SELECT sqrt(list_reduce(
      |         [y * y FOR y IN list(w::DOUBLE ORDER BY i)],
      |         (a, b) -> a + b)) AS nrm FROM w2),
      |v2 AS (SELECT i, CAST(round(w::DOUBLE / nrm * 1e6) AS BIGINT) AS vi
      |       FROM w2, n2)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "word_count" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin,
    "inverted_index" ->
      """SELECT word, doc_id, count(*) AS n_occ
        |FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word, doc_id""".stripMargin,
    "inverted_index_pos" ->
      """SELECT word, doc_id, pos FROM (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word,
        |         unnest(range(1, len(string_split_regex(text, '\s+')) + 1)) AS pos
        |  FROM documents) t
        |WHERE word <> ''""".stripMargin,
    "col_agg" ->
      """SELECT round(sum(l_quantity), 2) AS sum_qty, round(avg(l_quantity), 4) AS avg_qty,
        |round(sum(l_extendedprice), 2) AS sum_price, round(avg(l_extendedprice), 4) AS avg_price,
        |round(sum(l_discount), 4) AS sum_disc, round(sum(l_tax), 4) AS sum_tax, count(*) AS n
        |FROM lineitem""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base_price,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price,
        |round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """WITH r AS (
        |  SELECT l_orderkey AS orderkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |         o_orderdate, o_orderpriority
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |       JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1997-06-01'
        |    AND l_shipdate > TIMESTAMP '1997-06-01'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority)
        |SELECT orderkey, revenue, o_orderdate, o_orderpriority, rnk FROM (
        |  SELECT *, row_number() OVER (ORDER BY revenue DESC, orderkey) AS rnk FROM r) s
        |WHERE rnk <= 10""".stripMargin,
    "q5_region" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "join_semi" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |GROUP BY o_orderpriority""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin,
    "window_running" ->
      """SELECT o_custkey, o_orderkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders""".stripMargin,
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "set_ops" ->
      """SELECT k, 'active_rich' AS tag FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |  INTERSECT SELECT o_custkey AS k FROM orders) a
        |UNION ALL
        |SELECT k, 'inactive_rich' AS tag FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |  EXCEPT SELECT o_custkey AS k FROM orders) b""".stripMargin,
    "topk_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rnk FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
        |  FROM lineitem) t WHERE rnk <= 20""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_json" ->
      """SELECT event_type, CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n FROM events GROUP BY event_type""".stripMargin,
    "json_struct" ->
      """SELECT event_type,
        |CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 0 AS k_even,
        |count(*) AS n,
        |CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin,
    "anomalies" ->
      """WITH stats AS (
        |  SELECT event_type AS t, avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, round((value - mu) / sigma, 4) AS z
        |FROM events JOIN stats ON event_type = t
        |WHERE sigma > 0 AND abs(round((value - mu) / sigma, 4)) >= 3.0""".stripMargin,
    "cohort_retention" ->
      """WITH first_seen AS (
        |  SELECT user_id, min(date_trunc('day', ts)) AS cohort FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
        |SELECT CAST(epoch(cohort) AS BIGINT) AS cohort_epoch,
        |       CAST(date_diff('day', cohort, d) AS INT) AS day_offset,
        |       count(*) AS n_users
        |FROM activity JOIN first_seen USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "funnel" ->
      """WITH ev AS (SELECT user_id, event_type, ts FROM events
        |            WHERE event_type IN ('view','click','purchase')),
        |v AS (SELECT user_id, min(ts) AS t_view FROM ev WHERE event_type = 'view'
        |      GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > t_view
        |        AND e.ts <= t_view + INTERVAL 24 HOUR GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > t_click
        |        AND e.ts <= t_click + INTERVAL 24 HOUR GROUP BY e.user_id)
        |SELECT 1 AS stage, 'view' AS name, count(*) AS n FROM v
        |UNION ALL SELECT 2, 'view>click', count(*) FROM c
        |UNION ALL SELECT 3, 'view>click>purchase', count(*) FROM p""".stripMargin,
    "sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 0
        |         WHEN date_diff('microsecond',
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
        |              > 1800000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |per_sess AS (
        |  SELECT user_id, sid, count(*) AS n_events FROM sess GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |       CAST(sum(n_events) AS BIGINT) AS n_events_total
        |FROM per_sess GROUP BY user_id""".stripMargin,
    "token_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id, len(tk) AS n_tokens,
        |len(list_distinct(tk)) AS n_uniq,
        |round(len(list_distinct(tk))::DOUBLE / len(tk), 4) AS ttr,
        |round(length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
        |      / len(tk), 4) AS mean_tok_len
        |FROM t""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id, length(text) AS n_chars_actual,
        |len(tk) AS n_tokens,
        |round(len(list_filter(tk,
        |      x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))::DOUBLE
        |      / len(tk), 4) AS stopword_ratio,
        |round(len(list_filter(tk, x -> length(x) <= 2))::DOUBLE
        |      / len(tk), 4) AS short_tok_ratio
        |FROM t""".stripMargin,
    "lex_diversity" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |    AS word FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c FROM toks GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |          count(*) AS n_types,
        |          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_hapax
        |        FROM wc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(n_types, 0)::BIGINT AS n_types,
        |       round(n_types::DOUBLE / n_tokens, 6) AS ttr,
        |       round(n_hapax::DOUBLE / n_types, 6) AS hapax_ratio
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,
    "vocab_coverage" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |    AS word FROM documents),
        |vc AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
        |vocab AS (SELECT word FROM vc ORDER BY c DESC, word ASC LIMIT 16)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       CAST(count(v.word) AS BIGINT) AS n_covered,
        |       round(1.0 - count(v.word)::DOUBLE / count(*), 6) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.word = v.word
        |GROUP BY t.doc_id""".stripMargin,
    "rep_signals" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |  WHERE len(string_split_regex(text, '\s+')) >= 2),
        |g AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i FROM t)),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
        |SELECT doc_id,
        |  round(1 - count(*)::DOUBLE / sum(c)::DOUBLE, 4) AS dup_bigram_frac,
        |  round(max(c)::DOUBLE / sum(c)::DOUBLE, 4) AS top_bigram_frac
        |FROM c GROUP BY doc_id""".stripMargin,
    "entropy" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |w AS (SELECT doc_id, unnest(toks) AS word, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, word, max(n) AS n, count(*) AS c FROM w GROUP BY doc_id, word),
        |i AS (SELECT doc_id, n,
        |        CAST(round((c::DOUBLE/n) * log2(c::DOUBLE/n) * -1e6, 0) AS BIGINT) AS it
        |      FROM c)
        |SELECT doc_id, max(n) AS n_tokens,
        |       CAST(round(sum(it)/100.0, 0) AS BIGINT)/10000.0 AS entropy_bits
        |FROM i GROUP BY doc_id""".stripMargin,
    // curriculum_bins: entropy ranking replayed via window row_number;
    // bin assignment is pure integer math ((rank-1)*10 // n)
    "curriculum_bins" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |w AS (SELECT doc_id, unnest(toks) AS word, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, word, max(n) AS n, count(*) AS c FROM w GROUP BY doc_id, word),
        |i AS (SELECT doc_id, n,
        |        CAST(round((c::DOUBLE/n) * log2(c::DOUBLE/n) * -1e6, 0) AS BIGINT) AS it
        |      FROM c),
        |e AS (SELECT doc_id,
        |        CAST(round(sum(it)/100.0, 0) AS BIGINT)/10000.0 AS entropy_bits
        |      FROM i GROUP BY doc_id),
        |r AS (SELECT doc_id, entropy_bits,
        |        row_number() OVER (ORDER BY entropy_bits, doc_id) AS rank,
        |        count(*) OVER () AS n
        |      FROM e)
        |SELECT doc_id, entropy_bits, CAST(rank AS BIGINT) AS rank,
        |       CAST((rank - 1) * 10 // n AS BIGINT) AS bin
        |FROM r""".stripMargin,
    "lm_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT count(DISTINCT word) AS vs
        |      FROM (SELECT unnest(toks) AS word FROM t)),
        |-- LEFT JOIN big + coalesce replays the add-one smoothing for
        |-- bigrams absent from the LM, so this SQL stays correct for the
        |-- reference-corpus lmPerplexity(docs, lmCorpus) variant too (in
        |-- the self-corpus case here every doc bigram is in the LM and the
        |-- coalesce never fires); unknown-context bigrams still drop via
        |-- the inner uni join, matching the Spark plan
        |terms AS (SELECT bg.doc_id,
        |            CAST(round(log2((coalesce(big.c12, 0) + 1) / (uni.c1 + v.vs)::DOUBLE) * -1e6, 0)
        |                 AS BIGINT) AS it
        |          FROM bg LEFT JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(round(sum(it) / (count(*) * 100.0), 0) AS BIGINT) / 10000.0 AS bits_per_token
        |FROM terms GROUP BY doc_id""".stripMargin,
    // interpolated KN bigram replay: exact integer numerator/denominator
    // (d = 3/4 cleared by the x4 scaling), one double division + log2
    "kn_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |               CAST(count(*) AS BIGINT) AS l1 FROM big GROUP BY w1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS r2 FROM big GROUP BY w2),
        |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS tt,
        |              (SELECT CAST(count(DISTINCT word) AS BIGINT)
        |               FROM (SELECT unnest(toks) AS word FROM t)) AS vs),
        |terms AS (SELECT bg.doc_id,
        |            CAST(round(log2(
        |              (greatest(4 * coalesce(big.c12, 0) - 3, 0) * (tt + vs)
        |               + 3 * ctx.l1 * (coalesce(cont.r2, 0) + 1))
        |              / (4 * ctx.c1 * (tt + vs))::DOUBLE) * -1e6, 0)
        |              AS BIGINT) AS it
        |          FROM bg LEFT JOIN big USING (w1, w2) JOIN ctx USING (w1)
        |          LEFT JOIN cont USING (w2) CROSS JOIN tv)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(round(sum(it) / (count(*) * 100.0), 0) AS BIGINT) / 10000.0
        |         AS kn_bits_per_token
        |FROM terms GROUP BY doc_id""".stripMargin,
    // interpolated trigram KN replay: the bigram chain above plus the
    // trigram/context tables; one exact integer numerator/denominator per
    // scored trigram (d = 3/4 cleared by the x4/x16 scaling), one double
    // division + log2 — unknown contexts drop via the inner ctx3 join
    "kn3_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
        |ctx2 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
        |                CAST(count(*) AS BIGINT) AS l1 FROM big GROUP BY w1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS r2 FROM big GROUP BY w2),
        |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS tt,
        |              (SELECT CAST(count(DISTINCT word) AS BIGINT)
        |               FROM (SELECT unnest(toks) AS word FROM t)) AS vs),
        |tg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
        |             FROM t WHERE len(toks) >= 3)),
        |tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
        |        FROM tg GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
        |                CAST(count(*) AS BIGINT) AS l12 FROM tri GROUP BY 1, 2),
        |terms AS (SELECT tg.doc_id,
        |            CAST(round(log2(
        |              (greatest(4 * coalesce(tri.c123, 0) - 3, 0)
        |                 * (4 * ctx2.c1 * (tt + vs))
        |               + 3 * ctx3.l12
        |                 * (greatest(4 * coalesce(b2.c2, 0) - 3, 0) * (tt + vs)
        |                    + 3 * ctx2.l1 * (coalesce(cont.r2, 0) + 1)))
        |              / (16 * ctx3.c12 * ctx2.c1 * (tt + vs))::DOUBLE) * -1e6, 0)
        |              AS BIGINT) AS it
        |          FROM tg LEFT JOIN tri USING (w1, w2, w3)
        |          JOIN ctx3 USING (w1, w2)
        |          LEFT JOIN big b2 ON b2.w1 = tg.w2 AND b2.w2 = tg.w3
        |          JOIN ctx2 ON ctx2.w1 = tg.w2
        |          LEFT JOIN cont ON cont.w2 = tg.w3
        |          CROSS JOIN tv)
        |SELECT doc_id, count(*) AS n_trigrams,
        |       CAST(round(sum(it) / (count(*) * 100.0), 0) AS BIGINT) / 10000.0
        |         AS kn3_bits_per_token
        |FROM terms GROUP BY doc_id""".stripMargin,
    // kn_gap: both KN replays above merged over ONE shared token/bigram/
    // trigram chain, each order rounded to its integer 1e-4-bit value
    // FIRST, gap = the integer difference divided back once — exactly the
    // Spark side's grid subtraction, no double-subtraction noise
    "kn_gap" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
        |ctx2 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
        |                CAST(count(*) AS BIGINT) AS l1 FROM big GROUP BY w1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS r2 FROM big GROUP BY w2),
        |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS tt,
        |              (SELECT CAST(count(DISTINCT word) AS BIGINT)
        |               FROM (SELECT unnest(toks) AS word FROM t)) AS vs),
        |tg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
        |             FROM t WHERE len(toks) >= 3)),
        |tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
        |        FROM tg GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
        |                CAST(count(*) AS BIGINT) AS l12 FROM tri GROUP BY 1, 2),
        |bterms AS (SELECT bg.doc_id,
        |             CAST(round(log2(
        |               (greatest(4 * coalesce(big.c2, 0) - 3, 0) * (tt + vs)
        |                + 3 * ctx2.l1 * (coalesce(cont.r2, 0) + 1))
        |               / (4 * ctx2.c1 * (tt + vs))::DOUBLE) * -1e6, 0)
        |               AS BIGINT) AS it
        |           FROM bg LEFT JOIN big USING (w1, w2) JOIN ctx2 USING (w1)
        |           LEFT JOIN cont USING (w2) CROSS JOIN tv),
        |b2 AS (SELECT doc_id, count(*) AS n_bigrams,
        |         CAST(round(sum(it) / (count(*) * 100.0), 0) AS BIGINT) AS l2
        |       FROM bterms GROUP BY doc_id),
        |tterms AS (SELECT tg.doc_id,
        |             CAST(round(log2(
        |               (greatest(4 * coalesce(tri.c123, 0) - 3, 0)
        |                  * (4 * ctx2.c1 * (tt + vs))
        |                + 3 * ctx3.l12
        |                  * (greatest(4 * coalesce(bb.c2, 0) - 3, 0) * (tt + vs)
        |                     + 3 * ctx2.l1 * (coalesce(cont.r2, 0) + 1)))
        |               / (16 * ctx3.c12 * ctx2.c1 * (tt + vs))::DOUBLE) * -1e6, 0)
        |               AS BIGINT) AS it
        |           FROM tg LEFT JOIN tri USING (w1, w2, w3)
        |           JOIN ctx3 USING (w1, w2)
        |           LEFT JOIN big bb ON bb.w1 = tg.w2 AND bb.w2 = tg.w3
        |           JOIN ctx2 ON ctx2.w1 = tg.w2
        |           LEFT JOIN cont ON cont.w2 = tg.w3
        |           CROSS JOIN tv),
        |b3 AS (SELECT doc_id, count(*) AS n_trigrams,
        |         CAST(round(sum(it) / (count(*) * 100.0), 0) AS BIGINT) AS l3
        |       FROM tterms GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_trigrams,
        |       l2 / 10000.0 AS kn_bits_per_token,
        |       l3 / 10000.0 AS kn3_bits_per_token,
        |       (l3 - l2) / 10000.0 AS gap_bits
        |FROM b2 JOIN b3 USING (doc_id)""".stripMargin,
    "source_kl" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(text, '\s+')) AS word
        |             FROM documents),
        |bysrc AS (SELECT source, word, count(*) AS cs FROM tok GROUP BY source, word),
        |ns AS (SELECT source, word, cs, sum(cs) OVER (PARTITION BY source) AS ns
        |       FROM bysrc),
        |corpus AS (SELECT word, count(*) AS cc FROM tok GROUP BY word),
        |t AS (SELECT count(*) AS nc FROM tok),
        |terms AS (SELECT source,
        |    CAST(round((cs / ns::DOUBLE)
        |      * log2((cs / ns::DOUBLE) / (cc / nc::DOUBLE)) * 1e6, 0) AS BIGINT) AS it
        |  FROM ns JOIN corpus USING (word) CROSS JOIN t)
        |SELECT source, CAST(round(sum(it)/100.0, 0) AS BIGINT)/10000.0 AS kl_bits
        |FROM terms GROUP BY source""".stripMargin,
    "dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
        |           WHERE len(string_split_regex(text, '\s+')) >= 8),
        |sp AS (SELECT doc_id,
        |         ('0x'||substr(md5(array_to_string(toks[i:i+7], ' ')),1,15))::BIGINT AS h
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-7)) AS i
        |             FROM t)),
        |c AS (SELECT h, count(*) AS c FROM sp GROUP BY h HAVING count(*) > 1)
        |SELECT doc_id, count(*) AS n_spans, count(c.c) AS n_dup_spans
        |FROM sp LEFT JOIN c USING (h) GROUP BY doc_id""".stripMargin,
    // dup_substrings: the same sorted-suffix construction replayed in SQL —
    // chr(1)-joined w-truncated suffixes, lead() over the byte-lex sort,
    // one token-LCP per adjacent pair credited to both endpoints, max per
    // position, per-doc rollup. Pure integers end to end.
    "dup_substrings" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |sfx AS (SELECT doc_id, i,
        |          LEAST(32, len(toks) - i + 1) AS sl,
        |          array_to_string(toks[i : i + 31], chr(1)) AS s
        |        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)),
        |ord AS (SELECT doc_id, i, sl, s,
        |          lead(s) OVER (ORDER BY s, doc_id, i) AS s2,
        |          row_number() OVER (ORDER BY s, doc_id, i) AS p
        |        FROM sfx),
        |pl AS (SELECT p,
        |         CASE WHEN s = s2 THEN len(string_split(s, chr(1)))
        |           ELSE list_position(
        |             list_transform(
        |               range(1, GREATEST(len(string_split(s, chr(1))),
        |                                 len(string_split(s2, chr(1)))) + 1),
        |               j -> coalesce(string_split(s, chr(1))[j] = string_split(s2, chr(1))[j], FALSE)),
        |             FALSE) - 1 END AS lcp
        |       FROM ord WHERE s2 IS NOT NULL),
        |contrib AS (SELECT p, lcp FROM pl UNION ALL SELECT p + 1 AS p, lcp FROM pl),
        |dl AS (SELECT p, max(lcp) AS dl FROM contrib GROUP BY p)
        |SELECT doc_id, count(*) AS n_suffixes,
        |       CAST(max(coalesce(dl, 0)) AS BIGINT) AS max_dup_len,
        |       CAST(sum(CASE WHEN sl >= 8 AND coalesce(dl, 0) >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans8
        |FROM ord LEFT JOIN dl USING (p)
        |GROUP BY doc_id""".stripMargin,
    // decontam_substrings: train+bench suffixes sort together; per train
    // suffix, LCP to the nearest bench suffix above/below = segmented
    // cumulative min of adjacent LCPs (segment id = running bench count;
    // the reverse direction reuses B - seg_up + side instead of a second
    // global sort). Bench rows contribute NULL so each segment's scan
    // starts after its opening bench suffix.
    "decontam_substrings" ->
      """WITH t AS MATERIALIZED (SELECT doc_id,
        |          CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS side,
        |          string_split_regex(text, '\s+') AS toks FROM documents),
        |sfx AS (SELECT doc_id, side, i, LEAST(32, len(toks) - i + 1) AS sl,
        |          array_to_string(toks[i : i + 31], chr(1)) AS s
        |        FROM (SELECT doc_id, side, toks,
        |                unnest(generate_series(1, len(toks))) AS i FROM t)),
        |b AS (SELECT CAST(sum(side) AS BIGINT) AS nb FROM sfx),
        |ord AS MATERIALIZED (SELECT doc_id, side, i, sl, s,
        |          lag(s) OVER w AS sp, lead(s) OVER w AS sn,
        |          row_number() OVER w AS p,
        |          CAST(sum(side) OVER (ORDER BY s, side, doc_id, i
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg_up
        |        FROM sfx WINDOW w AS (ORDER BY s, side, doc_id, i)),
        |g AS MATERIALIZED (SELECT ord.*, b.nb - seg_up + side AS seg_dn,
        |         CASE WHEN sp IS NULL THEN NULL
        |              WHEN sp = s THEN len(string_split(sp, chr(1)))
        |              ELSE list_position(list_transform(
        |                range(1, GREATEST(len(string_split(sp, chr(1))),
        |                                  len(string_split(s, chr(1)))) + 1),
        |                j -> coalesce(string_split(sp, chr(1))[j] = string_split(s, chr(1))[j], FALSE)),
        |                FALSE) - 1 END AS gp,
        |         CASE WHEN sn IS NULL THEN NULL
        |              WHEN sn = s THEN len(string_split(sn, chr(1)))
        |              ELSE list_position(list_transform(
        |                range(1, GREATEST(len(string_split(sn, chr(1))),
        |                                  len(string_split(s, chr(1)))) + 1),
        |                j -> coalesce(string_split(sn, chr(1))[j] = string_split(s, chr(1))[j], FALSE)),
        |                FALSE) - 1 END AS g2
        |       FROM ord CROSS JOIN b),
        |sc AS (SELECT doc_id, side, sl,
        |         CASE WHEN seg_up >= 1 THEN coalesce(
        |           min(CASE WHEN side = 1 THEN NULL ELSE gp END)
        |             OVER (PARTITION BY seg_up ORDER BY p
        |                   ROWS UNBOUNDED PRECEDING), 0) ELSE 0 END AS up_m,
        |         CASE WHEN seg_dn >= 1 THEN coalesce(
        |           min(CASE WHEN side = 1 THEN NULL ELSE g2 END)
        |             OVER (PARTITION BY seg_dn ORDER BY p DESC
        |                   ROWS UNBOUNDED PRECEDING), 0) ELSE 0 END AS dn_m
        |       FROM g)
        |SELECT doc_id, count(*) AS n_suffixes,
        |       CAST(max(GREATEST(up_m, dn_m)) AS BIGINT) AS max_shared_len,
        |       CAST(sum(CASE WHEN sl >= 8 AND GREATEST(up_m, dn_m) >= 8
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_contam_spans8
        |FROM sc WHERE side = 0 GROUP BY doc_id""".stripMargin,
    // substring_dedup: the same suffix/duplen chain, then duplicate-start
    // election on the exact 8-token prefix (min encoded (doc_id, i) keeps),
    // 8-token coverage per dropped start, and per-doc reassembly of the
    // uncovered tokens. MATERIALIZED on every multiply-referenced CTE —
    // the link_pred_core lesson
    "substring_dedup" ->
      """WITH t AS MATERIALIZED (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |sfx AS (SELECT doc_id, i,
        |          LEAST(32, len(toks) - i + 1) AS sl,
        |          array_to_string(toks[i : i + 31], chr(1)) AS s
        |        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)),
        |ord AS MATERIALIZED (SELECT doc_id, i, sl, s,
        |          lead(s) OVER (ORDER BY s, doc_id, i) AS s2,
        |          row_number() OVER (ORDER BY s, doc_id, i) AS p
        |        FROM sfx),
        |pl AS MATERIALIZED (SELECT p,
        |         CASE WHEN s = s2 THEN len(string_split(s, chr(1)))
        |           ELSE list_position(
        |             list_transform(
        |               range(1, GREATEST(len(string_split(s, chr(1))),
        |                                 len(string_split(s2, chr(1)))) + 1),
        |               j -> coalesce(string_split(s, chr(1))[j] = string_split(s2, chr(1))[j], FALSE)),
        |             FALSE) - 1 END AS lcp
        |       FROM ord WHERE s2 IS NOT NULL),
        |contrib AS (SELECT p, lcp FROM pl UNION ALL SELECT p + 1 AS p, lcp FROM pl),
        |dl AS (SELECT p, max(lcp) AS dl FROM contrib GROUP BY p),
        |st AS MATERIALIZED (SELECT o.doc_id, o.i,
        |         array_to_string(string_split(o.s, chr(1))[1:8], chr(1)) AS gk
        |       FROM ord o JOIN dl USING (p)
        |       WHERE o.sl >= 8 AND dl.dl >= 8),
        |-- first-occurrence election on the COMPOSITE (doc_id, i) — the
        |-- exact twin of the Spark side's min(struct(doc_id, i))
        |-- (TextOps.dupSubstrings): the former doc_id*1e7+i radix overflows
        |-- the i component on any document over 10M tokens and the two
        |-- sides would elect different keepers
        |el AS (SELECT doc_id, i,
        |         row_number() OVER (PARTITION BY gk ORDER BY doc_id, i) AS rn
        |       FROM st),
        |drp AS (SELECT doc_id, i FROM el WHERE rn <> 1),
        |cov AS MATERIALIZED (SELECT DISTINCT doc_id, i + k AS j
        |       FROM drp CROSS JOIN range(0, 8) r(k)),
        |tok AS (SELECT doc_id, j, toks[j] AS tk
        |        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS j FROM t)),
        |kept AS (SELECT tok.doc_id, count(*) AS n_kept,
        |           string_agg(tok.tk, ' ' ORDER BY tok.j) AS clean_text
        |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.j
        |         WHERE cov.j IS NULL GROUP BY tok.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id""".stripMargin,
    // seg_dedup: C4-style segment dedup + rewrite; first occurrence =
    // smallest (doc_id, position) per 60-bit segment hash, so the window
    // replay is exactly deterministic and the reassembled text is
    // byte-comparable
    "seg_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |seg AS (
        |  SELECT doc_id, s,
        |         array_to_string(toks[s*8+1 : LEAST((s+1)*8, len(toks))], ' ') AS seg
        |  FROM (SELECT doc_id, toks, unnest(range(0, CAST(ceil(len(toks)/8.0) AS INT))) AS s
        |        FROM t)),
        |f AS (
        |  SELECT doc_id, s, seg,
        |         row_number() OVER (
        |           PARTITION BY ('0x'||substr(md5(seg),1,15))::BIGINT
        |           ORDER BY doc_id, s) AS rn
        |  FROM seg)
        |SELECT doc_id, count(*) AS n_seg,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY s), '') AS clean_text
        |FROM f GROUP BY doc_id""".stripMargin,
    "mix_sources" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE ('0x'||substr(md5('mix:'||doc_id::VARCHAR),1,7))::BIGINT <
        |  CASE WHEN source = 'src0' THEN CAST(floor(268435456 * 0.25) AS BIGINT)
        |       WHEN source = 'src1' THEN CAST(floor(268435456 * 0.5) AS BIGINT)
        |       ELSE 268435456 END""".stripMargin,
    "decontam" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(text, '\s+') AS toks FROM documents
        |           WHERE len(string_split_regex(text, '\s+')) >= 3),
        |g AS (SELECT doc_id, source,
        |        unnest(list_distinct(list_transform(generate_series(1, len(toks)-2),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram FROM t),
        |b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
        |SELECT g.doc_id, count(*) AS n_contam_grams
        |FROM g JOIN b USING (gram) WHERE g.source <> 'src0'
        |GROUP BY g.doc_id HAVING count(*) >= 3""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '\s+'))), ' '))
        |AS fingerprint FROM documents""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin,
    "cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
        |s AS (SELECT query_id, e.vec_id AS nbr_id,
        |        CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)) = 0
        |             THEN -1.0
        |             ELSE round(list_dot_product(qv, v)
        |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
        |               4) END AS sim
        |      FROM q CROSS JOIN e WHERE e.vec_id <> query_id)
        |SELECT query_id, nbr_id, sim, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, nbr_id) AS rnk FROM s) t
        |WHERE rnk <= 5""".stripMargin,
    // hard_negatives: the cosine_topk replay restricted to label
    // mismatches before the per-query window
    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
        |      FROM e WHERE vec_id < 8),
        |s AS (SELECT query_id, query_label, e.vec_id AS nbr_id,
        |        e.label AS nbr_label,
        |        CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)) = 0
        |             THEN -1.0
        |             ELSE round(list_dot_product(qv, v)
        |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
        |               4) END AS sim
        |      FROM q CROSS JOIN e WHERE e.label <> query_label)
        |SELECT query_id, query_label, nbr_id, nbr_label, sim, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, nbr_id) AS rnk FROM s) t
        |WHERE rnk <= 3""".stripMargin,
    // label_margins: same scoring pass, two conditional maxes per query
    "label_margins" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
        |      FROM e WHERE vec_id < 8),
        |s AS (SELECT query_id, query_label, e.label AS lbl,
        |        CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)) = 0
        |             THEN -1.0
        |             ELSE round(list_dot_product(qv, v)
        |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
        |               4) END AS sim
        |      FROM q CROSS JOIN e WHERE e.vec_id <> query_id)
        |SELECT query_id, query_label,
        |       max(CASE WHEN lbl = query_label THEN sim END) AS top_pos,
        |       max(CASE WHEN lbl <> query_label THEN sim END) AS top_neg,
        |       round(max(CASE WHEN lbl = query_label THEN sim END)
        |             - max(CASE WHEN lbl <> query_label THEN sim END), 4)
        |         AS margin,
        |       (round(max(CASE WHEN lbl = query_label THEN sim END)
        |              - max(CASE WHEN lbl <> query_label THEN sim END), 4)
        |        <= 0) AS violated
        |FROM s GROUP BY query_id, query_label""".stripMargin,
    "lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_distinct(string_split_regex(text, '\s+')) AS t
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, lang, m.lang_code,
        |         len(list_intersect(t, m.markers)) AS score, m.prio
        |  FROM toks CROSS JOIN (VALUES
        |    ('en', ['the','a','of','and','is'], 0),
        |    ('de', ['der','die','das','und','ist'], 1),
        |    ('fr', ['le','la','les','et','est'], 2),
        |    ('es', ['el','la','los','y','es'], 3),
        |    ('zh', ['de','le','shi','zai','he'], 4)) m(lang_code, markers, prio)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, prio) AS rn FROM scores)
        |SELECT doc_id, lang AS true_lang, lang_code AS pred_lang,
        |       CAST(lang_code = lang AS INT) AS correct
        |FROM ranked WHERE rn = 1""".stripMargin,
    // trained lang-ID: rank profiles from the train split (doc_id%5!=0),
    // top-50 grams by (count desc, gram) per language
    "ct_lang_profiles" -> (ctGramPrefixSql +
      """
        |SELECT lang, gram, CAST(rnk AS INT) AS rnk, n_occ FROM prof""".stripMargin),
    // held-out docs (doc_id%5=0) classified by integer out-of-place rank
    // distance to each language profile; missing gram pays penalty 50
    "ct_lang_id" -> (ctGramPrefixSql + ",\n" + ctPickBody +
      s"""
        |SELECT t.doc_id, t.lang AS true_lang, pick.pred_lang, pick.dist
        |FROM (SELECT doc_id, lang FROM documents WHERE doc_id % $CtHoldoutMod = 0) t
        |JOIN pick USING (doc_id)""".stripMargin),
    // trained-tokenizer fertility grouped by PREDICTED language — the
    // fertility report self-contained on unlabeled corpora: the unigram
    // chain trains the vocab, the CT chain predicts held-out languages,
    // and the rollup keys on the prediction
    "ct_lang_fertility" -> (unigramPrefixSql + ",\n" + ctGramBody + ",\n" +
      ctPickBody +
      s""",
        |wl AS (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents WHERE doc_id % $CtHoldoutMod = 0) t
        |  WHERE word <> '' AND length(word) <= $UniWordLen
        |    AND NOT contains(word, chr(1))),
        |wtk AS (SELECT word, CAST(len(path) AS BIGINT) AS wtok FROM bfin)
        |SELECT pick.pred_lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(wtk.wtok) AS BIGINT) AS n_pieces,
        |  CAST(sum(wtk.wtok) * 1000000 // count(*) AS BIGINT) AS fert_ppm,
        |  CAST(sum(length(wl.word)) * 1000000 // sum(wtk.wtok) AS BIGINT)
        |    AS chars_per_piece_ppm
        |FROM wl JOIN wtk USING (word) JOIN pick USING (doc_id)
        |GROUP BY pick.pred_lang""".stripMargin),
    // NB quality classifier, training replay: the full smoothed
    // micro-nat weight table (see nbPrefixSql)
    "nb_quality_train" -> (nbPrefixSql +
      """
        |SELECT bucket, n_pos, n_neg, lp_pos, lp_neg FROM w""".stripMargin),
    // NB quality scoring: per-doc logit = trained doc-count prior +
    // Σ token-count·(lp_pos − lp_neg); tokenless docs keep the prior
    "nb_quality_score" -> (nbPrefixSql +
      s""",
        |prior AS (SELECT CAST(round(ln(
        |    sum(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |        THEN 1 ELSE 0 END)::DOUBLE
        |    / sum(CASE WHEN CAST(substr(source, 4) AS INT) >= 10
        |          THEN 1 ELSE 0 END)) * 1e6) AS BIGINT) AS prior_micro
        |  FROM documents WHERE doc_id % $NbHoldoutMod <> 0),
        |dtok AS (SELECT doc_id, source, word FROM (
        |    SELECT doc_id, source,
        |      unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents) t WHERE word <> ''),
        |db AS (SELECT doc_id, source,
        |         ('0x'||substr(md5(word),1,15))::BIGINT % $NbBuckets AS bucket,
        |         CAST(count(*) AS BIGINT) AS c
        |       FROM dtok GROUP BY 1, 2, 3),
        |ds AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tok,
        |         CAST(sum(c * (w.lp_pos - w.lp_neg)) AS BIGINT) AS s
        |       FROM db JOIN w USING (bucket) GROUP BY 1, 2)
        |SELECT d.doc_id, d.source,
        |  CAST(coalesce(ds.n_tok, 0) AS BIGINT) AS n_tok,
        |  CAST(prior_micro + coalesce(ds.s, 0) AS BIGINT) AS logit_micro,
        |  (prior_micro + coalesce(ds.s, 0)) >= 0 AS pred_pos
        |FROM (SELECT doc_id, source FROM documents) d
        |LEFT JOIN ds ON d.doc_id = ds.doc_id AND d.source = ds.source
        |CROSS JOIN prior""".stripMargin),
    // nb_calibration: the same scoring chain restricted to the holdout
    // split, global rank by (logit, doc_id), 10 equal-population bins
    "nb_calibration" -> (nbPrefixSql +
      s""",
        |prior AS (SELECT CAST(round(ln(
        |    sum(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |        THEN 1 ELSE 0 END)::DOUBLE
        |    / sum(CASE WHEN CAST(substr(source, 4) AS INT) >= 10
        |          THEN 1 ELSE 0 END)) * 1e6) AS BIGINT) AS prior_micro
        |  FROM documents WHERE doc_id % $NbHoldoutMod <> 0),
        |dtok AS (SELECT doc_id, source, word FROM (
        |    SELECT doc_id, source,
        |      unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents) t WHERE word <> ''),
        |db AS (SELECT doc_id, source,
        |         ('0x'||substr(md5(word),1,15))::BIGINT % $NbBuckets AS bucket,
        |         CAST(count(*) AS BIGINT) AS c
        |       FROM dtok GROUP BY 1, 2, 3),
        |ds AS (SELECT doc_id, source,
        |         CAST(sum(c * (w.lp_pos - w.lp_neg)) AS BIGINT) AS s
        |       FROM db JOIN w USING (bucket) GROUP BY 1, 2),
        |cal AS (SELECT d.doc_id, d.source,
        |    CAST(prior_micro + coalesce(ds.s, 0) AS BIGINT) AS logit_micro
        |  FROM (SELECT doc_id, source FROM documents
        |        WHERE doc_id % $NbHoldoutMod = 0) d
        |  LEFT JOIN ds ON d.doc_id = ds.doc_id AND d.source = ds.source
        |  CROSS JOIN prior),
        |rk AS (SELECT source, logit_micro,
        |         row_number() OVER (ORDER BY logit_micro, doc_id) AS pos,
        |         count(*) OVER () AS n
        |       FROM cal),
        |b AS (SELECT CAST((pos - 1) * 10 // n AS INT) AS bin,
        |        source, logit_micro FROM rk)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(logit_micro) AS lo_micro, max(logit_micro) AS hi_micro,
        |       CAST(sum(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       round(sum(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |                  THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |         AS pos_rate
        |FROM b GROUP BY bin""".stripMargin),
    // NB-logit survivor election: the dedup_survivors resolve chain with
    // the length policy swapped for the trained quality logit (max score,
    // ties to min doc_id) — prepends WITH RECURSIVE so the NB weight
    // CTEs and the walk compose in one statement
    "nb_survivors" -> ("WITH RECURSIVE " + nbPrefixBody +
      s""",
        |prior AS (SELECT CAST(round(ln(
        |    sum(CASE WHEN CAST(substr(source, 4) AS INT) < 10
        |        THEN 1 ELSE 0 END)::DOUBLE
        |    / sum(CASE WHEN CAST(substr(source, 4) AS INT) >= 10
        |          THEN 1 ELSE 0 END)) * 1e6) AS BIGINT) AS prior_micro
        |  FROM documents WHERE doc_id % $NbHoldoutMod <> 0),
        |dtok AS (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents) t WHERE word <> ''),
        |db AS (SELECT doc_id,
        |         ('0x'||substr(md5(word),1,15))::BIGINT % $NbBuckets AS bucket,
        |         CAST(count(*) AS BIGINT) AS c
        |       FROM dtok GROUP BY 1, 2),
        |ds AS (SELECT doc_id,
        |         CAST(sum(c * (w.lp_pos - w.lp_neg)) AS BIGINT) AS s
        |       FROM db JOIN w USING (bucket) GROUP BY 1),
        |logit AS (SELECT d.doc_id,
        |    CAST(prior_micro + coalesce(ds.s, 0) AS BIGINT) AS score
        |  FROM (SELECT doc_id FROM documents) d
        |  LEFT JOIN ds USING (doc_id) CROSS JOIN prior),
        |sh0 AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t2 AS (SELECT doc_id, source, sh, len(sh) AS n FROM sh0),
        |prs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      len(list_intersect(x.sh, y.sh))::DOUBLE
        |        / (x.n + y.n - len(list_intersect(x.sh, y.sh))) AS j
        |    FROM t2 x JOIN t2 y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |  WHERE j >= 0.8),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, wk.label FROM edges e JOIN walk wk ON e.b = wk.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster
        |           FROM walk GROUP BY node),
        |fam AS (SELECT cluster FROM labels GROUP BY cluster HAVING count(*) >= 2),
        |j AS (SELECT l.doc_id, l.cluster, lg.score
        |      FROM labels l JOIN fam USING (cluster)
        |      JOIN logit lg ON lg.doc_id = l.doc_id),
        |mx AS (SELECT cluster, max(score) AS mc FROM j GROUP BY cluster),
        |surv AS (SELECT j.cluster, min(j.doc_id) AS survivor_id
        |         FROM j JOIN mx ON j.cluster = mx.cluster AND j.score = mx.mc
        |         GROUP BY j.cluster)
        |SELECT j.doc_id, j.cluster, sv.survivor_id,
        |       j.doc_id = sv.survivor_id AS keep
        |FROM j JOIN surv sv USING (cluster)""".stripMargin),
    "dedup_resolve" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t AS (SELECT doc_id, source, sh, len(sh) AS n FROM s),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      len(list_intersect(x.sh, y.sh))::DOUBLE
        |        / (x.n + y.n - len(list_intersect(x.sh, y.sh))) AS j
        |    FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |  WHERE j >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node)
        |SELECT doc_id, cluster, doc_id = cluster AS keep
        |FROM labels WHERE doc_id <> cluster""".stripMargin,
    // dedup_resolve's component recursion + longest-member survivor
    // (max n_chars, ties to the smallest doc_id) over multi-doc families
    "dedup_survivors" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t AS (SELECT doc_id, source, sh, len(sh) AS n FROM s),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      len(list_intersect(x.sh, y.sh))::DOUBLE
        |        / (x.n + y.n - len(list_intersect(x.sh, y.sh))) AS j
        |    FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |  WHERE j >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node),
        |fam AS (SELECT cluster FROM labels GROUP BY cluster HAVING count(*) >= 2),
        |j AS (SELECT l.doc_id, l.cluster, d.n_chars
        |      FROM labels l JOIN fam USING (cluster)
        |      JOIN documents d ON d.doc_id = l.doc_id),
        |mx AS (SELECT cluster, max(n_chars) AS mc FROM j GROUP BY cluster),
        |surv AS (SELECT j.cluster, min(j.doc_id) AS survivor_id
        |         FROM j JOIN mx ON j.cluster = mx.cluster AND j.n_chars = mx.mc
        |         GROUP BY j.cluster)
        |SELECT j.doc_id, j.cluster, sv.survivor_id,
        |       j.doc_id = sv.survivor_id AS keep
        |FROM j JOIN surv sv USING (cluster)""".stripMargin,
    // minhash_pairs' banded-LSH chain rolled up to ordered source pairs
    "cross_dup_matrix" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |shs AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(tk)-2,1)+1),
        |    i -> array_to_string(tk[i:i+2], ' '))) AS sh FROM toks),
        |hbs AS (SELECT doc_id,
        |  list_distinct(list_transform(sh,
        |    s -> ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647)) AS hb
        |  FROM shs),
        |sigs AS (SELECT doc_id, hb, len(hb) AS n,
        |  list_transform(range(0,32), i -> list_min(list_transform(hb,
        |    h -> ((2*i+1)*h + 40503*i) % 2147483647))) AS sig
        |  FROM hbs),
        |banded AS (
        |  SELECT doc_id, sig, b.band AS band,
        |         array_to_string(sig[b.band*4+1:b.band*4+4], ',') AS bh
        |  FROM sigs, (SELECT unnest(range(0,8)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        |  WHERE len(list_filter(range(1,33), i -> x.sig[i] = y.sig[i])) >= 9),
        |v AS (
        |  SELECT c.a, c.b, len(list_intersect(sa.hb, sb.hb)) AS inter,
        |         sa.n AS na, sb.n AS nb
        |  FROM cand c JOIN sigs sa ON c.a = sa.doc_id JOIN sigs sb ON c.b = sb.doc_id),
        |m AS (
        |  SELECT a, b, round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
        |  FROM v WHERE inter::DOUBLE / (na + nb - inter) >= 0.5)
        |SELECT least(da.source, db.source) AS source_a,
        |       greatest(da.source, db.source) AS source_b,
        |       count(*)::BIGINT AS n_pairs,
        |       max(jaccard) AS max_jaccard,
        |       round((sum(CAST(round(jaccard * 10000) AS BIGINT))::DOUBLE
        |         / count(*)) / 10000, 4) AS avg_jaccard
        |FROM m JOIN documents da ON m.a = da.doc_id
        |       JOIN documents db ON m.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // p ∝ n^0.7 temperature rebalancing; 6dp rounding absorbs libm pow
    // and summation-order ulps
    "temperature_mix" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_docs
        |           FROM documents GROUP BY source),
        |t AS (SELECT sum(n_docs) AS n_total, sum(pow(n_docs, 0.7)) AS z FROM c)
        |SELECT source, n_docs,
        |  round(n_docs::DOUBLE / n_total, 6) AS p_raw,
        |  round(pow(n_docs, 0.7) / z, 6) AS p_temp,
        |  round((pow(n_docs, 0.7) / z) / (n_docs::DOUBLE / n_total), 6) AS boost
        |FROM c CROSS JOIN t""".stripMargin,
    // dedup_resolve's component recursion + a per-family rollup
    "dedup_families" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t AS (SELECT doc_id, source, sh, len(sh) AS n FROM s),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      len(list_intersect(x.sh, y.sh))::DOUBLE
        |        / (x.n + y.n - len(list_intersect(x.sh, y.sh))) AS j
        |    FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |  WHERE j >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node)
        |SELECT cluster, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT d.source)::BIGINT AS n_sources,
        |  sum(d.n_chars)::BIGINT AS total_chars,
        |  sum(CASE WHEN l.doc_id = l.cluster THEN 0 ELSE d.n_chars END)::BIGINT
        |    AS chars_dropped
        |FROM labels l JOIN documents d ON d.doc_id = l.doc_id
        |GROUP BY cluster HAVING count(*) >= 2""".stripMargin,
    // per-dim centroids via zip-unnest (value + its ordinal), cosines via
    // list_dot_product; 4dp rounding absorbs summation-order drift
    "source_drift" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |j AS (SELECT d.source, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm
        |      FROM e JOIN documents d ON d.doc_id = e.vec_id),
        |dims AS (SELECT source, unnest(v) AS x,
        |                unnest(range(1, len(v) + 1)) AS i FROM j),
        |g AS (SELECT list(m ORDER BY i) AS gv FROM
        |       (SELECT i, avg(x) AS m FROM dims GROUP BY i)),
        |per AS (SELECT source, count(*)::BIGINT AS n_vecs,
        |          avg(nrm) AS avg_norm_raw,
        |          avg(CASE WHEN nrm * sqrt(list_dot_product(gv, gv)) = 0 THEN -1.0
        |              ELSE list_dot_product(v, gv)
        |                / (nrm * sqrt(list_dot_product(gv, gv))) END) AS cos_raw
        |        FROM j CROSS JOIN g GROUP BY source),
        |sc AS (SELECT source, list(m ORDER BY i) AS sv FROM
        |        (SELECT source, i, avg(x) AS m FROM dims GROUP BY source, i)
        |       GROUP BY source)
        |SELECT source, n_vecs, round(avg_norm_raw, 4) AS avg_norm,
        |  round(cos_raw, 4) AS avg_cos_global,
        |  CASE WHEN sqrt(list_dot_product(sv, sv)) * sqrt(list_dot_product(gv, gv)) = 0
        |       THEN 2.0
        |       ELSE round(1.0 - list_dot_product(sv, gv)
        |         / (sqrt(list_dot_product(sv, sv)) * sqrt(list_dot_product(gv, gv))), 4)
        |  END AS centroid_drift
        |FROM per JOIN sc USING (source) CROSS JOIN g""".stripMargin,
    // quintile = (5·(row_number−1)) div N + 1 on the (metric, user_id)
    // total order — integer arithmetic, engine-exact
    "user_rfm" ->
      """WITH pu AS (SELECT user_id, max(ts) AS last_ts,
        |                   count(*)::BIGINT AS n_events,
        |                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |                     AS value_cents
        |            FROM events GROUP BY user_id),
        |n AS (SELECT count(*) AS n_u FROM pu),
        |r AS (SELECT user_id, row_number() OVER (ORDER BY last_ts, user_id) AS rn FROM pu),
        |f AS (SELECT user_id, row_number() OVER (ORDER BY n_events, user_id) AS rn FROM pu),
        |m AS (SELECT user_id, row_number() OVER (ORDER BY value_cents, user_id) AS rn FROM pu)
        |SELECT pu.user_id, pu.n_events, pu.value_cents,
        |  CAST((5 * (r.rn - 1)) // n_u + 1 AS INTEGER) AS r_score,
        |  CAST((5 * (f.rn - 1)) // n_u + 1 AS INTEGER) AS f_score,
        |  CAST((5 * (m.rn - 1)) // n_u + 1 AS INTEGER) AS m_score
        |FROM pu JOIN r USING (user_id) JOIN f USING (user_id)
        |JOIN m USING (user_id) CROSS JOIN n""".stripMargin,
    // within-group min-rank percentile mapped onto the pooled sorted
    // values at position floor(pr*(N-1))+1 — integer indexing, IEEE-exact
    "quantile_norm" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events),
        |stats AS (SELECT event_type, count(*) AS n_type FROM ev GROUP BY 1),
        |r AS (SELECT event_id, event_type, value,
        |        rank() OVER (PARTITION BY event_type ORDER BY value) AS rk FROM ev),
        |p AS (SELECT event_id, event_type, value,
        |        CASE WHEN n_type = 1 THEN 0.0
        |             ELSE (rk - 1)::DOUBLE / (n_type - 1) END AS pr_raw
        |      FROM r JOIN stats USING (event_type)),
        |pooled AS (SELECT value AS value_norm,
        |                  row_number() OVER (ORDER BY value) AS rn FROM ev),
        |n AS (SELECT count(*) AS n_all FROM ev)
        |SELECT event_id, event_type, value, round(pr_raw, 6) AS pr, value_norm
        |FROM p CROSS JOIN n
        |JOIN pooled ON CAST(floor(pr_raw * (n_all - 1)) AS BIGINT) + 1 = pooled.rn""".stripMargin,
    "ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t AS (SELECT doc_id, source, sh, len(sh) AS n FROM s)
        |SELECT a, b, round(j, 4) AS jaccard FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    len(list_intersect(x.sh, y.sh))::DOUBLE
        |      / (x.n + y.n - len(list_intersect(x.sh, y.sh))) AS j
        |  FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |WHERE j >= 0.8""".stripMargin,
    "cos_near_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a, b, sim FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    CASE WHEN sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)) = 0
        |         THEN -1.0
        |         ELSE round(list_dot_product(x.v, y.v)
        |           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
        |           4) END AS sim
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id) p
        |WHERE sim >= 0.5""".stripMargin,
    // LSH plane weights replayed from the portable md5 scheme: plane i,
    // dim d weight = h60("i:d") / 2^59 - 1; table t = planes 12t..12t+11
    "lsh_near_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |planes AS (
        |  SELECT i, list_transform(range(0, 64),
        |    d -> ('0x'||substr(md5(CAST(i AS VARCHAR)||':'||CAST(d AS VARCHAR)),1,15))::BIGINT
        |         / 576460752303423488.0 - 1.0) AS w
        |  FROM (SELECT unnest(range(0, 96)) AS i)),
        |proj AS (SELECT vec_id, i // 12 AS t, i % 12 AS p,
        |           list_dot_product(v, w) AS pr FROM n CROSS JOIN planes),
        |bkt AS (SELECT vec_id, t,
        |          CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bkt
        |        FROM proj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |         FROM bkt x JOIN bkt y ON x.t = y.t AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
        |SELECT a, b, sim FROM (
        |  SELECT a, b, CASE WHEN xa.nrm * xb.nrm = 0 THEN -1.0
        |    ELSE round(list_dot_product(xa.v, xb.v) / (xa.nrm * xb.nrm), 4) END AS sim
        |  FROM cand JOIN n xa ON a = xa.vec_id JOIN n xb ON b = xb.vec_id) s
        |WHERE sim >= 0.5""".stripMargin,
    "emb_dedup_resolve" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |planes AS (
        |  SELECT i, list_transform(range(0, 64),
        |    d -> ('0x'||substr(md5(CAST(i AS VARCHAR)||':'||CAST(d AS VARCHAR)),1,15))::BIGINT
        |         / 576460752303423488.0 - 1.0) AS w
        |  FROM (SELECT unnest(range(0, 96)) AS i)),
        |proj AS (SELECT vec_id, i // 12 AS t, i % 12 AS p,
        |           list_dot_product(v, w) AS pr FROM n CROSS JOIN planes),
        |bkt AS (SELECT vec_id, t,
        |          CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bkt
        |        FROM proj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |         FROM bkt x JOIN bkt y ON x.t = y.t AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT a, b, CASE WHEN xa.nrm * xb.nrm = 0 THEN -1.0
        |      ELSE round(list_dot_product(xa.v, xb.v) / (xa.nrm * xb.nrm), 4) END AS sim
        |    FROM cand JOIN n xa ON a = xa.vec_id JOIN n xb ON b = xb.vec_id) s
        |  WHERE sim >= 0.5),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |walk(node, label) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT ed.a, w.label FROM edges ed JOIN walk w ON ed.b = w.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node)
        |SELECT doc_id, cluster, doc_id = cluster AS keep
        |FROM labels WHERE doc_id <> cluster""".stripMargin,
    "embedding_stats" ->
      """WITH e AS (SELECT label,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n, round(avg(nrm), 4) AS avg_norm,
        |  round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
        |FROM e GROUP BY label""".stripMargin,
    "quantiles" ->
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
        |round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |round(quantile_cont(l_extendedprice, 0.75), 2) AS p75, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // quantiles_sketch: full replay of the bottom-k-by-hash sample — same
    // portable 60-bit md5 row hash, same k smallest per group, same
    // equi-spaced rank pick on the value-sorted sample
    "quantiles_sketch" ->
      """WITH r AS (SELECT l_returnflag,
        |  ('0x'||substr(md5(l_orderkey||':'||l_linenumber),1,15))::BIGINT AS h,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |rk AS (SELECT l_returnflag, cents,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY h, cents) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |       FROM r),
        |s AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |        list_sort(list(cents)) AS sv
        |      FROM rk WHERE rn <= 1024 GROUP BY l_returnflag, n)
        |SELECT l_returnflag,
        |  round(sv[CAST(floor(0.25 * (len(sv) - 1)) AS INT) + 1] / 100.0, 2) AS p25,
        |  round(sv[CAST(floor(0.5 * (len(sv) - 1)) AS INT) + 1] / 100.0, 2) AS p50,
        |  round(sv[CAST(floor(0.75 * (len(sv) - 1)) AS INT) + 1] / 100.0, 2) AS p75,
        |  len(sv) AS n_sample, n
        |FROM s""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "having_agg" ->
      """SELECT c_mktsegment, round(avg(c_acctbal), 2) AS avg_bal, count(*) AS n
        |FROM customer GROUP BY c_mktsegment HAVING count(*) > 20""".stripMargin,
    "scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 8) AS name_pfx,
        |length(p_type) AS type_len, round(p_retailprice * 1.1, 2) AS price_adj,
        |concat_ws('-', p_brand, p_type) AS brand_type FROM part""".stripMargin,
    "date_agg" ->
      """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, count(*) AS n,
        |round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "pivot_events" ->
      """SELECT user_id,
        |round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "set_ops_all" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
        |x AS (SELECT k, count(*) AS n_big FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t GROUP BY k),
        |y AS (SELECT k, -count(*) AS n_big FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t GROUP BY k)
        |SELECT k, CAST(sum(n_big) AS BIGINT) AS balance
        |FROM (SELECT * FROM x UNION ALL SELECT * FROM y) u GROUP BY k""".stripMargin,
    "union_by_name" ->
      """WITH u AS (
        |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |         NULL::INT AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_acctbal, s_nationkey FROM supplier)
        |SELECT nationkey IS NULL AS from_customer, count(*) AS n,
        |       round(sum(acctbal), 2) AS sum_bal
        |FROM u GROUP BY 1""".stripMargin,
    "q6_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returns" ->
      """WITH r AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY c_custkey, c_name, c_mktsegment)
        |SELECT c_custkey, c_name, c_mktsegment, revenue, rnk FROM (
        |  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rnk FROM r) s
        |WHERE rnk <= 20""".stripMargin,
    "q14_promo" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |      / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
        |count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "cust_order_totals" ->
      """SELECT c_custkey, coalesce(round(sum(o_totalprice), 2), 0.0) AS total,
        |count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "paged_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, rnk FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t WHERE rnk > 5 AND rnk <= 15""".stripMargin,
    "tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM t WHERE word <> ''
        |       GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word,
        |       round(tf.tf * ln((n.n_docs + 1)::DOUBLE / (df.df + 1)), 4) AS tfidf
        |FROM tf JOIN df ON tf.word = df.word CROSS JOIN n""".stripMargin,
    "quantize_emb" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS sc FROM e),
        |q AS (SELECT vec_id, round(sc, 6) AS scale,
        |        list_transform(v, x -> CAST(round(x / sc * 127) AS INT)) AS qv FROM s)
        |SELECT vec_id, scale, CAST(len(qv) AS INT) AS n_dims,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       CAST(list_min(qv) AS INT) AS q_min, CAST(list_max(qv) AS INT) AS q_max
        |FROM q""".stripMargin,
    // emb_project: the ±1 sign matrix replays from md5('p:'||j||':'||i)
    // parity; micro-unit integer sums are order-free, so the projection
    // is engine-exact. Dims-agnostic: the weight grid derives its i range
    // from the data, not a constant.
    "emb_project" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT vec_id, i, CAST(round(xv * 1e6) AS BIGINT) AS xi
        |      FROM (SELECT vec_id, unnest(v) AS xv,
        |                   unnest(range(0, len(v))) AS i FROM e) u),
        |w AS (SELECT j, i,
        |        CASE WHEN ('0x'||substr(md5('p:'||CAST(j AS VARCHAR)||':'||
        |                                    CAST(i AS VARCHAR)),1,15))::BIGINT % 2 = 0
        |             THEN 1 ELSE -1 END AS s
        |      FROM (SELECT unnest(range(0, 16)) AS j) js,
        |           (SELECT DISTINCT i FROM x) ds)
        |SELECT x.vec_id, CAST(w.j AS INT) AS j,
        |       CAST(sum(x.xi * w.s) AS BIGINT) AS y_micro
        |FROM x JOIN w ON x.i = w.i
        |GROUP BY x.vec_id, w.j""".stripMargin,
    "normalize_text" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |     '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,
    "token_counts" ->
      """SELECT doc_id,
        |len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
        |len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    // source_overlap: full a<b matrix with zero-overlap pairs kept
    "source_overlap" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, word
        |  FROM (SELECT source, unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |  WHERE word <> ''),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM sv GROUP BY source),
        |iv AS (SELECT x.source AS a, y.source AS b, CAST(count(*) AS BIGINT) AS inter
        |       FROM sv x JOIN sv y ON x.word = y.word AND x.source < y.source
        |       GROUP BY 1, 2)
        |SELECT sa.source AS a, sb.source AS b,
        |       coalesce(iv.inter, 0) AS shared,
        |       round(coalesce(iv.inter, 0)::DOUBLE
        |             / (sa.nv + sb.nv - coalesce(iv.inter, 0)), 4) AS jaccard
        |FROM sz sa JOIN sz sb ON sa.source < sb.source
        |LEFT JOIN iv ON iv.a = sa.source AND iv.b = sb.source""".stripMargin,
    // zipf_fit: global rank decomposed as (words in higher count classes)
    // + (ordinal within the class), exactly like the Spark plan
    "zipf_fit" ->
      """WITH wc AS (
        |  SELECT word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word HAVING count(*) >= 2),
        |byc AS (SELECT cnt, count(*) AS nw FROM wc GROUP BY cnt),
        |h AS (SELECT cnt, coalesce(sum(nw) OVER (ORDER BY cnt DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS higher
        |      FROM byc),
        |r AS (SELECT wc.cnt,
        |        h.higher + row_number() OVER (PARTITION BY wc.cnt ORDER BY wc.word) AS rank
        |      FROM wc JOIN h USING (cnt))
        |SELECT CAST(count(*) AS BIGINT) AS n_words,
        |       round(regr_slope(log2(cnt), log2(rank)), 4) AS zipf_slope,
        |       round(regr_r2(log2(cnt), log2(rank)), 4) AS zipf_r2
        |FROM r""".stripMargin,
    // minhash_sigs: the same affine-family construction the pairs oracle
    // replays, exploded one row per (doc, hash index)
    "minhash_sigs" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |shs AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(tk)-2,1)+1),
        |    i -> array_to_string(tk[i:i+2], ' '))) AS sh FROM toks),
        |hbs AS (SELECT doc_id,
        |  list_distinct(list_transform(sh,
        |    s -> ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647)) AS hb
        |  FROM shs),
        |sigs AS (SELECT doc_id,
        |  list_transform(range(0,32), i -> list_min(list_transform(hb,
        |    h -> ((2*i+1)*h + 40503*i) % 2147483647))) AS sig
        |  FROM hbs)
        |SELECT doc_id, CAST(g.i - 1 AS INT) AS i, sig[g.i] AS mh
        |FROM sigs CROSS JOIN (SELECT unnest(range(1, 33)) AS i) g""".stripMargin,
    // pmi_pairs: all margins and the total derive from the bigram counts;
    // the pmi expression multiplies in DOUBLE exactly like the Spark side
    "pmi_pairs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
        |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
        |r AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM big GROUP BY w2),
        |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM big)
        |SELECT big.w1, big.w2, c12,
        |       round(log2((c12::DOUBLE * n) / (c1::DOUBLE * c2)), 4) AS pmi
        |FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
        |WHERE c12 >= 5""".stripMargin,
    // chunk_docs: 64-token windows advancing by 48 (overlap 16); window
    // count = max(1, ceil((n - overlap)/step)); trailing shorter window kept
    "chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |w AS (SELECT doc_id, toks,
        |        greatest(CAST(ceil((len(toks) - 16) / 48.0) AS BIGINT), 1) AS nw
        |      FROM t),
        |c AS (SELECT doc_id, i - 1 AS chunk_id,
        |        array_to_string(toks[(i-1)*48 + 1 : (i-1)*48 + 64], ' ') AS chunk_text
        |      FROM (SELECT doc_id, toks, unnest(generate_series(1, nw)) AS i FROM w))
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, chunk_text,
        |       CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_tokens
        |FROM c""".stripMargin,
    "salted_agg" ->
      """SELECT l_returnflag AS key, count(*) AS n,
        |round(sum(l_quantity), 2) AS sum_value
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,
    "q7_volume" ->
      """SELECT supp_nation, cust_nation, y, round(sum(volume), 2) AS revenue FROM (
        |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |         year(l_shipdate) AS y, l_extendedprice * (1 - l_discount) AS volume
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ns ON s_nationkey = ns.n_nationkey
        |    JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |     OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')) t
        |GROUP BY 1, 2, 3""".stripMargin,
    "q8_share" ->
      """SELECT y, round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
        |       / sum(volume), 4) AS mkt_share FROM (
        |  SELECT year(o_orderdate) AS y, l_extendedprice * (1 - l_discount) AS volume,
        |         ns.n_name AS supp_nation
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation nc ON c_nationkey = nc.n_nationkey
        |    JOIN region ON nc.n_regionkey = r_regionkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'PROMO') t
        |GROUP BY y""".stripMargin,
    "q9_profit" ->
      """SELECT nation, y, round(sum(amount_i) / 10000.0, 2) AS sum_profit FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS y,
        |         CAST(round((l_extendedprice * (1 - l_discount)
        |              - p_retailprice * l_quantity) * 10000) AS BIGINT) AS amount_i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%small%') t
        |GROUP BY 1, 2""".stripMargin,
    // Q2/Q11/Q20 adaptations (no partsupp in the fixture): the
    // supplier↔part relationship derives from lineitem; shapes preserved
    "q2_min_cost" ->
      """WITH rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA'),
        |rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |cand AS (
        |  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name
        |  FROM part JOIN rel ON p_partkey = l_partkey
        |    JOIN rs ON l_suppkey = s_suppkey
        |  WHERE p_size >= 40 AND p_type = 'PROMO'),
        |mn AS (SELECT p_partkey AS mk, min(s_acctbal) AS min_bal FROM cand GROUP BY 1)
        |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey
        |FROM cand JOIN mn ON p_partkey = mk AND s_acctbal = min_bal""".stripMargin,
    "q11_important" ->
      """WITH pv AS (
        |  SELECT l_partkey AS p_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_i
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  GROUP BY 1)
        |SELECT p_partkey, round(value_i / 100.0, 2) AS part_value
        |FROM pv WHERE value_i > (SELECT sum(value_i) FROM pv) * 0.001""".stripMargin,
    "q20_dominant" ->
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS sq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%small%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS pk, sum(sq) AS tq FROM sp GROUP BY 1),
        |dom AS (SELECT DISTINCT l_suppkey FROM sp JOIN pt ON l_partkey = pk
        |        WHERE sq > 0.3 * tq)
        |SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier
        |WHERE EXISTS (SELECT 1 FROM dom WHERE l_suppkey = s_suppkey)""".stripMargin,
    "q12_priority" ->
      """SELECT l_returnflag,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q15_topsupp" ->
      """WITH r AS (
        |  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM r)""".stripMargin,
    "q17_small_qty" ->
      """WITH aq AS (SELECT l_partkey AS ap_key, avg(l_quantity) AS avg_qty
        |            FROM lineitem GROUP BY l_partkey)
        |SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN aq ON l_partkey = ap_key
        |WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS raw_qty FROM lineitem
        |             GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       round(raw_qty, 2) AS sum_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey""".stripMargin,
    "q19_brackets" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q21_waiting" ->
      """WITH al AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
        |rl AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
        |       WHERE l_returnflag = 'R')
        |SELECT r.s AS s_suppkey, count(*) AS numwait
        |FROM rl r
        |WHERE EXISTS (SELECT 1 FROM al a WHERE a.o = r.o AND a.s <> r.s)
        |  AND NOT EXISTS (SELECT 1 FROM rl r2 WHERE r2.o = r.o AND r2.s <> r.s)
        |GROUP BY r.s""".stripMargin,
    "q22_idle_rich" ->
      """SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey""".stripMargin,
    "rank_funcs" ->
      """SELECT o_orderkey, o_orderpriority,
        |CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket,
        |rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |round(percent_rank() OVER w, 6) AS prnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY CAST(floor(o_totalprice / 50000) AS BIGINT) DESC)""".stripMargin,
    "window_shapes" ->
      """SELECT o_orderkey, o_orderpriority,
        |CAST(ntile(10) OVER w AS INT) AS decile,
        |round(cume_dist() OVER w, 6) AS cd,
        |first_value(o_orderkey) OVER wf AS top_order,
        |nth_value(o_orderkey, 2) OVER wf AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey),
        |wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "date_funcs" ->
      """SELECT o_orderkey,
        |CAST(year(o_orderdate) AS INT) AS y,
        |CAST(quarter(o_orderdate) AS INT) AS q,
        |CAST(day(o_orderdate) AS INT) AS dom,
        |strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
        |CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_epoch,
        |CAST(date_diff('day', o_orderdate::DATE, DATE '1998-01-01') AS INT) AS days_to_98,
        |strftime(o_orderdate::DATE + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_q
        |FROM orders""".stripMargin,
    "string_agg" ->
      """SELECT c_mktsegment, count(*) AS n,
        |array_to_string(list_sort(list(c_name))[1:5], ',') AS first5
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q16_suppcnt" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO'
        |GROUP BY p_brand, p_size""".stripMargin,
    "range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |round(coalesce(sum(o_totalprice) OVER (
        |  PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |  RANGE BETWEEN 2592000 PRECEDING AND 1 PRECEDING), 0.0), 2) AS prior_30d_spend
        |FROM orders""".stripMargin,
    "argmax_join" ->
      """WITH mx AS (SELECT c_mktsegment AS seg, max(c_acctbal) AS max_bal
        |            FROM customer GROUP BY 1)
        |SELECT c_mktsegment, round(max_bal, 2) AS max_bal, min(c_custkey) AS best_custkey
        |FROM customer JOIN mx ON c_mktsegment = seg AND c_acctbal = max_bal
        |GROUP BY c_mktsegment, round(max_bal, 2)""".stripMargin,
    "corr_stats" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 4) AS qp_corr,
        |round(covar_samp(l_quantity, l_extendedprice), 2) AS qp_covar,
        |round(stddev_samp(l_quantity), 4) AS sd_qty,
        |round(stddev_samp(l_extendedprice), 2) AS sd_price, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "moving_avg" ->
      """WITH daily AS (SELECT o_orderdate AS d, sum(o_totalprice) AS rev
        |               FROM orders GROUP BY 1)
        |SELECT d, round(rev, 2) AS rev,
        |round(avg(rev) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
        |FROM daily""".stripMargin,
    "asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |                WHERE event_type = 'click' GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_us,
        |       c.click_id AS asof_click_id, epoch_us(c.ts) AS asof_click_us
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    "range_join" ->
      """WITH s AS (SELECT event_id AS signup_id, user_id AS su, epoch_us(ts) AS s_us
        |           FROM events WHERE event_type = 'signup'),
        |o AS (SELECT user_id, epoch_us(ts) AS e_us, value FROM events
        |      WHERE event_type <> 'signup')
        |SELECT signup_id, count(o.user_id) AS n_follow,
        |       round(coalesce(sum(value), 0.0), 2) AS sum_value
        |FROM s LEFT JOIN o ON su = o.user_id AND e_us > s_us
        |                   AND e_us <= s_us + 3600000000
        |GROUP BY signup_id""".stripMargin,
    "lag_delta" ->
      """WITH t AS (SELECT event_id, user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events)
        |SELECT event_id, user_id, round(value - pv, 4) AS delta
        |FROM t WHERE pv IS NOT NULL""".stripMargin,
    // ewma: generated — 8 lag terms with exact power-of-two weights in
    // a fixed left-to-right sum (see ewmaOracle)
    "ewma" -> ewmaOracle,
    // recursive-CTE replay of the Holt recurrence: both engines truncate
    // integer division toward zero (negative trends included)
    // densify each type's hour span (gaps are true zeros for counts),
    // then corr against the 24-hour lag; 4dp like corr_stats
    "seasonality" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hb,
        |           count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(hb) AS lo, max(hb) AS hi
        |         FROM h GROUP BY event_type),
        |grid AS (SELECT span.event_type,
        |           unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb
        |         FROM span),
        |dense AS (SELECT grid.event_type, grid.hb,
        |            coalesce(h.y, 0) AS y
        |          FROM grid LEFT JOIN h ON h.event_type = grid.event_type
        |                                AND h.hb = grid.hb),
        |lagd AS (SELECT event_type, y,
        |           lag(y, 24) OVER (PARTITION BY event_type ORDER BY hb) AS yl
        |         FROM dense)
        |SELECT event_type, count(*)::BIGINT AS n_pairs,
        |  round(corr(y::DOUBLE, yl::DOUBLE), 4) AS autocorr
        |FROM lagd WHERE yl IS NOT NULL GROUP BY event_type""".stripMargin,
    "holt_smooth" ->
      """WITH RECURSIVE h AS (SELECT event_type, date_trunc('hour', ts) AS hb,
        |           count(*)::BIGINT AS y FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, y, row_number() OVER (
        |        PARTITION BY event_type ORDER BY hb) AS rn FROM h),
        |mx AS (SELECT event_type, max(rn) AS m, count(*)::BIGINT AS n
        |       FROM r GROUP BY event_type),
        |rec AS (
        |  SELECT event_type, rn, y * 1000000 AS l, CAST(0 AS BIGINT) AS b
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT s.event_type, s.rn, s.lnew AS l,
        |         ((2 * (s.lnew - s.l) + 8 * s.b) // 10) AS b FROM (
        |    SELECT r.event_type AS event_type, r.rn AS rn, rec.l AS l,
        |           rec.b AS b,
        |           ((3 * r.y * 1000000 + 7 * (rec.l + rec.b)) // 10) AS lnew
        |    FROM rec JOIN r ON r.event_type = rec.event_type
        |                   AND r.rn = rec.rn + 1) s
        |)
        |SELECT rec.event_type AS event_type, mx.n AS n_points,
        |  CAST(rec.l AS BIGINT) AS level_micro,
        |  CAST(rec.b AS BIGINT) AS trend_micro,
        |  CAST(rec.l + rec.b AS BIGINT) AS forecast_next_micro
        |FROM rec JOIN mx ON rec.event_type = mx.event_type
        |                AND rec.rn = mx.m""".stripMargin,
    "snapshot_diff" ->
      """WITH v2 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderpriority = '1-URGENT'
        |              THEN round(o_totalprice * 1.1, 2)
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderstatus <> 'F'
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 41 = 0)
        |SELECT * FROM (
        |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         ELSE 'changed' END AS change,
        |    CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN 0
        |         ELSE (CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey THEN 1 ELSE 0 END
        |             + CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 1 ELSE 0 END
        |             + CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 1 ELSE 0 END
        |             + CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate THEN 1 ELSE 0 END
        |             + CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 1 ELSE 0 END)
        |         END AS n_cols_changed
        |  FROM orders o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey) t
        |WHERE change <> 'changed' OR n_cols_changed > 0""".stripMargin,
    "histogram_eqdepth" ->
      """WITH r AS (SELECT l_extendedprice,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rank,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT (rank - 1) * 10 // n AS bucket, count(*) AS n_rows,
        |       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM r GROUP BY 1""".stripMargin,
    "skyline" ->
      """WITH pp AS (SELECT p_retailprice AS price, max(p_size) AS size
        |            FROM part GROUP BY 1),
        |r AS (SELECT price, size, max(size) OVER (
        |        ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
        |      FROM pp)
        |SELECT price, size FROM r WHERE run IS NULL OR size > run""".stripMargin,
    "pii_redact" ->
      """SELECT doc_id,
        |regexp_replace(regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
        |               '[0-9]+', '<NUM>', 'g') AS red_text,
        |len(regexp_extract_all(text, '[0-9]+')) AS n_nums,
        |len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+')) AS n_emails
        |FROM documents""".stripMargin,
    "split_assign" ->
      """SELECT doc_id,
        |CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'c' THEN 'train'
        |     WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'e' THEN 'val'
        |     ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "sample_strata" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT lang, split, count(*) AS n, round(avg(n_chars), 2) AS avg_chars
        |FROM documents JOIN sp USING (doc_id)
        |GROUP BY lang, split""".stripMargin,
    "lev_pairs" ->
      """SELECT a, b, dist FROM (
        |  SELECT x.p_partkey AS a, y.p_partkey AS b,
        |         levenshtein(x.p_name, y.p_name) AS dist
        |  FROM part x JOIN part y
        |    ON x.p_brand = y.p_brand AND x.p_size = y.p_size
        |   AND x.p_partkey < y.p_partkey) t
        |WHERE dist <= 4 AND dist > 0""".stripMargin,
    "profile_customer" -> profileCustomerOracle,
    // bloom pruning has no false negatives and the exact join clears the
    // false positives, so the oracle is simply the UN-pruned join
    "bloom_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1 GROUP BY p_brand""".stripMargin,
    "weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    -ln((('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT + 0.5)
        |        / 1152921504606846976.0) / n_chars AS k
        |  FROM documents) t
        |ORDER BY k, doc_id LIMIT 50""".stripMargin,
    "merge_upsert" ->
      """WITH ch AS (
        |  SELECT o_custkey AS key,
        |    CASE WHEN o_orderkey % 21 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_orderdate AS ts, o_orderkey AS seq,
        |    round(o_totalprice, 2) AS new_bal
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |latest AS (
        |  SELECT key, op, new_bal FROM (
        |    SELECT key, op, new_bal,
        |      row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
        |    FROM ch) r WHERE rn = 1)
        |SELECT coalesce(b.c_custkey, l.key) AS c_custkey,
        |  b.c_name AS c_name,
        |  round(coalesce(l.new_bal, b.c_acctbal), 2) AS c_acctbal
        |FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,
    "zorder_box" -> {
      val z = graft.operators.Layout.zValueSql("l_partkey", "l_suppkey")
      s"""SELECT l_suppkey, count(*) AS n,
         |  min($z) AS z_min, max($z) AS z_max,
         |  round(sum(l_quantity), 2) AS sum_qty
         |FROM lineitem
         |WHERE l_partkey BETWEEN 100 AND 2000 AND l_suppkey BETWEEN 2 AND 8
         |GROUP BY l_suppkey""".stripMargin
    },
    "pack_sequences" ->
      """SELECT doc_id, n_tokens,
        |  (coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096)::BIGINT
        |  AS bin
        |FROM (SELECT doc_id,
        |        len(string_split_regex(text, '\s+'))::BIGINT AS n_tokens
        |      FROM documents) t""".stripMargin,
    "gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         count(*) AS n, round(avg(value), 4) AS av
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
        |      FROM daily GROUP BY 1),
        |cal AS (SELECT event_type,
        |          unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        |        FROM b),
        |f AS (SELECT c.event_type, c.day, d.n, d.av
        |      FROM cal c LEFT JOIN daily d
        |        ON c.event_type = d.event_type AND c.day = d.day)
        |SELECT event_type, CAST(epoch(day) AS BIGINT) AS day_epoch,
        |  coalesce(n, 0)::BIGINT AS n,
        |  coalesce(av, last_value(av IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS avg_filled
        |FROM f""".stripMargin,
    "array_funcs" ->
      """SELECT doc_id, len(tk)::INT AS n_toks,
        |  array_to_string((list_sort(list_distinct(tk)))[1:3], ',') AS first3_sorted,
        |  tk[1] AS first_tok, tk[-1] AS last_tok,
        |  len(list_intersect(list_distinct(tk), ['the','a','of']))::INT AS n_stop,
        |  len(array_to_string(tk, ''))::INT AS n_chars_joined,
        |  len(list_filter(tk, x -> x <> 'the'))::INT AS n_no_the,
        |  coalesce(list_position(tk, 'the'), 0)::BIGINT AS pos_the
        |FROM (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents) t""".stripMargin,
    "freq_items_exact" ->
      """SELECT word AS item, count(*)::BIGINT AS est
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE word IN ('the','a','of','and','is','to','in')
        |GROUP BY word""".stripMargin,
    "dq_lineitem" ->
      """WITH a AS (SELECT
        |  sum(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS r1,
        |  sum(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS r2,
        |  sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS r3,
        |  sum(CASE WHEN l_extendedprice >= 0 THEN 0 ELSE 1 END) AS r4,
        |  sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS r5,
        |  sum(CASE WHEN l_shipdate >= TIMESTAMP '1990-01-01' THEN 0 ELSE 1 END) AS r6
        |  FROM lineitem)
        |SELECT 'orderkey_not_null' AS rule, r1::BIGINT AS violations, r1 = 0 AS pass FROM a
        |UNION ALL SELECT 'quantity_positive', r2::BIGINT, r2 = 0 FROM a
        |UNION ALL SELECT 'discount_in_unit_range', r3::BIGINT, r3 = 0 FROM a
        |UNION ALL SELECT 'price_nonnegative', r4::BIGINT, r4 = 0 FROM a
        |UNION ALL SELECT 'flag_in_domain', r5::BIGINT, r5 = 0 FROM a
        |UNION ALL SELECT 'ship_after_epoch', r6::BIGINT, r6 = 0 FROM a""".stripMargin,
    "zip_index" ->
      """SELECT l_orderkey, l_linenumber,
        |row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS idx
        |FROM lineitem""".stripMargin,
    "bottomk_sample" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 20""".stripMargin,
    "corpus_curate" ->
      """WITH RECURSIVE
        |norm AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |         '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id, source, t, len(string_split_regex(t, '\s+')) AS n_tokens
        |  FROM norm WHERE len(string_split_regex(t, '\s+')) >= 5),
        |scores AS (
        |  SELECT doc_id, m.lang_code,
        |         len(list_intersect(list_distinct(string_split_regex(t, '\s+')),
        |             m.markers)) AS score, m.prio
        |  FROM qual CROSS JOIN (VALUES
        |    ('en', ['the','a','of','and','is'], 0),
        |    ('de', ['der','die','das','und','ist'], 1),
        |    ('fr', ['le','la','les','et','est'], 2),
        |    ('es', ['el','la','los','y','es'], 3),
        |    ('zh', ['de','le','shi','zai','he'], 4)) m(lang_code, markers, prio)),
        |pred AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, lang_code,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, prio) AS rn
        |    FROM scores) r
        |  WHERE rn = 1 AND lang_code = 'en'),
        |langed AS (SELECT q.* FROM qual q JOIN pred USING (doc_id)),
        |ex AS (
        |  SELECT min(doc_id) AS doc_id, min(t) AS t, min(n_tokens) AS n_tokens
        |  FROM langed GROUP BY md5(t)),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(t, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(t, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM ex),
        |hbs AS (SELECT doc_id,
        |  list_distinct(list_transform(sh,
        |    s -> ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647)) AS hb
        |  FROM sh),
        |sigs AS (SELECT doc_id, hb, len(hb) AS n,
        |  list_transform(range(0,32), i -> list_min(list_transform(hb,
        |    h -> ((2*i+1)*h + 40503*i) % 2147483647))) AS sig
        |  FROM hbs),
        |banded AS (
        |  SELECT doc_id, sig, b.band AS band,
        |         array_to_string(sig[b.band*4+1:b.band*4+4], ',') AS bh
        |  FROM sigs, (SELECT unnest(range(0,8)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        |  WHERE len(list_filter(range(1,33), i -> x.sig[i] = y.sig[i])) >= 15),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT c.a, c.b,
        |      len(list_intersect(sa.hb, sb.hb))::DOUBLE
        |        / (sa.n + sb.n - len(list_intersect(sa.hb, sb.hb))) AS j
        |    FROM cand c JOIN sigs sa ON c.a = sa.doc_id
        |                JOIN sigs sb ON c.b = sb.doc_id) p
        |  WHERE j >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM ex
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node),
        |spx AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    ('0x'||substr(md5(array_to_string(
        |      (string_split_regex(t, '\s+'))[i:i+7], ' ')),1,15))::BIGINT AS h
        |  FROM (SELECT doc_id, t,
        |          unnest(range(1, greatest(len(string_split_regex(t, '\s+')) - 7, 0) + 1)) AS i
        |        FROM ex) s),
        |spdup AS (SELECT doc_id,
        |    CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, i) > 1
        |         THEN 1 ELSE 0 END AS d
        |  FROM spx),
        |spstat AS (SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(d) AS BIGINT) AS n_dup FROM spdup GROUP BY doc_id)
        |SELECT e.doc_id, e.n_tokens,
        |  CASE WHEN substr(md5(e.doc_id::VARCHAR), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(e.doc_id::VARCHAR), 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM ex e JOIN labels l ON e.doc_id = l.doc_id AND l.doc_id = l.cluster
        |LEFT JOIN spstat sp ON e.doc_id = sp.doc_id
        |WHERE coalesce(sp.n_dup * 100 <= 50 * sp.n_spans, TRUE)""".stripMargin,
    // the hash-dependent ops use the portable 60-bit md5 hash
    // (Dedup.portableHash64), so DuckDB replays them exactly:
    "simhash" -> simhashOracle,
    "simhash_pairs" -> simhashPairsOracle,
    "winnow_fp" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |hs AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(tk)-4,1)+1),
        |    i -> ('0x'||substr(md5(array_to_string(tk[i:i+4], ' ')),1,15))::BIGINT) AS hs
        |  FROM toks),
        |fps AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(hs)-3,1)+1),
        |    j -> list_min(hs[j:j+3]))) AS fps FROM hs)
        |SELECT doc_id, unnest(fps) AS fp FROM fps""".stripMargin,
    "winnow_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |hs AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(tk)-4,1)+1),
        |    i -> ('0x'||substr(md5(array_to_string(tk[i:i+4], ' ')),1,15))::BIGINT) AS hs
        |  FROM toks),
        |fps AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(hs)-3,1)+1),
        |    j -> list_min(hs[j:j+3]))) AS fps FROM hs),
        |w AS (SELECT doc_id, unnest(fps) AS fp FROM fps)
        |SELECT a, b, n_shared FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
        |  FROM w x JOIN w y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2) t
        |WHERE n_shared >= 3""".stripMargin,
    "minhash_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |shs AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(tk)-2,1)+1),
        |    i -> array_to_string(tk[i:i+2], ' '))) AS sh FROM toks),
        |hbs AS (SELECT doc_id,
        |  list_distinct(list_transform(sh,
        |    s -> ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647)) AS hb
        |  FROM shs),
        |sigs AS (SELECT doc_id, hb, len(hb) AS n,
        |  list_transform(range(0,32), i -> list_min(list_transform(hb,
        |    h -> ((2*i+1)*h + 40503*i) % 2147483647))) AS sig
        |  FROM hbs),
        |banded AS (
        |  SELECT doc_id, sig, b.band AS band,
        |         array_to_string(sig[b.band*4+1:b.band*4+4], ',') AS bh
        |  FROM sigs, (SELECT unnest(range(0,8)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        |  WHERE len(list_filter(range(1,33), i -> x.sig[i] = y.sig[i])) >= 9),
        |v AS (
        |  SELECT c.a, c.b, len(list_intersect(sa.hb, sb.hb)) AS inter,
        |         sa.n AS na, sb.n AS nb
        |  FROM cand c JOIN sigs sa ON c.a = sa.doc_id JOIN sigs sb ON c.b = sb.doc_id)
        |SELECT a, b, round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
        |FROM v WHERE inter::DOUBLE / (na + nb - inter) >= 0.5""".stripMargin,
    // IVF is deterministic end-to-end (seed partition = vec_id % nList,
    // ascending-fold dot products, explicit tie-breaks), so the oracle
    // replays centroid build + assignment + probing exactly:
    // ann_recall: replay BOTH retrieval methods (the brute-force chain from
    // cosine_topk and the IVF chain from ivf_topk) and roll up hits per query
    "mmr_rerank" -> mmrOracle(5, 12, 70),
    "ann_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
        |bs AS (SELECT query_id, n.vec_id AS nbr_id,
        |         CASE WHEN qn * nrm = 0 THEN -1.0
        |              ELSE round(list_dot_product(qv, v) / (qn * nrm), 4) END AS sim
        |       FROM q CROSS JOIN n WHERE n.vec_id <> query_id),
        |exact AS (SELECT query_id, nbr_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, nbr_id) AS rnk FROM bs) t WHERE rnk <= 5),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |cm AS (SELECT vec_id % 16 AS cid, i, avg(v[i]) AS m FROM n, dims GROUP BY 1, 2),
        |cents AS (SELECT cid, list(m ORDER BY i) AS c FROM cm GROUP BY cid),
        |asg AS (SELECT vec_id, v, nrm, cid, row_number() OVER (
        |          PARTITION BY vec_id
        |          ORDER BY list_dot_product(v, c) DESC, cid DESC) AS rn
        |        FROM n CROSS JOIN cents),
        |assigned AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
        |pr AS (SELECT query_id, qv, qn, cid, row_number() OVER (
        |         PARTITION BY query_id
        |         ORDER BY list_dot_product(qv, c) DESC, cid) AS rn
        |       FROM q CROSS JOIN cents),
        |probes AS (SELECT query_id, qv, qn, cid FROM pr WHERE rn <= 4),
        |sc AS (SELECT query_id, a.vec_id AS nbr_id,
        |         CASE WHEN qn * a.nrm = 0 THEN -1.0
        |              ELSE round(list_dot_product(qv, a.v) / (qn * a.nrm), 4) END AS sim
        |       FROM assigned a JOIN probes p ON a.cid = p.cid
        |       WHERE a.vec_id <> p.query_id),
        |approx AS (SELECT query_id, nbr_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, nbr_id) AS rnk FROM sc) t WHERE rnk <= 5)
        |SELECT x.query_id, count(*) AS n_exact,
        |       CAST(sum(CASE WHEN a.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |       round(sum(CASE WHEN a.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |             / count(*), 4) AS recall
        |FROM exact x LEFT JOIN approx a
        |  ON x.query_id = a.query_id AND x.nbr_id = a.nbr_id
        |GROUP BY 1""".stripMargin,
    // ivf_cell_drift: quantize once to micro-units, BIGINT sums throughout,
    // assignment ties -> larger cid (max(struct(cs, cid))); the one double
    // expression (the cosine) has a pinned operation order in both engines
    "ivf_cell_drift" ->
      """WITH vq AS (SELECT vec_id, list_transform(embedding,
        |              x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
        |            FROM embeddings),
        |e AS MATERIALIZED (
        |  SELECT vec_id, CAST(unnest(range(0, len(v))) AS INT) AS i,
        |         unnest(v) AS x
        |  FROM vq),
        |cdir AS MATERIALIZED (
        |  SELECT CAST(vec_id % 16 AS INT) AS cid, i, CAST(sum(x) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |ccx AS MATERIALIZED (
        |  SELECT cid, CAST(sum(c * c) AS BIGINT) AS cc FROM cdir GROUP BY 1),
        |vv AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS vv FROM e GROUP BY 1),
        |dt AS (SELECT e.vec_id, cdir.cid, CAST(sum(e.x * cdir.c) AS BIGINT) AS d
        |       FROM e JOIN cdir ON cdir.i = e.i GROUP BY 1, 2),
        |asg AS MATERIALIZED (
        |  SELECT vec_id, cid FROM (
        |    SELECT dt.vec_id, dt.cid, row_number() OVER (PARTITION BY dt.vec_id
        |      ORDER BY CAST(dt.d AS DOUBLE) /
        |        (sqrt(CAST(ccx.cc AS DOUBLE)) * sqrt(CAST(vv.vv AS DOUBLE))) DESC,
        |        dt.cid DESC) AS rn
        |    FROM dt JOIN ccx USING (cid) JOIN vv USING (vec_id)) t
        |  WHERE rn = 1),
        |ms AS (SELECT a.cid, e.i, CAST(sum(e.x) AS BIGINT) AS m
        |       FROM e JOIN asg a USING (vec_id) GROUP BY 1, 2),
        |nv AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors FROM asg GROUP BY 1),
        |dd AS (SELECT ms.cid, CAST(sum(cdir.c * ms.m) AS BIGINT) AS dm,
        |              CAST(sum(ms.m * ms.m) AS BIGINT) AS mm,
        |              CAST(sum(cdir.c * cdir.c) AS BIGINT) AS cc
        |       FROM ms JOIN cdir ON cdir.cid = ms.cid AND cdir.i = ms.i
        |       GROUP BY 1)
        |SELECT dd.cid, nv.n_vectors,
        |       CAST(round((1.0 - CAST(dm AS DOUBLE) /
        |         (sqrt(CAST(cc AS DOUBLE)) * sqrt(CAST(mm AS DOUBLE)))) * 1e6)
        |         AS BIGINT) AS drift_micro
        |FROM dd JOIN nv USING (cid)""".stripMargin,
    "ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |cm AS (SELECT vec_id % 16 AS cid, i, avg(v[i]) AS m FROM n, dims GROUP BY 1, 2),
        |cents AS (SELECT cid, list(m ORDER BY i) AS c FROM cm GROUP BY cid),
        |asg AS (SELECT vec_id, v, nrm, cid, row_number() OVER (
        |          PARTITION BY vec_id
        |          ORDER BY list_dot_product(v, c) DESC, cid DESC) AS rn
        |        FROM n CROSS JOIN cents),
        |assigned AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
        |pr AS (SELECT query_id, qv, qn, cid, row_number() OVER (
        |         PARTITION BY query_id
        |         ORDER BY list_dot_product(qv, c) DESC, cid) AS rn
        |       FROM q CROSS JOIN cents),
        |probes AS (SELECT query_id, qv, qn, cid FROM pr WHERE rn <= 4),
        |scored AS (SELECT query_id, a.vec_id AS nbr_id,
        |             CASE WHEN qn * a.nrm = 0 THEN -1.0
        |                  ELSE round(list_dot_product(qv, a.v) / (qn * a.nrm), 4) END AS sim
        |           FROM assigned a JOIN probes p ON a.cid = p.cid
        |           WHERE a.vec_id <> p.query_id)
        |SELECT query_id, nbr_id, sim, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, nbr_id) AS rnk FROM scored) t
        |WHERE rnk <= 5""".stripMargin,
    // kmeans_assign: the full deterministic Lloyd replay — seed means,
    // two reassignment rounds (L2 expansion, ties to smaller cid), empty
    // clusters inherit the previous centroid via the left-join coalesce
    // kmeans_assign's CTE chain, final assignment rolled to per-cluster
    // majority-label purity (ties break to the smallest label)
    "cluster_purity" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |sm AS (SELECT vec_id % 8 AS cid, i, avg(v[i]) AS m FROM e, dims GROUP BY 1, 2),
        |c0 AS (SELECT cid, list(m ORDER BY i) AS c FROM sm GROUP BY cid),
        |a1 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c0.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c0.cid) AS rn
        |  FROM e CROSS JOIN c0) t WHERE rn = 1),
        |r1m AS (SELECT cid, i, avg(v[i]) AS m FROM a1, dims GROUP BY 1, 2),
        |r1 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r1m GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(r1.c2, c0.c) AS c
        |       FROM c0 LEFT JOIN r1 ON c0.cid = r1.cid),
        |a2 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c1.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c1.cid) AS rn
        |  FROM e CROSS JOIN c1) t WHERE rn = 1),
        |r2m AS (SELECT cid, i, avg(v[i]) AS m FROM a2, dims GROUP BY 1, 2),
        |r2 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r2m GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(r2.c2, c1.c) AS c
        |       FROM c1 LEFT JOIN r2 ON c1.cid = r2.cid),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c2.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c2.cid) AS rn
        |  FROM e CROSS JOIN c2) t WHERE rn = 1),
        |cont AS (SELECT a.cid, em.label, count(*)::BIGINT AS n
        |         FROM asg a JOIN embeddings em ON em.vec_id = a.vec_id
        |         GROUP BY 1, 2),
        |mx AS (SELECT cid, sum(n)::BIGINT AS n_vecs, max(n) AS top_n
        |       FROM cont GROUP BY cid),
        |top AS (SELECT c.cid, min(c.label) AS top_label
        |        FROM cont c JOIN mx ON c.cid = mx.cid AND c.n = mx.top_n
        |        GROUP BY c.cid)
        |SELECT m.cid, m.n_vecs, t.top_label, m.top_n,
        |       round(m.top_n::DOUBLE / m.n_vecs, 4) AS purity
        |FROM mx m JOIN top t USING (cid)""".stripMargin,
    // per-dim population z-scores; moments round to 6dp first so the
    // transform runs on bit-identical inputs in every engine. Checked via
    // the integer basis-point digest (sum/min/max of round(z·10⁴) as
    // BIGINT) — exact integer arithmetic, array-free, oracle-sortable.
    "emb_standardize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT vec_id, unnest(v) AS x,
        |             unnest(range(1, len(v) + 1)) AS i FROM e),
        |st AS (SELECT i, round(avg(x), 6) AS mu,
        |              round(stddev_pop(x), 6) AS sg FROM d GROUP BY i),
        |z AS (SELECT vec_id,
        |        CAST(round((round(CASE WHEN sg = 0 THEN 0.0
        |                          ELSE (x - mu) / sg END, 4) + 0.0) * 10000)
        |             AS BIGINT) AS bp
        |      FROM d JOIN st USING (i))
        |SELECT vec_id, count(*)::INT AS n_dims, sum(bp)::BIGINT AS z_sum_bp,
        |       min(bp) AS z_min_bp, max(bp) AS z_max_bp
        |FROM z GROUP BY vec_id""".stripMargin,
    // power-iteration top PC: integer micro-unit corpus sums (order-free),
    // doubles only in the pinned-order 64-dim normalization fold
    "emb_top_pc" ->
      (pcPrefixSql + "\nSELECT i::INT AS i, vi AS pc_micro FROM v2"),
    // all-but-the-top residual digest: exact integer projection, then a
    // per-element scalar double expression with pinned operation order
    "emb_abtt" -> (pcPrefixSql +
      """,
        |p3 AS (SELECT vec_id, CAST(sum(xi * vi) AS BIGINT) AS p
        |       FROM x JOIN v2 USING (i) GROUP BY vec_id),
        |b AS (SELECT x.vec_id,
        |        CAST(round((xi / 1e6 - p / 1e12 * (vi / 1e6)) * 1e4)
        |             AS BIGINT) AS bp
        |      FROM x JOIN v2 USING (i) JOIN p3 USING (vec_id))
        |SELECT vec_id, count(*)::INT AS n_dims, sum(bp)::BIGINT AS r_sum_bp,
        |       min(bp) AS r_min_bp, max(bp) AS r_max_bp
        |FROM b GROUP BY vec_id""".stripMargin),
    // top-PC variance share: both sums exact integers, one double ratio
    "pc_var_share" -> (pcPrefixSql +
      """,
        |p3 AS (SELECT vec_id, CAST(sum(xi * vi) AS BIGINT) AS p
        |       FROM x JOIN v2 USING (i) GROUP BY vec_id),
        |x2 AS (SELECT vec_id, sum(xi * xi) AS x2h FROM x GROUP BY vec_id),
        |j AS (SELECT p3.vec_id, p, x2h FROM p3 JOIN x2 USING (vec_id))
        |SELECT count(*)::BIGINT AS n_vecs,
        |       round(sum(p::HUGEINT * p::HUGEINT)::DOUBLE
        |             / (sum(x2h)::DOUBLE * 1e12), 6) AS var_share
        |FROM j""".stripMargin),
    // robust median/MAD scaling; both engines interpolate the even-count
    // median identically, moments round to 6dp before the transform
    "emb_robust_scale" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT vec_id, unnest(v) AS x,
        |             unnest(range(1, len(v) + 1)) AS i FROM e),
        |m AS (SELECT i, round(median(x), 6) AS med FROM d GROUP BY i),
        |md AS (SELECT d.i, round(median(abs(x - med)), 6) AS mad
        |       FROM d JOIN m USING (i) GROUP BY d.i),
        |st AS (SELECT m.i, m.med, md.mad FROM m JOIN md ON m.i = md.i),
        |z AS (SELECT vec_id,
        |        CAST(round((round(CASE WHEN mad = 0 THEN 0.0
        |                          ELSE (x - med) / mad END, 4) + 0.0) * 10000)
        |             AS BIGINT) AS bp
        |      FROM d JOIN st USING (i))
        |SELECT vec_id, count(*)::INT AS n_dims, sum(bp)::BIGINT AS z_sum_bp,
        |       min(bp) AS z_min_bp, max(bp) AS z_max_bp
        |FROM z GROUP BY vec_id""".stripMargin,
    // BPE first-merge pair weights: unique-word counts, then adjacent
    // char pairs weighted by word frequency; ties at the cut break on
    // the pair's binary order in both engines
    "bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS word
        |           FROM documents WHERE text IS NOT NULL),
        |wc AS (SELECT word, count(*)::BIGINT AS cnt FROM w
        |       WHERE word <> '' GROUP BY word),
        |d AS (SELECT word, cnt, unnest(range(1, len(word))) AS i
        |      FROM wc WHERE len(word) >= 2),
        |p AS (SELECT substr(word, i::INT, 2) AS pair, cnt FROM d)
        |SELECT pair, sum(cnt)::BIGINT AS n_occ FROM p GROUP BY pair
        |ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin,
    // cumulative curation funnel; FALSE AND NULL = FALSE pins the
    // three-valued logic identically in both engines
    "filter_cascade" ->
      """WITH d AS (SELECT doc_id, lang, n_chars, text,
        |             len(list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> ''))::BIGINT AS tok
        |           FROM documents),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY md5(coalesce(text, '')) ORDER BY doc_id) AS rn
        |      FROM d),
        |f AS (SELECT tok,
        |        (text IS NOT NULL AND text <> '') AS c1,
        |        (text IS NOT NULL AND text <> '') AND tok >= 5 AS c2,
        |        ((text IS NOT NULL AND text <> '') AND tok >= 5)
        |          AND lang = 'en' AS c3,
        |        (((text IS NOT NULL AND text <> '') AND tok >= 5)
        |          AND lang = 'en') AND n_chars <= 10000 AS c4,
        |        ((((text IS NOT NULL AND text <> '') AND tok >= 5)
        |          AND lang = 'en') AND n_chars <= 10000) AND rn = 1 AS c5
        |      FROM r),
        |s AS (SELECT * FROM (VALUES (1, 'nonempty'), (2, 'min_tokens'),
        |        (3, 'lang_keep'), (4, 'len_cap'),
        |        (5, 'exact_unique')) AS t(stage, stage_name)),
        |e AS (SELECT s.stage, s.stage_name,
        |        CASE s.stage WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
        |                     WHEN 4 THEN c4 ELSE c5 END AS pass, f.tok
        |      FROM f CROSS JOIN s)
        |SELECT stage, stage_name,
        |       sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_docs,
        |       sum(CASE WHEN pass THEN tok ELSE 0 END)::BIGINT AS n_tokens
        |FROM e GROUP BY stage, stage_name""".stripMargin,
    // PSI per source: integer bin counts, per-row double contribution
    // rounded to nano-units before the (order-free) integer sum
    "psi_sources" ->
      """WITH d AS (SELECT source,
        |             least(n_chars // 500, 19) AS bin FROM documents),
        |cnt AS (SELECT source, bin, count(*)::BIGINT AS c
        |        FROM d GROUP BY source, bin),
        |srcs AS (SELECT DISTINCT source FROM cnt),
        |bins AS (SELECT unnest(range(0, 20)) AS bin),
        |dense AS (SELECT s.source, b.bin, coalesce(cnt.c, 0) AS cs
        |          FROM srcs s CROSS JOIN bins b
        |          LEFT JOIN cnt ON cnt.source = s.source AND cnt.bin = b.bin),
        |ts AS (SELECT source, sum(cs)::BIGINT AS ts FROM dense GROUP BY source),
        |gl AS (SELECT bin, sum(cs)::BIGINT AS cg FROM dense GROUP BY bin),
        |tg AS (SELECT sum(cg)::BIGINT AS tg FROM gl),
        |k AS (SELECT dense.source, dense.bin,
        |        (cs::DOUBLE + 1.0) / (ts.ts::DOUBLE + 20.0) AS p,
        |        (cg::DOUBLE + 1.0) / (tg.tg::DOUBLE + 20.0) AS q,
        |        ts.ts
        |      FROM dense JOIN ts USING (source) JOIN gl USING (bin) CROSS JOIN tg),
        |n AS (SELECT source, ts,
        |        CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT) AS nano
        |      FROM k)
        |SELECT source, min(ts) AS n_docs,
        |       round(sum(nano)::DOUBLE / 1e9, 6) AS psi
        |FROM n GROUP BY source""".stripMargin,
    // greedy per-source token-budget fill; all-integer keep decision
    "token_budget_fill" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |             len(list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> ''))::BIGINT AS tok
        |           FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT source, ((sum(tok) * 30) // 100)::BIGINT AS budget_tokens
        |      FROM d GROUP BY source),
        |r AS (SELECT d.source, d.tok, b.budget_tokens,
        |        coalesce(sum(d.tok) OVER (PARTITION BY d.source
        |          ORDER BY d.n_chars DESC, d.doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS cum_before
        |      FROM d JOIN b USING (source))
        |SELECT source, min(budget_tokens) AS budget_tokens,
        |       count(*)::BIGINT AS n_docs_kept, sum(tok)::BIGINT AS tokens_kept
        |FROM r WHERE cum_before < budget_tokens GROUP BY source""".stripMargin,
    // unrolled 8-round BPE training replay (generated: bpeRoundCtes)
    "bpe_merges" -> bpeMergesOracle(8),
    // unigram_vocab: the full EM replay (seed → lp0 → Viterbi → prune →
    // lp1 → Viterbi) — see unigramPrefixSql; final scores re-estimated
    // with add-one smoothing over round-2 usage
    "unigram_vocab" -> (unigramPrefixSql +
      """,
        |t2 AS (SELECT CAST(coalesce(sum(usage), 0) AS BIGINT) AS total FROM u2),
        |nv1 AS (SELECT count(*) AS nv FROM v1)
        |SELECT v1.piece AS piece, CAST(coalesce(u2.usage, 0) AS BIGINT) AS usage,
        |  CAST(round(ln((coalesce(u2.usage, 0) + 1)::DOUBLE / (t2.total + nv1.nv))
        |    * 1e6) AS BIGINT) AS lp
        |FROM v1 LEFT JOIN u2 USING (piece), t2, nv1""".stripMargin),
    // unigram_fertility: language rollup of the round-2 Viterbi path
    // lengths — ppm ratios with truncating div on both engines
    "unigram_fertility" -> (unigramPrefixSql +
      s""",
        |wl AS (SELECT lang, word FROM (
        |    SELECT lang, unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' AND length(word) <= $UniWordLen
        |    AND NOT contains(word, chr(1))),
        |wt AS (SELECT word, CAST(len(path) AS BIGINT) AS wtok FROM bfin)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(wt.wtok) AS BIGINT) AS n_pieces,
        |  CAST(sum(wt.wtok) * 1000000 // count(*) AS BIGINT) AS fert_ppm,
        |  CAST(sum(length(wl.word)) * 1000000 // sum(wt.wtok) AS BIGINT)
        |    AS chars_per_piece_ppm
        |FROM wl JOIN wt USING (word)
        |GROUP BY lang""".stripMargin),
    // unigram_tokens: per-doc sum of round-2 Viterbi path lengths over
    // the same trained vocab (docs with no countable words keep 0)
    "unigram_tokens" -> (unigramPrefixSql +
      s""",
        |w2 AS (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' AND length(word) <= $UniWordLen
        |    AND NOT contains(word, chr(1))),
        |wt AS (SELECT word, CAST(len(path) AS BIGINT) AS wtok FROM bfin)
        |SELECT d.doc_id, CAST(coalesce(sum(x.wtok), 0) AS BIGINT) AS uni_tok
        |FROM documents d LEFT JOIN (
        |  SELECT w2.doc_id, wt.wtok FROM w2 JOIN wt USING (word)) x
        |  ON d.doc_id = x.doc_id
        |GROUP BY d.doc_id""".stripMargin),
    // wordpiece_tokens: greedy longest-match encode over the SAME
    // trained v1 vocab (unigramPrefixSql), unrolled one CTE per
    // character position — see wordpieceCtes; per-doc sums mirror
    // unigram_tokens
    "wordpiece_tokens" -> (unigramPrefixSql +
      s""",
        |${wordpieceCtes("g", "v1", "uwc", UniWordLen)},
        |w3 AS (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' AND length(word) <= $UniWordLen
        |    AND NOT contains(word, chr(1))),
        |gt AS (SELECT word, CAST(ntok AS BIGINT) AS wtok FROM gfin)
        |SELECT d.doc_id, CAST(coalesce(sum(x.wtok), 0) AS BIGINT) AS wp_tok
        |FROM documents d LEFT JOIN (
        |  SELECT w3.doc_id, gt.wtok FROM w3 JOIN gt USING (word)) x
        |  ON d.doc_id = x.doc_id
        |GROUP BY d.doc_id""".stripMargin),
    // the same 8 winners applied to every document word (nested
    // list_reduce folds), then the integer greedy fill
    "token_budget_fill_bpe" -> tokenBudgetFillBpeOracle(8),
    // label-noise screen: label centroids via avg(v[i]) (the exact form
    // the kmeans oracle hash-matches), nearest centroid per vector via
    // (dist, cid) row_number, per-label suspect rollup
    "label_noise" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |sm AS (SELECT label AS cid, i, avg(v[i]) AS m FROM e, dims GROUP BY 1, 2),
        |c0 AS (SELECT cid, list(m ORDER BY i) AS c FROM sm GROUP BY cid),
        |a AS (SELECT e.vec_id, e.label, c0.cid,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |                   + list_dot_product(c, c), c0.cid) AS rn
        |      FROM e CROSS JOIN c0),
        |n AS (SELECT vec_id, label, cid AS near FROM a WHERE rn = 1)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |  CAST(sum(CASE WHEN near <> label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suspect,
        |  round(sum(CASE WHEN near <> label THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*)::DOUBLE, 4) AS suspect_rate
        |FROM n GROUP BY label""".stripMargin,
    "kmeans_assign" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |sm AS (SELECT vec_id % 8 AS cid, i, avg(v[i]) AS m FROM e, dims GROUP BY 1, 2),
        |c0 AS (SELECT cid, list(m ORDER BY i) AS c FROM sm GROUP BY cid),
        |a1 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c0.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c0.cid) AS rn
        |  FROM e CROSS JOIN c0) t WHERE rn = 1),
        |r1m AS (SELECT cid, i, avg(v[i]) AS m FROM a1, dims GROUP BY 1, 2),
        |r1 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r1m GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(r1.c2, c0.c) AS c
        |       FROM c0 LEFT JOIN r1 ON c0.cid = r1.cid),
        |a2 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c1.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c1.cid) AS rn
        |  FROM e CROSS JOIN c1) t WHERE rn = 1),
        |r2m AS (SELECT cid, i, avg(v[i]) AS m FROM a2, dims GROUP BY 1, 2),
        |r2 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r2m GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(r2.c2, c1.c) AS c
        |       FROM c1 LEFT JOIN r2 ON c1.cid = r2.cid)
        |SELECT vec_id, cid, round(dist, 4) AS d2 FROM (
        |  SELECT e.vec_id, c2.cid,
        |         list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |           + list_dot_product(c, c) AS dist,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |                    + list_dot_product(c, c), c2.cid) AS rn
        |  FROM e CROSS JOIN c2) t WHERE rn = 1""".stripMargin,
    // simplified silhouette: the kmeans chain, then rank-1/rank-2 centroid
    // distances per vector and an exact integer basis-point mean
    "silhouette" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |sm AS (SELECT vec_id % 8 AS cid, i, avg(v[i]) AS m FROM e, dims GROUP BY 1, 2),
        |c0 AS (SELECT cid, list(m ORDER BY i) AS c FROM sm GROUP BY cid),
        |a1 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c0.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c0.cid) AS rn
        |  FROM e CROSS JOIN c0) t WHERE rn = 1),
        |r1m AS (SELECT cid, i, avg(v[i]) AS m FROM a1, dims GROUP BY 1, 2),
        |r1 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r1m GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(r1.c2, c0.c) AS c
        |       FROM c0 LEFT JOIN r1 ON c0.cid = r1.cid),
        |a2 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c1.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c1.cid) AS rn
        |  FROM e CROSS JOIN c1) t WHERE rn = 1),
        |r2m AS (SELECT cid, i, avg(v[i]) AS m FROM a2, dims GROUP BY 1, 2),
        |r2 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r2m GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(r2.c2, c1.c) AS c
        |       FROM c1 LEFT JOIN r2 ON c1.cid = r2.cid),
        |ds AS (SELECT e.vec_id, c2.cid,
        |         list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |           + list_dot_product(c, c) AS dist,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |                    + list_dot_product(c, c), c2.cid) AS rn
        |       FROM e CROSS JOIN c2),
        |ab AS (SELECT o.vec_id, o.cid, o.dist AS a, s.dist AS b
        |       FROM ds o JOIN ds s ON o.vec_id = s.vec_id
        |       WHERE o.rn = 1 AND s.rn = 2),
        |sb AS (SELECT cid,
        |         CAST(round((CASE WHEN greatest(a, b) = 0 THEN 0.0
        |                     ELSE (b - a) / greatest(a, b) END) * 1e4)
        |              AS BIGINT) AS s_bp
        |       FROM ab)
        |SELECT cid, count(*)::BIGINT AS n_vecs,
        |       round(sum(s_bp)::DOUBLE / count(*) / 1e4, 6) AS mean_silhouette
        |FROM sb GROUP BY cid""".stripMargin,
    // semdedup: the kmeans_assign replay (same CTE chain) extended with
    // the within-cluster keep-first drop rule — a vector is dropped iff a
    // lower-id cluster-mate reaches rounded-cosine >= 0.6
    "semdedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |sm AS (SELECT vec_id % 8 AS cid, i, avg(v[i]) AS m FROM e, dims GROUP BY 1, 2),
        |c0 AS (SELECT cid, list(m ORDER BY i) AS c FROM sm GROUP BY cid),
        |a1 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c0.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c0.cid) AS rn
        |  FROM e CROSS JOIN c0) t WHERE rn = 1),
        |r1m AS (SELECT cid, i, avg(v[i]) AS m FROM a1, dims GROUP BY 1, 2),
        |r1 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r1m GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(r1.c2, c0.c) AS c
        |       FROM c0 LEFT JOIN r1 ON c0.cid = r1.cid),
        |a2 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c1.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c1.cid) AS rn
        |  FROM e CROSS JOIN c1) t WHERE rn = 1),
        |r2m AS (SELECT cid, i, avg(v[i]) AS m FROM a2, dims GROUP BY 1, 2),
        |r2 AS (SELECT cid, list(m ORDER BY i) AS c2 FROM r2m GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(r2.c2, c1.c) AS c
        |       FROM c1 LEFT JOIN r2 ON c1.cid = r2.cid),
        |a3 AS (SELECT vec_id, v, cid FROM (
        |  SELECT e.vec_id, e.v, c2.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, c)
        |             + list_dot_product(c, c), c2.cid) AS rn
        |  FROM e CROSS JOIN c2) t WHERE rn = 1),
        |p AS (SELECT vec_id, cid, v, sqrt(list_dot_product(v, v)) AS nrm FROM a3),
        |dr AS (SELECT DISTINCT y.vec_id
        |       FROM p x JOIN p y ON x.cid = y.cid AND x.vec_id < y.vec_id
        |       WHERE (CASE WHEN x.nrm * y.nrm = 0 THEN -1.0
        |              ELSE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4)
        |              END) >= 0.6)
        |SELECT p.vec_id, p.cid, (dr.vec_id IS NOT NULL) AS dropped
        |FROM p LEFT JOIN dr ON p.vec_id = dr.vec_id""".stripMargin,
    // pagerank: 3 integer-arithmetic iterations — `//` (floor div) equals
    // Spark's `div` truncation on the all-positive rank mass, and every
    // BIGINT sum is cast back from DuckDB's HUGEINT
    // 3 unrolled Katz rounds: beta 800000 = unit*(100-20) div 100, alpha
    // 20/100, contribution = plain in-neighbor sum (no degree split, no
    // dangling term) — mirrors Graph.katzCentrality's integer steps
    "katz" -> katzOracle(3),
    // 2 unrolled HITS rounds: alternating in/out sums with the integer
    // mean-rescale (greatest(1, sum // (n*unit))) mirroring Graph.hits
    "hits" -> hitsOracle(2),
    "pagerank" ->
      """WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src,
        |                  o_custkey * 2 + 1 AS dst
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(sum(r0.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d1 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r0 LEFT JOIN od ON r0.node = od.src WHERE od.src IS NULL),
        |r1 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c1.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.node = c1.node
        |       CROSS JOIN d1 CROSS JOIN nn),
        |c2 AS (SELECT e.dst AS node, CAST(sum(r1.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d2 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r1 LEFT JOIN od ON r1.node = od.src WHERE od.src IS NULL),
        |r2 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c2.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.node = c2.node
        |       CROSS JOIN d2 CROSS JOIN nn),
        |c3 AS (SELECT e.dst AS node, CAST(sum(r2.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d3 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r2 LEFT JOIN od ON r2.node = od.src WHERE od.src IS NULL),
        |r3 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c3.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c3 ON nodes.node = c3.node
        |       CROSS JOIN d3 CROSS JOIN nn)
        |SELECT node, r AS rank_micro FROM r3""".stripMargin,
    // bfs_levels: recursive-CTE multi-source BFS — UNION-dedup bounds the
    // working set at |seeds|·|nodes|·(maxDepth+1) rows, min(dist) collapses
    // the per-path dist copies to the shortest
    "bfs_levels" ->
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e0 WHERE src <> dst),
        |adj AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
        |seeds AS (SELECT DISTINCT x AS node FROM adj ORDER BY node LIMIT 8),
        |bfs AS (
        |  SELECT node AS source, node, 0 AS dist FROM seeds
        |  UNION
        |  SELECT b.source, a.y AS node, b.dist + 1 AS dist
        |  FROM bfs b JOIN adj a ON b.node = a.x WHERE b.dist < 6)
        |SELECT source, node, CAST(min(dist) AS INT) AS dist
        |FROM bfs GROUP BY source, node""".stripMargin,
    // harmonic_centrality: the same BFS, rolled up as Σ 1000000 // dist
    // per reached node (truncating integer division — Spark's `div`)
    "harmonic_centrality" ->
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e0 WHERE src <> dst),
        |adj AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
        |seeds AS (SELECT DISTINCT x AS node FROM adj ORDER BY node LIMIT 8),
        |bfs AS (
        |  SELECT node AS source, node, 0 AS dist FROM seeds
        |  UNION
        |  SELECT b.source, a.y AS node, b.dist + 1 AS dist
        |  FROM bfs b JOIN adj a ON b.node = a.x WHERE b.dist < 6),
        |md AS (SELECT source, node, min(dist) AS dist
        |       FROM bfs GROUP BY source, node)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
        |       CAST(sum(1000000 // dist) AS BIGINT) AS h_micro
        |FROM md WHERE dist > 0 GROUP BY node""".stripMargin,
    // sssp_weighted: 6 unrolled min-plus relaxation rounds — integer
    // cents make every min/+ exact; a converged earlier round is a
    // fixpoint, so extra unrolled rounds replay the same rows the
    // engine's early exit returns
    "sssp_weighted" -> {
      val relax = (k: Int) =>
        s"""r$k AS (SELECT source, node, CAST(min(d) AS BIGINT) AS d FROM (
           |  SELECT source, node, d FROM r${k - 1} UNION ALL
           |  SELECT p.source, a.y AS node, p.d + a.w AS d
           |  FROM r${k - 1} p JOIN adj a ON p.node = a.x) u
           |GROUP BY source, node)""".stripMargin
      s"""WITH e0 AS (SELECT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c,
         |       CAST(round(l_extendedprice * 100) AS BIGINT) AS w
         |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |und AS (SELECT least(s, c) AS a, greatest(s, c) AS b,
         |          CAST(sum(w) AS BIGINT) AS w
         |        FROM e0 WHERE s <> c GROUP BY 1, 2),
         |adj AS (SELECT a AS x, b AS y, w FROM und
         |        UNION ALL SELECT b, a, w FROM und),
         |seeds AS (SELECT DISTINCT x AS node FROM adj ORDER BY node LIMIT 4),
         |r0 AS (SELECT node AS source, node, CAST(0 AS BIGINT) AS d FROM seeds),
         |${(1 to 6).map(relax).mkString(",\n")}
         |SELECT source, node, d AS dist_cost FROM r6""".stripMargin
    },
    // ppr: 3 unrolled rounds of the seed-teleport recurrence — every
    // division truncating (`//` == Spark `div` on non-negative mass),
    // the two-step teleport parenthesization replayed exactly
    "ppr" -> {
      val round = (k: Int) =>
        s"""c$k AS (SELECT e.dst AS node, CAST(sum(r${k - 1}.r // od.od) AS BIGINT) AS c
           |     FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
           |     JOIN od ON e.src = od.src GROUP BY e.dst),
           |d$k AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
           |     FROM r${k - 1} LEFT JOIN od ON r${k - 1}.node = od.src
           |     WHERE od.src IS NULL),
           |r$k AS (SELECT nodes.node,
           |     CAST(CASE WHEN sd.node IS NOT NULL
           |          THEN t + (85 * (dang // s)) // 100
           |               + (85 * coalesce(c$k.c, 0)) // 100
           |          ELSE (85 * coalesce(c$k.c, 0)) // 100 END AS BIGINT) AS r
           |     FROM nodes LEFT JOIN c$k ON nodes.node = c$k.node
           |     LEFT JOIN sd ON nodes.node = sd.node
           |     CROSS JOIN d$k CROSS JOIN ns CROSS JOIN tl)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
         |     FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |sd AS (SELECT node FROM nodes ORDER BY node LIMIT 4),
         |ns AS (SELECT count(*) AS s FROM sd),
         |tl AS (SELECT CAST(((15 * n * 1000000) // 100) // s AS BIGINT) AS t
         |     FROM nn CROSS JOIN ns),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT node, r AS rank_micro FROM r3""".stripMargin
    },
    // triangles: the degree-ordered orientation is pure integer plumbing
    // (packed (deg, id) keys), so DuckDB replays the exact wedge/closure
    // joins; UNION ALL mirrors Spark's union-then-count degree aggregate
    "triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |          SELECT a AS node FROM pe UNION ALL SELECT b FROM pe) u
        |        GROUP BY node),
        |ke AS (SELECT da.dg * 4294967296 + pe.a AS ka,
        |              db.dg * 4294967296 + pe.b AS kb
        |       FROM pe JOIN deg da ON pe.a = da.node
        |       JOIN deg db ON pe.b = db.node),
        |o AS (SELECT least(ka, kb) AS kx, greatest(ka, kb) AS ky FROM ke),
        |w AS (SELECT e1.kx AS k1, e1.ky AS k2, e2.ky AS k3
        |      FROM o e1 JOIN o e2 ON e1.kx = e2.kx AND e1.ky < e2.ky),
        |t AS (SELECT k1, k2, k3 FROM w JOIN o e3 ON w.k2 = e3.kx AND w.k3 = e3.ky),
        |n AS (SELECT k1 AS k FROM t UNION ALL SELECT k2 FROM t
        |      UNION ALL SELECT k3 FROM t)
        |SELECT k % 4294967296 AS node, count(*) AS n_tri FROM n GROUP BY 1""".stripMargin,
    // local clustering coefficient: the triangles CTE chain + the degree
    // table, 2e6*tri // (dg*(dg-1)) in truncating integer space
    "lcc" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |          SELECT a AS node FROM pe UNION ALL SELECT b FROM pe) u
        |        GROUP BY node),
        |ke AS (SELECT da.dg * 4294967296 + pe.a AS ka,
        |              db.dg * 4294967296 + pe.b AS kb
        |       FROM pe JOIN deg da ON pe.a = da.node
        |       JOIN deg db ON pe.b = db.node),
        |o AS (SELECT least(ka, kb) AS kx, greatest(ka, kb) AS ky FROM ke),
        |w AS (SELECT e1.kx AS k1, e1.ky AS k2, e2.ky AS k3
        |      FROM o e1 JOIN o e2 ON e1.kx = e2.kx AND e1.ky < e2.ky),
        |t AS (SELECT k1, k2, k3 FROM w JOIN o e3 ON w.k2 = e3.kx AND w.k3 = e3.ky),
        |n AS (SELECT k1 AS k FROM t UNION ALL SELECT k2 FROM t
        |      UNION ALL SELECT k3 FROM t),
        |tc AS (SELECT k % 4294967296 AS node, CAST(count(*) AS BIGINT) AS n_tri
        |       FROM n GROUP BY 1)
        |SELECT deg.node, deg.dg,
        |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN deg.dg >= 2
        |       THEN (2000000 * coalesce(tc.n_tri, 0)) // (deg.dg * (deg.dg - 1))
        |       ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM deg LEFT JOIN tc USING (node)""".stripMargin,
    // RA link prediction: center-enumerated wedges under the degree cap,
    // 1e6 // dg evidence summed per non-adjacent pair, exact top-100
    "link_pred" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |dbl AS (SELECT a AS z, b AS n FROM pe UNION ALL SELECT b, a FROM pe),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS dg FROM dbl GROUP BY z),
        |zn AS (SELECT dbl.z, dbl.n, deg.dg FROM dbl JOIN deg USING (z)
        |       WHERE deg.dg <= 128),
        |wg AS (SELECT p.n AS u, q.n AS v, 1000000 // p.dg AS c
        |       FROM zn p JOIN zn q ON p.z = q.z AND p.n < q.n),
        |s AS (SELECT u, v, count(*)::BIGINT AS n_common,
        |        CAST(sum(c) AS BIGINT) AS ra_micro
        |      FROM wg GROUP BY u, v),
        |cand AS (SELECT s.* FROM s LEFT JOIN pe ON s.u = pe.a AND s.v = pe.b
        |         WHERE pe.a IS NULL)
        |SELECT u, v, n_common, ra_micro FROM cand
        |ORDER BY ra_micro DESC, u, v LIMIT 100""".stripMargin,
    // degree assortativity: integer moments over both edge orientations,
    // one double Pearson ratio (moments convert to double before the
    // products so nothing overflows)
    "assortativity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |          SELECT a AS node FROM pe UNION ALL SELECT b FROM pe) u
        |        GROUP BY node),
        |bo AS (SELECT a AS x, b AS y FROM pe
        |       UNION ALL SELECT b AS x, a AS y FROM pe),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(dx.dg) AS BIGINT) AS sx,
        |         CAST(sum(dy.dg) AS BIGINT) AS sy,
        |         CAST(sum(dx.dg * dy.dg) AS BIGINT) AS sxy,
        |         CAST(sum(dx.dg * dx.dg) AS BIGINT) AS sxx,
        |         CAST(sum(dy.dg * dy.dg) AS BIGINT) AS syy
        |       FROM bo JOIN deg dx ON bo.x = dx.node
        |       JOIN deg dy ON bo.y = dy.node)
        |SELECT m AS n_edge_ends,
        |       round((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |         / nullif(sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |           * sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE), 0),
        |         6) AS r
        |FROM mm""".stripMargin,
    // bounded k-core peel: 4 unrolled integer rounds, exact replay
    "kcore" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |e0 AS (SELECT a AS x, b AS y FROM pe
        |       UNION ALL SELECT b AS x, a AS y FROM pe),
        |k1 AS (SELECT x FROM e0 GROUP BY x HAVING count(*) >= 70),
        |e1 AS (SELECT e0.x, e0.y FROM e0
        |       JOIN k1 ON e0.x = k1.x
        |       JOIN k1 k1y ON e0.y = k1y.x),
        |k2 AS (SELECT x FROM e1 GROUP BY x HAVING count(*) >= 70),
        |e2 AS (SELECT e1.x, e1.y FROM e1
        |       JOIN k2 ON e1.x = k2.x
        |       JOIN k2 k2y ON e1.y = k2y.x),
        |k3 AS (SELECT x FROM e2 GROUP BY x HAVING count(*) >= 70),
        |e3 AS (SELECT e2.x, e2.y FROM e2
        |       JOIN k3 ON e2.x = k3.x
        |       JOIN k3 k3y ON e2.y = k3y.x),
        |k4 AS (SELECT x FROM e3 GROUP BY x HAVING count(*) >= 70),
        |e4 AS (SELECT e3.x, e3.y FROM e3
        |       JOIN k4 ON e3.x = k4.x
        |       JOIN k4 k4y ON e3.y = k4y.x)
        |SELECT x AS node, count(*)::BIGINT AS dg FROM e4 GROUP BY x""".stripMargin,
    // link_pred_core: the kcore peel chain narrowing the edge list to the
    // dense backbone, then the link_pred RA chain on the restricted edges
    // — subgraph-local degrees and caps. MATERIALIZED hints are load-
    // bearing: without them DuckDB re-inlines the whole peel chain at
    // every reference and the zn self-join squares that re-execution
    // (measured: 4.7 s materialized vs temp-disk exhaustion without)
    "link_pred_core" ->
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |e0 AS (SELECT a AS x, b AS y FROM pe
        |       UNION ALL SELECT b AS x, a AS y FROM pe),
        |k1 AS (SELECT x FROM e0 GROUP BY x HAVING count(*) >= 91),
        |e1 AS MATERIALIZED (SELECT e0.x, e0.y FROM e0
        |       JOIN k1 ON e0.x = k1.x
        |       JOIN k1 k1y ON e0.y = k1y.x),
        |k2 AS (SELECT x FROM e1 GROUP BY x HAVING count(*) >= 91),
        |e2 AS MATERIALIZED (SELECT e1.x, e1.y FROM e1
        |       JOIN k2 ON e1.x = k2.x
        |       JOIN k2 k2y ON e1.y = k2y.x),
        |k3 AS (SELECT x FROM e2 GROUP BY x HAVING count(*) >= 91),
        |e3 AS MATERIALIZED (SELECT e2.x, e2.y FROM e2
        |       JOIN k3 ON e2.x = k3.x
        |       JOIN k3 k3y ON e2.y = k3y.x),
        |k4 AS (SELECT x FROM e3 GROUP BY x HAVING count(*) >= 91),
        |e4 AS MATERIALIZED (SELECT e3.x, e3.y FROM e3
        |       JOIN k4 ON e3.x = k4.x
        |       JOIN k4 k4y ON e3.y = k4y.x),
        |core AS (SELECT DISTINCT x FROM e4),
        |pc AS MATERIALIZED (SELECT pe.a, pe.b FROM pe
        |       JOIN core ca ON pe.a = ca.x
        |       JOIN core cb ON pe.b = cb.x),
        |dbl AS (SELECT a AS z, b AS n FROM pc UNION ALL SELECT b, a FROM pc),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS dg FROM dbl GROUP BY z),
        |zn AS MATERIALIZED (SELECT dbl.z, dbl.n, deg.dg FROM dbl JOIN deg USING (z)
        |       WHERE deg.dg <= 128),
        |wg AS (SELECT p.n AS u, q.n AS v, 1000000 // p.dg AS c
        |       FROM zn p JOIN zn q ON p.z = q.z AND p.n < q.n),
        |s AS (SELECT u, v, count(*)::BIGINT AS n_common,
        |        CAST(sum(c) AS BIGINT) AS ra_micro
        |      FROM wg GROUP BY u, v),
        |cand AS (SELECT s.* FROM s LEFT JOIN pc ON s.u = pc.a AND s.v = pc.b
        |         WHERE pc.a IS NULL)
        |SELECT u, v, n_common, ra_micro FROM cand
        |ORDER BY ra_micro DESC, u, v LIMIT 100""".stripMargin, // link_pred_core
    // pagerank_weighted: ppm-normalized weights once, then three rounds
    // of (r·wn) div 10⁶ contributions — all truncating integer math
    "pagerank_weighted" ->
      """WITH raw AS (SELECT l_suppkey * 2 AS src,
        |               o_custkey * 2 + 1 AS dst,
        |               CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        |             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |agg AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM raw GROUP BY 1, 2),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM agg GROUP BY 1),
        |e AS (SELECT agg.src, agg.dst, (agg.w * 1000000) // ow.sw AS wn
        |      FROM agg JOIN ow ON agg.src = ow.src),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |ho AS (SELECT DISTINCT src FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(sum((r0.r * e.wn) // 1000000) AS BIGINT) AS c
        |       FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
        |d1 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r0 LEFT JOIN ho ON r0.node = ho.src WHERE ho.src IS NULL),
        |r1 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c1.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.node = c1.node
        |       CROSS JOIN d1 CROSS JOIN nn),
        |c2 AS (SELECT e.dst AS node, CAST(sum((r1.r * e.wn) // 1000000) AS BIGINT) AS c
        |       FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
        |d2 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r1 LEFT JOIN ho ON r1.node = ho.src WHERE ho.src IS NULL),
        |r2 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c2.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.node = c2.node
        |       CROSS JOIN d2 CROSS JOIN nn),
        |c3 AS (SELECT e.dst AS node, CAST(sum((r2.r * e.wn) // 1000000) AS BIGINT) AS c
        |       FROM e JOIN r2 ON e.src = r2.node GROUP BY e.dst),
        |d3 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r2 LEFT JOIN ho ON r2.node = ho.src WHERE ho.src IS NULL),
        |r3 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c3.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c3 ON nodes.node = c3.node
        |       CROSS JOIN d3 CROSS JOIN nn)
        |SELECT node, r AS rank_micro FROM r3""".stripMargin,
    // pagerank_until(eps=0, maxIters=4): the trade graph never reaches an
    // exact integer fixpoint in 4 rounds, so the run caps out and equals
    // pageRank(4) — the pagerank oracle with one more unrolled round
    "pagerank_until" ->
      """WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src,
        |                  o_custkey * 2 + 1 AS dst
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(sum(r0.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d1 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r0 LEFT JOIN od ON r0.node = od.src WHERE od.src IS NULL),
        |r1 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c1.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.node = c1.node
        |       CROSS JOIN d1 CROSS JOIN nn),
        |c2 AS (SELECT e.dst AS node, CAST(sum(r1.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d2 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r1 LEFT JOIN od ON r1.node = od.src WHERE od.src IS NULL),
        |r2 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c2.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.node = c2.node
        |       CROSS JOIN d2 CROSS JOIN nn),
        |c3 AS (SELECT e.dst AS node, CAST(sum(r2.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d3 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r2 LEFT JOIN od ON r2.node = od.src WHERE od.src IS NULL),
        |r3 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c3.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c3 ON nodes.node = c3.node
        |       CROSS JOIN d3 CROSS JOIN nn),
        |c4 AS (SELECT e.dst AS node, CAST(sum(r3.r // od.od) AS BIGINT) AS c
        |       FROM e JOIN r3 ON e.src = r3.node JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |d4 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang
        |       FROM r3 LEFT JOIN od ON r3.node = od.src WHERE od.src IS NULL),
        |r4 AS (SELECT nodes.node,
        |         CAST(150000 + (85 * (coalesce(c4.c, 0) + (dang // n))) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN c4 ON nodes.node = c4.node
        |       CROSS JOIN d4 CROSS JOIN nn)
        |SELECT node, r AS rank_micro FROM r4""".stripMargin,
    // label_prop: three verbatim min-label rounds over the doubled
    // co-purchase edge list (labelᵢ₊₁ = min(self, min neighbor))
    // tfidf's CTE + per-doc row_number on (rounded tfidf DESC, word)
    "doc_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM t WHERE word <> ''
        |       GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.word,
        |         round(tf.tf * ln((n.n_docs + 1)::DOUBLE / (df.df + 1)), 4) AS tfidf
        |       FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
        |SELECT doc_id, word, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, word) AS rnk FROM sc) r
        |WHERE rnk <= 5""".stripMargin,
    // label_prop's rounds + per-community modularity decomposition —
    // every FP input an exact integer, one rounded report
    "modularity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT a, b FROM pe UNION ALL SELECT b AS a, a AS b FROM pe),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
        |l1 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l0 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l0 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |l2 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l1 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l1 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |l3 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l2 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l2 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |mm AS (SELECT count(*)::BIGINT AS m FROM pe),
        |deg AS (SELECT node, count(*)::BIGINT AS dg FROM
        |          (SELECT a AS node FROM pe UNION ALL SELECT b FROM pe)
        |        GROUP BY node),
        |inn AS (SELECT la.label AS community, count(*)::BIGINT AS in_edges
        |        FROM pe JOIN l3 la ON pe.a = la.node
        |        JOIN l3 lb ON pe.b = lb.node
        |        WHERE la.label = lb.label GROUP BY 1),
        |dc AS (SELECT l3.label AS community, count(*)::BIGINT AS n_members,
        |         CAST(sum(d.dg) AS BIGINT) AS deg_sum
        |       FROM l3 JOIN deg d ON l3.node = d.node GROUP BY 1)
        |SELECT dc.community, dc.n_members,
        |  coalesce(inn.in_edges, 0)::BIGINT AS in_edges, dc.deg_sum,
        |  round(coalesce(inn.in_edges, 0)::DOUBLE / mm.m
        |    - (dc.deg_sum::DOUBLE / (2.0 * mm.m))
        |      * (dc.deg_sum::DOUBLE / (2.0 * mm.m)), 6) AS q_contrib
        |FROM dc LEFT JOIN inn USING (community) CROSS JOIN mm""".stripMargin,
    // label_prop's unrolled min-label rounds + the per-community rollup
    "trade_communities" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT a, b FROM pe UNION ALL SELECT b AS a, a AS b FROM pe),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
        |l1 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l0 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l0 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |l2 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l1 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l1 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |l3 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l2 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l2 q ON q.node = e.b
        |       GROUP BY p.node, p.label)
        |SELECT label AS community, count(*)::BIGINT AS n_members,
        |       min(node) AS min_node, max(node) AS max_node
        |FROM l3 GROUP BY label""".stripMargin,
    "label_prop" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pe AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT a, b FROM pe UNION ALL SELECT b AS a, a AS b FROM pe),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
        |l1 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l0 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l0 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |l2 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l1 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l1 q ON q.node = e.b
        |       GROUP BY p.node, p.label),
        |l3 AS (SELECT p.node, least(p.label, coalesce(min(q.label), p.label)) AS label
        |       FROM l2 p LEFT JOIN und e ON e.a = p.node
        |       LEFT JOIN l2 q ON q.node = e.b
        |       GROUP BY p.node, p.label)
        |SELECT node, label FROM l3""".stripMargin,
    // ks_source: exact-integer CDFs on the shared n_chars support grid;
    // the only FP is the final cum/n division both engines perform on
    // identical integers
    "ks_source" ->
      """WITH lens AS (SELECT source, n_chars AS x FROM documents),
        |counts AS (SELECT source, x, count(*) AS c FROM lens GROUP BY 1, 2),
        |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
        |support AS (SELECT DISTINCT x FROM counts),
        |grid AS (SELECT t.source, s.x, t.n, coalesce(c.c, 0) AS c
        |         FROM totals t CROSS JOIN support s
        |         LEFT JOIN counts c ON c.source = t.source AND c.x = s.x),
        |cdf AS (SELECT source, x, n,
        |          CAST(sum(c) OVER (PARTITION BY source ORDER BY x
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |        FROM grid)
        |SELECT p.source AS a, q.source AS b,
        |  round(max(abs(p.cum::DOUBLE / p.n - q.cum::DOUBLE / q.n)), 6) AS ks_d,
        |  any_value(p.n) AS n_a, any_value(q.n) AS n_b
        |FROM cdf p JOIN cdf q ON p.x = q.x AND p.source < q.source
        |GROUP BY 1, 2""".stripMargin,
    // kfold_assign: salted portable hash, within-stratum rank % k
    "kfold_assign" ->
      """SELECT doc_id, source,
        |  (row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1) % 5 AS fold
        |FROM (SELECT doc_id, source,
        |        ('0x'||substr(md5('fold:'||doc_id),1,15))::BIGINT AS h
        |      FROM documents) t""".stripMargin,
    // hll_overlap: the full register algebra replays — per-source
    // registers, bucket-wise max merge per pair, the same integer-scaled
    // estimator as hll_distinct evaluated at single and union level
    "hll_overlap" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(text, '\s+')) AS word
        |             FROM documents),
        |h AS (SELECT source, ('0x'||substr(md5(word),1,15))::BIGINT AS h
        |      FROM tok WHERE word <> ''),
        |b AS (SELECT source, h % 512 AS bucket,
        |        CASE WHEN h // 512 = 0 THEN 52
        |             ELSE 52 - length(bin(h // 512)) END AS rho FROM h),
        |reg AS (SELECT source, bucket, max(rho) AS r FROM b GROUP BY 1, 2),
        |e1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_used,
        |         CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS sum_used
        |       FROM reg GROUP BY 1),
        |x1 AS (SELECT source, n_used,
        |         (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * 4503599627370496.0
        |           / CAST(sum_used + (512 - n_used) * (1::BIGINT << 52) AS DOUBLE) AS est_raw
        |       FROM e1),
        |f1 AS (SELECT source, round(CASE WHEN n_used < 512 AND est_raw <= 1280.0
        |         THEN 512.0 * ln(512.0 / (512 - n_used)) ELSE est_raw END, 2) AS est
        |       FROM x1),
        |srcs AS (SELECT DISTINCT source FROM reg),
        |pairs AS (SELECT x.source AS a, y.source AS b
        |          FROM srcs x JOIN srcs y ON x.source < y.source),
        |pr AS (SELECT a, b, bucket, max(r) AS r FROM (
        |         SELECT p.a, p.b, r.bucket, r.r FROM pairs p JOIN reg r ON r.source = p.a
        |         UNION ALL
        |         SELECT p.a, p.b, r.bucket, r.r FROM pairs p JOIN reg r ON r.source = p.b) u
        |       GROUP BY 1, 2, 3),
        |eu AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_used,
        |         CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS sum_used
        |       FROM pr GROUP BY 1, 2),
        |xu AS (SELECT a, b, n_used,
        |         (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * 4503599627370496.0
        |           / CAST(sum_used + (512 - n_used) * (1::BIGINT << 52) AS DOUBLE) AS est_raw
        |       FROM eu),
        |fu AS (SELECT a, b, round(CASE WHEN n_used < 512 AND est_raw <= 1280.0
        |         THEN 512.0 * ln(512.0 / (512 - n_used)) ELSE est_raw END, 2) AS est_union
        |       FROM xu)
        |SELECT fu.a, fu.b, fa.est AS est_a, fb.est AS est_b, fu.est_union,
        |  round(greatest(0.0, fa.est + fb.est - fu.est_union), 2) AS est_shared
        |FROM fu JOIN f1 fa ON fu.a = fa.source JOIN f1 fb ON fu.b = fb.source""".stripMargin,
    // linear_attribution: running per-type touch counts + the carry
    // window; vi div n truncating micro-units, remainder to the last
    // touch, one final division after exact integer sums
    "linear_attribution" ->
      """WITH ev AS (SELECT user_id, ts, event_id, event_type,
        |              CAST(round(value * 1000000) AS BIGINT) AS vi
        |            FROM events WHERE event_type IN ('click', 'view', 'purchase')),
        |m AS (SELECT *,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |    OVER wp, 0) AS BIGINT) AS n_click,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END)
        |    OVER wp, 0) AS BIGINT) AS n_view,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER wp AS last_touch
        |  FROM ev
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT vi, n_click, n_view, last_touch,
        |        n_click + n_view AS n,
        |        CASE WHEN n_click + n_view > 0
        |             THEN vi // (n_click + n_view) ELSE 0 END AS share
        |      FROM m WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT 'click' AS touch_type,
        |    n_click * share + CASE WHEN last_touch = 'click'
        |      THEN vi - n * share ELSE 0 END AS credit FROM p
        |  UNION ALL
        |  SELECT 'view',
        |    n_view * share + CASE WHEN last_touch = 'view'
        |      THEN vi - n * share ELSE 0 END FROM p
        |  UNION ALL
        |  SELECT 'direct', CASE WHEN n = 0 THEN vi ELSE 0 END FROM p)
        |SELECT touch_type, count(*)::BIGINT AS n_purchases,
        |  round(CAST(sum(credit) AS DOUBLE) / 1e6, 4) AS attributed_value
        |FROM c WHERE credit > 0 GROUP BY 1""".stripMargin,
    // attribution: the ignoreNulls carry window replays verbatim; value
    // sums are exact micro-unit integers until one final division
    "attribution" ->
      """WITH ev AS (SELECT user_id, ts, event_id, event_type,
        |              CAST(round(value * 1000000) AS BIGINT) AS vi
        |            FROM events WHERE event_type IN ('click', 'view', 'purchase')),
        |m AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase'
        |                                THEN event_type END IGNORE NULLS)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |      FROM ev)
        |SELECT coalesce(touch, 'direct') AS touch_type, count(*) AS n_purchases,
        |  round(CAST(sum(vi) AS DOUBLE) / 1e6, 4) AS attributed_value
        |FROM m WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    // event_trigrams: two leads over the (ts, event_id) total order, one
    // count aggregate, deterministic (n desc, trigram) cut at 20
    "event_trigrams" ->
      """WITH seq AS (SELECT user_id, ts, event_id, event_type,
        |    lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || t1 || '>' || t2 AS trigram, count(*) AS n
        |FROM seq WHERE t2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20""".stripMargin,
    // lang_fertility: exact integer sums, two rounded ratios
    "lang_fertility" ->
      """WITH d AS (SELECT lang, n_chars,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS toks
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / sum(toks), 4) AS chars_per_token,
        |  round(CAST(sum(toks) AS DOUBLE) / count(*), 4) AS tokens_per_doc
        |FROM d GROUP BY lang""".stripMargin,
    // jsd_sources: in-support terms integer-scaled to nano-bits; the
    // out-of-support corpus tail is 1 − Σ q (no cross product needed)
    "jsd_sources" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(text, '\s+')) AS word
        |             FROM documents),
        |bysrc AS (SELECT source, word, count(*) AS cs FROM tok GROUP BY source, word),
        |ns AS (SELECT source, word, cs, sum(cs) OVER (PARTITION BY source) AS ns
        |       FROM bysrc),
        |corpus AS (SELECT word, count(*) AS cc FROM tok GROUP BY word),
        |t AS (SELECT count(*) AS nc FROM tok),
        |terms AS (SELECT source,
        |    CAST(round((
        |      (cs / ns::DOUBLE)
        |        * log2(2.0 * (cs / ns::DOUBLE)
        |               / ((cs / ns::DOUBLE) + (cc / nc::DOUBLE)))
        |      + (cc / nc::DOUBLE)
        |        * log2(2.0 * (cc / nc::DOUBLE)
        |               / ((cs / ns::DOUBLE) + (cc / nc::DOUBLE)))
        |    ) * 1e9, 0) AS BIGINT) AS it,
        |    CAST(round((cc / nc::DOUBLE) * 1e9, 0) AS BIGINT) AS qm
        |  FROM ns JOIN corpus USING (word) CROSS JOIN t)
        |SELECT source,
        |  round((sum(it) + 1000000000 - sum(qm)) / 2.0 / 1e9, 6) AS jsd_bits
        |FROM terms GROUP BY source""".stripMargin,
    // containment_pairs: same shingle construct as ngram_jaccard, ratio
    // over min set size, unrounded threshold / rounded report
    "containment_pairs" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t AS (SELECT doc_id, source, sh, len(sh) AS n FROM s)
        |SELECT a, b, na, nb, round(c, 4) AS containment FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.n AS na, y.n AS nb,
        |    len(list_intersect(x.sh, y.sh))::DOUBLE / least(x.n, y.n) AS c
        |  FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |WHERE c >= 0.1""".stripMargin,
    // dup_rate_by_source: keep-first over the corpus-wide md5 groups,
    // rolled up per source
    "dup_rate_by_source" ->
      """WITH k AS (SELECT doc_id, source,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  round(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 4) AS dup_rate
        |FROM k GROUP BY source""".stripMargin,
    // rolling_distinct: per-day registers, dense grid, range-window max
    // merge over the trailing 7 days, shared estimator
    "rolling_distinct" ->
      """WITH ev AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |              user_id FROM events),
        |h AS (SELECT day, ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
        |      FROM ev),
        |b AS (SELECT day, h % 512 AS bucket,
        |        CASE WHEN h // 512 = 0 THEN 52
        |             ELSE 52 - length(bin(h // 512)) END AS rho FROM h),
        |reg AS (SELECT day, bucket, max(rho) AS r FROM b GROUP BY 1, 2),
        |grid AS (SELECT d.day, bk.bucket
        |         FROM (SELECT DISTINCT day FROM reg) d
        |         CROSS JOIN (SELECT DISTINCT bucket FROM reg) bk),
        |g2 AS (SELECT g.day, g.bucket, reg.r
        |       FROM grid g LEFT JOIN reg ON reg.day = g.day AND reg.bucket = g.bucket),
        |m AS (SELECT day, bucket, max(r) OVER (PARTITION BY bucket ORDER BY day
        |        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rm FROM g2),
        |agg AS (SELECT day, CAST(count(rm) AS BIGINT) AS n_used,
        |          CAST(sum(CASE WHEN rm IS NOT NULL
        |                        THEN 1::BIGINT << (52 - rm) END) AS BIGINT) AS sum_used
        |        FROM m GROUP BY 1),
        |x AS (SELECT day, n_used,
        |        (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * 4503599627370496.0
        |          / CAST(sum_used + (512 - n_used) * (1::BIGINT << 52) AS DOUBLE) AS est_raw
        |      FROM agg)
        |SELECT day, n_used, round(CASE WHEN n_used < 512 AND est_raw <= 1280.0
        |  THEN 512.0 * ln(512.0 / (512 - n_used)) ELSE est_raw END, 2) AS est_users
        |FROM x""".stripMargin,
    // mad_outliers: medians round to 2 decimals BEFORE thresholding so
    // both engines compare identical values
    "mad_outliers" ->
      """WITH li AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem),
        |med AS (SELECT l_returnflag, round(quantile_cont(v, 0.5), 2) AS med
        |        FROM li GROUP BY 1),
        |dev AS (SELECT li.l_returnflag, v, med FROM li JOIN med USING (l_returnflag)),
        |mad AS (SELECT l_returnflag, round(quantile_cont(abs(v - med), 0.5), 2) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT d.l_returnflag, any_value(d.med) AS med, any_value(m.mad) AS mad,
        |  CAST(sum(CASE WHEN abs(d.v - d.med) > 3.0 * 1.4826 * m.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n
        |FROM dev d JOIN mad m USING (l_returnflag)
        |GROUP BY 1""".stripMargin,
    // winsorized: clip bounds round to cents BEFORE use, so both engines
    // clip identically; means by the q1_pricing avg precedent
    "winsorized" ->
      """WITH li AS (SELECT l_returnflag, l_extendedprice AS v FROM lineitem),
        |b AS (SELECT l_returnflag, round(quantile_cont(v, 0.05), 2) AS b_lo,
        |        round(quantile_cont(v, 0.95), 2) AS b_hi FROM li GROUP BY 1)
        |SELECT li.l_returnflag, any_value(b_lo) AS b_lo, any_value(b_hi) AS b_hi,
        |  round(avg(v), 2) AS mean_raw,
        |  round(avg(greatest(least(v, b_hi), b_lo)), 2) AS mean_wins,
        |  CAST(sum(CASE WHEN v < b_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN v > b_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  count(*) AS n
        |FROM li JOIN b USING (l_returnflag) GROUP BY 1""".stripMargin,
    // time_to_convert: integer-second latencies; only the final
    // interpolated quantiles and the rate are FP
    "time_to_convert" ->
      """WITH su AS (SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
        |       WHERE event_type = 'purchase'),
        |fp AS (SELECT su.user_id, min(p_us) AS p_us
        |       FROM su JOIN pu ON su.user_id = pu.user_id AND p_us >= s_us
        |       GROUP BY 1),
        |conv AS (SELECT su.user_id,
        |           CASE WHEN fp.p_us IS NOT NULL
        |                THEN (fp.p_us - su.s_us) // 1000000 END AS delta_s
        |         FROM su LEFT JOIN fp ON su.user_id = fp.user_id)
        |SELECT count(*) AS n_signups, count(delta_s) AS n_converted,
        |  round(count(delta_s)::DOUBLE / count(*), 4) AS cvr,
        |  round(quantile_cont(delta_s, 0.5), 1) AS p50_s,
        |  round(quantile_cont(delta_s, 0.9), 1) AS p90_s
        |FROM conv""".stripMargin,
    // time_weighted_avg: exact HUGEINT products (value micro-units × gap
    // ms) mirror Spark's decimal(38,0) sums; one final double division
    "time_weighted_avg" ->
      """WITH t AS (SELECT user_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS vi,
        |    (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts)) // 1000 AS dt_ms
        |  FROM events)
        |SELECT user_id,
        |  round(CAST(sum(vi::HUGEINT * dt_ms) AS DOUBLE)
        |        / (CAST(sum(dt_ms) AS DOUBLE) * 1e6), 4) AS twa,
        |  CAST(sum(dt_ms) AS BIGINT) AS total_ms,
        |  count(*) AS n_intervals
        |FROM t WHERE dt_ms IS NOT NULL GROUP BY user_id""".stripMargin,
    // hll_distinct: the whole sketch replays — portable md5 hash, bin()
    // bit length (minimal digits in both engines), integer-scaled register
    // weights; estimator constants are the same compound literals Spark
    // folds, so the doubles agree bit-for-bit
    "hll_distinct" ->
      """WITH h AS (SELECT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |b AS (SELECT l_returnflag, h % 512 AS bucket,
        |    CASE WHEN h // 512 = 0 THEN 52
        |         ELSE 52 - length(bin(h // 512)) END AS rho
        |  FROM h),
        |reg AS (SELECT l_returnflag, bucket, max(rho) AS r FROM b GROUP BY 1, 2),
        |ag AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_used,
        |    CAST(sum(1::BIGINT << (52 - r)) AS BIGINT) AS sum_used
        |  FROM reg GROUP BY 1),
        |sc AS (SELECT l_returnflag, n_used,
        |    sum_used + (512 - n_used) * (1::BIGINT << 52) AS sum_scaled FROM ag),
        |est AS (SELECT *,
        |    (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * 4503599627370496.0
        |      / CAST(sum_scaled AS DOUBLE) AS est_raw FROM sc)
        |SELECT l_returnflag, n_used, sum_scaled,
        |  round(CASE WHEN n_used < 512 AND est_raw <= 1280.0
        |    THEN 512.0 * ln(512.0 / (512 - n_used)) ELSE est_raw END, 2) AS est_distinct
        |FROM est""".stripMargin,
    // cms_wordfreq: the sketch matrix and the probe replay exactly — md5
    // buckets, integer counters, min over depth rows; % is safe because
    // the 60-bit hash is non-negative in both engines
    "cms_wordfreq" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |k AS (SELECT w, unnest(range(0, 4)) AS d FROM w WHERE w <> ''),
        |cms AS (SELECT d,
        |    ('0x'||substr(md5(w || ':' || CAST(d AS VARCHAR)),1,15))::BIGINT % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM k GROUP BY 1, 2),
        |probes(word) AS (VALUES ('join'), ('hash'), ('scan'), ('merge'),
        |    ('vector'), ('window'), ('zzz_absent')),
        |pb AS (SELECT word, d,
        |    ('0x'||substr(md5(word || ':' || CAST(d AS VARCHAR)),1,15))::BIGINT % 512 AS bucket
        |  FROM probes, (SELECT unnest(range(0, 4)) AS d))
        |SELECT word, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_cnt
        |FROM pb LEFT JOIN cms USING (d, bucket) GROUP BY word""".stripMargin,
    // dsir_weights: hashed-bigram buckets, add-one-smoothed integer ppm
    // ratio, count-weighted sum — every term integer, `//` = Spark's div
    "dsir_weights" ->
      """WITH t AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
        |    string_split_regex(text, '\s+') AS toks FROM documents),
        |f AS (SELECT doc_id, tgt, unnest(list_transform(range(1, len(toks)),
        |    i -> ('0x'||substr(md5(array_to_string(toks[i:i+1], ' ')),1,15))::BIGINT % 4096))
        |    AS bucket
        |  FROM t WHERE len(toks) >= 2),
        |g AS (SELECT doc_id, tgt, bucket, count(*) AS cnt FROM f GROUP BY 1, 2, 3),
        |wt AS (SELECT bucket,
        |    CAST(((sum(CASE WHEN tgt = 1 THEN cnt ELSE 0 END) + 1) * 1000000)
        |      // (sum(cnt) + 1) AS BIGINT) AS w_ppm
        |  FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(sum(g.cnt) AS BIGINT) AS n_grams,
        |  CAST(sum(g.cnt * wt.w_ppm) AS BIGINT) AS score_ppm
        |FROM g JOIN wt USING (bucket) GROUP BY 1""".stripMargin,
    // leakage_split: dedup_resolve's recursive components + the cluster-
    // keyed md5 split cutoffs (c/e hex boundaries = 12/2/2 sixteenths)
    "leakage_split" ->
      """WITH RECURSIVE
        |s AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
        |      i -> array_to_string((string_split_regex(text, '\s+'))[i:i+2], ' '))) AS sh
        |  FROM documents),
        |t AS (SELECT doc_id, source, sh, len(sh) AS n FROM s),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      len(list_intersect(x.sh, y.sh))::DOUBLE
        |        / (x.n + y.n - len(list_intersect(x.sh, y.sh))) AS j
        |    FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id) p
        |  WHERE j >= 0.8),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node)
        |SELECT doc_id, cluster,
        |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM labels""".stripMargin,
    // page_transitions: lead() over the unique (ts, event_id) order, then
    // integer ppm against per-source totals
    "page_transitions" ->
      """WITH st AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |  FROM st WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, CAST((c.n * 1000000) // tot.tot AS BIGINT) AS p_ppm
        |FROM c JOIN tot USING (from_type)""".stripMargin,
    // merge_intervals: epoch-second integer intervals; the running-max
    // island flag can never depend on the ambiguous order of tied rows
    // (an equal-start row's end ≥ its start), so the window replay is safe
    "merge_intervals" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) // 1000000 AS start_s,
        |    epoch_us(ts) // 1000000 + 300 AS end_s FROM events),
        |fl AS (SELECT user_id, start_s, end_s,
        |    max(end_s) OVER (PARTITION BY user_id ORDER BY start_s, end_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM iv),
        |fm AS (SELECT user_id, start_s, end_s,
        |    CASE WHEN prev_end IS NULL OR start_s > prev_end THEN 1 ELSE 0 END AS ni
        |  FROM fl),
        |isl AS (SELECT user_id, start_s, end_s,
        |    CAST(sum(ni) OVER (PARTITION BY user_id ORDER BY start_s, end_s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM fm)
        |SELECT user_id, island, min(start_s) AS start_s, max(end_s) AS end_s,
        |  count(*) AS n_merged
        |FROM isl GROUP BY 1, 2""".stripMargin,
    // rrf_fuse: both upstream rankers replay (bm25_topk's and
    // cosine_topk's oracles at k=20), then the fusion is pure integer math
    "rrf_fuse" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |           FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM t WHERE word <> ''
        |       GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q AS (SELECT * FROM (VALUES
        |        (0, ['spark', 'join', 'merge']),
        |        (1, ['window', 'scan']),
        |        (2, ['customer', 'vector', 'slow'])) AS v(query_id, terms)),
        |qt AS (SELECT query_id, unnest(terms) AS word FROM q),
        |bsc AS (SELECT qt.query_id, tf.doc_id,
        |         CAST(round(1000000.0
        |           * ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |           * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |           AS BIGINT) AS ts
        |       FROM tf JOIN qt USING (word) JOIN dl USING (doc_id)
        |       JOIN df USING (word) CROSS JOIN st),
        |bag AS (SELECT query_id, doc_id, CAST(sum(ts) AS BIGINT) AS s
        |       FROM bsc GROUP BY 1, 2),
        |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY s DESC, doc_id) AS rnk FROM bag) z WHERE rnk <= 20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qe AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |se AS (SELECT query_id, e.vec_id AS doc_id,
        |        CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)) = 0
        |             THEN -1.0
        |             ELSE round(list_dot_product(qv, v)
        |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
        |               4) END AS sim
        |      FROM qe CROSS JOIN e WHERE e.vec_id <> query_id),
        |sem AS (SELECT query_id, doc_id, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, doc_id) AS rnk FROM se) z WHERE rnk <= 20),
        |u AS (SELECT query_id, doc_id, 1000000 // (60 + rnk) AS c FROM lex
        |      UNION ALL
        |      SELECT query_id, doc_id, 1000000 // (60 + rnk) AS c FROM sem),
        |fu AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
        |       CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf_micro, n_lists, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY rrf_micro DESC, doc_id) AS rnk FROM fu) z
        |WHERE rnk <= 10""".stripMargin,
    // bm25_topk: constants written as the SAME compound expressions the
    // Scala side computes ((1.2 + 1), (1 - 0.75 + ...)) so both engines
    // produce bit-identical doubles before the integer scaling
    "bm25_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |           FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM t WHERE word <> ''
        |       GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q AS (SELECT * FROM (VALUES
        |        (0, ['spark', 'join', 'merge']),
        |        (1, ['window', 'scan']),
        |        (2, ['customer', 'vector', 'slow'])) AS v(query_id, terms)),
        |qt AS (SELECT query_id, unnest(terms) AS word FROM q),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |         CAST(round(1000000.0
        |           * ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |           * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
        |           AS BIGINT) AS ts
        |       FROM tf JOIN qt USING (word) JOIN dl USING (doc_id)
        |       JOIN df USING (word) CROSS JOIN st),
        |ag AS (SELECT query_id, doc_id, CAST(sum(ts) AS BIGINT) AS s
        |       FROM sc GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |       s / 1000000.0 AS score, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |            ORDER BY s DESC, doc_id) AS rnk FROM ag) t
        |WHERE rnk <= 10""".stripMargin,
    "pq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |subs AS (SELECT vec_id, s, v[s*4+1 : s*4+4] AS sv
        |         FROM e, (SELECT unnest(range(0, 16)) AS s) ss),
        |dims AS (SELECT unnest(range(1, 5)) AS d),
        |cbm AS (SELECT s, vec_id % 32 AS code, d, avg(sv[d]) AS mval
        |        FROM subs, dims GROUP BY 1, 2, 3),
        |cb0 AS (SELECT s, code, list(mval ORDER BY d) AS c FROM cbm GROUP BY 1, 2),
        |asg AS (SELECT vec_id, s, code, sv FROM (
        |  SELECT subs.vec_id, subs.s, cb0.code, subs.sv, row_number() OVER (
        |    PARTITION BY subs.vec_id, subs.s
        |    ORDER BY list_dot_product(sv, sv) - 2 * list_dot_product(sv, c)
        |             + list_dot_product(c, c), cb0.code) AS rn
        |  FROM subs JOIN cb0 ON subs.s = cb0.s) t WHERE rn = 1),
        |ref AS (SELECT s, code, d, avg(sv[d]) AS mval FROM asg, dims GROUP BY 1, 2, 3),
        |cbr AS (SELECT s, code, list(mval ORDER BY d) AS c2 FROM ref GROUP BY 1, 2),
        |cb AS (SELECT cb0.s, cb0.code, coalesce(cbr.c2, cb0.c) AS c
        |       FROM cb0 LEFT JOIN cbr ON cb0.s = cbr.s AND cb0.code = cbr.code),
        |enc AS (SELECT vec_id, s, code FROM (
        |  SELECT subs.vec_id, subs.s, cb.code, row_number() OVER (
        |    PARTITION BY subs.vec_id, subs.s
        |    ORDER BY list_dot_product(sv, sv) - 2 * list_dot_product(sv, c)
        |             + list_dot_product(c, c), cb.code) AS rn
        |  FROM subs JOIN cb ON subs.s = cb.s) t WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, s, sv FROM subs WHERE vec_id < 8),
        |lut AS (SELECT query_id, qs.s, cb.code,
        |          list_dot_product(qs.sv, cb.c) AS val
        |        FROM qs JOIN cb ON qs.s = cb.s),
        |sc AS (SELECT l.query_id, en.vec_id AS nbr_id, round(sum(l.val), 4) AS adc
        |       FROM enc en JOIN lut l ON en.s = l.s AND en.code = l.code
        |       WHERE en.vec_id <> l.query_id
        |       GROUP BY 1, 2)
        |SELECT query_id, nbr_id, adc, rnk FROM (
        |  SELECT query_id, nbr_id, adc, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc DESC, nbr_id) AS rnk
        |  FROM sc) t
        |WHERE rnk <= 5""".stripMargin,
    // media_features: the stub codec path is the portable md5 scheme, so
    // DuckDB replays the integer feature digest from the raw text bytes
    // (feature d's residue = md5_60bit(text || ':' || d) % 1000003).
    "media_features" ->
      """SELECT d.doc_id AS media_id, 'image' AS kind, 16 AS n_dims,
        |  CAST(sum(('0x'||substr(md5(d.text || ':' || g.i), 1, 15))::BIGINT % 1000003) AS BIGINT) AS f_digest
        |FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
        |GROUP BY 1""".stripMargin,
    // media_phash: replay the stub residues, threshold each against the
    // row total in integer space (rv·16 > Σrv, strict — mirrors the
    // engine exactly), pack bits, then window-count duplicates per hash
    "media_phash" ->
      """WITH r AS (SELECT d.doc_id AS media_id, g.i AS i,
        |    ('0x'||substr(md5(d.text || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g),
        |t AS (SELECT media_id, CAST(sum(rv) AS BIGINT) AS tot FROM r GROUP BY media_id),
        |p AS (SELECT r.media_id,
        |    CAST(sum(CASE WHEN rv * 16 > tot THEN (1::BIGINT << CAST(i AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash
        |  FROM r JOIN t USING (media_id) GROUP BY r.media_id)
        |SELECT media_id, phash,
        |  CAST(count(*) OVER (PARTITION BY phash) - 1 AS BIGINT) AS n_dups
        |FROM p""".stripMargin,
    // phash_near_pairs: same stub phash replay, then the FULL banded
    // near-dup protocol — 4-bit band buckets, the maxBucket=1024 cap,
    // same-band candidates, popcount verify at hamming <= 3 (replaying
    // the cap keeps the twin exact even if a fixture bucket ever
    // degenerates past the cap)
    "phash_near_pairs" ->
      """WITH r AS (SELECT d.doc_id AS media_id, g.i AS i,
        |    ('0x'||substr(md5(d.text || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g),
        |t AS (SELECT media_id, CAST(sum(rv) AS BIGINT) AS tot FROM r GROUP BY media_id),
        |p AS (SELECT r.media_id,
        |    CAST(sum(CASE WHEN rv * 16 > tot THEN (1::BIGINT << CAST(i AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash
        |  FROM r JOIN t USING (media_id) GROUP BY r.media_id),
        |b AS (SELECT media_id, phash, j, (phash >> CAST(4 * j AS INT)) & 15 AS bh
        |      FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS j) g),
        |ok AS (SELECT j, bh FROM (SELECT j, bh, count(*) AS nb FROM b GROUP BY 1, 2)
        |       WHERE nb <= 1024),
        |f AS (SELECT b.media_id, b.phash, b.j, b.bh FROM b JOIN ok USING (j, bh)),
        |cand AS (SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
        |           CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
        |         FROM f x JOIN f y USING (j, bh)
        |         WHERE x.media_id < y.media_id)
        |SELECT media_a, media_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,
    // phash_near_pairs64: the wide 64-bit stub replay — 64 md5 residues,
    // rv*64 > tot bit rule (bit 63 = two's-complement Long.MinValue,
    // matching Spark's silent shiftleft wrap; DuckDB errors on 1<<63 so
    // it is emitted literally), 4 bands of 16 bits (DuckDB >> is
    // arithmetic like Spark's — the & mask absorbs sign extension),
    // the 1024 cap, popcount at hamming <= 3
    "phash_near_pairs64" ->
      """WITH r AS (SELECT d.doc_id AS media_id, g.i AS i,
        |    ('0x'||substr(md5('wp:' || (d.doc_id // 3)::VARCHAR || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g),
        |t AS (SELECT media_id, CAST(sum(rv) AS BIGINT) AS tot FROM r GROUP BY media_id),
        |p AS (SELECT r.media_id,
        |    CAST(sum(CASE WHEN rv * 64 <= tot THEN 0
        |             WHEN i = 63 THEN -9223372036854775808
        |             ELSE (1::BIGINT << CAST(i AS INT)) END) AS BIGINT) AS phash
        |  FROM r JOIN t USING (media_id) GROUP BY r.media_id),
        |b AS (SELECT media_id, phash, j, (phash >> CAST(16 * j AS INT)) & 65535 AS bh
        |      FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS j) g),
        |ok AS (SELECT j, bh FROM (SELECT j, bh, count(*) AS nb FROM b GROUP BY 1, 2)
        |       WHERE nb <= 1024),
        |f AS (SELECT b.media_id, b.phash, b.j, b.bh FROM b JOIN ok USING (j, bh)),
        |cand AS (SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
        |           CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
        |         FROM f x JOIN f y USING (j, bh)
        |         WHERE x.media_id < y.media_id)
        |SELECT media_a, media_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,
    // phash_dct_near_pairs: the 32x32 stub residues through the SAME
    // scaled-integer DCT basis the Scala kernel uses (spliced below as a
    // VALUES literal from Multimodal.dctBasis — no cross-engine cos()
    // last-ulp drift possible), top 8x8 coefficient block, sign vs the
    // sorted-index-32 lower median, bit 63 as two's-complement MinValue,
    // then the 64-bit banding replay verbatim
    "phash_dct_near_pairs" -> {
      val basisValues = operators.Multimodal.dctBasis(32).zipWithIndex
        .flatMap { case (row, k) =>
          row.zipWithIndex.map { case (b, n) => s"($k,$n,${b}::BIGINT)" }
        }.mkString(",")
      s"""WITH r AS (SELECT d.doc_id AS media_id, g.i % 32 AS gx, g.i // 32 AS gy,
        |    ('0x'||substr(md5('dp:' || (d.doc_id // 3)::VARCHAR || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 1024)) AS i) g),
        |basis(k, n, bv) AS (SELECT * FROM (VALUES $basisValues)),
        |s1 AS (SELECT r.media_id, b.k AS u, r.gy AS gy,
        |         CAST(sum(rv * b.bv) AS BIGINT) AS rv1
        |       FROM r JOIN basis b ON b.n = r.gx GROUP BY 1, 2, 3),
        |s2 AS (SELECT s1.media_id, b.k * 8 + s1.u AS d,
        |         CAST(sum(rv1 * b.bv) AS BIGINT) AS c
        |       FROM s1 JOIN basis b ON b.n = s1.gy GROUP BY 1, 2),
        |med AS (SELECT media_id, c AS m FROM
        |         (SELECT media_id, c,
        |            row_number() OVER (PARTITION BY media_id ORDER BY c) AS rn
        |          FROM s2)
        |        WHERE rn = 32),
        |p AS (SELECT s2.media_id,
        |    CAST(sum(CASE WHEN s2.c <= med.m THEN 0
        |             WHEN d = 63 THEN -9223372036854775808
        |             ELSE (1::BIGINT << CAST(d AS INT)) END) AS BIGINT) AS phash
        |  FROM s2 JOIN med USING (media_id) GROUP BY s2.media_id),
        |b AS (SELECT media_id, phash, j, (phash >> CAST(16 * j AS INT)) & 65535 AS bh
        |      FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS j) g),
        |ok AS (SELECT j, bh FROM (SELECT j, bh, count(*) AS nb FROM b GROUP BY 1, 2)
        |       WHERE nb <= 1024),
        |f AS (SELECT b.media_id, b.phash, b.j, b.bh FROM b JOIN ok USING (j, bh)),
        |cand AS (SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
        |           CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
        |         FROM f x JOIN f y USING (j, bh)
        |         WHERE x.media_id < y.media_id)
        |SELECT media_a, media_b, hamming FROM cand WHERE hamming <= 3""".stripMargin
    },
    // phash_dct_near_keep: the DCT chain on the 'dk:' grouped payloads,
    // quality = the 1024-cell integer variance of the same residues,
    // then the recursive component walk + sharpest-survivor election
    // (phash_near_keep's shape on the DCT code)
    "phash_dct_near_keep" -> {
      val basisValues = operators.Multimodal.dctBasis(32).zipWithIndex
        .flatMap { case (row, k) =>
          row.zipWithIndex.map { case (b, n) => s"($k,$n,${b}::BIGINT)" }
        }.mkString(",")
      s"""WITH RECURSIVE
        |r AS (SELECT d.doc_id AS media_id, g.i % 32 AS gx, g.i // 32 AS gy,
        |    ('0x'||substr(md5('dk:' || (d.doc_id // 3)::VARCHAR || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 1024)) AS i) g),
        |basis(k, n, bv) AS (SELECT * FROM (VALUES $basisValues)),
        |q AS (SELECT media_id,
        |    CAST(1024 * sum(rv * rv) - sum(rv) * sum(rv) AS BIGINT) AS score
        |  FROM r GROUP BY media_id),
        |s1 AS (SELECT r.media_id, b.k AS u, r.gy AS gy,
        |         CAST(sum(rv * b.bv) AS BIGINT) AS rv1
        |       FROM r JOIN basis b ON b.n = r.gx GROUP BY 1, 2, 3),
        |s2 AS (SELECT s1.media_id, b.k * 8 + s1.u AS d,
        |         CAST(sum(rv1 * b.bv) AS BIGINT) AS c
        |       FROM s1 JOIN basis b ON b.n = s1.gy GROUP BY 1, 2),
        |med AS (SELECT media_id, c AS m FROM
        |         (SELECT media_id, c,
        |            row_number() OVER (PARTITION BY media_id ORDER BY c) AS rn
        |          FROM s2)
        |        WHERE rn = 32),
        |p AS (SELECT s2.media_id,
        |    CAST(sum(CASE WHEN s2.c <= med.m THEN 0
        |             WHEN d = 63 THEN -9223372036854775808
        |             ELSE (1::BIGINT << CAST(d AS INT)) END) AS BIGINT) AS phash
        |  FROM s2 JOIN med USING (media_id) GROUP BY s2.media_id),
        |b AS (SELECT media_id, phash, j, (phash >> CAST(16 * j AS INT)) & 65535 AS bh
        |      FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS j) g),
        |ok AS (SELECT j, bh FROM (SELECT j, bh, count(*) AS nb FROM b GROUP BY 1, 2)
        |       WHERE nb <= 1024),
        |f AS (SELECT b.media_id, b.phash, b.j, b.bh FROM b JOIN ok USING (j, bh)),
        |prs AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
        |        FROM f x JOIN f y USING (j, bh)
        |        WHERE x.media_id < y.media_id
        |          AND bit_count(xor(x.phash, y.phash)) <= 3),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |walk(node, label) AS (
        |  SELECT media_id, media_id FROM p
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS media_id, min(label) AS cluster
        |           FROM walk GROUP BY node),
        |fam AS (SELECT cluster FROM labels GROUP BY cluster HAVING count(*) >= 2),
        |jn AS (SELECT l.media_id, l.cluster, q.score
        |       FROM labels l JOIN fam USING (cluster) JOIN q USING (media_id)),
        |mx AS (SELECT cluster, max(score) AS ms FROM jn GROUP BY cluster),
        |surv AS (SELECT jn.cluster, min(jn.media_id) AS survivor_id
        |         FROM jn JOIN mx ON jn.cluster = mx.cluster AND jn.score = mx.ms
        |         GROUP BY jn.cluster)
        |SELECT jn.media_id, jn.cluster, sv.survivor_id,
        |       jn.media_id = sv.survivor_id AS keep
        |FROM jn JOIN surv sv USING (cluster)""".stripMargin
    },
    // phash_near_keep: the near-pair chain, then the dedup_survivors
    // recursive component walk seeded from every media row, families of
    // >= 2, survivor = max integer grid variance (ties min media_id)
    "phash_near_keep" ->
      """WITH RECURSIVE
        |r AS (SELECT d.doc_id AS media_id, g.i AS i,
        |    ('0x'||substr(md5(d.text || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g),
        |t AS (SELECT media_id, CAST(sum(rv) AS BIGINT) AS tot FROM r GROUP BY media_id),
        |p AS (SELECT r.media_id,
        |    CAST(sum(CASE WHEN rv * 16 > tot THEN (1::BIGINT << CAST(i AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash
        |  FROM r JOIN t USING (media_id) GROUP BY r.media_id),
        |q AS (SELECT media_id,
        |    CAST(16 * sum(rv * rv) - sum(rv) * sum(rv) AS BIGINT) AS score
        |  FROM r GROUP BY media_id),
        |b AS (SELECT media_id, phash, j, (phash >> CAST(4 * j AS INT)) & 15 AS bh
        |      FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS j) g),
        |ok AS (SELECT j, bh FROM (SELECT j, bh, count(*) AS nb FROM b GROUP BY 1, 2)
        |       WHERE nb <= 1024),
        |f AS (SELECT b.media_id, b.phash, b.j, b.bh FROM b JOIN ok USING (j, bh)),
        |prs AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
        |        FROM f x JOIN f y USING (j, bh)
        |        WHERE x.media_id < y.media_id
        |          AND bit_count(xor(x.phash, y.phash)) <= 3),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |walk(node, label) AS (
        |  SELECT media_id, media_id FROM p
        |  UNION
        |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node),
        |labels AS (SELECT node AS media_id, min(label) AS cluster
        |           FROM walk GROUP BY node),
        |fam AS (SELECT cluster FROM labels GROUP BY cluster HAVING count(*) >= 2),
        |jn AS (SELECT l.media_id, l.cluster, q.score
        |       FROM labels l JOIN fam USING (cluster) JOIN q USING (media_id)),
        |mx AS (SELECT cluster, max(score) AS ms FROM jn GROUP BY cluster),
        |surv AS (SELECT jn.cluster, min(jn.media_id) AS survivor_id
        |         FROM jn JOIN mx ON jn.cluster = mx.cluster AND jn.score = mx.ms
        |         GROUP BY jn.cluster)
        |SELECT jn.media_id, jn.cluster, sv.survivor_id,
        |       jn.media_id = sv.survivor_id AS keep
        |FROM jn JOIN surv sv USING (cluster)""".stripMargin,
    // media_quality: same stub residues, n·Σr²−(Σr)² scaled variance +
    // truncating mean + zero-variance flat flag, all integer-exact
    "media_quality" ->
      """WITH r AS (SELECT d.doc_id AS media_id,
        |    ('0x'||substr(md5(d.text || ':' || g.i), 1, 15))::BIGINT % 1000003 AS rv
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g)
        |SELECT media_id,
        |  CAST(16 * sum(rv * rv) - sum(rv) * sum(rv) AS BIGINT) AS var_scaled,
        |  CAST(sum(rv) // 16 AS BIGINT) AS mean_r,
        |  (16 * sum(rv * rv) = sum(rv) * sum(rv)) AS is_flat
        |FROM r GROUP BY media_id""".stripMargin,
    // classify_media: rebuild the identical prefixed payload string, then
    // replay the magic-byte predicates (substr positions mirror the
    // sniff's byte offsets; image magics can't occur — every prefix is
    // ASCII and none starts 'BM'/'GIF8'/'II*'/'MM'; length >= 12 is
    // structural via the prefix + rpad(16))
    "classify_media" ->
      """WITH m AS (SELECT doc_id,
        |    CASE CAST(doc_id % 8 AS INT)
        |      WHEN 0 THEN 'ID3' WHEN 1 THEN 'OggS' WHEN 2 THEN 'RIFF0000WAVE'
        |      WHEN 3 THEN 'RIFF0000AVI ' WHEN 4 THEN 'FORM' WHEN 5 THEN '.snd'
        |      WHEN 6 THEN '0000ftyp' ELSE 'zzzzzzzz' END || rpad(text, 16, ' ') AS p
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN substr(p, 1, 3) = 'ID3' THEN 'mp3'
        |       WHEN substr(p, 1, 4) = 'OggS' THEN 'ogg'
        |       WHEN substr(p, 1, 4) = 'RIFF' AND substr(p, 9, 4) = 'WAVE' THEN 'wav'
        |       WHEN substr(p, 1, 4) = 'RIFF' AND substr(p, 9, 4) = 'AVI ' THEN 'avi'
        |       WHEN substr(p, 1, 4) = 'FORM' THEN 'aiff'
        |       WHEN substr(p, 1, 4) = '.snd' THEN 'au'
        |       WHEN substr(p, 5, 4) = 'ftyp' THEN 'mp4'
        |       ELSE NULL END AS format_detected FROM m)
        |SELECT doc_id AS media_id, format_detected,
        |  CASE WHEN format_detected IN ('mp3', 'ogg', 'wav', 'aiff', 'au') THEN 'audio'
        |       WHEN format_detected IN ('avi', 'mp4') THEN 'video'
        |       ELSE 'unknown' END AS kind_detected,
        |  coalesce(format_detected IN ('wav', 'aiff', 'au'), FALSE) AS decodable
        |FROM c""".stripMargin,
    // media_frames: y4m rows replay from the pixel CONSTRUCTION formula
    // (mean of 32 bytes '48 + (doc_id*7 + f*13 + i*5) % 64', micro-scaled
    // over 255), sampled at the shared (k*n)//4 stride; stub rows replay
    // the portable-md5 pseudo-frames off the raw text payload
    "media_frames" ->
      """WITH vid AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents
        |             WHERE doc_id % 4 = 0),
        |sel AS (SELECT DISTINCT doc_id, nf, (k * nf) // 4 AS f
        |        FROM vid CROSS JOIN range(0, 4) t(k)),
        |y AS (SELECT doc_id, nf, f,
        |        list_sum(list_transform(range(0, 32),
        |          i -> 48 + (doc_id * 7 + f * 13 + i * 5) % 64)) AS s
        |      FROM sel),
        |yr AS (SELECT doc_id AS media_id, 'y4m' AS container,
        |         CAST(nf AS BIGINT) AS n_frames, CAST(f AS INT) AS frame_idx,
        |         CAST((s * 1000000) // (32 * 255) AS BIGINT) AS luma_micro
        |       FROM y),
        |st AS (SELECT d.doc_id AS media_id, 'stub' AS container,
        |         CAST(NULL AS BIGINT) AS n_frames, CAST(k AS INT) AS frame_idx,
        |         ('0x'||substr(md5(d.text || ':f' || k),1,15))::BIGINT % 1000001
        |           AS luma_micro
        |       FROM documents d CROSS JOIN range(0, 4) t(k)
        |       WHERE d.doc_id % 4 <> 0)
        |SELECT * FROM yr UNION ALL SELECT * FROM st""".stripMargin,
    // audio_fingerprint: the full integer WHT band-energy replay — see
    // audioFpPrefixSql
    "audio_fingerprint" -> (audioFpPrefixSql +
      "\nSELECT media_id, is_real, n_windows, win_idx, fhash FROM allfp"),
    // audio_cuts: same fingerprint chain, then the consecutive-window
    // hamming jump per clip (the video_scene_cuts shape on win_idx)
    "audio_cuts" -> (audioFpPrefixSql +
      """,
        |aj AS (SELECT media_id, n_windows, win_idx,
        |         CAST(bit_count(xor(fhash, lag(fhash) OVER (
        |           PARTITION BY media_id ORDER BY win_idx))) AS BIGINT)
        |           AS jump
        |       FROM allfp)
        |SELECT media_id, max(n_windows) AS n_windows,
        |       CAST(count(CASE WHEN jump >= 8 THEN 1 END) AS BIGINT)
        |         AS n_bounds,
        |       CAST(coalesce(max(jump), 0) AS BIGINT) AS max_jump,
        |       CAST(min(CASE WHEN jump >= 8 THEN win_idx END) AS INT)
        |         AS first_bound
        |FROM aj GROUP BY media_id""".stripMargin),
    // audio_quality: exact integer thresholds over the sample formula
    // (|s| never reaches the 32734 clip threshold and windows are never
    // under the 640000 silence energy on this fixture — but every count
    // and the peak replay exactly); stub rows replay ':aq<d>' md5
    "audio_quality" -> (audioSampleCtes +
      """,
        |qr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |         CAST(max(abs(s)) AS BIGINT) AS peak_abs,
        |         CAST(sum(CASE WHEN abs(s) >= 32734 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_clipped
        |       FROM s2 GROUP BY doc_id),
        |we AS (SELECT doc_id, t // 64 AS w, sum(s * s) AS e
        |       FROM s2 GROUP BY 1, 2),
        |ws AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |         CAST(sum(CASE WHEN e < 640000 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_silent_windows
        |       FROM we GROUP BY doc_id),
        |realq AS (SELECT qr.doc_id AS media_id, TRUE AS is_real, qr.n_samples,
        |            qr.peak_abs, qr.n_clipped, ws.n_windows, ws.n_silent_windows
        |          FROM qr JOIN ws ON qr.doc_id = ws.doc_id),
        |stubq AS (SELECT doc_id AS media_id, FALSE AS is_real,
        |    ('0x'||substr(md5(text || ':aq0'),1,15))::BIGINT % 1000003 AS n_samples,
        |    ('0x'||substr(md5(text || ':aq1'),1,15))::BIGINT % 1000003 AS peak_abs,
        |    ('0x'||substr(md5(text || ':aq2'),1,15))::BIGINT % 1000003 AS n_clipped,
        |    ('0x'||substr(md5(text || ':aq3'),1,15))::BIGINT % 1000003 AS n_windows,
        |    ('0x'||substr(md5(text || ':aq4'),1,15))::BIGINT % 1000003
        |      AS n_silent_windows
        |  FROM documents WHERE doc_id % 4 <> 0)
        |SELECT * FROM realq UNION ALL SELECT * FROM stubq""".stripMargin),
    // audio_dup_pairs: banded matching replay — same fingerprint chain,
    // then the bucket-capped self-join grouped by (pair, window delta)
    "audio_dup_pairs" -> (audioFpPrefixSql +
      """,
        |ok AS (SELECT fhash FROM allfp GROUP BY fhash HAVING count(*) <= 1024),
        |f AS MATERIALIZED (SELECT allfp.media_id, allfp.win_idx, allfp.fhash
        |                   FROM allfp JOIN ok USING (fhash))
        |SELECT a.media_id AS media_a, b.media_id AS media_b,
        |       CAST(b.win_idx - a.win_idx AS INT) AS offset_w,
        |       CAST(count(*) AS BIGINT) AS n_match
        |FROM f a JOIN f b ON a.fhash = b.fhash AND a.media_id < b.media_id
        |GROUP BY 1, 2, 3 HAVING count(*) >= 3""".stripMargin),
    // video_fingerprint: the per-frame integer aHash replay from the pixel
    // FORMULA (never binary parsing) — see videoFpPrefixSql
    "video_fingerprint" -> (videoFpPrefixSql +
      "\nSELECT media_id, is_real, n_frames, frame_idx, fhash FROM allvf"),
    // video_dup_pairs: banded matching replay — same fingerprint chain,
    // then the bucket-capped self-join grouped by (pair, frame delta)
    "video_dup_pairs" -> (videoFpPrefixSql +
      """,
        |okh AS (SELECT fhash FROM allvf GROUP BY fhash HAVING count(*) <= 1024),
        |ff AS MATERIALIZED (SELECT allvf.media_id, allvf.frame_idx, allvf.fhash
        |                    FROM allvf JOIN okh USING (fhash))
        |SELECT a.media_id AS media_a, b.media_id AS media_b,
        |       CAST(b.frame_idx - a.frame_idx AS INT) AS offset_f,
        |       CAST(count(*) AS BIGINT) AS n_match
        |FROM ff a JOIN ff b ON a.fhash = b.fhash AND a.media_id < b.media_id
        |GROUP BY 1, 2, 3 HAVING count(*) >= 3""".stripMargin),
    // video_scene_cuts: same fingerprint chain, then the consecutive-frame
    // hamming jump per clip (lag window inside each media_id)
    "video_scene_cuts" -> (videoFpPrefixSql +
      """,
        |j AS (SELECT media_id, n_frames, frame_idx,
        |        CAST(bit_count(xor(fhash, lag(fhash) OVER (
        |          PARTITION BY media_id ORDER BY frame_idx))) AS BIGINT)
        |          AS jump
        |      FROM allvf)
        |SELECT media_id, max(n_frames) AS n_frames,
        |       CAST(count(CASE WHEN jump >= 4 THEN 1 END) AS BIGINT)
        |         AS n_cuts,
        |       CAST(coalesce(max(jump), 0) AS BIGINT) AS max_jump,
        |       CAST(min(CASE WHEN jump >= 4 THEN frame_idx END) AS INT)
        |         AS first_cut
        |FROM j GROUP BY media_id""".stripMargin),
    // ── sketch-variant bound checks: the sketches themselves (HLL,
    // approx_percentile KLL, xxhash64 simhash/quantize digests) have no
    // DuckDB equivalent, so each Spark query reports a replayable
    // invariant — accuracy/rank/determinism/reconstruction bound — and
    // the oracle asserts it holds everywhere ──
    "approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |       1 AS within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "quantiles_approx" ->
      """SELECT l_returnflag, qname, 1 AS rank_ok
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
        |CROSS JOIN (SELECT unnest(['p25', 'p50', 'p75']) AS qname)""".stripMargin,
    "simhash_fast" ->
      """WITH toks AS (SELECT doc_id,
        |                unnest(string_split_regex(text, '\s+')) AS word
        |              FROM documents),
        |td AS (SELECT DISTINCT doc_id FROM toks WHERE word <> '')
        |SELECT md5(text) AS text_key, count(*) AS n_docs,
        |       CAST(1 AS BIGINT) AS n_sigs
        |FROM documents JOIN td USING (doc_id)
        |GROUP BY md5(text)""".stripMargin,
    "quantize_emb_fast" ->
      """SELECT vec_id,
        |  round(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS scale,
        |  CAST(len(embedding) AS INT) AS n_dims, 1 AS within_bound
        |FROM embeddings""".stripMargin,
    // deterministic training orders: seeded 60-bit portable hash, exact
    // rank replay (row_number in DuckDB == the distributed offset scheme)
    "epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |  ('0x' || substr(md5('ep3:' || doc_id::VARCHAR), 1, 15))::BIGINT AS shuffle_key
        |FROM documents)
        |SELECT doc_id, shuffle_key,
        |  row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
        |FROM k""".stripMargin,
    "interleave_order" ->
      """WITH k AS (SELECT doc_id, source,
        |  ('0x' || substr(md5('il3:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |FROM documents),
        |r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rn
        |FROM k)
        |SELECT doc_id, source, rn,
        |  row_number() OVER (ORDER BY rn, source, doc_id) AS pos
        |FROM r""".stripMargin,
  )

  /** DuckDB replay of [[graft.operators.Dedup.simhash]]: 60 conditional-sum
    * lanes over the portable token hash, packed to one BIGINT. Generated
    * because the lane list is mechanical.
    */
  /** DuckDB replay of [[graft.operators.Profiler.profile]] on `customer`
    * (long-format nulls/min/max per column + table row count). Generated
    * from the column list because the UNION ALL ladder is mechanical.
    */
  /** DuckDB replay of [[graft.operators.EventOps.ewma]]: 8 lag terms with
    * exact power-of-two weights summed left-to-right — generated so the
    * term order and weight literals can never drift from the Scala fold.
    */
  private def ewmaOracle: String = {
    val num = (0 until 8)
      .map(j => s"coalesce(lag(value, $j) OVER w, 0) * ${math.pow(0.5, j)}")
      .mkString(" + ")
    val den = (0 until 8)
      .map(j => s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN ${math.pow(0.5, j)} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT event_id, user_id, round(($num) / ($den), 4) AS ewma
       |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
  }

  /** Shared CTE chain replaying [[graft.operators.TextOps.bpeMerges]]'s
    * training rounds, unrolled (the engine's established fixed-iteration
    * oracle pattern): `v0` is the char symbolization of the unique-word
    * table; round r counts adjacent pairs (`c\$r`), picks the winner
    * (`w\$r` — max count, ties on binary pair order), and folds it into
    * the vocabulary (`v\$r`) with the SAME flush-append list fold the
    * Spark side runs (append without separator exactly when the
    * accumulator's last symbol is lhs and the element is rhs).
    */
  private def bpeRoundCtes(n: Int): String = {
    val rounds = (1 to n).map { r =>
      s"""c$r AS (SELECT sy[i] AS lhs, sy[i+1] AS rhs, sum(cnt)::BIGINT AS n_occ
         |        FROM v${r - 1}, unnest(generate_series(1, len(sy)-1)) AS t(i)
         |        GROUP BY 1, 2),
         |w$r AS (SELECT lhs, rhs, n_occ FROM c$r
         |        ORDER BY n_occ DESC, lhs, rhs LIMIT 1),
         |v$r AS (SELECT cnt, string_split(list_reduce(sy, (acc, x) ->
         |          CASE WHEN (acc = lhs OR ends_with(acc, chr(1) || lhs))
         |                    AND x = rhs
         |               THEN acc || x ELSE acc || chr(1) || x END),
         |          chr(1)) AS sy
         |        FROM v${r - 1} CROSS JOIN w$r)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest(string_split_regex(text, '\\s+')) AS word
       |      FROM documents WHERE text IS NOT NULL),
       |wc AS (SELECT word, count(*)::BIGINT AS cnt FROM w
       |       WHERE word <> '' GROUP BY word),
       |v0 AS (SELECT cnt, string_split(word, '') AS sy FROM wc
       |       WHERE len(word) >= 2 AND NOT contains(word, chr(1))),
       |$rounds""".stripMargin
  }

  /** Unrolled replay of [[graft.operators.Graph.katzCentrality]]:
    * `r0 = unit`, `r_k = beta + (alphaNum · in-sum) div alphaDen` with
    * beta = `unit·(alphaDen−alphaNum) div alphaDen` evaluated here the
    * same way the Scala literal is.
    */
  private def katzOracle(iters: Int): String = {
    val (unit, aNum, aDen) = (1000000L, 20L, 100L)
    val beta = unit * (aDen - aNum) / aDen
    val rounds = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS node, CAST(sum(r${k - 1}.r) AS BIGINT) AS c
         |       FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node GROUP BY e.dst),
         |r$k AS (SELECT nodes.node,
         |         CAST($beta + ($aNum * coalesce(c$k.c, 0)) // $aDen AS BIGINT) AS r
         |       FROM nodes LEFT JOIN c$k ON nodes.node = c$k.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src,
       |                  o_custkey * 2 + 1 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST($unit AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT node, r AS katz_micro FROM r$iters""".stripMargin
  }

  /** Unrolled replay of [[graft.operators.Graph.hits]]: per round, an
    * authority half-step (in-neighbor sum of hubs, then the integer
    * mean-rescale `s // greatest(1, Σs // (n·unit))`) and the mirrored
    * hub half-step. Role cardinalities ride a scalar CTE exactly like
    * the Scala driver scalars.
    */
  private def hitsOracle(iters: Int): String = {
    val unit = 1000000L
    val rounds = (1 to iters).map { k =>
      s"""a${k}r AS (SELECT e.dst AS node, CAST(sum(h${k - 1}.s) AS BIGINT) AS sr
         |        FROM e JOIN h${k - 1} ON e.src = h${k - 1}.node GROUP BY e.dst),
         |a${k}s AS (SELECT greatest(1, CAST(sum(sr) AS BIGINT)
         |            // (greatest(1, (SELECT na FROM cnts)) * $unit)) AS sc
         |        FROM a${k}r),
         |a$k AS (SELECT node,
         |          CAST(sr // (SELECT sc FROM a${k}s) AS BIGINT) AS s
         |        FROM a${k}r),
         |h${k}r AS (SELECT e.src AS node, CAST(sum(a$k.s) AS BIGINT) AS sr
         |        FROM e JOIN a$k ON e.dst = a$k.node GROUP BY e.src),
         |h${k}s AS (SELECT greatest(1, CAST(sum(sr) AS BIGINT)
         |            // (greatest(1, (SELECT nh FROM cnts)) * $unit)) AS sc
         |        FROM h${k}r),
         |h$k AS (SELECT node,
         |          CAST(sr // (SELECT sc FROM h${k}s) AS BIGINT) AS s
         |        FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_suppkey * 2 AS src,
       |                  o_custkey * 2 + 1 AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |cnts AS (SELECT count(DISTINCT src) AS nh, count(DISTINCT dst) AS na
       |         FROM e),
       |h0 AS (SELECT DISTINCT src AS node, CAST($unit AS BIGINT) AS s FROM e),
       |$rounds
       |SELECT nodes.node,
       |  CAST(coalesce(h$iters.s, 0) AS BIGINT) AS hub_micro,
       |  CAST(coalesce(a$iters.s, 0) AS BIGINT) AS auth_micro
       |FROM nodes LEFT JOIN h$iters ON nodes.node = h$iters.node
       |           LEFT JOIN a$iters ON nodes.node = a$iters.node""".stripMargin
  }

  private def bpeMergesOracle(n: Int): String = {
    val union = (1 to n).map(r =>
      s"SELECT $r AS merge_rank, lhs, rhs, n_occ FROM w$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeRoundCtes(n)}\n$union"
  }

  /** [[graft.operators.TextOps.tokenBudgetFillBpe]] replay: the learned
    * winners cross-join in as scalar columns l1..l\$n/r1..r\$n, every doc
    * word folds through them in rank order (nested list_reduce, innermost
    * = char split), and the greedy per-source fill runs on the resulting
    * real token counts.
    */
  private def tokenBudgetFillBpeOracle(n: Int): String = {
    val mCols = (1 to n).map(r => s"w$r.lhs AS l$r, w$r.rhs AS r$r").mkString(", ")
    val mFrom = (1 to n).map(r => s"w$r").mkString(", ")
    val fold = (1 to n).foldLeft("string_split(wd, '')") { (inner, r) =>
      s"""string_split(list_reduce($inner, (acc, x) ->
         |  CASE WHEN (acc = l$r OR ends_with(acc, chr(1) || l$r)) AND x = r$r
         |       THEN acc || x ELSE acc || chr(1) || x END), chr(1))""".stripMargin
    }
    s"""WITH ${bpeRoundCtes(n)},
       |m AS (SELECT $mCols FROM $mFrom),
       |d AS (SELECT doc_id, source, n_chars,
       |        list_filter(string_split_regex(text, '\\s+'),
       |                    x -> x <> '' AND NOT contains(x, chr(1))) AS ws
       |      FROM documents WHERE text IS NOT NULL),
       |e AS (SELECT doc_id, source, n_chars,
       |        coalesce(list_sum(list_transform(ws, wd -> len($fold))), 0)::BIGINT AS tok
       |      FROM d CROSS JOIN m),
       |b AS (SELECT source, ((sum(tok) * 30) // 100)::BIGINT AS budget_tokens
       |      FROM e GROUP BY source),
       |r AS (SELECT e.source, e.tok, b.budget_tokens,
       |        coalesce(sum(e.tok) OVER (PARTITION BY e.source
       |          ORDER BY e.n_chars DESC, e.doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          0) AS cum_before
       |      FROM e JOIN b USING (source))
       |SELECT source, min(budget_tokens) AS budget_tokens,
       |       count(*)::BIGINT AS n_docs_kept, sum(tok)::BIGINT AS tokens_kept
       |FROM r WHERE cum_before < budget_tokens GROUP BY source""".stripMargin
  }

  private def profileCustomerOracle: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val parts = cols.flatMap { c =>
      Seq(
        s"""SELECT '$c' AS "column", 'nulls' AS metric, CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS value FROM customer""",
        s"SELECT '$c', 'min', CAST(min($c) AS VARCHAR) FROM customer",
        s"SELECT '$c', 'max', CAST(max($c) AS VARCHAR) FROM customer")
    } :+ "SELECT ':table:', 'rows', CAST(count(*) AS VARCHAR) FROM customer"
    parts.mkString("\nUNION ALL ")
  }

  private def simhashCtes: (String, String) = {
    val sums = (0 until 60)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val pack = (0 until 60)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" + ")
    (s"""t AS (SELECT doc_id, ('0x'||substr(md5(word),1,15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
       |        FROM documents) u
       |  WHERE word <> ''),
       |lanes AS (SELECT doc_id, $sums FROM t GROUP BY doc_id)""".stripMargin,
     s"SELECT doc_id, $pack AS simhash FROM lanes")
  }

  private def simhashOracle: String = {
    val (ctes, sel) = simhashCtes
    s"WITH $ctes\n$sel"
  }

  /** DuckDB replay of [[graft.operators.Dedup.simhashPairs]] (6 bands ×
    * 10 bits over the portable simhash, hamming ≤ 3).
    */
  private def simhashPairsOracle: String = {
    val (ctes, sel) = simhashCtes
    s"""WITH $ctes,
       |sh AS ($sel),
       |banded AS (SELECT doc_id, simhash, j AS band, (simhash >> (j*10)) & 1023 AS bh
       |           FROM sh, (SELECT unnest(range(0,6)) AS j) b(j)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |           CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
       |SELECT a, b, hamming FROM cand WHERE hamming <= 3""".stripMargin
  }
}
