package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Pins

/** Text operators: the reference's three benchmark apps (word count,
  * aggregation, inverted index — `/root/reference/doc/CourseReport'14/
  * report.tex` §"Applications") re-expressed as single declarative plans,
  * plus the text-analysis ops a large-scale training-data pipeline needs
  * (token stats, quality scores, fingerprints, language id).
  *
  * All ops stay inside whole-stage codegen (built-in functions only, no
  * UDFs) and aggregate with map-side partial aggregation — the Spark
  * equivalent of the reference's iwriter partial grouping
  * (`/root/reference/src/file_distributor/iwriter.hh:76-132`).
  */
object TextOps {

  /** One row per (doc_id, token). Tokenization = split on runs of
    * whitespace, drop empties — mirrors the reference WordCount app's
    * line-tokenize behavior over its newline-record model
    * (`/root/reference/src/file_distributor/filebridge.hh:216-228`).
    */
  def tokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")

  /** Reference WordCount app: token → global count.
    * Map-side combine + single hash-agg shuffle on `word`; at 100 TB the
    * word domain is small relative to input so partial aggregation
    * collapses nearly all rows before the exchange.
    */
  def wordCount(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Zipf rank-frequency diagnostic: rank words by (count desc, word) and
    * least-squares-fit log2(count) against log2(rank) — a healthy
    * natural-language corpus sits near slope ≈ -1, and boilerplate/spam
    * bends the curve (a cheap corpus-health signal next to
    * [[unigramEntropy]]).
    *
    * Scale shape: the global rank is decomposed so no vocab-wide
    * single-partition window exists — a tiny cumulative window over the
    * DISTINCT count values (thousands at most) gives each count class its
    * offset, and a row_number PARTITIONED by count orders words within a
    * class; `regr_slope`/`regr_r2` are mergeable built-in aggregates.
    */
  def zipfFit(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = wordCount(docs).where(col("cnt") >= minCount)
    val byCnt = wc.groupBy("cnt").agg(count(lit(1)).as("nw"))
    val offsets = byCnt.withColumn("higher",
      coalesce(sum("nw").over(Window.orderBy(col("cnt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    wc.join(offsets.select("cnt", "higher"), "cnt")
      .withColumn("rank",
        col("higher") + row_number().over(Window.partitionBy("cnt").orderBy("word")))
      .agg(
        count(lit(1)).as("n_words"),
        round(regr_slope(log2(col("cnt")), log2(col("rank"))), 4).as("zipf_slope"),
        round(regr_r2(log2(col("cnt")), log2(col("rank"))), 4).as("zipf_r2"))
  }

  /** Reference InvertedIndex app: word → postings. Emitted as one row per
    * (word, doc_id) with an occurrence count rather than a collected list —
    * keeps the operator fully streaming/spillable (no per-key
    * materialization), which is the 100 TB-safe shape; callers wanting the
    * list form can `collect_list` on top.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("word", "doc_id").agg(count(lit(1)).as("n_occ"))

  /** Positional inverted index — the reference app's true shape: its
    * per-file mapper keeps an in-file position counter across records
    * (`/root/reference/src/mapreduce/dht/mapreduce.hh:557-593`) and emits
    * (word, doc:pos). One row per occurrence keeps the operator fully
    * streaming (no per-key list materialization); positions are 1-based
    * token indices. [[MapReduce.runPerFile]] is the facade-level equivalent
    * over raw text files.
    */
  def invertedIndexPos(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos0", "word")))
      .where(col("word") =!= "")
      .select(col("word"), col("doc_id"), (col("pos0") + 1).cast("long").as("pos"))

  /** Per-document token statistics (token count, distinct tokens,
    * type-token ratio, mean token length). Pure per-row array expressions:
    * no shuffle at all.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    // drop the empty boundary tokens split('\s+') emits for leading/
    // trailing whitespace — the same tokenization as [[tokens]], so these
    // per-doc stats agree with every token-based operator in the file
    // (unfiltered, " a b" would count 3 tokens and an empty "type")
    val toks = array_remove(split(col("text"), "\\s+"), "")
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_uniq"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 4).as("ttr"),
      round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") / size(toks), 4)
        .as("mean_tok_len"))
  }

  /** Heuristic quality scores per document: length, stopword ratio,
    * short-token ratio. Shuffle-free row-local expressions.
    */
  def textQuality(docs: DataFrame): DataFrame = {
    // empty boundary tokens filtered (see [[tokenStats]]): unfiltered,
    // "" counts as a short token and inflates every ratio's denominator
    val toks = array_remove(split(col("text"), "\\s+"), "")
    val nTok = size(toks)
    val stop = size(filter(toks, x => x === "the" || x === "a" || x === "of" || x === "and"))
    val short = size(filter(toks, x => length(x) <= 2))
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars_actual"),
      nTok.as("n_tokens"),
      round(stop.cast("double") / nTok, 4).as("stopword_ratio"),
      round(short.cast("double") / nTok, 4).as("short_tok_ratio"))
  }

  /** Lexical diversity per document: token count, type (distinct-word)
    * count, type–token ratio, and hapax ratio (share of types occurring
    * exactly once in the doc). Low TTR / low hapax flags template spam
    * and boilerplate the same way [[repetitionSignals]]' dup fractions
    * do, from the vocabulary side instead of the n-gram side. Documents
    * with no tokens survive with zero counts and null ratios.
    *
    * Scale shape: explode → two-level aggregate, both with map-side
    * partial combine; per-(doc, word) groups are bounded by doc length,
    * never corpus size. The doc-preserving join is on the narrow key
    * frame, not the text.
    */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("doc_id"),
        explode(array_remove(split(col("text"), "\\s+"), "")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_ratio"))
  }

  /** Vocabulary coverage per document against the corpus top-`topK`
    * vocabulary (by total count, ties to the lexicographically smaller
    * word): token count, covered-token count, and the OOV rate — the
    * tokenizer-eval metric that tells you what fraction of a corpus a
    * fixed vocabulary actually explains (high OOV → the doc is noise,
    * another language, or the vocab is too small).
    *
    * Scale shape: the vocab is a TakeOrdered (never a global sort) and
    * is broadcast into the coverage join — the big token frame never
    * shuffles; the rollup is one map-side-combinable aggregate.
    */
  def vocabCoverage(docs: DataFrame, topK: Int = 16): DataFrame =
    vocabCoverageWith(docs, vocabTop(docs, topK))

  /** The corpus top-`topK` vocabulary by total count, ties to the
    * lexicographically smaller word — a TakeOrdered, never a global sort.
    * `(word, c)`.
    */
  def vocabTop(docs: DataFrame, topK: Int = 16): DataFrame =
    docs.select(explode(array_remove(split(col("text"), "\\s+"), ""))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc)
      .limit(topK)

  /** [[vocabCoverage]] scoring against an EXPLICIT vocabulary frame
    * (`word` column; extra columns ignored) — the leg that runs against a
    * [[saveVocabModel]] artifact, so a vocabulary fit on one corpus
    * snapshot can score every later snapshot without refitting. The vocab
    * is topK-bounded by construction, hence hint-broadcast.
    */
  def vocabCoverageWith(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(array_remove(split(col("text"), "\\s+"), "")).as("word"))
    toks.join(broadcast(vocab.select(col("word"), lit(1L).as("in_vocab"))),
        Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        round(lit(1.0) - col("n_covered").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
  }

  /** Persist the fitted vocabulary — the [[saveNbModel]] parquet+meta
    * pattern: `modelDir/vocab` = [[vocabTop]]'s `(word, c)` table,
    * `modelDir/meta` = one row of fit parameters. Counts are pure
    * integers and the tie-break is total, so the reloaded vocabulary
    * scores BIT-identically to the in-session one (round-trip pinned in
    * TextOpsSpec).
    */
  def saveVocabModel(docs: DataFrame, modelDir: String, topK: Int = 16): Unit = {
    vocabTop(docs, topK).write.mode("overwrite").parquet(s"$modelDir/vocab")
    docs.sparkSession.range(1).select(lit(topK).as("top_k"))
      .write.mode("overwrite").parquet(s"$modelDir/meta")
  }

  /** Load a [[saveVocabModel]] artifact: (vocab table, top_k). */
  def loadVocabModel(spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, Int) = {
    val m = spark.read.parquet(s"$modelDir/meta").head()
    (spark.read.parquet(s"$modelDir/vocab"), m.getAs[Int]("top_k"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive document signature usable as an exact-dedup key that
    * is robust to token reordering.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), "\\s+")))))
        .as("fingerprint"))

  /** Text normalization: lowercase, strip non-alphanumerics to spaces,
    * collapse whitespace, trim — the canonical pre-dedup cleanup stage.
    */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9]+", " "),
        "\\s+", " ")).as("norm_text"))

  /** Overlapping token-window chunking — the embedding/RAG preparation
    * stage: each document splits into windows of `chunkTokens` tokens
    * advancing by `chunkTokens - overlap`, the trailing window kept even
    * when shorter. `chunk_id` is the 0-based window index, so
    * (doc_id, chunk_id) is a stable chunk key under repartitioning and
    * re-runs (ready to join embeddings back to their source spans).
    *
    * Scale shape: one bounded repartition of the raw text (the
    * interpreted chunk transform must not be gated by input-split
    * count), then a row-local explode; downstream embedding/ANN stages
    * decide their own partitioning.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val step = chunkTokens - overlap
    // repartition + posexplode_outer: the [[Dedup.shingles]] rules — the
    // chunk transform is interpreted, so spread it across cores (one
    // bounded shuffle of the raw text) and keep the optimizer's inferred
    // size() filter from re-evaluating it per row
    spreadNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), posexplode_outer(expr(
        s"""transform(
           |  sequence(1, greatest(cast(ceil((size(toks) - $overlap) / $step.0) as int), 1)),
           |  i -> concat_ws(' ', slice(toks, (i - 1) * $step + 1, $chunkTokens)))"""
          .stripMargin)).as(Seq("chunk_id", "chunk_text")))
      .where(col("chunk_text").isNotNull)
      .withColumn("n_tokens", size(split(col("chunk_text"), " ")))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (`\w+` runs or single non-space symbols) — the usual pre-tokenizer
    * granularity for LLM data budgeting. Shuffle-free.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(array_remove(split(col("text"), "\\s+"), "")).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)")).as("n_bpe_tokens"))

  /** Marker-token sets per language for the n-gram/stopword language-id
    * heuristic. Deterministic scoring: hits per marker set, argmax with a
    * fixed priority order on ties.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "zh" -> Seq("de", "le", "shi", "zai", "he"))

  /** Heuristic language id: score each candidate language by marker-token
    * hits, pick the max (ties broken by the fixed order above). On the
    * synthetic fixtures this mostly degenerates — the value is the
    * deterministic, shuffle-free scoring plumbing.
    */
  /** Marker-scored language prediction over a distinct-token array column:
    * argmax by (score, fixed priority) via array_max on (score, -index)
    * structs. Shuffle-free scalar expression — reused by [[langId]] and
    * the corpus-curation pipeline's language gate.
    */
  def predLangExpr(toks: Column): Column = {
    val scored = langMarkers.zipWithIndex.map { case ((lang, markers), i) =>
      struct(
        size(array_intersect(toks, array(markers.map(lit): _*))).as("score"),
        lit(-i).as("prio"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  def langId(docs: DataFrame): DataFrame = {
    // materialize the distinct-token array once; every marker-set intersect
    // below references the column instead of re-splitting the text
    val withToks = docs.select(
      col("doc_id"), col("lang"),
      array_distinct(split(col("text"), "\\s+")).as("toks"))
    withToks.select(
      col("doc_id"),
      col("lang").as("true_lang"),
      predLangExpr(col("toks")).as("pred_lang"))
      .withColumn("correct", (col("pred_lang") === col("true_lang")).cast("int"))
  }

  /** All character n-grams (lengths 1..`maxN`) of a word column — the
    * SINGLE definition of the Cavnar–Trenkle gram tokenization, shared
    * by the batch family and the streaming tagger
    * ([[graft.streaming.TextStreams.streamingLangId]]) so the deployed
    * profiles and the arrival-side profiles can never silently diverge.
    */
  private[graft] def ctCharGrams(word: Column, maxN: Int): Column =
    flatten(transform(sequence(lit(1), least(lit(maxN), length(word))),
      n => transform(sequence(lit(1), length(word) - n + 1),
        i => word.substr(i, n))))

  /** Character n-grams (lengths 1..`maxN`) of every word of every doc —
    * the shared explode under the Cavnar–Trenkle language-ID family.
    * One row-local flatten; no shuffle.
    */
  private def ctGrams(docs: DataFrame, maxN: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("word"))
      .select(col("doc_id"), col("lang"),
        explode(ctCharGrams(col("word"), maxN)).as("gram"))

  /** [[ctGrams]] without the training label — the doc-side explode of
    * the classification half ([[ctClassifyWith]]), usable on corpora
    * that carry no `lang` column at all.
    */
  private def ctDocGrams(docs: DataFrame, maxN: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("word"))
      .select(col("doc_id"), explode(ctCharGrams(col("word"), maxN)).as("gram"))

  /** TRAINED language-ID, profile-building half (Cavnar–Trenkle 1994's
    * n-gram rank profiles — the classic trained lang-ID shape, where
    * [[langId]] is a fixed marker heuristic): per language, the top
    * `topN` character n-grams (lengths 1..`maxN`) of the TRAINING split
    * (`doc_id % holdoutMod != 0`, labeled by the fixture's `lang`),
    * ranked by (count desc, gram asc). Returns
    * `(lang, gram, rnk, n_occ)` — the |langs|·topN-row artifact a
    * deployed classifier ships; every column integer/string so the
    * whole build replays exactly.
    *
    * Scale shape: the corpus-scale work is ONE map-side-combined
    * (lang, gram) hash aggregate over the row-local n-gram explode;
    * the rank window partitions by language over the aggregated frame
    * (per-partition state = one language's gram counts, vocabulary-
    * bounded). Output is classifier-sized.
    */
  def ctLangProfiles(docs: DataFrame, topN: Int = 50, maxN: Int = 3,
      holdoutMod: Int = 5): DataFrame =
    ctGrams(docs.where(col("doc_id") % holdoutMod =!= 0), maxN)
      .groupBy("lang", "gram").agg(count(lit(1)).as("n_occ"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n_occ").desc, col("gram"))))
      .where(col("rnk") <= topN)
      .select(col("lang"), col("gram"), col("rnk"), col("n_occ"))

  /** TRAINED language-ID, classification half: each HELD-OUT document
    * (`doc_id % holdoutMod == 0`) builds its own top-`topN` n-gram rank
    * profile and is assigned the language minimizing the integer
    * out-of-place distance `Σ |doc_rank − lang_rank|` (a doc gram
    * absent from a language's profile pays the maximum penalty `topN`
    * — Cavnar–Trenkle's out-of-place measure). Ties break on language
    * ascending. Returns `(doc_id, true_lang, pred_lang, dist)` — the
    * fixture label rides along as ground truth, but the PREDICTION
    * derives from raw text alone, making the per-language curation
    * family self-contained on unlabeled corpora.
    *
    * Scale shape: doc profiles are one (doc, gram) aggregate + a
    * per-document rank window (per-partition state = one doc's grams);
    * the distance join is doc-top-N rows × a BROADCAST of the
    * classifier-sized profile table (|langs|·topN rows) and the tiny
    * language list — never corpus × corpus. The argmin is one
    * `min(struct(dist, lang))` aggregate. All integer.
    */
  def ctLangId(docs: DataFrame, topN: Int = 50, maxN: Int = 3,
      holdoutMod: Int = 5): DataFrame = {
    val pick = ctClassifyWith(docs.where(col("doc_id") % holdoutMod === 0),
      ctLangProfiles(docs, topN, maxN, holdoutMod), topN, maxN)
    docs.where(col("doc_id") % holdoutMod === 0)
      .select(col("doc_id"), col("lang").as("true_lang"))
      .join(pick, Seq("doc_id"))
  }

  /** [[ctLangId]]'s classification half against a SUPPLIED profile
    * table — the deploy shape: `profiles` is a trained rank-profile
    * artifact ([[ctLangProfiles]]' output, fresh or
    * [[loadCtProfiles]]-reloaded) and `docs` any corpus with
    * (doc_id, text); no label column is required and every document is
    * classified. Returns `(doc_id, pred_lang, dist)`; same integer
    * out-of-place distance, same (count desc, gram asc) doc-rank rule,
    * same lang-ascending ties. Scale shape unchanged: one (doc, gram)
    * aggregate + a per-document rank window, then doc-top-N rows × a
    * BROADCAST of the classifier-sized profile table — never corpus².
    */
  def ctClassifyWith(docs: DataFrame, profiles: DataFrame, topN: Int = 50,
      maxN: Int = 3): DataFrame = {
    val prof = profiles.select(col("lang"), col("gram"), col("rnk").as("prnk"))
    val langs = prof.select("lang").distinct()
    val dprof = ctDocGrams(docs, maxN)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .withColumn("drank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("gram"))))
      .where(col("drank") <= topN)
    val dist = dprof
      .crossJoin(broadcast(langs))
      .join(broadcast(prof), Seq("lang", "gram"), "left")
      .groupBy("doc_id", "lang")
      .agg(sum(coalesce(abs(col("drank") - col("prnk")).cast("long"),
        lit(topN.toLong))).as("dist"))
    dist.groupBy("doc_id")
      .agg(min(struct(col("dist"), col("lang"))).as("m"))
      .select(col("doc_id"), col("m.lang").as("pred_lang"),
        col("m.dist").as("dist"))
  }

  /** Persist the trained Cavnar–Trenkle rank profiles — the
    * train-once/store/score-many deploy shape
    * ([[graft.operators.Similarity.buildIvfIndex]], [[saveNbModel]]):
    * the |langs|·topN profile table as parquet plus a one-row sidecar
    * carrying (top_n, max_n), the two hyper-parameters a classifier
    * must match at scoring time (a scorer exploding different gram
    * lengths or ranking a different prefix would silently disagree
    * with the training tokenization). Batch re-scoring goes through
    * [[ctClassifyWith]], streaming tagging through
    * [[graft.streaming.TextStreams.streamingLangId]], both fed by
    * [[loadCtProfiles]].
    */
  def saveCtProfiles(docs: DataFrame, modelDir: String, topN: Int = 50,
      maxN: Int = 3, holdoutMod: Int = 5): Unit = {
    ctLangProfiles(docs, topN, maxN, holdoutMod)
      .write.mode("overwrite").parquet(s"$modelDir/profiles")
    docs.sparkSession.range(1)
      .select(lit(topN).as("top_n"), lit(maxN).as("max_n"))
      .write.mode("overwrite").parquet(s"$modelDir/meta")
  }

  /** Load a [[saveCtProfiles]] artifact: (profile table, topN, maxN).
    * All integers and strings, so the reloaded classifier predicts
    * BIT-identically to the in-session one (round-trip pinned in
    * TextOpsSpec).
    */
  def loadCtProfiles(spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, Int, Int) = {
    val m = spark.read.parquet(s"$modelDir/meta").head()
    (spark.read.parquet(s"$modelDir/profiles"),
      m.getAs[Int]("top_n"), m.getAs[Int]("max_n"))
  }

  /** The NB family's DEFAULT label: "curated" = the provenance tier
    * every CCNet/GPT-3-style pipeline labels from (here the fixture's
    * first ten sources stand in for the curated tier). Every NB entry
    * point takes `labelCol: Column` with this as the default — a real
    * pipeline labels from arbitrary provenance (a human-rated sample, a
    * heuristic screen, an upstream classifier), and the label is the
    * ONE part of the family that is policy, not algorithm. Rows where
    * the label evaluates NULL count toward neither class (the
    * three-valued-logic behavior of the original provenance expression).
    */
  def nbCuratedLabel: Column = expr("cast(substring(source, 4) as int) < 10")

  /** The NB family's feature plumbing: features are word unigrams hashed
    * into `buckets` buckets with the portable md5-60 (fastText's
    * hashing-trick shape, Joulin et al. 2016). Pure integers end to end,
    * so training AND scoring replay exactly in an external engine.
    */
  private def nbBuckets(docs: DataFrame, buckets: Int,
      labelCol: Column): DataFrame =
    docs.select(col("doc_id"), col("source"),
      labelCol.as("curated"),
      explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("word"))
      .withColumn("bucket",
        pmod(graft.functions.Md5Hash64(col("word")), lit(buckets.toLong)))

  /** Trainable corpus-quality classifier, training half: an
    * integer-count multinomial Naive Bayes over hashed word-unigram
    * features (the supervised quality-scorer step of CCNet-style
    * pipelines, fastText shape) trained on the labeled split
    * (`doc_id % holdoutMod != 0`; label = curated-tier provenance).
    * Returns the full `buckets`-row weight table
    * `(bucket, n_pos, n_neg, lp_pos, lp_neg)`: per-class token counts
    * and add-one-smoothed log-likelihoods in integer micro-nats
    * (`round(ln((c+1)/(total+B))·10⁶)` — the established quantization,
    * so the artifact replays bit-exactly).
    *
    * Scale shape: ONE map-side-combined (bucket, class) hash aggregate
    * over the row-local hash projection — corpus-scale work is a single
    * shuffle of ≤ `buckets` keys; the weight table itself is
    * classifier-sized (`buckets` rows, emitted for ALL buckets via a
    * range frame so the scorer's join is total).
    */
  def nbQualityTrain(docs: DataFrame, buckets: Int = 256,
      holdoutMod: Int = 5, labelCol: Column = nbCuratedLabel): DataFrame = {
    val spark = docs.sparkSession
    val counts = nbBuckets(docs.where(col("doc_id") % holdoutMod =!= 0),
      buckets, labelCol)
      .groupBy("bucket")
      .agg(sum(when(col("curated"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("curated"), 0L).otherwise(1L)).as("n_neg"))
    // coalesce: an empty/one-sided training split yields a well-defined
    // all-smoothing table (ln(1/B)), not NULL weights — the oracle's
    // coalesce(sum, 0) twin
    val totals = counts.agg(
      coalesce(sum("n_pos"), lit(0L)).as("tot_pos"),
      coalesce(sum("n_neg"), lit(0L)).as("tot_neg"))
    spark.range(buckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        round(log((col("n_pos") + 1).cast("double") /
          (col("tot_pos") + buckets)) * 1e6).cast("long").as("lp_pos"),
        round(log((col("n_neg") + 1).cast("double") /
          (col("tot_neg") + buckets)) * 1e6).cast("long").as("lp_neg"))
  }

  /** Trainable corpus-quality classifier, scoring half: every document
    * (train and held-out — a curation pipeline scores the whole corpus)
    * gets the integer micro-nat logit
    * `prior + Σ_tokens (lp_pos(bucket) − lp_neg(bucket))` where the
    * prior is the trained log-odds of the curated class over TRAINING
    * DOCUMENT counts. Returns
    * `(doc_id, source, n_tok, logit_micro, pred_pos)`; the logit is the
    * scalar quality signal [[graft.operators.Dedup.survivorsByScore]]
    * slots into survivor election, and `pred_pos = logit ≥ 0` is the
    * keep/drop screen. Docs with no tokens keep the bare prior via the
    * outer explode.
    *
    * Scale shape: the corpus-scale work is one (doc, bucket) aggregate
    * (map-side combined; values bounded by doc length) followed by a
    * BROADCAST join with the `buckets`-row weight table and a per-doc
    * sum — no corpus×corpus anywhere; the prior folds in as a LITERAL
    * (probed once by [[nbPriorMicro]], whose guard pass doubles as the
    * prior computation — no redundant training-split scan).
    */
  /** Per-class TRAINING-split document counts, guarded: the class prior
    * is defined only when the split carries BOTH classes — fail LOUD
    * (the house degenerate-input contract) instead of shipping an
    * infinite/NaN prior cast to a legal-looking long that no other
    * engine would reproduce. ONE two-column probe over the doc
    * projection; the returned counts feed the prior directly so no
    * second training-split scan is ever paid.
    */
  private def nbTrainClassCounts(docs: DataFrame, holdoutMod: Int,
      labelCol: Column): (Long, Long) = {
    val r = docs.where(col("doc_id") % holdoutMod =!= 0)
      .agg(
        sum(labelCol.cast("long")),
        sum((!labelCol).cast("long")))
      .head()
    val np = if (r.isNullAt(0)) 0L else r.getLong(0)
    val nn = if (r.isNullAt(1)) 0L else r.getLong(1)
    require(np > 0 && nn > 0,
      s"nbQuality: training split must contain both curated and raw " +
        s"documents (got $np curated / $nn raw) — class prior undefined")
    (np, nn)
  }

  /** The trained class prior `round(ln(nPosDocs/nNegDocs)·10⁶)` as a
    * scalar — the deploy-time constant the scorer folds in as a literal
    * and the streaming twin
    * ([[graft.streaming.TextStreams.streamingQualityScore]]) bakes into
    * its query. One probe over the doc projection; the quantization
    * runs through the SAME Catalyst round/log expressions as every
    * plan-side micro-nat (over the probed counts as literals), so the
    * value is identical to the former aggregate-side computation. Fails
    * loud on a single-class training split.
    */
  def nbPriorMicro(docs: DataFrame, holdoutMod: Int = 5,
      labelCol: Column = nbCuratedLabel): Long = {
    val (np, nn) = nbTrainClassCounts(docs, holdoutMod, labelCol)
    docs.sparkSession.range(1)
      .select(round(log(lit(np).cast("double") / lit(nn).cast("double"))
        * 1e6).cast("long").as("prior_micro"))
      .head().getLong(0)
  }

  def nbQualityScore(docs: DataFrame, buckets: Int = 256,
      holdoutMod: Int = 5, labelCol: Column = nbCuratedLabel): DataFrame =
    nbScoreWith(docs, nbQualityTrain(docs, buckets, holdoutMod, labelCol),
      nbPriorMicro(docs, holdoutMod, labelCol), buckets)

  /** [[nbQualityScore]]'s scoring half against a SUPPLIED artifact — the
    * deploy shape: `weights` is a trained weight table
    * ([[nbQualityTrain]]'s output, fresh or [[loadNbModel]]-reloaded)
    * and `priorMicro` the trained class prior. Scoring many corpora
    * against one stored model pays training once, exactly like
    * [[graft.operators.Similarity.ivfTopKIndexed]] against a built
    * index; the streaming twin
    * ([[graft.streaming.TextStreams.streamingQualityScore]]) consumes
    * the same two artifacts.
    */
  def nbScoreWith(docs: DataFrame, weights: DataFrame, priorMicro: Long,
      buckets: Int = 256): DataFrame = {
    val w = weights
      .select(col("bucket"), (col("lp_pos") - col("lp_neg")).as("llr"))
    val perDoc = docs.select(col("doc_id"), col("source"),
      explode_outer(filter(split(col("text"), "\\s+"), x => x =!= "")).as("word"))
      .withColumn("bucket",
        when(col("word").isNotNull,
          pmod(graft.functions.Md5Hash64(col("word")), lit(buckets.toLong))))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(col("word")).as("c"))
      .join(broadcast(w), Seq("bucket"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum("c").as("n_tok"),
        sum(coalesce(col("c") * col("llr"), lit(0L))).as("s"))
    perDoc.select(col("doc_id"), col("source"), col("n_tok"),
      (lit(priorMicro) + col("s")).as("logit_micro"),
      (lit(priorMicro) + col("s") >= 0L).as("pred_pos"))
  }

  /** Calibration curve for the NB quality classifier: score the HOLDOUT
    * split (`doc_id % holdoutMod == 0` — the docs [[nbQualityTrain]]
    * never saw), rank it by logit, cut into `nBins` equal-population
    * bins, and report each bin's logit range and curated-label positive
    * rate. A well-calibrated classifier's `pos_rate` rises monotonically
    * with the bin — flat or inverted spans tell you which score region
    * the keep-threshold cannot be trusted in, BEFORE a 100 TB filter run
    * commits to it.
    *
    * Scale shape: the only global ordering is
    * [[Relational.positionByRange]]'s two-pass prefix-sum rank (range
    * partition + a #partitions-row window — never a global data window),
    * and the rollup is `nBins` groups.
    */
  def nbCalibration(docs: DataFrame, nBins: Int = 10, buckets: Int = 256,
      holdoutMod: Int = 5): DataFrame = {
    val scored = nbQualityScore(docs, buckets, holdoutMod)
      .where(col("doc_id") % holdoutMod === 0)
      .select(col("doc_id"), col("source"), col("logit_micro"))
    val pos = Relational.positionByRange(scored,
      Seq(col("logit_micro"), col("doc_id")),
      releaseLabel = "textops.nb_calibration_ranged")
    val total = pos.agg(count(lit(1)).as("n"))
    pos.crossJoin(broadcast(total))
      .withColumn("bin", expr(s"(pos - 1) * $nBins div n").cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        min("logit_micro").as("lo_micro"),
        max("logit_micro").as("hi_micro"),
        sum(when(nbCuratedLabel, 1L).otherwise(0L)).as("n_pos"))
      .withColumn("pos_rate",
        round(col("n_pos").cast("double") / col("n_docs"), 6))
  }

  /** Persist the trained NB quality classifier — the train-once/store/
    * score-many deploy shape [[graft.operators.Similarity.buildIvfIndex]]
    * established for ANN: the `buckets`-row weight table as parquet plus
    * a one-row sidecar carrying the trained prior and the bucket count
    * (the two scalars a scorer needs; storing them WITH the weights
    * keeps the artifact self-describing — a scorer hashing into a
    * different bucket count would read garbage weights silently).
    * Training cost is paid once; batch re-scoring goes through
    * [[nbScoreWith]] and streaming ingest screens through
    * [[graft.streaming.TextStreams.streamingQualityScore]], both fed by
    * [[loadNbModel]].
    */
  def saveNbModel(docs: DataFrame, modelDir: String, buckets: Int = 256,
      holdoutMod: Int = 5, labelCol: Column = nbCuratedLabel): Unit = {
    val prior = nbPriorMicro(docs, holdoutMod, labelCol)
    nbQualityTrain(docs, buckets, holdoutMod, labelCol)
      .write.mode("overwrite").parquet(s"$modelDir/weights")
    docs.sparkSession.range(1)
      .select(lit(prior).as("prior_micro"), lit(buckets).as("buckets"))
      .write.mode("overwrite").parquet(s"$modelDir/prior")
  }

  /** Load a [[saveNbModel]] artifact: (weight table, prior_micro,
    * buckets). The weights are pure integers, so the reloaded model
    * scores BIT-identically to the in-session one (round-trip pinned in
    * TextOpsSpec).
    */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, Long, Int) = {
    val p = spark.read.parquet(s"$modelDir/prior").head()
    (spark.read.parquet(s"$modelDir/weights"),
      p.getAs[Long]("prior_micro"), p.getAs[Int]("buckets"))
  }

  /** TF-IDF per (doc, word): tf = in-doc occurrences, idf = ln((N+1)/(df+1))
    * with df = documents containing the word. Three hash-aggregations; the
    * vocab-sized word→df join is left UNHINTED (same convention as
    * [[sourceKl]]/[[lmPerplexity]]: at web-corpus vocabularies a forced
    * broadcast OOMs where AQE degrades to a shuffle join — and at small
    * vocab AQE picks broadcast on its own); only the single-row total is
    * hint-broadcast. No driver collect, fully incremental at any corpus
    * size.
    */
  def tfidf(docs: DataFrame): DataFrame = {
    val t = tokens(docs)
    val tf = t.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // document frequency derives from tf's groups. The tf >= 1 guard is a
    // semantic no-op (counts are always >= 1) but an important plan fence:
    // without it the optimizer prunes tf's count from this branch,
    // rewriting it to a DISTINCT whose exchange no longer matches the
    // probe side's — and the token explode (the dominant cost at corpus
    // scale) runs twice instead of sharing one shuffled aggregate
    // (runtime reuse pinned in TextOpsSpec).
    val df = tf.where(col("tf") >= 1).groupBy("word").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "word")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4)
          .as("tfidf"))
  }

  /** Top-`k` characteristic terms per document by tf-idf — the keyword
    * extraction a corpus index/summary layer materializes next to every
    * doc. Ranking runs on the ROUNDED tf-idf (4dp) with the term string
    * as tie-break: the rounded score is the engine-parity contract
    * [[tfidf]] already honors, so the selected set — not just the scores
    * — replays identically anywhere; ranking on the raw double would let
    * a 1-ulp `ln` difference reorder near-ties across engines.
    *
    * Scale shape: [[tfidf]]'s single shared token aggregate, then a
    * window partitioned BY DOCUMENT — per-partition state is one doc's
    * vocabulary (bounded by doc length), never a global sort.
    */
  def docKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word"))
    tfidf(docs)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  /** BM25 retrieval scoring — the query-side complement of [[tfidf]]:
    * score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 −
    * b + b·|d|/avgdl)), idf = ln((N − df + 0.5)/(df + 0.5) + 1) (the
    * Robertson/Sparck-Jones "plus one" form — always positive). Returns
    * the top-`k` docs per query with ties broken by `doc_id`.
    *
    * Determinism: each per-term score is scaled to an integer (×10⁶,
    * half-up) BEFORE the per-(query, doc) sum, so the aggregate is an
    * order-independent integer sum — same contract as the corpus-filter
    * suite — and the final `score` is that sum divided back (exact: the
    * sums sit far below 2⁵³).
    *
    * Scale shape: `queries` (query_id, terms array) explodes to a
    * term list that is broadcast against the tf table — the corpus-side
    * explode/aggregate dominates and shuffles once on (doc_id, word);
    * df/dl/avgdl derive from tf's groups (no second corpus scan; same
    * plan-fence pattern as [[tfidf]]); top-k per query is a window over
    * the scored frame, which is |matched docs| × |queries| — never the
    * corpus.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val t = tokens(docs)
    val tf = t.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // tf >= 1 is the same semantic-no-op plan fence as tfidf's: keeps df
    // and dl reading tf's shuffled aggregate instead of re-exploding
    val fenced = tf.where(col("tf") >= 1)
    val df = fenced.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = fenced.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl") / count(lit(1))).as("avgdl"))
    val qterms = queries.select(col("query_id"),
      explode(col("terms")).as("word"))
    tf.join(broadcast(qterms), "word")
      .join(dl, "doc_id")
      .join(df, "word")
      .crossJoin(broadcast(stats))
      .withColumn("term_scaled",
        round(lit(1000000.0) *
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum("term_scaled").as("s"))
      .withColumn("score", col("s") / 1000000.0)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("s").desc, col("doc_id"))))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rnk"))
  }

  /** Reciprocal-rank fusion of two rankings — the standard hybrid-retrieval
    * combiner (lexical BM25 + embedding cosine, or any two rankers over
    * the same (query_id, doc_id) space): each list contributes
    * `1 ÷ (kRrf + rank)` per hit and documents rank by the summed score.
    * Contributions are integer-scaled with TRUNCATING division
    * (`1000000 div (kRrf + rnk)`) so the per-(query, doc) sum is an exact
    * order-independent integer — same determinism contract as
    * [[bm25TopK]] — and ties break by doc_id.
    *
    * Scale shape: ranked lists are k rows per query — sub-dimension-sized
    * at any corpus scale — so the union/aggregate/window pipeline never
    * touches the corpus; the expensive work stays inside the upstream
    * rankers. Inputs need columns (query_id, doc_id, rnk).
    */
  def rrfFuse(rankA: DataFrame, rankB: DataFrame, kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    def contrib(r: DataFrame) = r.select(col("query_id"), col("doc_id"),
      expr(s"1000000 div ($kRrf + rnk)").as("c"))
    contrib(rankA).unionAll(contrib(rankB))
      .groupBy("query_id", "doc_id")
      .agg(sum("c").as("rrf_micro"), count(lit(1)).as("n_lists"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_micro").desc, col("doc_id"))))
      .where(col("rnk") <= topK)
      .select(col("query_id"), col("doc_id"), col("rrf_micro"),
        col("n_lists"), col("rnk"))
  }

  /** PII-style redaction: mask digit runs and email-shaped tokens, report
    * how many of each were masked. Row-local regex work — codegen'd, no
    * shuffle; the patterns are deliberately simple enough to behave
    * identically across regex dialects (Java / RE2 / PCRE).
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "<EMAIL>"),
        "[0-9]+", "<NUM>").as("red_text"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_nums"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"), lit(0)))
        .as("n_emails"))

  /** Deterministic train/val/test assignment from a content-independent id
    * hash: first hex digit of md5(doc_id) → 12/16 train, 2/16 val, 2/16
    * test. Reproducible on any engine with md5, stable under re-runs and
    * re-partitioning — the property a 100 TB pipeline needs so splits never
    * drift between jobs.
    */
  /** The split expression itself — the ONE definition of the cutoffs,
    * shared with [[CorpusPipeline]] so curation's split assignment can
    * never drift from the standalone operator.
    */
  def splitExpr(docId: Column): Column = {
    val h = substring(md5(docId.cast("string")), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitExpr(col("doc_id")).as("split"))

  /** Stratified sample audit: per (lang, split) document counts and mean
    * length over the deterministic hash split — the sanity check that the
    * split is balanced within every stratum.
    */
  def sampleStrata(docs: DataFrame): DataFrame =
    splitAssign(docs)
      .join(docs.select(col("doc_id").as("d2"), col("lang"), col("n_chars")),
        col("doc_id") === col("d2"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), round(avg("n_chars"), 2).as("avg_chars"))

  /** Deterministic per-epoch training order: every document gets a
    * 1-based global position by sorting on a seeded content-independent
    * hash (`md5("ep<epoch>:" + doc_id)`, the portable 60-bit form) — the
    * data-shuffling step of a training run, made REPRODUCIBLE: any
    * engine, any partitioning, any re-run of epoch e yields the
    * identical order, and different epochs decorrelate (fresh seed, no
    * epoch-to-epoch order reuse for the optimizer to exploit).
    *
    * Scale shape: the order is realized by
    * [[Relational.positionByRange]]'s two-pass offset scheme — a range
    * partition on the hash (uniform by construction, so NO skew), a
    * #partitions-row prefix sum, and a per-partition rank. No
    * single-partition window, no driver collect; this is exactly the
    * shape that survives a 100 TB corpus, where `row_number() OVER
    * (ORDER BY …)` would serialize the world through one task.
    */
  def epochShuffle(docs: DataFrame, epoch: Int = 3): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      Dedup.portableHash64(
        concat(lit(s"ep$epoch:"), col("doc_id").cast("string")))
        .as("shuffle_key"))
    Relational.positionByRange(keyed,
      Seq(col("shuffle_key"), col("doc_id")), "text.epoch_shuffle")
  }

  /** Source-interleaved training order: documents are ordered so the
    * sources round-robin — position is assigned on (per-source rank,
    * source), where the per-source rank comes from the same seeded
    * portable hash as [[epochShuffle]]. The result is the maximally
    * uniform source mixing a curriculum wants (no long single-source
    * runs that make a training batch's gradient source-biased), still
    * fully deterministic and engine-replayable.
    *
    * Scale shape: one PARTITIONED window (per-source rank — parallel
    * across sources) feeding [[Relational.positionByRange]]; the
    * interleave key (rn, source) range-partitions near-uniformly because
    * per-source ranks are dense integers.
    */
  def interleaveBySource(docs: DataFrame, epoch: Int = 3): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      Dedup.portableHash64(
        concat(lit(s"il$epoch:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("k"), col("doc_id")))
        .cast("long"))
    Relational.positionByRange(keyed,
      Seq(col("rn"), col("source"), col("doc_id")), "text.interleave")
      .select("doc_id", "source", "rn", "pos")
  }

  /** Cross-document duplicated-span signal: for each document, how many of
    * its k-token spans (every position, NOT distinct) occur more than once
    * in the whole corpus — the span-level dedup diagnostic (the
    * cross-corpus complement of [[repetitionSignals]], which is
    * within-document). Counts are pure integers, so the oracle replays
    * with zero FP risk.
    *
    * Scale shape: spans carry a 60-bit portable hash, not the text, and
    * the tokenize→explode→hash subtree runs ONCE — the first aggregate
    * groups by (doc_id, h) so both downstream consumers (the global
    * duplicated-hash table, derived by re-aggregating those partials on h,
    * and the per-doc rollup) read the SAME shuffled aggregate (identical
    * subtrees → reused exchange; the ADVICE-flagged double scan is gone).
    * The dup table joins back un-hinted so AQE broadcasts it when small
    * (the normal case) and degrades to a shuffle join on a pathological
    * corpus.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    // repartition + explode_outer: the [[Dedup.shingles]] rules (spread
    // the interpreted transform across cores; don't let the inferred
    // size() filter re-evaluate it)
    val spans = spreadNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), explode_outer(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
        .as("g"))
      .where(col("g").isNotNull)
      .select(col("doc_id"), Dedup.portableHash64(col("g")).as("h"))
    val grouped = spans.groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
    val dup = grouped.groupBy("h").agg(sum("cnt").as("c")).where(col("c") > 1)
    grouped.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_spans"),
        sum(when(col("c").isNotNull, col("cnt")).otherwise(lit(0L))).as("n_dup_spans"))
  }

  /** Exact-substring duplicate detection via sorted-suffix blocking — the
    * distributed shape of the suffix-array dedup in Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"), which
    * [[duplicatedSpans]] only approximates at one fixed width: for every
    * token position in the corpus this reports the length of the LONGEST
    * substring starting there that also occurs anywhere else (another
    * document, or another position of the same document — self-repetition
    * is duplication), exactly up to a declared block width `w` tokens
    * (longer duplicates saturate at `w`).
    *
    * Method: every suffix is truncated to its first `w` tokens and
    * globally sorted; in lexicographic order the maximum common prefix a
    * suffix shares with ANY other suffix is attained at one of its two
    * sort neighbors, so per-position duplicate length = max(LCP with
    * predecessor, LCP with successor). Truncation makes this exact for
    * all lengths ≤ `w` — the classic unbounded-suffix-array answer,
    * capped. Suffixes join on a `` separator (sorts below every
    * token byte), which preserves the token-prefix property under plain
    * byte-lexicographic ordering in both engines.
    *
    * Output per document: `n_suffixes` (= token count), `max_dup_len`
    * (longest duplicated substring starting in this doc, tokens, ≤ w),
    * and `n_dup_spans8` (positions whose full 8-token span duplicates —
    * by construction this agrees with [[duplicatedSpans]]'s
    * `n_dup_spans`, pinned in TextOpsSpec).
    *
    * Scale shape: the suffix table is n_tokens rows × ≤`w` tokens — a
    * DECLARED w-fold blowup of the corpus (Lee et al.'s suffix array is
    * the same order), range-partitioned by suffix so the sort never
    * funnels; neighbor pairing is a self-join on the dense global
    * position from [[Relational.positionByRange]] (the packSequences
    * prefix-sum machinery — no global window, no driver state); LCPs are
    * one bounded zip per adjacent pair. Everything downstream is integer,
    * so the oracle replays hash-exact.
    */
  def dupSubstrings(docs: DataFrame, w: Int = 32): DataFrame = {
    val (ranged, duplen) = suffixDuplens(docs, w, "text.dup_substrings")
    ranged.select("pos", "doc_id", "i", "sl")
      .join(duplen, Seq("pos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_suffixes"),
        max(coalesce(col("dl"), lit(0L))).as("max_dup_len"),
        sum(when(col("sl") >= 8 && coalesce(col("dl"), lit(0L)) >= 8, 1L)
          .otherwise(0L)).as("n_dup_spans8"))
  }

  /** The shared sorted-suffix core of [[dupSubstrings]] and
    * [[substringDedup]]: returns (`ranged`, `duplen`) where `ranged` is
    * the w-truncated suffix table with its dense global sort position
    * (`pos, doc_id, i, sl, s`) and `duplen` maps each `pos` to the
    * length of the longest prefix it shares with ANY other suffix
    * (max token-LCP with its two sort neighbors).
    */
  private def suffixDuplens(docs: DataFrame, w: Int,
      releaseLabel: String): (DataFrame, DataFrame) = {
    val sfx = spreadNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"),
        posexplode(expr(
          s"transform(sequence(1, size(toks)), i -> concat_ws(char(1), slice(toks, i, $w)))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        least(lit(w).cast("long"), col("n") - col("pos")).as("sl"),
        col("col").as("s"))
    val ranged = Relational.positionByRange(sfx,
      Seq(col("s"), col("doc_id"), col("i")), releaseLabel)
    // adjacent pairs via the dense position: (p, p+1); LCP in TOKENS —
    // zip the split suffixes, first mismatch index − 1 (0 = none found =
    // arrays identical = full truncated length). One HOF pass per pair,
    // inputs read exactly once (the interpreted-eval budget rule).
    val nxt = ranged.select((col("pos") - 1).as("pos"), col("s").as("s2"))
    val pairLcp = ranged.join(nxt, Seq("pos"))
      .select(col("pos"), expr(
        """CASE WHEN s = s2 THEN size(split(s, char(1)))
          |ELSE array_position(
          |  zip_with(split(s, char(1)), split(s2, char(1)),
          |           (x, y) -> coalesce(x = y, false)), false) - 1 END"""
          .stripMargin).cast("long").as("lcp"))
    // per-position duplicate length = max over both neighbors: each pair
    // credits both of its endpoints, then a max-by-position rollup
    val contrib = pairLcp.select(col("pos"), col("lcp"))
      .unionAll(pairLcp.select((col("pos") + 1).as("pos"), col("lcp")))
    (ranged, contrib.groupBy("pos").agg(max("lcp").as("dl")))
  }

  /** Substring-level benchmark decontamination — the third act of the
    * sorted-suffix machinery (Lee et al. 2022 used suffix arrays for
    * exactly this: test-set contamination): for each TRAIN document, the
    * length of the LONGEST substring it shares with ANY benchmark
    * document, exact up to block width `w`, plus the count of train
    * positions whose full 8-token span appears in the benchmark.
    * [[decontaminate]]'s fixed 3-gram screen says "how many small grams
    * overlap"; this says "how LONG is the worst verbatim overlap" — the
    * signal that separates idiom-level collision from a copied answer.
    *
    * Method: suffixes of BOTH sides sort together with a side tag; a
    * train suffix's max-LCP benchmark partner is its nearest benchmark
    * suffix above or below in sort order, and LCP to it equals the MIN
    * of adjacent-pair LCPs over the gap (lexicographic prefix algebra).
    * That min is a SEGMENTED cumulative scan: segment id = global
    * running count of benchmark rows (the positionByRange two-pass
    * prefix-sum pattern, applied to the side indicator), and within each
    * segment a cumulative min over adjacent LCPs — benchmark rows
    * contribute null so each segment's scan starts exactly after its
    * opening benchmark suffix. Two directions (nearest bench above /
    * below), then a per-doc max rollup over train suffixes.
    *
    * Scale shape: everything [[dupSubstrings]] pays, plus one
    * range-repartition of the (pos, side, lcp) table and four windows —
    * two tiny (per-partition offsets, partition count rows) and two
    * partitioned by segment id (cardinality ≈ benchmark suffix count —
    * balanced whenever the benchmark is non-degenerate). No corpus-scale
    * driver state.
    */
  def decontamSubstrings(train: DataFrame, bench: DataFrame, w: Int = 32): DataFrame = {
    val docs = train.select(col("doc_id"), col("text"), lit(0L).as("side"))
      .unionByName(bench.select(col("doc_id"), col("text"), lit(1L).as("side")))
    val sfx = spreadNarrow(docs)
      .select(col("doc_id"), col("side"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), col("side"), size(col("toks")).as("n"),
        posexplode(expr(
          s"transform(sequence(1, size(toks)), i -> concat_ws(char(1), slice(toks, i, $w)))")))
      .select(col("doc_id"), col("side"), (col("pos") + 1).cast("long").as("i"),
        least(lit(w).cast("long"), col("n") - col("pos")).as("sl"),
        col("col").as("s"))
    val ranged = Relational.positionByRange(sfx,
      Seq(col("s"), col("side"), col("doc_id"), col("i")), "text.decontam_sub")
    def lcpOf(a: Column, b: Column): Column =
      when(a === b, size(split(a, "\\u0001")))
        .otherwise(array_position(
          zip_with(split(a, "\\u0001"), split(b, "\\u0001"),
            (x, y) => coalesce(x === y, lit(false))), false) - 1)
        .cast("long")
    // adjacent LCP with the PREDECESSOR, attached to the later row
    val prv = ranged.select((col("pos") + 1).as("pos"), col("s").as("sp"))
    val withG = ranged.join(prv, Seq("pos"), "left")
      .withColumn("g", when(col("sp").isNull, lit(null).cast("long"))
        .otherwise(lcpOf(col("sp"), col("s"))))
      .drop("sp")
    // two-pass global prefix sums of the bench indicator → segment ids
    val par = ranged.sparkSession.sparkContext.defaultParallelism
    val (rp, _) = Pins.materialize("text.decontam_sub_ranged",
      withG.repartitionByRange(par, col("pos"))
        .withColumn("pid", spark_partition_id()))
    val offs = rp.groupBy("pid").agg(sum("side").as("cnt"))
      .withColumn("offUp", coalesce(
        sum("cnt").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("offDn", coalesce(
        sum("cnt").over(Window.orderBy("pid")
          .rowsBetween(1, Window.unboundedFollowing)), lit(0L)))
      .select("pid", "offUp", "offDn")
    val wUp = Window.partitionBy("pid").orderBy("pos")
    val wDn = Window.partitionBy("pid").orderBy(col("pos").desc)
    // g2 = adjacent LCP with the SUCCESSOR (the predecessor-LCP of pos+1)
    // — read from the PERSISTED frame (deriving it from withG would run
    // every interpreted zip-LCP a second time), but NOT via a
    // corpus-scale self-join on pos (two exchanges + sorts of rp):
    // positions are DENSE and rp is range-partitioned by pos with
    // monotone partition ids, so lead(g) over the SAME (pid, pos) sort
    // the segment sums already pay covers every row except each
    // partition's last, and those read their successor from a
    // #partitions-row boundary lookup (the row at each pid's maxPos+1,
    // found by a broadcast semi-probe — empty-partition-safe because it
    // keys on POSITION, not on pid adjacency).
    val lastPos = rp.groupBy("pid").agg(max("pos").as("mp"))
    val bnd = rp.join(
      broadcast(lastPos.select((col("mp") + 1).as("pos"), col("pid").as("bpid"))),
      Seq("pos"))
      .select(col("bpid").as("pid"), col("g").as("g_bnd"))
    val (base, _) = Pins.materialize("text.decontam_sub_base", rp.join(broadcast(offs), "pid")
      .withColumn("segUp", sum("side").over(wUp) + col("offUp"))
      .withColumn("segDn", sum("side").over(wDn) + col("offDn"))
      .withColumn("g2", lead("g", 1).over(wUp))
      .join(broadcast(bnd), Seq("pid"), "left")
      .withColumn("g2", coalesce(col("g2"), col("g_bnd")))
      .withColumn("mg",
        when(col("side") === 1, lit(null).cast("long")).otherwise(col("g")))
      .withColumn("mg2",
        when(col("side") === 1, lit(null).cast("long")).otherwise(col("g2")))
      .select("pos", "doc_id", "side", "sl", "pid", "segUp", "segDn", "mg", "mg2"))
    // Segmented cumulative mins run pid-LOCAL (windows partitioned by
    // (pid, seg) — bounded by the range-partition size even when a
    // degenerate benchmark makes one segment span the whole corpus) and
    // prefix-combine across pids via a carry frame of per-(pid, seg)
    // segment mins: ≤ (#bench suffixes + #partitions) rows, so the
    // cross-pid windows never see corpus-scale partitions either.
    val locUp = Window.partitionBy("pid", "segUp").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val locDn = Window.partitionBy("pid", "segDn").orderBy(col("pos").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carryUp = base.groupBy("pid", "segUp").agg(min("mg").as("m"))
      .withColumn("cup", min("m").over(Window.partitionBy("segUp")
        .orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)))
      .select("pid", "segUp", "cup")
    val carryDn = base.groupBy("pid", "segDn").agg(min("mg2").as("m"))
      .withColumn("cdn", min("m").over(Window.partitionBy("segDn")
        .orderBy(col("pid").desc).rowsBetween(Window.unboundedPreceding, -1)))
      .select("pid", "segDn", "cdn")
    val scanned = base
      .withColumn("lup", min("mg").over(locUp))
      .withColumn("ldn", min("mg2").over(locDn))
      .join(carryUp, Seq("pid", "segUp"), "left")
      .join(carryDn, Seq("pid", "segDn"), "left")
      .withColumn("up", when(col("segUp") >= 1, least(col("lup"), col("cup"))))
      .withColumn("down", when(col("segDn") >= 1, least(col("ldn"), col("cdn"))))
      .withColumn("shared",
        greatest(coalesce(col("up"), lit(0L)), coalesce(col("down"), lit(0L))))
    scanned.where(col("side") === 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_suffixes"),
        max(col("shared")).as("max_shared_len"),
        sum(when(col("sl") >= 8 && col("shared") >= 8, 1L).otherwise(0L))
          .as("n_contam_spans8"))
  }

  /** Exact-substring dedup WITH corpus rewrite — the removal step of the
    * Lee et al. 2022 pipeline on the [[dupSubstrings]] machinery, the
    * variable-span complement of [[segmentDedup]]'s fixed segmentation:
    * every position whose `minLen`-token span occurs anywhere else in
    * the corpus is a duplicate START unless it is the span's FIRST
    * corpus occurrence (smallest (doc_id, position) over all occurrences
    * of that exact span — every occurrence lands in the same group by
    * construction, since each has duplicate-length ≥ `minLen` and the
    * identical `minLen`-prefix); each non-first start covers its
    * `minLen` tokens, consecutive duplicate starts union into maximal
    * duplicated runs, and each document reassembles from its uncovered
    * tokens. Output: `(doc_id, n_tokens, n_kept, clean_text)` — all
    * docs present, fully-duplicated docs keep empty text (the
    * [[segmentDedup]] contract).
    *
    * Scale shape: the [[suffixDuplens]] sort (declared w-fold suffix
    * blowup) + one group-by on the minLen-prefix (distinct-span
    * cardinality, balanced) + a bounded coverage explode (minLen rows
    * per dropped start) + the doc_id reassembly shuffle. Nothing
    * all-pairs; keeper election is a single aggregate, not a window
    * over the corpus.
    */
  def substringDedup(docs: DataFrame, minLen: Int = 8, w: Int = 32): DataFrame = {
    require(minLen <= w, s"substringDedup: minLen=$minLen must be <= w=$w")
    val (ranged, duplen) = suffixDuplens(docs, w, "text.substring_dedup")
    // duplicate starts: full-width minLen span that occurs elsewhere;
    // group key = the exact minLen-token prefix (substring_index cuts at
    // the minLen'th separator — sl >= minLen guarantees it exists)
    val starts = ranged.join(duplen, Seq("pos"))
      .where(col("sl") >= minLen && col("dl") >= minLen)
      .select(col("doc_id"), col("i"),
        substring_index(col("s"), "\u0001", minLen).as("gk"),
        // election key: struct min is lexicographic on (doc_id, i) — no
        // encoded radix, so docs of any length and any doc_id range
        // elect the true first corpus occurrence (no silent overflow)
        struct(col("doc_id"), col("i")).as("ek"))
    val firsts = starts.groupBy("gk").agg(min("ek").as("fk"))
    val dropped = starts.join(firsts, Seq("gk"))
      .where(col("ek") =!= col("fk"))
    val cov = dropped
      .select(col("doc_id"), explode(sequence(col("i"),
        col("i") + lit(minLen - 1).cast("long"))).as("j"))
      .distinct()
    val toks = spreadNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("j"),
        col("col").as("tk"))
    val kept = toks.join(cov, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("j"), col("tk")))),
          x => x.getField("tk"))).as("clean_text"))
    docs.select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** C4-style segment-level dedup WITH corpus rewrite (the canonical "drop
    * duplicated three-sentence spans" preprocessing step, adapted to
    * fixed-k token segments on this punctuation-less fixture): each
    * document splits into consecutive k-token segments, every segment
    * duplicated anywhere in the corpus is dropped except its first
    * occurrence (smallest (doc_id, position)), and each document's
    * surviving segments reassemble in order. Unlike [[duplicatedSpans]],
    * which only measures duplication, this op REWRITES the corpus —
    * emitting the cleaned text plus per-doc segment counts.
    *
    * Scale shape: exactly two shuffles, both unavoidable for the
    * semantics — (1) segments shuffle on their 60-bit portable hash and
    * first-occurrence is a `row_number` within each hash partition (hash
    * cardinality ≈ distinct segments, so partitions stay balanced; no
    * join-back, no recomputed subtree); (2) survivors shuffle on doc_id to
    * reassemble. Segment text rides the first shuffle because the rewrite
    * needs it back — ~text-sized shuffle, the same order as the C4 job it
    * mirrors. Fully-deduplicated documents remain with empty text so the
    * output stays 1:1 with the input (callers filter, mirroring
    * [[CorpusPipeline]]'s explicit gate style).
    */
  def segmentDedup(docs: DataFrame, k: Int = 8): DataFrame = {
    // repartition BEFORE the interpreted segment transform and explode
    // through `_outer` (+ null filter) — the [[Dedup.shingles]] rules: a
    // single-file corpus otherwise segments in ONE task (10× soak: 5.4 s
    // of task time on one core), and plain `explode` makes the optimizer
    // infer a size() filter that re-evaluates the interpreted transform
    val segs = spreadNarrow(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), explode_outer(expr(
        s"transform(sequence(0, cast(ceil(size(toks) / $k.0) as int) - 1), " +
          s"i -> struct(i as s, concat_ws(' ', slice(toks, i * $k + 1, $k)) as seg))")).as("e"))
      .where(col("e").isNotNull)
      .select(col("doc_id"), col("e.s").as("s"), col("e.seg").as("seg"))
      .withColumn("h", Dedup.portableHash64(col("seg")))
    val w = Window.partitionBy("h").orderBy("doc_id", "s")
    segs.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("s"), col("seg"))))),
            x => x.getField("seg")),
          " ").as("clean_text"))
  }

  /** Curriculum / quality binning: rank every document by its unigram
    * entropy ([[unigramEntropy]] — a standard difficulty/diversity proxy)
    * and assign equal-population bins (`bin = (rank-1)·nBins div n`), the
    * schedule tables curriculum training and quality-stratified sampling
    * read. Exact integer math end-to-end, so any engine replays it.
    *
    * Scale shape: the global rank uses the distributed two-pass prefix
    * sum of [[graft.operators.Relational.globalIndex]] — range-partition
    * on the sort key, per-partition counts prefix-summed into offsets
    * (the only single-partition window runs over #partition rows), local
    * `row_number` + offset. No driver collect, no global-window collapse;
    * the ranged frame is persisted+counted so both passes see the same
    * range boundaries (RangePartitioner sampling is execution-dependent).
    */
  def curriculumBins(docs: DataFrame, nBins: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val keys = Seq(col("entropy_bits"), col("doc_id"))
    val (ranged, _) = Pins.materialize("textops.curriculum_ranged", unigramEntropy(docs)
      .select("doc_id", "entropy_bits")
      .repartitionByRange(par, keys: _*)
      .withColumn("pid", spark_partition_id()))
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "off")
    val total = ranged.agg(count(lit(1)).as("n"))
    val local = Window.partitionBy("pid").orderBy(keys: _*)
    ranged.join(broadcast(offsets), "pid")
      .withColumn("rank", row_number().over(local).cast("long") + col("off"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("entropy_bits"), col("rank"),
        expr(s"(rank - 1) * $nBins div n").as("bin"))
  }

  /** Per-source KL divergence from the corpus token distribution (bits):
    * `KL(source ‖ corpus) = Σ_w p_s(w) · log2(p_s(w)/p_c(w))` — the
    * domain-mixing diagnostic: sources far from the corpus mix dominate or
    * starve a sampling schedule. ONE token-scale hash aggregation (per
    * (source, word), map-side combined) feeds everything: the corpus
    * counts re-aggregate those partials on word (identical subtrees →
    * reused exchange, no second scan of the corpus), the grand total
    * derives from the corpus counts, and the vocab-sized join is left to
    * the optimizer (no broadcast hint: at web-corpus vocabularies a forced
    * broadcast would OOM where AQE degrades to a shuffle join).
    * Per-token terms use the integer-scaled sum of [[unigramEntropy]] so
    * the result replays bit-identically anywhere. p_c(w) > 0 wherever
    * p_s(w) > 0 (the corpus contains every source), so no smoothing is
    * needed.
    */
  def sourceKl(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
      explode(split(col("text"), "\\s+")).as("word"))
    val srcCounts = tok.groupBy("source", "word").agg(count(lit(1)).as("cs"))
    // per-source totals as a tiny aggregate joined back — NOT a window
    // partitioned by source, which would shuffle the whole (source, word)
    // vocabulary into #sources partitions and buffer each source's
    // vocabulary in a single task while the rest of the cluster idles
    val srcTotals = srcCounts.groupBy("source").agg(sum("cs").as("ns"))
    val bySrc = srcCounts.join(srcTotals, "source")
    val corpus = srcCounts.groupBy("word").agg(sum("cs").as("cc"))
    val total = corpus.agg(sum("cc").as("nc"))
    bySrc
      .join(corpus, "word")
      .crossJoin(broadcast(total))
      .select(col("source"),
        expr("""cast(round((cs / cast(ns as double))
               |  * log2((cs / cast(ns as double)) / (cc / cast(nc as double)))
               |  * 1e6, 0) as bigint)""".stripMargin).as("it"))
      .groupBy("source")
      .agg((round(sum(col("it")) / 100.0, 0).cast("long") / 10000.0).as("kl_bits"))
  }

  /** Pairwise source vocabulary overlap (Jaccard of distinct-token sets):
    * the companion diagnostic to [[sourceKl]] — KL measures distributional
    * divergence, this measures raw shared vocabulary, together deciding
    * whether two domains should share a mixing bucket. Full symmetric
    * matrix (a < b), zero-overlap pairs included.
    *
    * Scale shape: one distinct (source, word) aggregate feeds both the
    * per-source vocabulary sizes and the intersection counts; the
    * word-keyed self-join fans out at most #sources rows per word, so
    * cost is Σ_w s_w² ≤ vocab·sources² — linear in vocabulary for any
    * realistic source count. Sizes ride a broadcast (one row per source).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sv = docs
      .select(col("source"), explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("nv"))
    val inter = sv.as("x")
      .join(sv.as("y"), Seq("word"))
      .where(col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("a"), col("y.source").as("b"))
      .agg(count(lit(1)).as("inter"))
    sizes.as("sa").join(sizes.as("sb"), col("sa.source") < col("sb.source"))
      .select(col("sa.source").as("a"), col("sb.source").as("b"),
        col("sa.nv").as("na"), col("sb.nv").as("nb"))
      .join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("inter"), lit(0L)).as("shared"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L))), 4).as("jaccard"))
  }

  /** Pairwise two-sample Kolmogorov–Smirnov statistic over document
    * lengths: D = max over the length support of |F_a(x) − F_b(x)|, the
    * standard distribution-shift test between corpus slices (KL compares
    * token mass, KS compares a numeric per-doc property's whole CDF —
    * shape drift a mean/variance check misses). Output one row per
    * unordered source pair with the sample sizes.
    *
    * Every count is exact-integer until the final F division, and both
    * CDFs are evaluated on the SHARED global support grid — the grid join
    * is what makes D exact (evaluating each CDF only at its own sample
    * points would miss the sup between steps of the other).
    *
    * Scale shape: doc lengths collapse to (source, length) counts first —
    * the grid is sources × distinct-lengths rows, bounded by the length
    * domain (not the corpus); the cumulative step is a per-source window
    * over that bounded grid, and the pair join fans each grid row to at
    * most sources² pairs. No corpus-sized shuffle after the first
    * aggregate.
    */
  def ksSourceLens(docs: DataFrame): DataFrame = {
    // the materialized n_chars column, not length(text): engines disagree
    // on character counting for exotic unicode, a stored integer doesn't
    val lens = docs.select(col("source"), col("n_chars").as("x"))
    val counts = lens.groupBy("source", "x").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum("c").as("n"))
    val support = counts.select("x").distinct()
    // grid = every (source, support x); missing lengths contribute 0
    val grid = totals.crossJoin(support)
      .join(counts, Seq("source", "x"), "left")
      .select(col("source"), col("x"), col("n"),
        coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy("source").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = grid.select(col("source"), col("x"), col("n"),
      sum("c").over(w).as("cum"))
    cdf.as("p")
      .join(cdf.as("q"),
        col("p.x") === col("q.x") && col("p.source") < col("q.source"))
      .groupBy(col("p.source").as("a"), col("q.source").as("b"))
      .agg(
        round(max(abs(col("p.cum").cast("double") / col("p.n")
          - col("q.cum").cast("double") / col("q.n"))), 6).as("ks_d"),
        first(col("p.n")).as("n_a"), first(col("q.n")).as("n_b"))
  }

  /** Stratified k-fold assignment for cross-validation: within each
    * source stratum, docs rank by the salted content-independent
    * `md5("fold:" + doc_id)` hash and take `rank % k` — fold sizes within
    * a stratum differ by at most one (exactly balanced, unlike a plain
    * `hash % k` whose fold sizes are only balanced in expectation), and
    * every fold inherits the corpus's source mix. The salt decorrelates
    * fold assignment from [[mixSources]]/`splitAssign` decisions.
    *
    * Scale shape: one shuffle on the stratum key for the within-stratum
    * rank. A skewed stratum serializes its rank into one task — at
    * corpus scale swap the window for the two-pass per-partition-offset
    * prefix-sum rank ([[curriculumBins]]' scheme); the fixture-scale
    * window keeps the op one exchange.
    */
  def kFoldAssign(docs: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
    docs.select(col("doc_id"), col("source"),
      Dedup.portableHash64(concat(lit("fold:"), col("doc_id"))).as("h"))
      .withColumn("fold", (row_number().over(w) - 1) % k)
      .select(col("doc_id"), col("source"), col("fold"))
  }

  /** Tokenizer-fertility profile per language: characters per
    * whitespace token and tokens per document — the first-order check
    * before committing a tokenizer budget to a multilingual corpus
    * (scripts with long words or no spacing blow up per-token byte
    * budgets). Exact integer sums, two rounded ratios at the end; one
    * map-side-combined aggregate.
    */
  def langFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("n_chars"),
        size(expr("filter(split(text, '\\\\s+'), x -> x <> '')")).as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        round(sum("n_chars").cast("double") / sum("toks"), 4).as("chars_per_token"),
        round(sum("toks").cast("double") / count(lit(1)), 4).as("tokens_per_doc"))

  /** Jensen–Shannon divergence of each source's unigram distribution
    * against the corpus distribution — [[sourceKl]]'s symmetric, bounded
    * ([0, 1] bit) sibling: KL explodes on source-exclusive tokens and is
    * asymmetric; JSD against the midpoint M = (P+C)/2 is finite always,
    * which makes cross-source comparisons and mixing-weight math stable.
    *
    * Both KL(P‖M) and KL(C‖M) restricted to the source's support come
    * from the SAME joined (source, word) frame; the corpus-side tail over
    * words the source lacks needs no cross product — there p = 0, so each
    * term is q·log₂(2q/q) = q, and the tail sums to 1 − Σ_{w∈S} q_w,
    * computed from the support sum. Terms are integer-scaled (×10⁹,
    * rounded) before summing, so per-source totals are order-independent
    * (the [[sourceKl]] determinism contract).
    *
    * Scale shape: identical to [[sourceKl]] — per-(source, word) counts,
    * tiny totals joined back, one rollup; no new shuffle.
    */
  def jsdSources(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
      explode(split(col("text"), "\\s+")).as("word"))
    val srcCounts = tok.groupBy("source", "word").agg(count(lit(1)).as("cs"))
    val srcTotals = srcCounts.groupBy("source").agg(sum("cs").as("ns"))
    val corpus = srcCounts.groupBy("word").agg(sum("cs").as("cc"))
    val total = corpus.agg(sum("cc").as("nc"))
    srcCounts.join(srcTotals, "source")
      .join(corpus, "word")
      .crossJoin(broadcast(total))
      .select(col("source"),
        // p·lg(2p/(p+q)) + q·lg(2q/(p+q)) per in-support word, and the
        // q mass itself (for the out-of-support tail), each scaled to
        // integer nano-bits
        expr("""cast(round((
               |  (cs / cast(ns as double))
               |    * log2(2.0 * (cs / cast(ns as double))
               |           / ((cs / cast(ns as double)) + (cc / cast(nc as double))))
               |  + (cc / cast(nc as double))
               |    * log2(2.0 * (cc / cast(nc as double))
               |           / ((cs / cast(ns as double)) + (cc / cast(nc as double))))
               |) * 1e9, 0) as bigint)""".stripMargin).as("it"),
        expr("cast(round((cc / cast(nc as double)) * 1e9, 0) as bigint)").as("qm"))
      .groupBy("source")
      .agg(((sum(col("it")) + lit(1000000000L) - sum(col("qm"))) / lit(2.0) / 1e9)
        .as("_jsd_raw"))
      .select(col("source"), round(col("_jsd_raw"), 6).as("jsd_bits"))
  }

  /** Deterministic source mixing: sample each source at its target rate by
    * thresholding the content-independent md5(doc_id) hash — the
    * data-mixing primitive that turns per-domain weights into a concrete
    * document subset. Row-local (no shuffle), stable under repartitioning
    * and re-runs. The hash is salted with a `mix:` prefix so the keep
    * decision is independent of [[splitAssign]]'s unsalted hash — without
    * the salt, the mix sample would be correlated with the train/val/test
    * assignment. Rates outside [0,1] clamp. The cutoff is
    * floor(2^28 · rate) — an engine replaying the decision must FLOOR
    * (DuckDB: `CAST(floor(268435456 * r) AS BIGINT)`; a bare CAST rounds
    * and diverges on non-dyadic rates).
    */
  def mixSources(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    // first 7 hex digits of the salted id hash → uniform int in [0, 16^7)
    val bucket = conv(substring(md5(concat(lit("mix:"),
      col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
    val span = 1L << 28 // 16^7
    def cut(r: Double): Long = (span * math.max(0.0, math.min(1.0, r))).toLong
    val rateCol = rates.foldLeft(lit(cut(defaultRate))) { case (acc, (s, r)) =>
      when(col("source") === s, lit(cut(r))).otherwise(acc)
    }
    docs.where(bucket < rateCol)
  }

  /** Temperature-scaled source mixing weights: sampling probability
    * p_temp(s) ∝ n_s^α with α ∈ (0,1] — the standard multilingual /
    * multi-source rebalancing rule (α=1 is proportional sampling, α→0 is
    * uniform; 0.7 is the common default). `boost` = p_temp/p_raw is the
    * per-source oversampling factor a weighted sampler (e.g.
    * [[mixSources]] with rate = min(1, boost·target_rate)) applies so
    * small sources are not drowned by the head. This is the COMPANION
    * operator to [[mixSources]]: mixSources executes fixed per-source
    * rates; temperatureMix derives the rates from the corpus itself.
    *
    * Scale shape: one map-side-combined count aggregate (|sources| rows),
    * one 1-row total broadcast back over it — no corpus-sized shuffle,
    * no window. The weight table is broadcastable at any corpus size
    * because its cardinality is the source count. Outputs round to 6dp so
    * the libm `pow` and the summation order (both within 1 ulp across
    * engines) cannot surface in the reported weights.
    */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.7): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(pow(col("n_docs"), lit(alpha))).as("z"))
    val pRaw = col("n_docs").cast("double") / col("n_total").cast("double")
    val pTemp = pow(col("n_docs"), lit(alpha)) / col("z")
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(pRaw, 6).as("p_raw"),
        round(pTemp, 6).as("p_temp"),
        round(pTemp / pRaw, 6).as("boost"))
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * adapted to engine-portable integer arithmetic): featurize every
    * document as hashed bigram buckets, estimate the target-vs-corpus
    * frequency ratio per bucket, and score each document by the
    * count-weighted sum of its buckets' ratios. High scores ≈ documents
    * whose n-gram profile resembles the target domain — the standard
    * importance-resampling prior for corpus selection. The published
    * method sums log-ratios; this uses the add-one-smoothed ratio itself
    * in ppm (`(tgt+1)·10⁶ div (src+1)`, truncating integer division) so
    * every term — and therefore the order-independent per-doc sum — is an
    * exact integer any engine replays (same trade as [[sourceKl]]'s
    * integer-scaled terms, without libm `log` in the hot path).
    *
    * Scale shape: ONE corpus-sized shuffle — the (doc, tgt, bucket) count
    * aggregate — whose partials feed both consumers: the bucket weight
    * table re-aggregates those partials on bucket (identical subtree →
    * reused exchange), and the per-doc score joins the resulting
    * ≤`buckets`-row table back by broadcast. Bucket count is a fixed
    * constant, so the weight table stays broadcastable at any corpus size.
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
      buckets: Int = 4096): DataFrame = {
    val feats = docs
      .select(col("doc_id"), (col("lang") === targetLang).cast("int").as("tgt"),
        split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("tgt"), explode(expr(
        s"transform(sequence(1, size(toks) - 1), i -> " +
          s"${Dedup.portableHash64Sql("concat_ws(' ', slice(toks, i, 2))")} % $buckets)"))
        .as("bucket"))
    val grouped = feats.groupBy("doc_id", "tgt", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val weights = grouped.groupBy("bucket")
      .agg(sum("cnt").as("src_c"),
        sum(when(col("tgt") === 1, col("cnt")).otherwise(0L)).as("tgt_c"))
      .select(col("bucket"),
        expr("((tgt_c + 1) * 1000000L) div (src_c + 1)").as("w_ppm"))
    grouped.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"),
        sum(col("cnt") * col("w_ppm")).as("score_ppm"))
  }

  /** Near-identical name pairs by edit distance within a blocking key
    * (brand, size): classic record-linkage shape. Blocking bounds the pair
    * count to sum(block²); levenshtein itself is a codegen'd built-in.
    */
  def levenshteinPairs(parts: DataFrame, maxDist: Int = 4): DataFrame = {
    val p = parts.select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_name"))
    p.as("x")
      .join(p.as("y"),
        col("x.p_brand") === col("y.p_brand") && col("x.p_size") === col("y.p_size") &&
        col("x.p_partkey") < col("y.p_partkey"))
      .select(col("x.p_partkey").as("a"), col("y.p_partkey").as("b"),
        levenshtein(col("x.p_name"), col("y.p_name")).as("dist"))
      .where(col("dist") <= maxDist && col("dist") > 0)
  }

  /** Consistent bottom-k sample per language: the k documents with the
    * smallest portable hash of their id. Unlike `TABLESAMPLE`/`rand()`,
    * the selection is a pure function of the ids — re-runs, engine ports
    * and differently-sharded corpora pick the same documents, and samples
    * merge (bottom-k of a union = bottom-k of the shards' bottom-k's).
    * Built on the [[graft.functions.BottomK]] aggregate, so map-side
    * partial aggregation trims each partition to k pairs BEFORE the
    * shuffle: shuffle width is O(partitions × groups × k) however many
    * rows the corpus has — the scale answer to the row_number()-window
    * formulation, which shuffles every row.
    */
  def bottomKSample(docs: DataFrame, k: Int = 20): DataFrame =
    docs
      .select(col("lang"),
        Dedup.portableHash64(col("doc_id").cast("string")).as("h"),
        col("doc_id"))
      .groupBy("lang")
      .agg(graft.functions.BottomK.bottomK(col("h"), col("doc_id"), k).as("picks"))
      .select(col("lang"), posexplode(col("picks")))
      .select(col("lang"), col("col.id").as("doc_id"), (col("pos") + 1).cast("int").as("rk"))

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis-
    * Spirakis A-ES): each doc draws key = -ln(u)/w where u is a uniform
    * in (0,1) derived from the portable md5 hash of its id and w its
    * weight (here: n_chars, i.e. longer docs proportionally likelier);
    * the k smallest keys ARE an exact weighted sample. Like
    * [[bottomKSample]] the selection is a pure function of ids — re-runs,
    * engine ports and resharded corpora pick the same docs, and shard
    * samples merge (bottom-k of a union = bottom-k of shard bottom-ks).
    * Sort+limit compiles to per-partition top-k + merge, so no row
    * leaves its partition except the k winners.
    */
  def weightedSample(docs: DataFrame, k: Int = 50): DataFrame = {
    // u in (0,1): the 60-bit portable hash scaled by 2^60, offset half a
    // step so u is never exactly 0 (ln(0) = -inf)
    val u = (Dedup.portableHash64(col("doc_id").cast("string")).cast("double") + 0.5) /
      lit(1.152921504606846976e18)
    val key = -log(u) / col("n_chars").cast("double")
    docs.select(col("doc_id"), col("n_chars"), key.as("_k"))
      .orderBy(col("_k"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_chars"))
  }

  /** Sequence packing for training: assign documents (in deterministic
    * doc_id order) to fixed token-budget bins — bin = floor(exclusive-
    * prefix-sum(n_tokens) / budget), the "concatenate then cut every
    * `budget` tokens" packing an LLM data loader performs. Equivalent to
    * `floor(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING
    * EXCLUDING CURRENT) / budget)` but without the global-window
    * single-partition collapse: the prefix sum is distributed with the
    * same two-pass offset scheme as `Relational.globalIndex` — range
    * partition on doc_id, per-partition totals → exclusive offsets (the
    * only single-partition window runs over #partitions rows), broadcast
    * back, add the within-partition running sum.
    *
    * The ranged frame is persisted before the offset pass for the same
    * boundary-agreement reason as globalIndex.
    */
  def packSequences(docs: DataFrame, budget: Long = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val (ranged, _) = Pins.materialize("textops.pack_ranged", docs
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .repartitionByRange(par, col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    val offsets = ranged.groupBy("pid").agg(sum("n_tokens").as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "off")
    val local = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(offsets), "pid")
      .withColumn("start_tok",
        coalesce(sum("n_tokens").over(local), lit(0L)) + col("off"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("start_tok") / budget).as("bin"))
  }

  /** Gopher-style repetition signals per document: the fraction of word
    * bigrams that are repeats (1 - distinct/total) and the fraction of all
    * bigrams taken by the single most frequent one — the standard
    * "duplicated n-gram" quality gates for LLM corpus filtering.
    *
    * Entirely shuffle-free: bigrams are built with `transform(sequence)`
    * and both fractions are computed with array folds inside the row, so at
    * 100 TB this is pure map work pipelined with the scan. The top-bigram
    * count is a single run-length scan over the SORTED bigram array —
    * O(n log n) per row instead of the O(distinct x total) nested filter.
    * Documents with fewer than 2 tokens have no bigrams and are dropped
    * (same as the grouped oracle formulation).
    */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(toks)-1), i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"))
      .select(
        col("doc_id"),
        round(lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 4)
          .as("dup_bigram_frac"),
        round(expr(
          """aggregate(array_sort(bg),
            |  named_struct('prev', cast(null as string), 'run', 0, 'mx', 0),
            |  (s, x) -> if(s.prev is not null and x != s.prev,
            |    named_struct('prev', x, 'run', 1, 'mx', greatest(s.mx, 1)),
            |    named_struct('prev', x, 'run', s.run + 1, 'mx', greatest(s.mx, s.run + 1))),
            |  s -> s.mx)""".stripMargin)
          .cast("double") / size(col("bg")), 4).as("top_bigram_frac"))

  /** Unigram token entropy per document (bits): H = -sum p(w) log2 p(w).
    * Low entropy flags template/boilerplate text the same way compression
    * ratio does, without needing a codec. Shuffle-free array fold — the
    * same 100 TB posture as [[repetitionSignals]].
    *
    * Each term is scaled to an integer (round(term * 1e6)) before summing
    * so the total is an ASSOCIATIVE integer sum — identical regardless of
    * summation order, which makes the result bit-reproducible across
    * engines (a float sum would depend on each engine's grouping order).
    * The final 4-decimal rounding also happens in integer space
    * (sum/100 → round → /1e4): a micro-bit sum ending in …50 divides to
    * an EXACT half (k+0.5 is always representable), where decimal-string
    * rounding (Spark) and binary rounding (DuckDB/C) agree — whereas
    * round(sum/1e6, 4) would diverge on those boundaries.
    */
  def unigramEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= 1)
      // single run-length scan over the sorted token array: each run end
      // contributes its distinct token's integer-scaled term — O(n log n)
      // per row vs the O(distinct x total) count-by-filter formulation,
      // with bit-identical terms (same counts, same rounding)
      .withColumn("it_sum", expr(
        """aggregate(array_sort(toks),
          |  named_struct('prev', cast(null as string), 'run', 0L, 'acc', 0L),
          |  (s, x) -> if(s.prev is not null and x != s.prev,
          |    named_struct('prev', x, 'run', 1L, 'acc', s.acc + cast(round(
          |      (s.run / cast(size(toks) as double))
          |        * log2(s.run / cast(size(toks) as double)) * -1e6, 0) as bigint)),
          |    named_struct('prev', x, 'run', s.run + 1L, 'acc', s.acc)),
          |  s -> s.acc + cast(round(
          |    (s.run / cast(size(toks) as double))
          |      * log2(s.run / cast(size(toks) as double)) * -1e6, 0) as bigint))"""
          .stripMargin))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (round(col("it_sum") / 100.0, 0).cast("long") / 10000.0).as("entropy_bits"))

  /** Per-document cross-entropy (bits/token) under a bigram language model
    * trained on the corpus itself, with add-one smoothing:
    * `p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)`. The classic model-based
    * quality filter: boilerplate scores low, near-random token soup scores
    * high, and scoring against a *reference* corpus is the same plan with
    * the LM aggregates built from a different `docs` frame.
    *
    * Scale shape: the bigram LM table is corpus-vocabulary-squared in the
    * worst case, so doc bigrams join it with a SHUFFLE hash join on
    * (w1,w2) with map-side partial counts; the unigram table carries no
    * broadcast hint (AQE broadcasts it when it is small, degrades to a
    * shuffle join at web-corpus vocabularies); only the single-row
    * vocabulary size is hint-broadcast. Per-occurrence log
    * terms are integer-scaled (see [[unigramEntropy]]) so every sum is
    * order-independent and the result replays bit-identically on any
    * engine.
    */
  def lmPerplexity(docs: DataFrame): DataFrame = lmPerplexity(docs, docs)

  /** [[lmPerplexity]] scoring `docs` under a model trained on a SEPARATE
    * `lmCorpus` — the held-out / reference-corpus shape, and the
    * stream-scoring shape: with a static `lmCorpus` the LM aggregates are
    * batch frames, so a STREAMING `docs` scores through stream-static
    * joins; the only stateful piece is the final per-doc rollup, which
    * runs in update mode or per-microbatch via `foreachBatch`.
    *
    * Bigrams unseen in the corpus get the add-one floor `1/(c1+V)` when
    * their context w1 is known, and are DROPPED (inner join) when even the
    * context is unknown — scoring only what the model can ground, rather
    * than inventing an arbitrary unknown-context probability.
    */
  /** Exchange-reuse-friendly bigram explode, shared by [[lmPerplexity]]
    * and [[pmiPairs]]. Two subtleties keep multiple consumers sharing ONE
    * shuffled bigram-count subtree instead of exploding the corpus per
    * consumer: (a) arrays_zip of two shifted slices instead of a
    * transform(...) lambda — named-lambda-variable exprIds defeat plan
    * canonicalization; (b) EXPLICIT w1/w2 not-null guards — otherwise
    * constraint inference adds isnotnull(w1, w2) under a (w1,w2) probe
    * join but only isnotnull(w1) under a w1-keyed join, and the
    * now-different subtrees stop deduping. Both are no-ops on the data
    * (tokens are never null); pinned by TextOpsSpec's runtime-reuse test.
    */
  private[graft] def bigrams(d: DataFrame): DataFrame = d
    .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    .where(size(col("toks")) >= 2)
    .select(col("doc_id"),
      expr("slice(toks, 1, size(toks) - 1)").as("h1"),
      expr("slice(toks, 2, size(toks) - 1)").as("h2"))
    .select(col("doc_id"), explode(arrays_zip(col("h1"), col("h2"))).as("e"))
    .select(col("doc_id"), col("e.h1").as("w1"), col("e.h2").as("w2"))
    .where(col("w1").isNotNull && col("w2").isNotNull)

  /** Pointwise mutual information over adjacent word pairs:
    * `pmi(w1,w2) = log2( p(w1,w2) / (p(w1·)·p(·w2)) )` with all three
    * distributions estimated from the bigram table itself — the standard
    * collocation / word-association analysis over a corpus.
    *
    * Scale shape: ONE corpus bigram explode feeds everything — both
    * unigram margins (left-context and right-context counts) and the
    * grand total re-aggregate the bigram counts' partials, so the four
    * consumers share a single shuffled aggregate (same reuse contract as
    * [[lmPerplexity]]); margins join un-hinted so AQE broadcasts them
    * when small. `minCount` prunes the noise tail before the joins.
    */
  def pmiPairs(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val big = bigrams(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val left = big.groupBy("w1").agg(sum("c12").as("c1"))
    val right = big.groupBy("w2").agg(sum("c12").as("c2"))
    val total = big.agg(sum("c12").as("n"))
    big.where(col("c12") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        // multiply in DOUBLE: c12·n and c1·c2 overflow Long at corpus
        // scale (n up to 10^12 bigrams); the oracle mirrors the same
        // double-space expression shape for bit-identical rounding
        round(log2((col("c12").cast("double") * col("n")) /
          (col("c1").cast("double") * col("c2"))), 4).as("pmi"))
  }

  def lmPerplexity(docs: DataFrame, lmCorpus: DataFrame): DataFrame = {
    val corpusBg = bigrams(lmCorpus)
    val big = corpusBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // the unigram context counts are exactly the bigram counts re-summed
    // on w1 — deriving uni FROM big (instead of re-aggregating corpusBg)
    // makes the two LM tables share one bigram explode + exchange, so the
    // dominant corpus scan runs once, not twice
    val uni = big.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = lmCorpus
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .agg(count_distinct(col("word")).as("vs"))
    // no broadcast hints on the LM tables: at web-corpus vocabularies the
    // unigram table is multi-GB and a forced broadcast OOMs, while AQE
    // picks broadcast automatically whenever the built side is small
    val terms = bigrams(docs)
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("""cast(round(
               |  log2((coalesce(c12, 0L) + 1) / cast(c1 + vs as double)) * -1e6,
               |  0) as bigint)""".stripMargin).as("it"))
    terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      (round(sum(col("it")) / (count(lit(1)) * 100.0), 0).cast("long") / 10000.0)
        .as("bits_per_token"))
  }

  /** Per-document cross-entropy under an interpolated Kneser–Ney bigram
    * LM (Kneser & Ney 1995; the smoothing the CCNet-style KenLM quality
    * gate actually ships, where [[lmPerplexity]] is the add-one
    * baseline): with absolute discount `d = 3/4`,
    * `p(w2|w1) = max(c12−d, 0)/c1 + (d·L1/c1)·p_cont(w2)` where `L1` is
    * w1's continuation-type count and `p_cont(w2) ∝ N1+(·w2)` — the
    * continuation distribution add-one smoothed (`(r2+1)/(T+V)`) so the
    * probability stays total on reference-corpus scoring. The choice
    * `d = 3/4` makes every probability an exact integer ratio:
    * `p = [max(4c12−3, 0)·(T+V) + 3·L1·(r2+1)] / [4·c1·(T+V)]`, so the
    * per-occurrence micro-bit terms — ONE double division of two exact
    * BIGINTs, then `round(log2·−10⁶)` — replay bit-identically on any
    * engine ([[ivfCellDrift]]'s exactness scheme). At ≳10⁹-token
    * contexts the integer denominator approaches BIGINT capacity — the
    * per-term expression raise_errors BEFORE wraparound (guard:
    * 8·c1·(tt+vs) must fit a long); in that regime move the products to
    * decimal(38,0) first (the
    * [[graft.operators.Similarity.pcVarianceShare]] note).
    *
    * Unknown-context bigrams drop via the inner context join — scoring
    * only what the model can ground, the [[lmPerplexity]] contract.
    *
    * Scale shape: identical to [[lmPerplexity]] — one shared bigram
    * explode feeds the bigram table; context counts (c1, L1) re-sum ITS
    * partials in one aggregate; the continuation table is another
    * resummation of the same exchange; only the single-row (T, V) frame
    * is hint-broadcast, the LM tables join un-hinted (AQE broadcasts
    * when small, degrades to shuffle joins at web vocabularies).
    */
  def knPerplexity(docs: DataFrame): DataFrame = knPerplexity(docs, docs)

  /** [[knPerplexity]] scoring `docs` under a model trained on a separate
    * `lmCorpus` — the held-out / reference-corpus / stream-static shape.
    */
  /** The interpolated-KN bigram per-occurrence micro-bit term — the ONE
    * definition shared by [[knPerplexity]], the artifact scorer
    * [[knScoreWith]] and the streaming gate
    * ([[graft.streaming.TextStreams.streamingPerplexityGate]]), so the
    * three replays cannot silently diverge. Expects columns
    * (c12, c1, l1, r2, tt, vs); includes the loud BIGINT-overflow guard.
    */
  private[graft] val KnTermMicroBits: String =
    """if(c1 > 9223372036854775807 div (8 * (tt + vs)),
      |   cast(raise_error(concat(
      |     'knPerplexity: bigint overflow risk (c1=', cast(c1 as string),
      |     ', tt+vs=', cast(tt + vs as string),
      |     ') - move the products to decimal(38,0)')) as bigint),
      |   cast(round(log2(
      |     (greatest(4 * coalesce(c12, 0L) - 3, 0L) * (tt + vs)
      |      + 3 * l1 * (coalesce(r2, 0L) + 1))
      |     / cast(4 * c1 * (tt + vs) as double)) * -1e6, 0) as bigint))"""
      .stripMargin

  def knPerplexity(docs: DataFrame, lmCorpus: DataFrame): DataFrame = {
    val corpusBg = bigrams(lmCorpus)
    val big = corpusBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // context totals AND continuation-type counts in ONE aggregate over
    // the bigram table's partials (the lmPerplexity reuse discipline)
    val ctx = big.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("l1"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("r2"))
    val tv = big.agg(count(lit(1)).as("tt")).crossJoin(
      lmCorpus.select(explode(split(col("text"), "\\s+")).as("word"))
        .agg(count_distinct(col("word")).as("vs")))
    val terms = bigrams(docs)
      .join(big, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tv))
      // overflow guard, FAIL LOUD: numerator ≤ 7·c1·(tt+vs) (c12 ≤ c1,
      // l1 ≤ c1, r2+1 ≤ tt+vs) and denominator = 4·c1·(tt+vs), so both
      // stay in BIGINT iff 8·c1·(tt+vs) does. The per-row integer compare
      // costs nothing in codegen and turns the silent wraparound the
      // ≳10⁹-token regime would hit into an explicit error naming the
      // decimal(38,0) escape hatch.
      .select(col("doc_id"), expr(KnTermMicroBits).as("it"))
    terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      (round(sum(col("it")) / (count(lit(1)) * 100.0), 0).cast("long") / 10000.0)
        .as("kn_bits_per_token"))
  }

  /** Persist the trained interpolated-KN bigram LM — the
    * train-once/store/score-many deploy shape ([[saveNbModel]],
    * [[saveCtProfiles]]) for the CCNet-style perplexity gate: the
    * bigram count table as parquet plus a one-row (tt, vs) sidecar.
    * The context and continuation tables are EXACT functions of the
    * bigram table (one aggregate each), so only `bigrams` is stored and
    * [[knScoreWith]] re-derives them at load — one artifact, no way for
    * the three tables to drift apart. All integers: the reloaded model
    * scores bit-identically (round-trip pinned in TextOpsSpec).
    */
  def saveKnModel(lmCorpus: DataFrame, modelDir: String): Unit = {
    val big = bigrams(lmCorpus).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
    big.write.mode("overwrite").parquet(s"$modelDir/bigrams")
    // tt (distinct bigram types) reads BACK the just-written artifact —
    // it is by definition that table's row count, and re-aggregating it
    // from `big` would re-run the full corpus explode + shuffle a second
    // time for a number the parquet footers practically already hold.
    // vs (distinct corpus VOCABULARY) is the one scalar that genuinely
    // needs its own corpus pass: it counts single-token documents' words
    // too, which never enter the bigram table.
    lmCorpus.sparkSession.read.parquet(s"$modelDir/bigrams")
      .agg(count(lit(1)).as("tt")).crossJoin(
        lmCorpus.select(explode(split(col("text"), "\\s+")).as("word"))
          .agg(count_distinct(col("word")).as("vs")))
      .write.mode("overwrite").parquet(s"$modelDir/tv")
  }

  /** Load a [[saveKnModel]] artifact: (bigram table, tt, vs). */
  def loadKnModel(spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, Long, Long) = {
    val t = spark.read.parquet(s"$modelDir/tv").head()
    (spark.read.parquet(s"$modelDir/bigrams"),
      t.getAs[Long]("tt"), t.getAs[Long]("vs"))
  }

  /** [[knPerplexity]]'s scoring half against a SUPPLIED artifact — the
    * deploy shape: `bigramCounts` is a stored (w1, w2, c12) table
    * ([[loadKnModel]]) and (tt, vs) the trained scalars, folded in as
    * LITERALS (the [[nbPriorMicro]] pattern). Context/continuation
    * tables re-derive from the bigram table's partials exactly as in
    * training, and the per-occurrence term is the shared
    * [[KnTermMicroBits]] — so scoring from the artifact is BIT-identical
    * to the in-session [[knPerplexity]] (parity-pinned in TextOpsSpec).
    */
  def knScoreWith(docs: DataFrame, bigramCounts: DataFrame, tt: Long,
      vs: Long): DataFrame = {
    val big = bigramCounts.select(col("w1"), col("w2"), col("c12"))
    val ctx = big.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("l1"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("r2"))
    val terms = bigrams(docs)
      .join(big, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"), "left")
      .withColumn("tt", lit(tt)).withColumn("vs", lit(vs))
      .select(col("doc_id"), expr(KnTermMicroBits).as("it"))
    terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      (round(sum(col("it")) / (count(lit(1)) * 100.0), 0).cast("long") / 10000.0)
        .as("kn_bits_per_token"))
  }

  /** Positional word trigrams of every document — [[bigrams]] one order
    * up, the shared explode under the trigram LM.
    */
  private[graft] def trigrams(d: DataFrame): DataFrame = d
    .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    .where(size(col("toks")) >= 3)
    .select(col("doc_id"),
      expr("slice(toks, 1, size(toks) - 2)").as("h1"),
      expr("slice(toks, 2, size(toks) - 2)").as("h2"),
      expr("slice(toks, 3, size(toks) - 2)").as("h3"))
    .select(col("doc_id"),
      explode(arrays_zip(col("h1"), col("h2"), col("h3"))).as("e"))
    .select(col("doc_id"), col("e.h1").as("w1"), col("e.h2").as("w2"),
      col("e.h3").as("w3"))
    .where(col("w1").isNotNull && col("w2").isNotNull && col("w3").isNotNull)

  /** Per-document cross-entropy under an interpolated TRIGRAM Kneser–Ney
    * LM — [[knPerplexity]] extended one order with the same exact
    * integer-ratio discipline (the KenLM production default is order 5;
    * 3 is the standard next step, and the bigram→trigram perplexity GAP
    * is itself a quality signal — formulaic spam looks fluent to a
    * bigram model and improbable to a trigram one, see the ranking-flip
    * spec): with absolute discount `d = 3/4`,
    * `p(w3|w1w2) = max(c123−d, 0)/c12 + (d·L12/c12)·p₂(w3|w2)` where
    * `c12` is the trigram-CONTEXT count, `L12` its continuation-type
    * count, and `p₂` is exactly [[knPerplexity]]'s interpolated bigram
    * probability `NUM2/DEN2` — the published interpolated-KN recursion
    * truncated at two levels (raw counts at the highest order,
    * continuation counts below). Clearing denominators keeps every
    * probability ONE exact integer ratio:
    * `p = [max(4c123−3,0)·4·c1·(T+V) + 3·L12·NUM2] / [16·c12·c1·(T+V)]`,
    * so each per-occurrence micro-bit term is a single double division
    * of two exact BIGINTs — bit-identical replay in any engine.
    *
    * Unknown-CONTEXT trigrams ((w1,w2) never a corpus trigram context)
    * drop via the inner ctx3 join — the [[knPerplexity]] grounding
    * contract one order up. A grounded trigram context always grounds
    * the bigram leg too ((w1,w2,·) in the corpus ⇒ (w2,·) is a corpus
    * bigram), so the inner ctx2 join drops nothing further.
    *
    * Scale shape: ONE shared trigram explode feeds the trigram table
    * and (re-summed from its partials) the context table; the bigram
    * tables are [[knPerplexity]]'s, off one bigram explode; only the
    * single-row (T, V) frame is hint-broadcast — the LM tables join
    * un-hinted (AQE broadcasts when small, degrades to shuffle joins at
    * web vocabularies). The per-row guard raise_errors before
    * `64·c12·c1·(T+V)` could wrap BIGINT — the [[knPerplexity]] bound
    * one order up.
    */
  /** The interpolated-KN TRIGRAM per-occurrence micro-bit term — the ONE
    * definition shared by [[kn3Perplexity]] and the artifact scorer
    * [[kn3ScoreWith]] ([[KnTermMicroBits]] one order up). Expects
    * columns (c123, c12, l12, c2, c1, l1, r2, tt, vs); includes the
    * loud BIGINT-overflow guard.
    */
  private[graft] val Kn3TermMicroBits: String =
    """if(c12 > ((9223372036854775807 div 64) div c1) div (tt + vs),
      |   cast(raise_error(concat(
      |     'kn3Perplexity: bigint overflow risk (c12=', cast(c12 as string),
      |     ', c1=', cast(c1 as string), ', tt+vs=', cast(tt + vs as string),
      |     ') - move the products to decimal(38,0)')) as bigint),
      |   cast(round(log2(
      |     (greatest(4 * coalesce(c123, 0L) - 3, 0L) * (4 * c1 * (tt + vs))
      |      + 3 * l12 * (greatest(4 * coalesce(c2, 0L) - 3, 0L) * (tt + vs)
      |                   + 3 * l1 * (coalesce(r2, 0L) + 1)))
      |     / cast(16 * c12 * c1 * (tt + vs) as double)) * -1e6, 0) as bigint))"""
      .stripMargin

  def kn3Perplexity(docs: DataFrame): DataFrame = kn3Perplexity(docs, docs)

  /** [[kn3Perplexity]] scoring `docs` under a model trained on a
    * separate `lmCorpus` — the held-out / reference-corpus shape.
    */
  def kn3Perplexity(docs: DataFrame, lmCorpus: DataFrame): DataFrame = {
    val corpusBg = bigrams(lmCorpus)
    val big = corpusBg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val ctx2 = big.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("l1"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("r2"))
    val tv = big.agg(count(lit(1)).as("tt")).crossJoin(
      lmCorpus.select(explode(split(col("text"), "\\s+")).as("word"))
        .agg(count_distinct(col("word")).as("vs")))
    val tri = trigrams(lmCorpus).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
    val ctx3 = tri.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("l12"))
    // the bigram leg keys on the SCORED trigram's (w2, w3)
    val big2 = big.select(col("w1").as("w2"), col("w2").as("w3"), col("c2"))
    val ctx2r = ctx2.select(col("w1").as("w2"), col("c1"), col("l1"))
    val cont2 = cont.select(col("w2").as("w3"), col("r2"))
    val terms = trigrams(docs)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx3, Seq("w1", "w2"))
      .join(big2, Seq("w2", "w3"), "left")
      .join(ctx2r, Seq("w2"))
      .join(cont2, Seq("w3"), "left")
      .crossJoin(broadcast(tv))
      // overflow guard, FAIL LOUD: numerator ≤ 37·c12·c1·(T+V)
      // (c123 ≤ c12, L12 ≤ c12, NUM2 ≤ 7·c1·(T+V)), denominator
      // = 16·c12·c1·(T+V) — both fit iff 64·c12·c1·(T+V) does. The
      // staged integer divisions keep the bound computation itself
      // overflow-free (a saturated divisor reads as 0 and any c12 ≥ 1
      // trips the guard).
      .select(col("doc_id"), expr(Kn3TermMicroBits).as("it"))
    terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_trigrams"),
      (round(sum(col("it")) / (count(lit(1)) * 100.0), 0).cast("long") / 10000.0)
        .as("kn3_bits_per_token"))
  }

  /** Persist the trained trigram-KN LM — [[saveKnModel]] one order up:
    * the bigram AND trigram count tables plus the (tt, vs) sidecar.
    * Context/continuation tables re-derive from the stored counts at
    * load, so the artifact cannot internally drift.
    */
  def saveKn3Model(lmCorpus: DataFrame, modelDir: String): Unit = {
    saveKnModel(lmCorpus, modelDir)
    trigrams(lmCorpus).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
      .write.mode("overwrite").parquet(s"$modelDir/trigrams")
  }

  /** Load a [[saveKn3Model]] artifact:
    * (bigram table, trigram table, tt, vs).
    */
  def loadKn3Model(spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, DataFrame, Long, Long) = {
    val (big, tt, vs) = loadKnModel(spark, modelDir)
    (big, spark.read.parquet(s"$modelDir/trigrams"), tt, vs)
  }

  /** [[kn3Perplexity]]'s scoring half against a SUPPLIED artifact
    * ([[loadKn3Model]]) — every derived table re-aggregates from the
    * stored counts exactly as in training and the per-occurrence term
    * is the shared [[Kn3TermMicroBits]], so artifact scoring is
    * BIT-identical to the in-session operator (parity-pinned in
    * TextOpsSpec).
    */
  def kn3ScoreWith(docs: DataFrame, bigramCounts: DataFrame,
      trigramCounts: DataFrame, tt: Long, vs: Long): DataFrame = {
    // the stored bigram artifact names its count c12 (saveKnModel);
    // inside the trigram scorer that column plays the BIGRAM-LEG role c2
    val big = bigramCounts.select(col("w1"), col("w2"), col("c12").as("c2"))
    val ctx2 = big.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("l1"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("r2"))
    val tri = trigramCounts.select(col("w1"), col("w2"), col("w3"), col("c123"))
    val ctx3 = tri.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("l12"))
    val big2 = big.select(col("w1").as("w2"), col("w2").as("w3"), col("c2"))
    val ctx2r = ctx2.select(col("w1").as("w2"), col("c1"), col("l1"))
    val cont2 = cont.select(col("w2").as("w3"), col("r2"))
    val terms = trigrams(docs)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx3, Seq("w1", "w2"))
      .join(big2, Seq("w2", "w3"), "left")
      .join(ctx2r, Seq("w2"))
      .join(cont2, Seq("w3"), "left")
      .withColumn("tt", lit(tt)).withColumn("vs", lit(vs))
      .select(col("doc_id"), expr(Kn3TermMicroBits).as("it"))
    terms.groupBy("doc_id").agg(
      count(lit(1)).as("n_trigrams"),
      (round(sum(col("it")) / (count(lit(1)) * 100.0), 0).cast("long") / 10000.0)
        .as("kn3_bits_per_token"))
  }

  /** The bigram→trigram perplexity GAP per document — the formulaic-spam
    * signal the [[kn3Perplexity]] ranking-flip spec demonstrates, as ONE
    * scored frame: template spam built from common word PAIRS reads
    * fluent to a bigram LM but its trigram continuations are unattested,
    * so `gap_bits = kn3_bits − kn_bits` separates it from genuinely
    * fluent text that both orders predict. Emits
    * `(doc_id, n_bigrams, n_trigrams, kn_bits_per_token,
    * kn3_bits_per_token, gap_bits)` for every doc BOTH orders could
    * score (≥3 tokens with grounded contexts — the inner join mirrors
    * each order's own exclusion).
    *
    * The gap computes in the orders' integer 10⁻⁴-bit grid: each side's
    * published value is `L/10⁴` for an exact integer L recoverable by
    * `round(x·10⁴)` (|L| ≪ 2⁵², so the round-trip is lossless), and the
    * difference of the Ls divides back once — no double-subtraction
    * noise for the oracle to disagree with.
    *
    * Scale shape: the two scorers' shapes unchanged (corpus-keyed hash
    * aggregates + LM-sized joins), plus one equi-join of two
    * docs-sized aggregates on `doc_id`.
    */
  def knGap(docs: DataFrame): DataFrame = knGap(docs, docs)

  /** [[knGap]] under a model trained on a separate `lmCorpus`. */
  def knGap(docs: DataFrame, lmCorpus: DataFrame): DataFrame =
    knPerplexity(docs, lmCorpus)
      .join(kn3Perplexity(docs, lmCorpus), "doc_id")
      .select(col("doc_id"), col("n_bigrams"), col("n_trigrams"),
        col("kn_bits_per_token"), col("kn3_bits_per_token"),
        ((round(col("kn3_bits_per_token") * 10000, 0) -
          round(col("kn_bits_per_token") * 10000, 0)).cast("long") / 10000.0)
          .as("gap_bits"))

  /** Benchmark decontamination: for each training document, count the
    * DISTINCT word 3-grams it shares with any document of the benchmark
    * set. Docs whose overlap reaches `minHits` are contamination suspects
    * and must be dropped before training.
    *
    * Scale shape: the benchmark n-gram set is tiny next to the corpus
    * (thousands of eval docs vs billions of training docs), so its distinct
    * grams are BROADCAST and the training side streams through a
    * broadcast-hash semi-join — no corpus shuffle except the final per-doc
    * count on `doc_id` (which partial aggregation collapses first).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, minHits: Int = 1): DataFrame = {
    val benchGrams = triGrams(bench).select("gram").distinct()
    triGrams(train)
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contam_grams"))
      .where(col("n_contam_grams") >= minHits)
  }

  /** Per-document DISTINCT word 3-grams — the shared screen unit of
    * [[decontaminate]] and its streaming twin
    * ([[graft.streaming.TextStreams.streamingDecontaminate]]); sharing
    * the construction keeps the two screens' semantics from drifting.
    */
  private[graft] def triGrams(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    .where(size(col("toks")) >= 3)
    .select(col("doc_id"), explode(expr(
      "array_distinct(transform(sequence(1, size(toks)-2), i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2))))"))
      .as("gram"))

  /** Reference "Aggregation" app: per-column numeric aggregates over a
    * table (`doc/CourseReport'14/report.tex` §Applications: "aggregates
    * values of each column in input tables"). One global hash-agg with
    * partial aggregation; rounded so the result hash is FP-stable across
    * engines.
    */
  def columnAggregates(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(avg("l_quantity"), 4).as("avg_qty"),
      round(sum("l_extendedprice"), 2).as("sum_price"),
      round(avg("l_extendedprice"), 4).as("avg_price"),
      round(sum("l_discount"), 4).as("sum_disc"),
      round(sum("l_tax"), 4).as("sum_tax"),
      count(lit(1)).as("n"))

  /** Curation-funnel observability: how many documents (and how much
    * token mass) survive each stage of the standard filter cascade —
    * non-empty text → minimum token count → language keep → length cap →
    * exact-duplicate removal (first occurrence by doc_id wins). The
    * number every pipeline owner asks before a training run ("where did
    * my corpus go?"), and the first diagnostic when a mixture shifts.
    *
    * Stage predicates compose cumulatively (stage i = stages 1..i all
    * pass), so the rows read as a monotone funnel. Three-valued logic is
    * pinned: a null text fails stage 1 outright, and `FALSE AND NULL =
    * FALSE` evaluates identically in every engine, so the counts replay
    * exactly.
    *
    * Scale shape: one corpus pass; the only shuffle is the md5-keyed
    * window for first-occurrence ranking (same key the exact-dedup op
    * shuffles on), then a 5-row conditional rollup — the stage explode
    * multiplies rows by the constant stage count, not by data size.
    */
  def filterCascade(docs: DataFrame, minTokens: Int = 5,
      keepLang: String = "en", maxChars: Long = 10000L): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
      expr("size(filter(split(text, '\\\\s+'), x -> x != ''))")
        .cast("long").as("tok"))
    val w = Window.partitionBy(md5(coalesce(col("text"), lit(""))))
      .orderBy("doc_id")
    val f = d.withColumn("rn", row_number().over(w))
      .withColumn("c1", col("text").isNotNull && col("text") =!= "")
      .withColumn("c2", col("c1") && col("tok") >= minTokens)
      .withColumn("c3", col("c2") && col("lang") === keepLang)
      .withColumn("c4", col("c3") && col("n_chars") <= maxChars)
      .withColumn("c5", col("c4") && col("rn") === 1)
    val stages = Seq(1 -> ("nonempty", "c1"), 2 -> ("min_tokens", "c2"),
      3 -> ("lang_keep", "c3"), 4 -> ("len_cap", "c4"),
      5 -> ("exact_unique", "c5"))
    f.select(col("tok"), explode(array(stages.map { case (i, (name, c)) =>
        struct(lit(i).as("stage"), lit(name).as("stage_name"),
          col(c).as("pass"))
      }: _*)).as("e"))
      .select(col("e.stage").as("stage"), col("e.stage_name").as("stage_name"),
        col("e.pass").as("pass"), col("tok"))
      .groupBy("stage", "stage_name")
      .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("pass"), col("tok")).otherwise(0L)).as("n_tokens"))
  }

  /** Population Stability Index per source — the monitoring-industry
    * drift metric (sibling of [[jsdSources]]/[[ksSourceLens]]):
    * `PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)` between each source's
    * document-length distribution (p) and the corpus-wide one (q), over
    * fixed-width length bins with Laplace smoothing so empty bins stay
    * finite. Rule-of-thumb thresholds carry over: <0.1 stable, 0.1-0.25
    * drifting, >0.25 shifted — the cheap tripwire before re-estimating
    * mixing weights.
    *
    * Determinism: bin counts are integers; each bin's contribution is a
    * per-row scalar double expression, rounded to integer nano-units
    * before the per-source sum — so the aggregation order cannot move
    * the result and the DuckDB replay hash-matches. Scale shape: ONE
    * (source, bin) count aggregate (map-side combined, |sources|·bins
    * rows), densified against the fixed bin range, then |sources|-bounded
    * rollups — the corpus is scanned once and never shuffled.
    */
  def psiBySource(docs: DataFrame, binWidth: Long = 500L,
      nBins: Int = 20): DataFrame = {
    val binned = docs
      .select(col("source"),
        // `div`, not `/`: Column./ is double division
        least(expr(s"n_chars div $binWidth"), lit(nBins - 1L)).as("bin"))
    val cnt = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val sources = cnt.select("source").distinct()
    val bins = cnt.sparkSession.range(nBins).select(col("id").as("bin"))
    val dense = sources.crossJoin(bins)
      .join(cnt, Seq("source", "bin"), "left")
      .select(col("source"), col("bin"), coalesce(col("c"), lit(0L)).as("cs"))
    val totS = dense.groupBy("source").agg(sum("cs").as("ts"))
    val glob = dense.groupBy("bin").agg(sum("cs").as("cg"))
    val tgF = glob.agg(sum("cg").as("tg"))
    val contrib = dense
      .join(totS, "source").join(glob, "bin").crossJoin(broadcast(tgF))
      .withColumn("p", (col("cs").cast("double") + 1.0)
        / (col("ts").cast("double") + nBins.toDouble))
      .withColumn("q", (col("cg").cast("double") + 1.0)
        / (col("tg").cast("double") + nBins.toDouble))
      .withColumn("nano",
        round((col("p") - col("q")) * log(col("p") / col("q")) * 1e9)
          .cast("long"))
    contrib.groupBy("source")
      .agg(first("ts").as("n_docs"),
        round(sum("nano").cast("double") / 1e9, 6).as("psi"))
  }

  /** First-iteration BPE merge statistics — the tokenizer-training
    * primitive: whitespace pre-tokenize, count unique words, then weight
    * every adjacent CHARACTER pair by its word's corpus frequency and
    * keep the heaviest pairs (the first merge a BPE trainer would pick,
    * and the next `topN-1` candidates behind it).
    *
    * Scale shape: the corpus-scale stage is exactly [[wordCount]]'s one
    * map-side-combined shuffle; the character-pair explode then runs on
    * the UNIQUE-WORD table (vocabulary-bounded — millions of rows at
    * 100 TB, not trillions), so the second aggregate is negligible next
    * to the first. Ties at the cut rank break on the pair's binary
    * order — deterministic and engine-portable (both Spark UTF8 and the
    * oracle compare bytewise).
    */
  def bpePairStats(docs: DataFrame, topN: Int = 20): DataFrame =
    wordCount(docs)
      .where(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topN)

  /** Spread an interpreted per-row transform across cores WITHOUT ever
    * coalescing a wider input: repartition up to defaultParallelism only
    * when the incoming frame has FEWER partitions (a local parquet read
    * often arrives as a handful of splits); a many-split cluster input is
    * already distributed and keeps its layout — forcing it to exactly
    * defaultParallelism would shuffle the whole corpus and could shrink
    * its parallelism.
    */
  private def spreadNarrow(df: DataFrame): DataFrame = Spread.narrow(df)

  /** Separator between symbols inside a BPE symbolization string — a
    * control char that natural-language corpora never contain (asserted
    * by [[bpeMerges]]'s vocab filter, which drops any word carrying it
    * rather than corrupting the fold).
    */
  private[graft] val BpeSep = ""

  /** Apply ONE BPE merge `(lhs, rhs)` to a symbol list: left fold where
    * the accumulator string grows by `x` WITHOUT a [[BpeSep]] separator
    * exactly when its last symbol is `lhs` and `x` is `rhs` — i.e.
    * merging is "write the right part flush against the left". This
    * single left-to-right pass IS canonical greedy BPE application: a
    * just-merged symbol `lhs+rhs` can never equal `lhs` again (rhs is
    * non-empty), so no re-merge-within-the-pass ambiguity exists. The
    * empty accumulator doubles as the "first element" marker (symbols are
    * never empty), so the fold starts from `lit("")` and `sy` is
    * referenced EXACTLY ONCE — higher-order functions evaluate
    * interpreted with no common-subexpression sharing, and a fold that
    * read its input k times would blow nested-merge expression trees up
    * k^rounds-fold (measured: 3^8 made an sf0.001 encode run for
    * minutes). Returns the merged [[BpeSep]]-joined string.
    */
  private def bpeApplyOne(sy: Column, lhs: String, rhs: String): Column =
    aggregate(
      sy,
      lit(""),
      (acc, x) => when(acc === lit(""), x)
        .when(
          (acc === lit(lhs) || acc.endsWith(lit(BpeSep + lhs))) && x === lit(rhs),
          concat(acc, x))
        .otherwise(concat(acc, lit(BpeSep), x)))

  /** Iterated BPE merge-table builder — the tokenizer-training loop that
    * [[bpePairStats]] is the first round of: `nMerges` rounds of
    * (count adjacent symbol pairs weighted by word frequency → pick the
    * heaviest pair → merge it everywhere), over the UNIQUE-WORD table.
    *
    * Returns the learned merge table `(merge_rank, lhs, rhs, n_occ)` in
    * rank order — the artifact a BPE tokenizer ships. Ties at the top
    * break on (lhs, rhs) binary order, deterministic across engines.
    *
    * Scale shape: the corpus-scale work is [[wordCount]]'s one
    * map-side-combined shuffle, ONCE; every round after that runs on the
    * vocabulary-bounded unique-word table (millions of rows at 100 TB,
    * not trillions) — one pair explode + hash aggregate and one row-local
    * fold per round, with per-round lineage truncation
    * ([[graft.plans.Checkpoints.truncate]]) so round-r plans stay
    * constant-depth. The per-round winner is a SINGLE collected row
    * (bounded driver state: `nMerges` rows total) — the same
    * scalar-probe discipline as the rank loops' convergence tests.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 8): DataFrame = Pins.scope { s =>
    val spark = docs.sparkSession
    var vocab = s.truncate(
      wordCount(docs)
        .where(length(col("word")) >= 2 && !col("word").contains(BpeSep))
        .select(col("cnt"),
          array_join(transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1))), BpeSep).as("s")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val sy = split(col("s"), BpeSep)
      val winner = vocab
        .where(size(sy) >= 2)
        .select(col("cnt"), explode(transform(sequence(lit(1), size(sy) - 1),
          i => struct(element_at(sy, i).as("lhs"),
            element_at(sy, i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("n_occ"))
        .orderBy(col("n_occ").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (winner.isEmpty) exhausted = true
      else {
        val w = winner.head
        val (l, rr, n) = (w.getString(0), w.getString(1), w.getLong(2))
        merges += ((r, l, rr, n))
        val next = s.truncate(
          vocab.withColumn("s", bpeApplyOne(split(col("s"), BpeSep), l, rr)))
        s.release(vocab)
        vocab = next
      }
    }
    // the last vocabulary generation goes with the scope
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "n_occ")
      .select(col("merge_rank").cast("int").as("merge_rank"),
        col("lhs"), col("rhs"), col("n_occ"))
  }

  /** BPE-encode every document against a learned merge table and return
    * the per-document REAL token count (`doc_id, source, n_chars,
    * bpe_tok`). The merge table rides the plan as literals (it is
    * `nMerges` rows — tokenizer-sized, not data-sized); the fold itself
    * ([[bpeApplyOne]] per merge, in rank order) runs ONCE PER UNIQUE
    * WORD, not per word instance: the corpus explodes to narrow
    * (doc, word) rows, the vocabulary-bounded distinct-word table folds,
    * and the counts join back for a per-doc sum. At 100 TB that turns
    * the interpreted fold from corpus-scale CPU into vocabulary-scale
    * CPU (measured 8.9 → a third at sf0.1); the price is one
    * distinct + join + re-aggregate of narrow rows — exactly the
    * [[wordCount]] shuffle shape the trainer already pays. Docs with no
    * words keep a 0 row via the outer explode.
    */
  def applyBpe(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // the native expression is the same flush-append fold in one JVM call
    // per word ([[graft.functions.BpeTokenCount]]) — the nested-HOF
    // formulation it replaces paid nMerges interpreted folds per word
    def encodeWord(w: Column): Column =
      graft.functions.TextFunctions.bpeTokenCount(w, merges)
    // words carrying the internal sentinel are excluded from token
    // counting, mirroring the trainer's vocab filter: the native count
    // would handle them, but the oracle's separator-joined replay cannot,
    // and a divergent count on a pathological byte is worse than a
    // documented exclusion
    val words = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"),
        explode_outer(filter(split(col("text"), "\\s+"),
          x => x =!= "" && !x.contains(BpeSep))).as("word"))
    val wordTok = words.select("word").where(col("word").isNotNull).distinct()
      .select(col("word"), encodeWord(col("word")).as("wtok"))
    words.join(wordTok, Seq("word"), "left")
      .groupBy("doc_id", "source", "n_chars")
      .agg(sum(coalesce(col("wtok"), lit(0L))).as("bpe_tok"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("bpe_tok"))
  }

  /** [[tokenBudgetFill]] with the budget denominated in REAL tokens: the
    * corpus's own [[bpeMerges]] table BPE-encodes every document and the
    * greedy per-source fill runs on `bpe_tok` instead of the whitespace
    * proxy. Same all-integer keep decision, same single source-partitioned
    * shuffle; the added cost is the row-local encode projection and the
    * vocabulary-bounded training loop in front.
    */
  def tokenBudgetFillBpe(docs: DataFrame, nMerges: Int = 8,
      budgetPct: Int = 30): DataFrame = {
    val merges = bpeMerges(docs, nMerges).orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val d = applyBpe(docs, merges)
    val bySrc = Window.partitionBy("source")
    val w = bySrc.orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d
      .withColumn("total_tok", sum("bpe_tok").over(bySrc))
      .withColumn("budget_tokens", expr(s"(total_tok * $budgetPct) div 100"))
      .withColumn("cum_before", coalesce(sum("bpe_tok").over(w), lit(0L)))
      .where(col("cum_before") < col("budget_tokens"))
      .groupBy("source")
      .agg(first("budget_tokens").as("budget_tokens"),
        count(lit(1)).as("n_docs_kept"),
        sum("bpe_tok").as("tokens_kept"))
  }

  /** Unigram-LM tokenizer trainer (Kudo 2018, the SentencePiece unigram
    * default — T5-style pipelines train this where GPT-style train BPE):
    * a fixed-round hard-EM over the unique-word table with every
    * probability quantized to integer MICRO-NATS (`round(ln(p)·10⁶)`),
    * so segmentation argmaxes are integer comparisons and an external
    * SQL engine replays the WHOLE training run — seeding, both EM
    * rounds, and the prune — from the raw corpus:
    *
    *  1. SEED: every substring of length ≤ `maxPieceLen` of every word,
    *     scored by summed word frequency; the vocab is ALL single chars
    *     (coverage guarantee) + the top `seedMulti` multi-char pieces by
    *     (score desc, piece binary asc); `lp⁰ = round(ln(sc/Σsc)·10⁶)`.
    *  2. E-STEP (round 1): Viterbi-segment each unique word under `lp⁰`
    *     ([[graft.functions.UnigramSegment]] — ties break toward the
    *     longer piece, the oracle's `ORDER BY score DESC, length DESC`);
    *     usage(piece) = Σ word-freq · uses.
    *  3. PRUNE + M-STEP: keep chars + top `keepMulti` multi-char pieces
    *     by (usage desc, piece asc); re-estimate with add-one smoothing
    *     `lp¹ = round(ln((usage+1)/(total+|V|))·10⁶)` (smoothing keeps
    *     never-used survivors finite, Kudo's ε floor).
    *  4. E-STEP (round 2) under `lp¹` yields the published usage table
    *     and the final piece scores.
    *
    * Output: `(piece, usage, lp)` — the artifact a unigram tokenizer
    * ships, every column integer.
    *
    * Scale shape: the corpus-scale work is [[wordCount]]'s one
    * map-side-combined shuffle (persisted once behind a count barrier,
    * released via the registry); everything after runs on the
    * vocabulary-bounded unique-word table — one substring explode and
    * two native Viterbi projections (one JVM DP per UNIQUE word, the
    * [[applyBpe]] distinct-word discipline). Driver state is the vocab
    * itself: alphabet + `seedMulti` rows, the [[bpeMerges]] bound. Both
    * top-K cuts run as Spark TakeOrdered (binary string order, the
    * cross-engine tie contract), never a driver sort.
    */
  def unigramVocab(docs: DataFrame, seedMulti: Int = 40, keepMulti: Int = 20,
      maxPieceLen: Int = 4, maxWordLen: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (lp1, wc) = unigramEm(docs, seedMulti, keepMulti, maxPieceLen, maxWordLen)
    val u2 = wc.select(col("cnt"), explode(
      graft.functions.TextFunctions.unigramSegment(col("word"), lp1, maxPieceLen))
      .as("piece"))
      .groupBy("piece").agg(sum("cnt").as("usage"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total2 = u2.values.sum
    val denom = (total2 + lp1.size).toDouble
    lp1.map { case (p, _) =>
      val usage = u2.getOrElse(p, 0L)
      (p, usage, math.round(math.log((usage + 1) / denom) * 1e6))
    }.toDF("piece", "usage", "lp")
  }

  /** Unigram-encode every document against the trained vocab and return
    * per-document REAL token counts `(doc_id, uni_tok)` — the unigram
    * twin of [[applyBpe]], same distinct-word fold discipline: the
    * corpus explodes to narrow (doc, word) rows, the vocabulary-bounded
    * distinct-word table Viterbi-segments ONCE per unique word, and the
    * counts join back for a per-doc sum. Words longer than `maxWordLen`
    * or carrying the internal sentinel are excluded from counting
    * (mirroring the trainer's filter — the oracle replays the same
    * exclusion); docs with no countable words keep a 0 row via the
    * outer explode.
    */
  def unigramTokens(docs: DataFrame, seedMulti: Int = 40, keepMulti: Int = 20,
      maxPieceLen: Int = 4, maxWordLen: Int = 12): DataFrame = {
    val (lp1, _) = unigramEm(docs, seedMulti, keepMulti, maxPieceLen, maxWordLen)
    val words = docs.select(col("doc_id"),
      explode_outer(filter(split(col("text"), "\\s+"),
        x => x =!= "" && !x.contains(BpeSep) && length(x) <= maxWordLen))
        .as("word"))
    val wtok = words.select("word").where(col("word").isNotNull).distinct()
      .select(col("word"), size(graft.functions.TextFunctions.unigramSegment(
        col("word"), lp1, maxPieceLen)).cast("long").as("wtok"))
    words.join(wtok, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("wtok"), lit(0L))).as("uni_tok"))
  }

  /** WordPiece-rule encoding — the tokenizer surface's third leg next to
    * BPE ([[applyBpe]]) and unigram Viterbi ([[unigramTokens]]): greedy
    * longest-match-first segmentation (Devlin et al. 2019's inference
    * rule) of every document against the corpus's own unigram-trained
    * vocabulary, returning per-document REAL token counts
    * `(doc_id, wp_tok)`. A word with an unmatchable position collapses
    * to one `[UNK]` token (canonical WordPiece; untriggerable when the
    * vocab was seeded from this corpus, since seeding keeps every
    * observed char — the spec constructs the failure explicitly).
    *
    * Training is [[unigramEm]]'s seed → EM → prune (shared, so the
    * shipped vocab is identical across all three encoders); encoding is
    * score-free greedy matching, so the whole run — training AND
    * encoding — replays in an external SQL engine as integer/string
    * comparisons with no float anywhere in the encode path.
    *
    * Scale shape: [[unigramTokens]]' distinct-word discipline verbatim —
    * the corpus explodes to narrow (doc, word) rows, the
    * vocabulary-bounded distinct-word table greedy-segments ONCE per
    * unique word (native [[graft.functions.WordPieceSegment]], one JVM
    * scan per word), and counts join back for a per-doc sum. Words
    * longer than `maxWordLen` or carrying the internal sentinel are
    * excluded (the trainer's own filter); docs with no countable words
    * keep a 0 row via the outer explode.
    */
  def wordpieceTokens(docs: DataFrame, seedMulti: Int = 40,
      keepMulti: Int = 20, maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    val (lp1, _) = unigramEm(docs, seedMulti, keepMulti, maxPieceLen, maxWordLen)
    val vocab = lp1.map(_._1)
    val words = docs.select(col("doc_id"),
      explode_outer(filter(split(col("text"), "\\s+"),
        x => x =!= "" && !x.contains(BpeSep) && length(x) <= maxWordLen))
        .as("word"))
    val wtok = words.select("word").where(col("word").isNotNull).distinct()
      .select(col("word"), size(graft.functions.TextFunctions.wordpieceSegment(
        col("word"), vocab, maxPieceLen)).cast("long").as("wtok"))
    words.join(wtok, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("wtok"), lit(0L))).as("wp_tok"))
  }

  /** Trained-tokenizer fertility by language — pieces-per-word and
    * chars-per-piece under the corpus's own [[unigramVocab]] (where
    * [[langFertility]] profiles the fixed regex tokenizer): the numbers
    * a multilingual pipeline reads to see which languages the learned
    * vocab serves poorly (high fertility = over-segmentation). Integer
    * ppm ratios with truncating div, so the report replays exactly.
    * Scale shape: [[unigramTokens]]' distinct-word discipline with a
    * |languages|-row rollup.
    */
  def unigramFertility(docs: DataFrame, seedMulti: Int = 40,
      keepMulti: Int = 20, maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    val (lp1, _) = unigramEm(docs, seedMulti, keepMulti, maxPieceLen, maxWordLen)
    val words = docs.select(col("lang"),
      explode(filter(split(col("text"), "\\s+"),
        x => x =!= "" && !x.contains(BpeSep) && length(x) <= maxWordLen))
        .as("word"))
    val wtok = words.select("word").distinct()
      .select(col("word"), size(graft.functions.TextFunctions.unigramSegment(
        col("word"), lp1, maxPieceLen)).cast("long").as("wtok"))
    words.join(wtok, Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("wtok").as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000000 div n_words").as("fert_ppm"),
        expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_ppm"))
  }

  /** [[unigramFertility]] keyed on the PREDICTED language
    * ([[ctLangId]]'s out-of-place classification) instead of the fixture
    * label — the fertility report a pipeline can produce on a fully
    * UNLABELED corpus: trained tokenizer + trained language tagger, no
    * metadata trusted. Covers the held-out split (the docs the tagger
    * classifies); rollup is |languages|-bounded, all-integer ppm.
    *
    * Scale shape: [[unigramTokens]]' distinct-word Viterbi fold over the
    * held-out words, one doc_id equi-join against the per-doc prediction
    * frame (corpus-partitioned, AQE-planned), the |langs| rollup.
    */
  def ctLangFertility(docs: DataFrame, topN: Int = 50, maxN: Int = 3,
      holdoutMod: Int = 5, seedMulti: Int = 40, keepMulti: Int = 20,
      maxPieceLen: Int = 4, maxWordLen: Int = 12): DataFrame = {
    val pred = ctLangId(docs, topN, maxN, holdoutMod)
      .select(col("doc_id"), col("pred_lang"))
    val (lp1, _) = unigramEm(docs, seedMulti, keepMulti, maxPieceLen, maxWordLen)
    val words = docs.where(col("doc_id") % holdoutMod === 0)
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"),
          x => x =!= "" && !x.contains(BpeSep) && length(x) <= maxWordLen))
          .as("word"))
    val wtok = words.select("word").distinct()
      .select(col("word"), size(graft.functions.TextFunctions.unigramSegment(
        col("word"), lp1, maxPieceLen)).cast("long").as("wtok"))
    words.join(wtok, Seq("word")).join(pred, Seq("doc_id"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_words"),
        sum("wtok").as("n_pieces"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("pred_lang"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000000 div n_words").as("fert_ppm"),
        expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_ppm"))
  }

  /** The shared seed + round-1 EM + prune of [[unigramVocab]] /
    * [[unigramTokens]]: returns the pruned vocab with its round-1
    * smoothed micro-nat scores `lp¹` (tokenizer-sized, rides plans as
    * literals) and the persisted filtered word-count frame.
    */
  private[graft] def unigramEm(docs: DataFrame, seedMulti: Int, keepMulti: Int,
      maxPieceLen: Int, maxWordLen: Int,
      maxAlphabet: Int = 2000000): (Seq[(String, Long)], DataFrame) = Pins.scope { s =>
    val (wc, _) = Pins.materialize("text.unigram_wc", wordCount(docs)
      .where(length(col("word")) <= maxWordLen && !col("word").contains(BpeSep)))
    val seeds = wc.select(col("cnt"), explode(expr(
      s"flatten(transform(sequence(1, length(word)), i -> " +
        s"transform(sequence(i, least(length(word), i + ${maxPieceLen - 1})), " +
        s"j -> substring(word, i, j - i + 1))))")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("sc"))
    // the alphabet collect is bounded by distinct codepoints in the
    // corpus (≲1.1M for all of Unicode) — declare that driver-memory
    // contract explicitly: the limit caps what ever reaches the driver,
    // and the require fails LOUD, not with a driver OOM, if a corrupt
    // corpus (binary mis-read as text) floods past the bound
    val charSeeds = seeds.where(length(col("piece")) === 1)
      .limit(maxAlphabet + 1)
    val multiSeeds = seeds.where(length(col("piece")) > 1)
      .orderBy(col("sc").desc, col("piece")).limit(seedMulti)
    // ONE action collects the whole seed vocab: alphabet + seedMulti rows
    val seed0 = charSeeds.unionAll(multiSeeds).collect()
    require(seed0.count { r =>
      val p = r.getString(0); p.codePointCount(0, p.length) == 1
    } <= maxAlphabet,
      s"unigramEm: over $maxAlphabet single-char seed pieces — the " +
        "corpus does not look like text (declared alphabet bound exceeded)")
    val total0 = seed0.map(_.getLong(1)).sum.toDouble
    val lp0 = seed0.toSeq.map(r =>
      r.getString(0) -> math.round(math.log(r.getLong(1) / total0) * 1e6))
    // two consumers: the usage map and the prune top-K
    val u1p = s.persist(wc.select(col("cnt"), explode(
      graft.functions.TextFunctions.unigramSegment(col("word"), lp0, maxPieceLen))
      .as("piece"))
      .groupBy("piece").agg(sum("cnt").as("u")))
    val u1 = u1p.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptMulti = multiSeeds.select("piece")
      .join(u1p, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u"), lit(0L)).as("u"))
      .orderBy(col("u").desc, col("piece")).limit(keepMulti)
      .collect().map(_.getString(0))
    s.release(u1p)
    val chars = seed0.map(_.getString(0))
      .filter(p => p.codePointCount(0, p.length) == 1)
    val v1 = (chars ++ keptMulti).toSeq
    val total1 = v1.map(u1.getOrElse(_, 0L)).sum
    val denom1 = (total1 + v1.size).toDouble
    val lp1 = v1.map(p =>
      p -> math.round(math.log((u1.getOrElse(p, 0L) + 1) / denom1) * 1e6))
    (lp1, wc)
  }

  /** Token-budget mixture realization at DOCUMENT granularity: each
    * source gets a token budget (`budgetPct`% of its own token mass),
    * and docs fill it greedily in (n_chars desc, doc_id) order — longest
    * first, the deterministic stand-in for a quality ranking — keeping
    * every doc that STARTS under budget. Where [[mixSources]] /
    * [[temperatureMix]] decide per-source RATES, this op materializes the
    * actual keep set those rates imply, the step right before writing a
    * training shard.
    *
    * All integer arithmetic (token counts, truncating percent), so the
    * keep decision replays exactly in any engine. Scale shape: one
    * row-local token count and ONE source-partitioned shuffle serving
    * both windows — the per-source total (whole-partition frame, so no
    * separate budget aggregate or re-scan of the corpus) and the running
    * prefix sum over the same sort; a skewed mega-source splits under
    * AQE. Output is the |sources|-bounded rollup.
    */
  def tokenBudgetFill(docs: DataFrame, budgetPct: Int = 30): DataFrame = {
    val d = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("size(filter(split(text, '\\\\s+'), x -> x != ''))")
          .cast("long").as("tok"))
    val bySrc = Window.partitionBy("source")
    val w = bySrc.orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d
      .withColumn("total_tok", sum("tok").over(bySrc))
      // `div`, not `/`: Column./ on longs is DOUBLE division
      .withColumn("budget_tokens", expr(s"(total_tok * $budgetPct) div 100"))
      .withColumn("cum_before", coalesce(sum("tok").over(w), lit(0L)))
      .where(col("cum_before") < col("budget_tokens"))
      .groupBy("source")
      .agg(first("budget_tokens").as("budget_tokens"),
        count(lit(1)).as("n_docs_kept"),
        sum("tok").as("tokens_kept"))
  }
}
