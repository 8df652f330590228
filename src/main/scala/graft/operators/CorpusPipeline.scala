package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Pins

/** End-to-end corpus curation: the canonical LLM training-data pipeline as
  * ONE declarative plan — normalize → quality gate → language gate → exact
  * dedup → near-dup resolution → deterministic split assignment. Each stage
  * exists standalone elsewhere (TextOps / Dedup); the point of this module
  * is that they compose into a single Catalyst plan, so filters stay pushed
  * against the scan, each gate shrinks the data BEFORE the expensive
  * near-dup stage, and the whole pipeline is reproducible end-to-end (every
  * stage is a pure function of document content — md5-derived, no rand()).
  *
  * 100 TB posture: the scalar gates (normalize/quality/language) are
  * shuffle-free map work; exact dedup shuffles a 32-byte hash + id per doc;
  * the near-dup stage runs MinHash-LSH on the (much smaller) gated
  * survivor set — banded buckets, sum(bucket²) not n², signature-agreement
  * prefilter before the exact verify; cluster resolution is adaptive
  * (driver union-find on tiny pair sets, edge-subgraph iteration above the
  * threshold). Nothing in the pipeline is quadratic in the corpus — only
  * within LSH buckets.
  */
object CorpusPipeline {

  /** Curate a raw `documents` table into (doc_id, n_tokens, split) for the
    * surviving training documents.
    *
    * Cache contract: the RESULT is returned persisted and already
    * materialized; every intermediate cache the pipeline created
    * (gated-survivor set, cluster labels) is released before returning, so
    * repeated invocations in a long-lived session pin exactly one frame
    * each — the result — which the caller may `.unpersist()` when done
    * (or leave to LRU eviction).
    */
  /** Stages 1-3 (normalize → quality gate → language gate) as one
    * shuffle-free projection chain — shared by [[curate]] and the
    * incremental path, which runs it on the appended slice only.
    * Normalization matches TextOps.normalizeText, inlined so downstream
    * stages read one column named `text`; one tokenization feeds both
    * gates (the split regex runs once per row, not once per gate).
    */
  private[operators] def gated(docs: DataFrame, minTokens: Int,
      keepLang: String): DataFrame = {
    val norm = docs.select(col("doc_id"), col("source"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9]+", " "),
        "\\s+", " ")).as("text"))
    val toked = norm.withColumn("toks", split(col("text"), "\\s+"))
    toked
      .withColumn("n_tokens", size(col("toks")))
      .where(col("n_tokens") >= minTokens)
      .where(TextOps.predLangExpr(array_distinct(col("toks"))) === keepLang)
      .drop("toks")
  }

  /** Deterministic content-hash split assignment (stable under
    * repartitioning, reproducible on any engine with md5). The cutoff
    * expression lives in [[TextOps.splitExpr]] — one definition, so
    * curation can never drift from the standalone split operator.
    */
  private def withSplit(survivors: DataFrame): DataFrame =
    survivors.select(col("doc_id"), col("n_tokens"),
      TextOps.splitExpr(col("doc_id")).as("split"))

  /** Stage 4 (exact dedup) as a reusable unit: smallest doc_id per
    * normalized-content hash via a min_by hash-aggregation (map-side
    * partial collapse, no per-partition sort). Shared by [[curate]] and
    * the incremental seeding path, which must reproduce the SAME
    * survivor set to seed the span sidecar.
    */
  private[operators] def exactDedup(langed: DataFrame): DataFrame =
    langed
      .groupBy(md5(col("text")).as("_h"))
      .agg(min_by(struct(langed.columns.map(col).toIndexedSeq: _*),
        col("doc_id")).as("_r"))
      .select(col("_r.*"))

  /** Span-level PRIOR-duplication stats for the substring gate: a
    * k-token span occurrence `(doc, i)` of `docs` is prior-duplicated
    * iff an earlier occurrence exists — `(doc', i') < (doc, i)`
    * lexicographically among `docs`' own spans, or its hash appears in
    * `priorHashes` (the spans of every PREVIOUSLY considered doc — the
    * incremental sidecar). Returns `(doc_id, n_spans, n_dup)`; docs
    * shorter than k tokens are absent (callers keep them — no
    * evidence).
    *
    * Width-k spans are EXACT for the gate's predicate: a duplicated
    * substring of length ≥ k exists at a position iff that position's
    * k-span duplicates (the fixed-width reduction of the sorted-suffix
    * machinery in [[TextOps.dupSubstrings]]). That reduction is what
    * makes the gate incrementally maintainable by CONTENT-ADDRESSED
    * span hashes — an appended slice joins the persisted hash set
    * instead of re-sorting the whole corpus's suffixes, and
    * first-occurrence election within the slice plus hash membership
    * against the sidecar reproduces the full-corpus election exactly
    * (older doc_ids are smaller under the append-only contract).
    *
    * Scale shape: one narrow (doc, i, hash) shuffle for the election
    * (the [[TextOps.duplicatedSpans]] shape), one hash-equi join
    * against the sidecar (AQE broadcasts a small benchmark-era sidecar,
    * degrades to SMJ at archive scale), one per-doc rollup.
    */
  /** The k-token span strings of a token-array column — the SINGLE
    * definition of the gate's span tokenization, shared by the election
    * ([[spanDupStats]]), the `_seensp` sidecar ([[spanHashes]]) and the
    * streaming twin ([[graft.streaming.TextStreams.streamingSpanGate]]),
    * so the three can never silently diverge.
    *
    * Safe standalone: arrays shorter than k yield an EMPTY span list.
    * Without the guard, `sequence(1, size-(k-1))` with size < k generates
    * a DESCENDING [1, 0, …] (Spark's sequence default step flips sign),
    * and the 0 index crashes `slice` at runtime — all original call
    * sites happened to pre-filter `size >= k`, but a shared helper must
    * not rely on that.
    */
  private[graft] def spanStrings(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  private[operators] def spanDupStats(docs: DataFrame, k: Int,
      priorHashes: Option[DataFrame]): DataFrame = {
    val spans = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(spanStrings(col("toks"), k)).as(Seq("p", "g")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("i"),
        Dedup.portableHash64(col("g")).as("h"))
    val firsts = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("i"))).as("f"))
    val flagged = spans.join(firsts, Seq("h"))
      .withColumn("_later", struct(col("doc_id"), col("i")) =!= col("f"))
    val withPrior = priorHashes match {
      case Some(p) => flagged.join(
        p.select(col("h")).distinct().withColumn("_prior", lit(true)),
        Seq("h"), "left")
      case None => flagged.withColumn("_prior", lit(false))
    }
    withPrior.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("_later") || coalesce(col("_prior"), lit(false)), 1L)
        .otherwise(0L)).as("n_dup"))
  }

  /** Distinct k-span hashes of `docs` — the `_seensp` sidecar unit,
    * also the static side of
    * [[graft.streaming.TextStreams.streamingSpanGate]].
    */
  def spanHashes(docs: DataFrame, k: Int): DataFrame =
    docs.select(split(col("text"), "\\s+").as("toks"))
      .where(size(col("toks")) >= k)
      .select(explode(spanStrings(col("toks"), k)).as("g"))
      .select(Dedup.portableHash64(col("g")).as("h")).distinct()

  /** The substring gate: drop survivors whose prior-duplicated span
    * fraction exceeds `maxDupPct`% — integer compare
    * (`n_dup·100 > maxDupPct·n_spans`), docs with no stats kept.
    */
  private def spanGate(survivors: DataFrame, stats: DataFrame,
      maxDupPct: Int): DataFrame =
    survivors.join(stats, Seq("doc_id"), "left")
      .where(coalesce(
        col("n_dup") * 100 <= lit(maxDupPct.toLong) * col("n_spans"),
        lit(true)))
      .drop("n_spans", "n_dup")

  def curate(docs: DataFrame, minTokens: Int = 5, keepLang: String = "en",
      jaccard: Double = 0.8, spanK: Int = 8, maxDupPct: Int = 50): DataFrame = {
    val langed = gated(docs, minTokens, keepLang)
    // 4. exact dedup: keep the smallest doc_id per normalized-content
    //    hash, as a min_by hash-aggregation — duplicates collapse in the
    //    map-side partial aggregate BEFORE the exchange (the dirtier the
    //    corpus, the less it shuffles), and unlike the window formulation
    //    there is no per-partition sort. The result is persisted +
    //    counted: the near-dup self-join below references it from BOTH
    //    sides and the survivor join a third time — without a
    //    materialization barrier each branch would re-run the whole gated
    //    prefix (measured 2.6x slower end-to-end at sf0.1). persist, not
    //    localCheckpoint, for the same AQE reason as
    //    Dedup.resolveClusters; blocks stay subject to LRU eviction.
    // intermediates go with the scope, also when a stage fails — without
    // that a failed near-dup stage leaks one corpus-scale pinned cache per
    // retry in a long-lived session
    Pins.scope { s =>
      val (exactKeep, _) = s.materialize(exactDedup(langed))
      // 5. near-dup resolution on the gated survivors: MinHash-LSH banded
      //    candidates (the UNBLOCKED scale path — sum(bucket²), not
      //    sum(block²); catches cross-source duplicates a blocking key
      //    would miss) → exact-jaccard verify → connected components →
      //    keep the cluster min. Deterministic end-to-end: signatures use
      //    the portable md5 hash, so any engine replays the same pairs.
      val pairs = Dedup.minhashPairs(exactKeep, jaccard)
      val (resolved, release) =
        Dedup.resolveClustersReleasable(exactKeep.select("doc_id"), pairs)
      s.defer(release)
      // anti-join the LOSERS (keep=false), not inner-join the keepers: the
      // loser set is bounded by the near-dup pair endpoints — pair-scale,
      // not corpus-scale — so at 100 TB this is a broadcast-able filter of
      // the corpus instead of a corpus x corpus shuffle join (AQE picks
      // broadcast from the runtime size; no hint so a pathological
      // everything-is-duplicate corpus still degrades to SMJ, not OOM)
      val survivors = exactKeep.join(
        resolved.where(!col("keep")).select(col("doc_id").as("rd")),
        col("doc_id") === col("rd"), "left_anti")
      // 6. substring gate (Lee et al.'s dedup signal as a quality gate):
      //    drop survivors whose prior-duplicated k-span fraction exceeds
      //    maxDupPct% — election over the EXACT-dedup survivor spans
      //    (pre near-dup), so the incremental path can reproduce it from
      //    the content-addressed span sidecar
      val stats = spanDupStats(
        exactKeep.select(col("doc_id"), col("text")), spanK, None)
      val subGated = spanGate(survivors, stats, maxDupPct)
      // 7. deterministic split assignment. The persisted result is the
      // ONE frame this pipeline leaves pinned — queue its release so
      // repeated invocations in a long-lived session don't strand one
      // result cache each (the caller may still unpersist sooner). Once
      // it is materialized, dropping the intermediate caches is safe
      // (lineage stays intact, so an evicted result recomputes slowly
      // but correctly)
      Pins.materialize("corpus.curate_result", withSplit(subGated))._1
    }
  }

  /** Incremental curation through the [[graft.plans.Materializer]] — the
    * reference Icache's "skip the map phase on re-run" trait
    * (`/root/reference/src/file_distributor/fileserver.hh:374-585`) applied
    * to the flagship pipeline. Three regimes, keyed on the input snapshot:
    *
    *  - unchanged input → pure cache read, zero compute;
    *  - appended input (append-only contract: previously seen docs are
    *    immutable, new doc_ids are fresh and larger) → the gates run on
    *    the appended slice ONLY; new docs are exact-dedup'd against the
    *    retained survivor hashes and near-dup-resolved against the
    *    survivor set, and the previous result is extended — previously
    *    released docs are never revoked (a deliberate training-corpus
    *    stability property: a new doc that transitively links two old
    *    survivors is itself dropped, but cannot retroactively drop them);
    *  - no usable previous state → full [[curate]], then seed the cache.
    *
    * Alongside each result the cache stores a `_seen` sidecar (every
    * doc_id considered, survivors AND losers) so the appended slice is an
    * anti-join away, a `_seenh` sidecar (the content hash of every
    * GATED doc ever considered, survivors AND losers) so an appended
    * exact copy of a previously dropped document is still recognized as
    * a duplicate — without it, a copy of a dropped doc would re-enter
    * whenever it isn't near any survivor — and a `_seensp` sidecar (the
    * CONTENT-ADDRESSED k-span hashes of every exact-dedup survivor ever
    * considered) so the SUBSTRING GATE replays incrementally: an
    * appended slice elects first occurrences within itself and joins
    * the persisted hashes instead of re-sorting the whole corpus's
    * suffixes — append-equals-full-recompute for the gate, pinned in
    * CorpusPipelineSpec. A per-(params, corpus) pointer
    * file links the latest snapshot. At 100 TB this turns re-curation of
    * a growing corpus from O(corpus) into O(append + survivors).
    *
    * Known incremental-vs-full divergence (deliberate): a NEAR-copy (not
    * exact) of a previously dropped doc is compared only against the
    * retained survivor set — re-checking it against every dropped doc
    * would be O(corpus) and defeat incrementality.
    */
  def curateIncremental(spark: org.apache.spark.sql.SparkSession,
      docsDir: String, cacheDir: String, minTokens: Int = 5,
      keepLang: String = "en", jaccard: Double = 0.8, spanK: Int = 8,
      maxDupPct: Int = 50): DataFrame = {
    import graft.plans.Materializer
    import org.apache.hadoop.fs.Path
    val params = Map("minTokens" -> minTokens.toString,
      "keepLang" -> keepLang, "jaccard" -> jaccard.toString,
      "spanK" -> spanK.toString, "maxDupPct" -> maxDupPct.toString)
    val fp = Materializer.fingerprint(
      spark, Materializer.CacheKey("corpus_curate", params, Seq(docsDir)))
    val fs = new Path(cacheDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def complete(dir: String) = fs.exists(new Path(dir, "_SUCCESS"))
    val target = s"$cacheDir/$fp"
    // the pointer is keyed by params, code version AND corpus dir: the
    // version so an upgraded library can't find the old pointer, see an
    // empty appended slice, and re-commit the OLD code's output under a
    // new-code fingerprint; the corpus dir so two corpora sharing one
    // cacheDir can't read each other's state and serve corpus A's
    // curation as corpus B's
    val paramsTag = java.security.MessageDigest.getInstance("MD5")
      .digest((Seq(Materializer.codeVersion, docsDir) ++
        params.toSeq.sorted.map(_.toString))
        .mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val pointer = new Path(cacheDir, s"_curate_latest_$paramsTag")

    def readPointer(): Option[String] =
      if (!fs.exists(pointer)) None
      else {
        val in = fs.open(pointer)
        try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
      }
    // single-writer election per fingerprint (same claim protocol as
    // Materializer.lookupOrCompute): two sessions sharing cacheDir must
    // not interleave overwrites of the same target — the loser waits for
    // the winner's _SUCCESS and serves the committed copy, or serves its
    // own frame UNCACHED on timeout
    def commitState(result: DataFrame, allIds: DataFrame,
        gatedHashes: DataFrame, spanHs: DataFrame): DataFrame = {
      val claim = new Path(s"$target._claim")
      if (Materializer.tryClaim(fs, claim)) {
        try {
          if (!complete(target)) {
            result.write.mode("overwrite").parquet(target)
            allIds.select("doc_id").write.mode("overwrite").parquet(s"${target}_seen")
            gatedHashes.write.mode("overwrite").parquet(s"${target}_seenh")
            spanHs.write.mode("overwrite").parquet(s"${target}_seensp")
            val out = fs.create(pointer, true)
            try out.write(fp.getBytes("UTF-8")) finally out.close()
          }
        } finally fs.delete(claim, false)
        spark.read.parquet(target)
      } else {
        val deadline = System.nanoTime + 300000L * 1000000L
        while (!complete(target) && System.nanoTime < deadline) Thread.sleep(100)
        if (complete(target)) spark.read.parquet(target)
        else { fs.delete(claim, false); result }
      }
    }

    if (complete(target)) return spark.read.parquet(target) // unchanged input

    val docs = spark.read.parquet(docsDir)
    readPointer().filter(prev =>
      complete(s"$cacheDir/$prev") && complete(s"$cacheDir/${prev}_seen") &&
        complete(s"$cacheDir/${prev}_seenh") &&
        complete(s"$cacheDir/${prev}_seensp")) match {
      case Some(prevFp) =>
        val prev = spark.read.parquet(s"$cacheDir/$prevFp")
        val seen = spark.read.parquet(s"$cacheDir/${prevFp}_seen")
        val seenH = spark.read.parquet(s"$cacheDir/${prevFp}_seenh")
        val seenSp = spark.read.parquet(s"$cacheDir/${prevFp}_seensp")
        val appended = docs.join(seen, Seq("doc_id"), "left_anti")
        // gates touch ONLY the appended slice; survivor texts re-derive
        // from the current input (immutable under the append-only contract)
        val gatedNew = gated(appended, minTokens, keepLang)
        // exact dedup: smallest new id per hash, then drop anything
        // whose hash was EVER seen — the `_seenh` sidecar covers
        // dropped docs too, so an exact copy of a previously discarded
        // document cannot re-enter the corpus
        val newHashed = gatedNew.withColumn("_h", md5(col("text")))
        Pins.scope { s =>
          val prevGated = s.persist(gated(
            docs.join(prev.select("doc_id"), Seq("doc_id"), "left_semi"),
            minTokens, keepLang))
          val newExact = s.persist(newHashed
            .groupBy(col("_h"))
            .agg(min_by(struct(newHashed.columns.map(col).toIndexedSeq: _*),
              col("doc_id")).as("_r"))
            .select(col("_r.*"), col("_h"))
            .join(seenH, Seq("_h"), "left_anti")
            .drop("_h"))
          prevGated.count()
          newExact.count()
          // near-dup: pairs over survivors ∪ fresh docs; cluster-min keep
          // (new ids are larger, so any new doc linked to a survivor loses)
          val union = prevGated.select("doc_id", "text")
            .unionByName(newExact.select("doc_id", "text"))
          val pairs = Dedup.minhashPairs(union, jaccard)
          val (resolved, release) =
            Dedup.resolveClustersReleasable(union.select("doc_id"), pairs)
          s.defer(release)
          val newSurvivors = newExact.join(
            resolved.where(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
          // substring gate on the appended slice: election within the
          // slice's exact survivors + membership in the persisted span
          // sidecar — reproduces the full-corpus election exactly (new
          // ids are larger, so "earlier occurrence" ⟺ in-slice earlier
          // OR hash ever seen)
          val spStats = spanDupStats(
            newExact.select(col("doc_id"), col("text")), spanK, Some(seenSp))
          val gatedSurvivors = spanGate(newSurvivors, spStats, maxDupPct)
          val result = prev.unionByName(withSplit(gatedSurvivors))
          val allSeenH = seenH
            .unionByName(gatedNew.select(md5(col("text")).as("_h")))
            .distinct()
          val allSeenSp = seenSp
            .unionByName(spanHashes(newExact.select(col("doc_id"), col("text")), spanK))
            .distinct()
          commitState(result, docs.select("doc_id"), allSeenH, allSeenSp)
        }
      case None =>
        val full = curate(docs, minTokens, keepLang, jaccard, spanK, maxDupPct)
        try {
          // one extra gating pass to seed the seen-hash + span sidecars —
          // paid once, on the full run that is already O(corpus); the
          // span sidecar covers the EXACT-dedup survivors (the gate's
          // election domain), droppees included
          val g = gated(docs, minTokens, keepLang)
          val allSeenH = g.select(md5(col("text")).as("_h")).distinct()
          val allSeenSp = spanHashes(
            exactDedup(g).select(col("doc_id"), col("text")), spanK)
          commitState(full, docs.select("doc_id"), allSeenH, allSeenSp)
        } finally full.unpersist(blocking = false)
    }
  }
}
