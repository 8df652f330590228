package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.plans.Pins

/** Deduplication operators for document corpora: exact, MinHash+LSH
  * near-dup, SimHash. Core training-data-pipeline ops (north star); the
  * reference's closest machinery is its `(app, input)`-keyed result cache
  * (`/root/reference/src/file_distributor/fileserver.hh:374-585`) — dedup
  * itself is new scope.
  *
  * Scale posture: every stage is a bounded-width shuffle (group-by on
  * content hash / band hash); no driver-side state; candidate verification
  * joins only the LSH-bucketed pairs, never the full cross product.
  */
object Dedup {

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5 parsed as a
    * long. Any engine with md5 + hex parsing reproduces it bit-for-bit
    * (DuckDB: `('0x' || substr(md5(s),1,15))::BIGINT`), which keeps every
    * hash-dependent operator (minhash, simhash, winnowing) fully
    * oracle-checkable, not just rows-checkable. Substitute `xxhash64` when
    * cross-engine reproducibility isn't needed and throughput is.
    *
    * Computed by the native [[graft.functions.Md5Hash64]] expression —
    * digest bytes straight to long, no hex-string round trip; value
    * identical to `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`
    * (property-tested in VectorFunctionsSpec).
    */
  def portableHash64(c: Column): Column = graft.functions.Md5Hash64(c)

  /** [[portableHash64]] as a SQL expression fragment (for use inside
    * `transform(...)` lambdas, which take expression strings).
    */
  private[operators] def portableHash64Sql(inner: String): String =
    s"cast(conv(substr(md5($inner), 1, 15), 16, 10) as bigint)"

  /** Exact dedup on normalized content hash. At 100 TB this is the cheap
    * first pass: shuffle width = one 32-byte hash + ids.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-source exact-duplicate rates — the corpus-health dashboard
    * number: for each source, how many of its documents lose the
    * [[exact]] keep-first rule to ANY doc in the corpus (cross-source
    * duplication counts against the source holding the copy, not the
    * original). One narrow shuffle on the 32-byte content hash for the
    * keeper table, joined back on the hash — never on the text.
    */
  def dupRateBySource(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("h"))
    val keep = hashed.groupBy("h").agg(min("doc_id").as("keep_id"))
    hashed.join(keep, "h")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dups"),
        round(sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("dup_rate"))
  }

  /** Token k-shingles (k consecutive tokens joined by a space), distinct
    * per document. The raw docs are repartitioned BEFORE the shingle
    * expression: higher-order functions (`transform`/`slice`) are
    * interpreted, not codegen'd, so a corpus packed into one parquet
    * row-group would otherwise evaluate them in a single task.
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .select(col("doc_id"), col("text"))
      .repartition(par)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"),
        expr(s"array_distinct(transform(sequence(0, greatest(size(toks) - $k, 0)), i -> concat_ws(' ', slice(toks, i + 1, $k))))")
          .as("shingles"))
  }

  /** Exploded (doc_id, shingle) rows. `explode_outer` on purpose: plain
    * `explode` makes the optimizer infer a `size(shingles) > 0` scan filter
    * that re-evaluates the whole interpreted shingle expression below the
    * repartition — single-threaded for single-file inputs.
    */
  private def explodedShingles(docs: DataFrame, k: Int): DataFrame =
    shingles(docs, k)
      .select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
      .where(col("sh").isNotNull)

  /** Row-local per-doc MinHash signatures + hashed-shingle set: the
    * shuffle-FREE twin of the explode+groupBy signature aggregation in
    * [[minhashPairs]] — identical values bit for bit (`hb = md5-60bit mod
    * P`, `sig_i = min((2i+1)·hb + 40503·i mod P)`, min over a set equals
    * min over the exploded multiset), but computed inside one projection.
    * Zero exchanges: at 100 TB the signature pass is embarrassingly
    * parallel, and — having no shuffle or stateful aggregation — it is
    * also STREAMING-safe, which is what
    * [[graft.streaming.DedupStreams.incrementalMinhashPairs]] builds on.
    * `hset` comes back sorted ascending (one sort per doc) so downstream
    * verify steps can merge-count instead of hashing per pair.
    */
  def rowLocalSignatures(docs: DataFrame, numHashes: Int = 32, k: Int = 3): DataFrame =
    docs
      // match the batch operator's drop semantics: minhashPairs silently
      // drops null-text docs (explode_outer + isNotNull); emitting a null
      // hset/sig row here would NPE the streaming twin's deserializer
      .where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"),
        expr(s"array_distinct(transform(sequence(0, greatest(size(toks) - $k, 0)), i -> concat_ws(' ', slice(toks, i + 1, $k))))")
          .as("sh"))
      .select(col("doc_id"),
        array_sort(array_distinct(
          transform(col("sh"), s => portableHash64(s) % MinhashP))).as("hset"))
      .select(col("doc_id"), col("hset"),
        array((0 until numHashes).map(i =>
          array_min(transform(col("hset"),
            h => (h * (2 * i + 1) + lit(40503L * i)) % MinhashP))): _*).as("sig"))

  /** Modulus for the minhash family: 2^31 - 1 (prime). Small enough that
    * `(2i+1) * h` never overflows a 64-bit long (so Spark's wrapping and
    * DuckDB's checked arithmetic agree exactly), large enough that
    * min-collisions are negligible at any realistic shingle count.
    */
  private val MinhashP = 2147483647L

  /** MinHash signatures: ONE portable digest per shingle (`hb = md5-60bit
    * mod P`), then numHashes members of the affine family
    * `h_i = ((2i+1)·hb + 40503·i) mod P` — the standard universal-hashing
    * construction, so the per-row cost is one md5 plus numHashes
    * multiply-adds instead of numHashes md5s (measured 8x faster signature
    * build at 32 hashes). All arithmetic stays within 2^38 < 2^63, making
    * every engine's 64-bit evaluation bit-identical — the oracle replays
    * signatures exactly. signature_i = min over the doc's shingles; one
    * shuffle (groupBy doc_id) computes all mins at once.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32, k: Int = 3): DataFrame = {
    val (ex, aggs) = shingleHashAggs(docs, numHashes, k)
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Shared construction for the minhash family: the (doc_id, hb) shingle-
    * hash frame and the numHashes min-aggregates over the affine family.
    * ONE source of truth for the constants — [[minhashSignatures]] and
    * [[minhashPairs]] must never drift apart (and both must stay in
    * lockstep with the SQL oracle replicas in SparkEntry).
    */
  private def shingleHashAggs(docs: DataFrame, numHashes: Int, k: Int)
      : (DataFrame, Seq[Column]) = {
    val ex = explodedShingles(docs, k)
      .select(col("doc_id"), (portableHash64(col("sh")) % MinhashP).as("hb"))
    val aggs = (0 until numHashes).map(i =>
      min((col("hb") * (2 * i + 1) + lit(40503L * i)) % MinhashP).as(s"mh$i"))
    (ex, aggs)
  }

  /** MinHash-LSH near-duplicate pairs. Pipeline:
    * shingle → minhash (numHashes) → band into `bands` groups of `rowsPerBand`
    * → bucket-join docs sharing any band hash → verify candidates with the
    * exact Jaccard over the hashed-shingle sets → keep pairs ≥ threshold.
    *
    * The band self-join touches only same-bucket docs, so cost is
    * sum(bucket²) not n²; the verify join uses per-doc collected
    * shingle-hash sets (bounded by doc length, safe to materialize per
    * row), collected in the SAME aggregation that builds the signatures so
    * the shingle transform runs once.
    */
  def minhashPairs(
      docs: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      k: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // ONE pass over the (interpreted, hence expensive) shingle transform:
    // the same groupBy that takes the numHashes mins also collects the
    // per-doc set of shingle HASHES, which the verify stage intersects in
    // place of the shingle strings. Exact Jaccard over the 31-bit-hashed
    // shingle space — deterministic and replayed verbatim by the oracle;
    // intra-doc hash collisions (the only way it can differ from
    // string-space Jaccard) have probability ~len²/2³¹ per doc.
    val (ex, minAggs) = shingleHashAggs(docs, numHashes, k)
    val sigs = ex.groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail :+ collect_set(col("hb")).as("hset"): _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"),
        col("hset"))
    // band key = the r signature values verbatim (joined as a string), not
    // a hash of them: candidate = "some band's values all equal", with no
    // hash-collision false candidates — and any engine reproduces the keys
    val bandStructs = (0 until bands).map { j =>
      val cols = (j * r until (j + 1) * r).map(i => element_at(col("sig"), i + 1))
      struct(lit(j).as("band"), concat_ws(",", cols: _*).as("bh"))
    }
    val banded = sigs
      .select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("sig"), col("e.band").as("band"), col("e.bh").as("bh"))
    // Signature-agreement pre-filter: est(jaccard) = matching minhash
    // fraction. Low-vocab corpora make band buckets collide heavily; this
    // row-local O(numHashes) check discards most candidates before the
    // exact (set-intersect) verification, keeping verify cost ~ output
    // size instead of ~ candidate count. Margin 0.6·threshold tolerates
    // estimator variance without losing true pairs. Evaluated per
    // candidate pair → uses the codegen'd native count, not an
    // interpreted HOF.
    val estMatches = graft.functions.VectorFunctions.eqCount(col("x.sig"), col("y.sig"))
    val cand = banded.as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .where(estMatches >= lit((threshold * 0.6 * numHashes).toInt))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sets = sigs
      // collect_set order is arbitrary; one sort per doc buys the
      // allocation-free sorted-merge verify over every candidate pair
      .select(col("doc_id"), array_sort(col("hset")).as("hset"),
        size(col("hset")).as("n"))
    cand
      .join(sets.as("sa"), col("a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        graft.functions.SetFunctions
          .sortedIntersectCount(col("sa.hset"), col("sb.hset")).as("inter"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
      // threshold on the UNROUNDED ratio (a ratio of exact ints —
      // bit-identical in any engine): rounding first would admit pairs up
      // to 5e-5 below the requested similarity. Only the reported column
      // rounds.
      .withColumn("_j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("_j") >= threshold)
      .select(col("a"), col("b"), round(col("_j"), 4).as("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard within a blocking key (`source`):
    * the quadratic-exact complement to [[minhashPairs]]. Blocking bounds
    * the pair count to sum(block²); at 100 TB the blocking key is whatever
    * natural partition the corpus has (crawl, shard, domain), with
    * [[minhashPairs]] as the unblocked path.
    *
    * Adaptive (same pattern as `Similarity.cosNearPairs`): a cheap
    * sum(block²) probe guards the quadratic plan, and above
    * `maxBlockPairs` the operator delegates to the banded-LSH candidates
    * (exact-verified, restricted back to same-source pairs) instead of
    * letting one mega-block go O(n²) — the result is then LSH-recall
    * rather than exhaustive, which is the documented trade at scale.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8, k: Int = 3,
      maxBlockPairs: Long = 25000000L): DataFrame = {
    val load = Option(docs.groupBy("source").count()
      .agg(sum(col("count") * col("count"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (load > maxBlockPairs) {
      val src = docs.select(col("doc_id"), col("source"))
      return minhashPairs(docs, threshold, k = k)
        .join(src.select(col("doc_id").as("a"), col("source").as("_sa")), Seq("a"))
        .join(src.select(col("doc_id").as("b"), col("source").as("_sb")), Seq("b"))
        .where(col("_sa") === col("_sb"))
        .select("a", "b", "jaccard")
    }
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val s = docs
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(par)
      .select(col("doc_id"), col("source"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), col("source"),
        expr(s"array_sort(array_distinct(transform(sequence(0, greatest(size(toks) - $k, 0)), i -> concat_ws(' ', slice(toks, i + 1, $k)))))")
          .as("sh"))
      .withColumn("n", size(col("sh")))
    // size-ratio prefilter: jaccard ≥ t forces |A∩B| ≥ t/(1+t)·(|A|+|B|)
    // and |A∩B| ≤ min(|A|,|B|), hence min/max ≥ t — a cheap scalar test
    // that skips the expensive array_intersect for most non-duplicate
    // pairs without changing the result set
    s.as("x")
      .join(s.as("y"),
        col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n"), col("y.n")).cast("double")
          >= lit(threshold) * greatest(col("x.n"), col("y.n")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        // sorted-merge count, not array_intersect: the shingle arrays are
        // sorted once per doc above, so each pair's verify is an
        // allocation-free scan (graft.functions.SortedIntersectCount)
        graft.functions.SetFunctions
          .sortedIntersectCount(col("x.sh"), col("y.sh")).as("inter"),
        col("x.n").as("na"), col("y.n").as("nb"))
      // unrounded threshold, rounded report — see the same note in
      // [[minhashPairs]]
      .withColumn("_j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("_j") >= threshold)
      .select(col("a"), col("b"), round(col("_j"), 4).as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs within the `source` block: containment
    * = |A∩B| / min(|A|, |B|) — the asymmetric near-dup signal
    * [[ngramJaccardPairs]] cannot see. A short document fully embedded in
    * a long one (quote farms, boilerplate wrappers, partial scrapes) has
    * near-1 containment but Jaccard ≈ |A|/|B| — arbitrarily low — so a
    * Jaccard-only dedup pass keeps both copies. Reports every pair at or
    * above `threshold` with both set sizes, so the caller can
    * distinguish mutual near-dups (sizes close) from engulfment.
    *
    * No size-ratio prefilter exists for containment (ANY size ratio can
    * reach containment 1), so the quadratic block is guarded by the same
    * Σblock² probe as [[ngramJaccardPairs]]: above `maxBlockPairs`,
    * candidates come from shared winnowing fingerprints instead (a
    * contained span shares its winnow fingerprints with the container —
    * [[winnowFingerprints]]' guarantee), restricted back to same-source
    * pairs and exact-verified, trading exhaustive recall for
    * fingerprint-bucket recall at scale.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.1, k: Int = 3,
      maxBlockPairs: Long = 25000000L): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val s = docs
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(par)
      .select(col("doc_id"), col("source"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), col("source"),
        expr(s"array_sort(array_distinct(transform(sequence(0, greatest(size(toks) - $k, 0)), i -> concat_ws(' ', slice(toks, i + 1, $k)))))")
          .as("sh"))
      .withColumn("n", size(col("sh")))
    val load = Option(docs.groupBy("source").count()
      .agg(sum(col("count") * col("count"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val cand =
      if (load <= maxBlockPairs)
        s.as("x").join(s.as("y"),
            col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id"))
      else {
        val src = docs.select(col("doc_id"), col("source"))
        val wp = winnowPairs(docs, minShared = 1).select(col("a"), col("b"))
          .join(src.select(col("doc_id").as("a"), col("source").as("_sa")), Seq("a"))
          .join(src.select(col("doc_id").as("b"), col("source").as("_sb")), Seq("b"))
          .where(col("_sa") === col("_sb"))
          .select("a", "b")
        wp.join(s.as("x"), col("a") === col("x.doc_id"))
          .join(s.as("y"), col("b") === col("y.doc_id"))
      }
    cand
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        graft.functions.SetFunctions
          .sortedIntersectCount(col("x.sh"), col("y.sh")).as("inter"),
        col("x.n").as("na"), col("y.n").as("nb"))
      // unrounded threshold, rounded report (ngramJaccardPairs' contract)
      .withColumn("_c", col("inter").cast("double") / least(col("na"), col("nb")))
      .where(col("_c") >= threshold)
      .select(col("a"), col("b"), col("na"), col("nb"),
        round(col("_c"), 4).as("containment"))
  }

  /** SimHash per document over the portable 60-bit token hash: each bit of
    * each token's hash contributes +1/-1 to its lane; the sign vector packs
    * back into one long. Computed as 60 codegen'd conditional sums in a
    * single group-by — one shuffle, no UDF.
    *
    * `hash` defaults to the oracle-replayable [[portableHash64]]; pass a
    * cheaper engine-native hash (see [[simhashFast]]) when cross-engine
    * reproducibility isn't needed.
    */
  def simhash(docs: DataFrame, nBits: Int = 60,
      hash: Column => Column = portableHash64): DataFrame = {
    val t = TextOps.tokens(docs).select(col("doc_id"), hash(col("word")).as("h"))
    val laneSums = (0 until nBits).map(i =>
      sum(when(expr(s"(h >> $i) & 1") === 1, 1).otherwise(-1)).as(s"b$i"))
    val lanes = t.groupBy("doc_id").agg(laneSums.head, laneSums.tail: _*)
    val packed = (0 until nBits)
      .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    lanes.select(col("doc_id"), packed.as("simhash"))
  }

  /** Throughput variant of [[simhash]]: same lanes over Spark's native
    * `xxhash64` (codegen'd, no md5 digest in the hot path) — the
    * substitution [[portableHash64]]'s doc promises. Sign distribution per
    * lane is equivalent; the packed values differ from the portable
    * variant, so use one or the other consistently within a corpus.
    */
  def simhashFast(docs: DataFrame, nBits: Int = 60): DataFrame =
    simhash(docs, nBits, c => xxhash64(c))

  /** Hamming distance between two simhash longs (for near-dup grouping on
    * top of [[simhash]]).
    */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs by SimHash hamming distance, banded for scale:
    * the nBits fingerprint splits into `bands` equal chunks and docs
    * sharing ANY band's bits are candidates — by pigeonhole a pair with
    * hamming < bands must agree on some band, so recall is EXACT for
    * `maxHamming <= bands - 1` while the join touches only same-band
    * buckets (sum(bucket²), never n²). Candidates verify with the
    * codegen'd `bit_count(xor)`. The fingerprint itself is the portable
    * [[simhash]], so any engine replays bands, candidates and distances.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 6,
      nBits: Int = 60): DataFrame = {
    require(bands > maxHamming, "bands must exceed maxHamming for exact recall")
    require(nBits % bands == 0, "bands must divide nBits")
    val r = nBits / bands
    val mask = (1L << r) - 1
    val sh = simhash(docs, nBits)
    val bandStructs = (0 until bands).map(j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), j * r).bitwiseAND(lit(mask)).as("bh")))
    val banded = sh
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.band").as("band"), col("e.bh").as("bh"))
    banded.as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        hammingDist(col("x.simhash"), col("y.simhash")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Resolve near-dup pairs into clusters and keep-decisions: connected
    * components by min-label propagation (cluster id = smallest doc_id in
    * the component; that doc is the survivor). Dedup graphs have tiny
    * dense components, so the fixpoint arrives in a few iterations; each
    * iteration truncates plan lineage via
    * [[graft.plans.Checkpoints.truncate]] (executor-local by default;
    * set `graft.checkpoint.dir` for reliable checkpoints on a real
    * cluster). Returns (doc_id, cluster, keep).
    *
    * The returned plan reads a pinned label frame (sized to the edge-
    * endpoint set, not the corpus); its release hook is queued with
    * [[graft.plans.ReleaseRegistry]] so the session host drains it after
    * materializing. Callers wanting manual control use
    * [[resolveClustersReleasable]].
    */
  def resolveClusters(docs: DataFrame, pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val (out, release) = resolveClustersReleasable(docs, pairs, maxIter)
    Pins.queue("dedup.resolve_clusters")(release)
    out
  }

  /** [[resolveClusters]] plus a release hook for the label cache it pins.
    * Call the hook AFTER materializing (or persisting) the result: plain
    * persisted label frames are unpersisted (their lineage stays intact,
    * so a later recompute is slow but correct); checkpoint-backed frames
    * are left pinned, because a localCheckpoint's blocks ARE the data and
    * releasing them would make recomputation impossible.
    */
  def resolveClustersReleasable(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 10): (DataFrame, () => Unit) = Pins.scope { s =>
    // materialize the (expensive) pair computation once BEFORE the
    // direction-doubling union — otherwise each union branch re-executes
    // the full candidate-generation plan. persist + count, NOT
    // localCheckpoint: Dataset.checkpoint materializes through the
    // non-adaptive toRdd path, which loses AQE's runtime replanning of the
    // skewed candidate self-join (measured 30x slower on the blocked
    // n-gram join at sf0.1); a persisted frame materializes through the
    // normal adaptive path and the union branches read the cached blocks
    val (p, nPairs) = s.materialize(pairs.select(col("a"), col("b")))
    // adaptive path choice on the (already materialized) edge count — the
    // same runtime-statistics trick AQE applies to joins. After good
    // blocking the dedup graph is usually TINY relative to the corpus
    // (near-dup pairs, not rows), and the distributed fixpoint's cost is
    // then pure scheduling overhead: each round is a join + groupBy +
    // count barrier costing ~0.2-0.3 s at any size. Under the threshold
    // (bounded driver memory: 200k edges ≈ a few MB) a driver union-find
    // computes the exact same min-label components in microseconds and
    // broadcasts them back; above it, or for exotic key types, the
    // distributed iteration runs as before.
    val keyType = p.schema.head.dataType
    val smallGraph = nPairs <= 200000L && (keyType match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false
    })
    if (smallGraph) resolveOnDriver(s, docs, p, keyType)
    else resolveDistributed(s, docs, p, maxIter)
  }

  /** [[resolveClustersReleasable]] for a pair frame `p` (pinned in `s`,
    * materialized) small enough for a driver union-find; `p` is freed
    * once collected and the hook is a no-op.
    */
  private def resolveOnDriver(s: Pins.Scope, docs: DataFrame,
      p: DataFrame, keyType: DataType): (DataFrame, () => Unit) = {
    val spark = docs.sparkSession
    def less(x: Any, y: Any): Boolean = (x, y) match {
      case (a: java.lang.Number, b: java.lang.Number) => a.longValue < b.longValue
      case (a: String, b: String) =>
        // match Spark's StringType ordering (UTF8String: unsigned UTF-8
        // byte comparison), NOT Java's UTF-16 compareTo — they disagree
        // on supplementary-plane characters, and the driver path must
        // pick the same component minimum as the distributed min()
        val (u, v) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var i = 0
        while (i < u.length && i < v.length && u(i) == v(i)) i += 1
        if (i < u.length && i < v.length) (u(i) & 0xff) < (v(i) & 0xff)
        else u.length < v.length
      case _ => false
    }
    // union-find with min-root union + path compression: the root of
    // each set is its minimum member, matching the iterative path's
    // min-label semantics exactly
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val collected = p.collect()
    collected.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) {
          if (less(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    val nodes = collected.iterator
      .flatMap(r => Iterator(r.get(0), r.get(1))).filter(_ != null).toSet
    val labelRows: Seq[Row] = nodes.toSeq.map(k => Row(k, find(k)))
    val schema = StructType(Seq(
      StructField("ld", keyType), StructField("cluster", keyType)))
    val labelsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows.toIndexedSeq, 1), schema)
    s.release(p)
    val out = docs.select(col("doc_id"))
      .join(broadcast(labelsDf), col("doc_id") === col("ld"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("keep", col("doc_id") === col("cluster"))
    (out, () => ())
  }

  /** [[resolveClustersReleasable]]'s distributed fixpoint over the pinned,
    * materialized pair frame `p`, which is freed when `s` exits.
    */
  private def resolveDistributed(s: Pins.Scope, docs: DataFrame,
      p: DataFrame, maxIter: Int): (DataFrame, () => Unit) = {
    val edges = p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
    // active-set iteration: only docs that appear in an edge can ever move
    // off their own label, so the fixpoint loop runs on the (much smaller)
    // edge-endpoint vertex set; isolated docs join back at the end. In a
    // typical near-dup corpus the duplicate subgraph is a tiny fraction of
    // the corpus, so each iteration shuffles pair-scale, not corpus-scale.
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster"))
    var converged = false
    var i = 0
    // each iteration's materialized label table supersedes the previous
    // one; release superseded blocks eagerly — via the frame's own handle,
    // never by diffing the global persistent-RDD registry (which would
    // catch and unpersist RDDs that concurrent jobs persist meanwhile) —
    // so a long-lived session doesn't accumulate one pinned copy of the
    // label table per iteration. Iterations cache (adaptive execution
    // path, tiny label tables, reads hit blocks) and a localCheckpoint
    // every `truncateEvery` rounds bounds lineage depth — the
    // checkpoint's non-adaptive materialization cost is paid rarely and
    // on a cached, shallow plan.
    val truncateEvery = 5
    // the latest plain-persisted label frame and the live checkpoint
    var persisted: Option[DataFrame] = None
    var checkpoint: Option[DataFrame] = None
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("b") === labels("doc_id"))
        .groupBy(edges("a").as("nbr_doc")).agg(min("cluster").as("nbr_cluster"))
      // carry old + new label in one materialized pass: the convergence
      // check then reads the cached result instead of re-joining
      val updated = s.persist(labels
        .join(nbrMin, labels("doc_id") === nbrMin("nbr_doc"), "left")
        .select(labels("doc_id"), col("cluster").as("old_cluster"),
          least(col("cluster"), coalesce(col("nbr_cluster"), col("cluster"))).as("cluster")))
      val changed = updated.where(col("cluster") =!= col("old_cluster")).count()
      val superseded = persisted
      if ((i + 1) % truncateEvery == 0) {
        // shallow (cache-fed) plan, so the checkpoint is cheap here
        // (reliable under `graft.checkpoint.dir`, local otherwise)
        val snapshot = s.truncate(updated)
        s.release(updated)
        // only NOW is the previous checkpoint safe to release: the
        // persist-only frames of the intervening rounds recompute
        // through it if their blocks get LRU-evicted, so releasing it
        // while it was still the lineage root would turn an eviction
        // into a fatal "checkpoint block not found". The new snapshot is
        // eager and self-contained — nothing references the old one.
        checkpoint.foreach(s.release)
        checkpoint = Some(snapshot)
        persisted = None
        labels = snapshot.select("doc_id", "cluster")
      } else {
        persisted = Some(updated)
        labels = updated.select("doc_id", "cluster")
      }
      // the superseded plain-persisted frame releases eagerly; the live
      // checkpoint's blocks must survive until the next truncation
      superseded.foreach(s.release)
      converged = changed == 0
      i += 1
    }
    // the final labels stay pinned (the returned plan reads them); the
    // pairs cache goes with the scope once iteration ends. Unlike a
    // checkpoint release, unpersisting a cached frame is safe even if
    // maxIter <= 0 left `labels` reading p — the lineage is intact and
    // would simply recompute
    val out = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id").as("ld"), col("cluster")),
        col("doc_id") === col("ld"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("keep", col("doc_id") === col("cluster"))
    // the hook frees the final persisted frame; the live checkpoint (when
    // the fixpoint crossed a truncation round) IS the final labels or
    // their lineage root, so freeing it invalidates the returned plan: it
    // goes to the registry's invalidating tier, drained only after every
    // outstanding result is materialized
    val (release, _) = s.handOff("dedup.resolve_checkpoint",
      persisted.toSeq ++ checkpoint: _*)
    (out, release)
  }

  /** Winnowing fingerprints (rolling-hash document fingerprinting): hash
    * every positional k-gram, then keep the minimum hash of each sliding
    * window of `window` consecutive k-gram hashes. Guarantees any shared
    * substring of length ≥ k + window - 1 yields a shared fingerprint,
    * with ~2/(window+1) of hashes retained. One row per (doc, fingerprint).
    */
  /** Candidate near-dup pairs from shared winnowing fingerprints: docs
    * sharing at least `minShared` fingerprints. The fingerprint self-join
    * touches only same-fingerprint buckets (winnowing keeps ~2/(window+1)
    * of hashes, and buckets stay tiny because each fingerprint is a
    * specific k-gram hash), so cost is sum(bucket²), not n².
    */
  def winnowPairs(docs: DataFrame, minShared: Long = 3, k: Int = 5,
      window: Int = 4): DataFrame = {
    val fp = winnowFingerprints(docs, k, window)
    fp.as("x")
      .join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  def winnowFingerprints(docs: DataFrame, k: Int = 5, window: Int = 4): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .select(col("doc_id"), col("text"))
      .repartition(par)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("hs",
        expr(s"transform(sequence(0, greatest(size(toks) - $k, 0)), i -> ${portableHash64Sql(s"concat_ws(' ', slice(toks, i + 1, $k))")})"))
      .withColumn("fps",
        expr(s"array_distinct(transform(sequence(0, greatest(size(hs) - $window, 0)), j -> array_min(slice(hs, j + 1, $window))))"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .where(col("fp").isNotNull)
  }

  /** Leakage-free train/val/test split: near-duplicate documents must land
    * in the SAME split, or evaluation silently tests on paraphrases of
    * training data (the standard contamination failure a per-doc hash
    * split cannot prevent). Resolves the near-dup pair graph to connected
    * components ([[resolveClusters]]) and derives each document's split
    * from its CLUSTER label — singleton clusters reduce to the plain
    * [[TextOps.splitExpr]] assignment, so this strictly refines
    * `splitAssign` rather than re-randomizing it.
    *
    * Scale shape: inherits [[resolveClusters]]' adaptive components (the
    * pair graph, not the corpus, is the iterated state); the split itself
    * is a row-local hash expression on the resolved frame.
    */
  def leakageSplit(docs: DataFrame, pairs: DataFrame): DataFrame =
    resolveClusters(docs, pairs)
      .select(col("doc_id"), col("cluster"),
        TextOps.splitExpr(col("cluster")).as("split"))

  /** Per-cluster curation report over the resolved near-dup components:
    * how big each duplicate family is, how many sources it spans, and how
    * much text the dedup decision is about to drop. This is the rollup a
    * curation run reads BEFORE committing deletions — a family spanning
    * many sources is usually boilerplate (safe to collapse), while a
    * large single-source family can signal a scraper fault worth
    * auditing upstream instead of silently deduping.
    *
    * Scale shape: inherits [[resolveClusters]]' adaptive component
    * resolution, then ONE narrow shuffle — the per-cluster aggregation
    * keyed on the cluster label. Only multi-doc families survive the
    * HAVING, so the output is bounded by the duplicate count, not the
    * corpus.
    */
  def clusterFamilies(docs: DataFrame, pairs: DataFrame): DataFrame =
    resolveClusters(docs, pairs)
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        // chars the dedup pass deletes: everything but the survivor's
        sum(when(col("keep"), lit(0L)).otherwise(col("n_chars"))).as("chars_dropped"))
      .where(col("n_docs") >= 2)

  /** Quality-policy survivor selection over the resolved near-dup
    * components: instead of [[resolveClusters]]' min-id representative
    * (an arbitrary but deterministic choice), each multi-doc family keeps
    * its LONGEST member (`n_chars` max; ties break to the smallest
    * doc_id). Near-dup families are usually a full document plus
    * truncated/paywalled/boilerplate-wrapped copies — keeping the longest
    * retains the most content, the standard policy in corpus curation.
    * The policy column is `n_chars` here; any scalar quality score (a
    * classifier logit, [[TextOps]] quality signals) slots into the same
    * argmax shape.
    *
    * Scale shape: inherits [[resolveClusters]]' adaptive resolution, then
    * one aggregation keyed on the cluster label whose state is a single
    * `(n_chars, -doc_id)` struct max — map-side combined, no window, no
    * sort. Output is restricted to multi-doc families (singleton docs
    * trivially survive), so it is bounded by the duplicate count.
    */
  def survivorsByQuality(docs: DataFrame, pairs: DataFrame): DataFrame =
    // one election implementation: the length policy is the score policy
    // with n_chars as the score (every doc carries n_chars, so the
    // missing-score fallback never fires)
    survivorsByScore(docs, pairs,
      docs.select(col("doc_id"), col("n_chars").as("score")))

  /** [[survivorsByQuality]] with the policy column supplied by a SCORE
    * frame `(doc_id, score)` instead of `n_chars` — the slot the trained
    * quality classifier fills: pass
    * [[graft.operators.TextOps.nbQualityScore]]'s `logit_micro` and each
    * near-dup family keeps its highest-quality member (ties break to the
    * smallest doc_id). Same single argmax aggregate as the length
    * policy; docs missing from `scores` are treated as
    * lowest-quality (Long.MinValue) rather than silently dropped from
    * their family, and duplicate doc_id rows in `scores` collapse to
    * their MAX score before the join — a raw left join would fan each
    * duplicated doc into multiple labeled rows, inflating `n_docs` and
    * emitting duplicate output rows.
    */
  def survivorsByScore(docs: DataFrame, pairs: DataFrame,
      scores: DataFrame): DataFrame = {
    val uniq = scores.groupBy(col("doc_id")).agg(max(col("score")).as("score"))
    val labeled = resolveClusters(docs, pairs)
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("score", coalesce(col("score"), lit(Long.MinValue)))
    val surv = labeled.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"))
      .where(col("n_docs") >= 2)
      .select(col("cluster"), (-col("m.nid")).as("survivor_id"))
    labeled.join(surv, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("keep"))
  }

  /** Source×source near-duplicate overlap matrix: roll the (not
    * source-blocked) MinHash near-dup pairs up to ordered source pairs —
    * how many near-dup pairs cross each source boundary, and how strong
    * they are. The off-diagonal cells are the cross-source contamination
    * signal (two crawls of the same sites, a dataset repackaged under a
    * new name) that decides whether sources can be mixed as independent
    * or must share one dedup pass; the diagonal is each source's internal
    * redundancy.
    *
    * Scale shape: pair generation is [[minhashPairs]]' banded LSH
    * (Σbucket², never n²); the rollup is two broadcast-friendly joins to
    * the (doc_id, source) projection and ONE aggregation on the ordered
    * source pair — output bounded by #sources², not pairs. `max_jaccard`
    * is order-independent (exact under any engine); `avg_jaccard` rounds
    * to 4dp to absorb summation-order drift.
    */
  def crossSourceDupMatrix(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.as("sa"), col("a") === col("sa.doc_id"))
      .join(src.as("sb"), col("b") === col("sb.doc_id"))
      .select(
        least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"),
        col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"),
        // the mean runs over exact basis points (jaccard is 4dp by
        // contract, so ×10⁴ is integral): the sum is order-independent
        // and the one FP division is identical from identical integers
        // in any engine — a plain avg() drifted a ulp across the 4dp
        // boundary on big cells at sf0.1
        round((sum(expr("cast(round(jaccard * 10000) as bigint)"))
          .cast("double") / count(lit(1)).cast("double")) / lit(10000.0), 4)
          .as("avg_jaccard"))
  }
}
