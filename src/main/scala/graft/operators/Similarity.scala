package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Pins

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and an LSH-bucketed (random
  * hyperplane / sign-bit) variant as the 100 TB scale path. North-star
  * scope — the reference has no vector model (its records are opaque text,
  * SURVEY.md §1).
  *
  * All vector math uses `zip_with`/`aggregate` higher-order functions —
  * codegen'd, left-to-right fold, so dot products are bit-deterministic and
  * reproducible across engines.
  */
object Similarity {

  /** Elementwise dot product of two double-array columns: the native
    * codegen'd expression (ascending-index fold — bit-identical to the
    * interpreted `aggregate(zip_with(...))` formulation it replaces).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dotNative(a, b)

  /** L2 norm of a double-array column. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cast `embedding` float array to double and precompute the norm. A
    * plain array cast, not `transform(_, _.cast(...))`: higher-order
    * functions are excluded from whole-stage codegen, and this projection
    * feeds every similarity hot loop. Element values are identical either
    * way (same float→double widening).
    */
  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Package-private bridges for the streaming twins
    * ([[graft.streaming.VectorStreams]]): the SAME preparation and
    * rounded-cosine expressions, so stream and batch scoring cannot
    * diverge.
    */
  private[graft] def preparedFrame(embeddings: DataFrame): DataFrame =
    prepared(embeddings)
  private[graft] def cosSimCol(d: Column, na: Column, nb: Column): Column =
    cosSim(d, na, nb)

  /** Cosine similarity with a zero-norm guard: a zero vector has no
    * direction and 0/0 = NaN — which Spark's total ordering sorts ABOVE
    * every real double, so an unguarded zero embedding would outrank
    * every true neighbor in the top-k windows and pass every
    * `sim >= minSim` filter. Zero-norm pairs score -1 instead: ranked
    * last, excluded by any non-degenerate threshold.
    */
  private def cosSim(d: Column, na: Column, nb: Column): Column =
    when(na * nb === 0d, lit(-1.0)).otherwise(round(d / (na * nb), 4))

  /** Self-pair join condition: by default queries are corpus rows and the
    * trivial sim=1 self match is excluded by id. External queries with
    * their OWN id space must pass excludeSelf=false — the id equality
    * would otherwise silently drop one unrelated corpus neighbor per
    * colliding id.
    */
  private def notSelf(excludeSelf: Boolean): Column =
    if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)

  /** Dimensionality of the embedding column (first-row probe; 0 when
    * empty). The PQ/LSH paths slice by a caller-passed `dims` — a
    * mismatch would silently truncate vectors or score empty slices, so
    * they fail fast here instead.
    */
  private def requireDims(embeddings: DataFrame, dims: Int, op: String): Unit =
    embeddings.select(size(col("embedding"))).head(1).foreach { r =>
      val actual = r.getInt(0)
      require(actual == dims,
        s"$op: dims=$dims but the embedding column has $actual dimensions")
    }

  /** Brute-force cosine top-k: for each query vector (small set), score
    * every corpus vector and keep the k best. The query side is broadcast;
    * the corpus streams through a nested-loop join — one pass, no shuffle
    * of the corpus, then a per-query top-k (tiny window: queries × corpus
    * rows collapse to k per query via rank over a partition that AQE keeps
    * narrow). Rounded similarity gives deterministic, engine-portable
    * ordering.
    */
  def cosineTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      excludeSelf: Boolean = true): DataFrame = {
    val corpus = prepared(embeddings)
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = corpus
      .join(broadcast(q), notSelf(excludeSelf))
      .select(col("query_id"), col("vec_id").as("nbr_id"),
        cosSim(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Convenience: top-k where queries = corpus rows with vec_id < nQueries. */
  def cosineTopKPrefix(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame =
    cosineTopK(embeddings, embeddings.where(col("vec_id") < nQueries), k)

  /** Hard-negative mining for contrastive training: for each query
    * vector (corpus rows with `vec_id < nQueries`), the `k`
    * most-similar corpus vectors carrying a DIFFERENT label — the
    * negatives nearest the decision boundary, which a contrastive loss
    * (InfoNCE / triplet) learns most from; random negatives are mostly
    * too easy to move the model. Output `(query_id, query_label,
    * nbr_id, nbr_label, sim, rnk)` with [[cosineTopK]]'s rounded,
    * tie-broken deterministic ordering.
    *
    * Scale shape: [[cosineTopK]]'s one broadcast nested-loop pass with
    * the label-mismatch predicate pushed INTO the join condition —
    * same-label rows are dropped before scoring, never reaching the
    * per-query top-k window.
    */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 8,
      k: Int = 3): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = base
      .join(broadcast(q), col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("nbr_id"), col("label").as("nbr_label"),
        cosSim(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Triplet-margin audit — [[hardNegatives]]' companion eval metric:
    * for each query vector, the best same-label similarity (excluding
    * self) vs the best different-label similarity, and their margin. A
    * violated margin (`top_neg >= top_pos`) means a wrong-label vector
    * sits closer than every right-label one — the per-vector symptom of
    * label noise or an embedding too weak for the label space
    * ([[clusterPurity]] aggregates the same failure; this pinpoints the
    * vectors). `top_pos` is null (margin null) for a query whose label
    * has no other member.
    *
    * Scale shape: one broadcast nested-loop scoring pass, then two
    * conditional MAX aggregates per query — map-side combinable, no
    * window, no second pass.
    */
  def labelMargins(embeddings: DataFrame, nQueries: Int = 8): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("query_label"), col("label"),
        cosSim(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("sim"))
      .groupBy("query_id", "query_label")
      .agg(
        max(when(col("label") === col("query_label"), col("sim")))
          .as("top_pos"),
        max(when(col("label") =!= col("query_label"), col("sim")))
          .as("top_neg"))
      .withColumn("margin", round(col("top_pos") - col("top_neg"), 4))
      .withColumn("violated", col("margin") <= 0)
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998 — the standard RAG re-rank that keeps near-duplicate passages
    * from crowding a result list): per query, greedily select `k` of the
    * top-`pool` relevance candidates, each step maximizing
    * `λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s)`. All comparisons
    * run on INTEGER scores (4dp-rounded cosines scaled to 1e4,
    * λ as an integer percent), ties break on nbr_id — engine-replayable
    * end to end. Output: `(query_id, nbr_id, mmr_rank, score_scaled)`
    * where `score_scaled = lambdaPct·sq − (100−lambdaPct)·maxSel`
    * (maxSel = 0 for the pure-relevance first pick).
    *
    * Scale shape: the corpus-scale work is [[cosineTopK]]'s one scored
    * pass; everything after runs on pool-bounded frames — the pairwise
    * leg is pool² rows per query (pool is a re-rank constant, 12), and
    * the greedy selection itself is ROW-LOCAL per query: the pool and
    * its pairwise sims roll up into per-query arrays and one native
    * expression ([[graft.functions.MmrSelect]]) runs all k steps — a
    * million queries fan out with a CONSTANT number of stages, nothing
    * collects. (The first cut ran k−1 distributed rounds instead;
    * profiling showed 30 tiny stages whose scheduling dominated wall
    * 4:1 — re-rank loops over re-rank-constant pools belong inside a
    * row, not across stages.)
    */
  def mmrRerank(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      pool: Int = 12, lambdaPct: Int = 70,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && pool >= k, s"mmrRerank: need pool=$pool >= k=$k")
    require(lambdaPct >= 0 && lambdaPct <= 100, "mmrRerank: lambdaPct in [0,100]")
    val cand0 = cosineTopK(embeddings, queries, pool, excludeSelf)
      .select(col("query_id"), col("nbr_id"),
        round(col("sim") * 10000).cast("long").as("sq"))
    val p = prepared(embeddings)
      .select(col("vec_id").as("nbr_id"), col("v"), col("nrm"))
    // count barrier: one corpus scoring pass feeds all rounds
    val (cand, _) = Pins.materialize("similarity.mmr_cand",
      cand0.join(p, Seq("nbr_id")).select("query_id", "nbr_id", "sq", "v", "nrm"))
    val x = cand.select(col("query_id"), col("nbr_id").as("a"),
      col("v").as("va"), col("nrm").as("na"))
    val y = cand.select(col("query_id"), col("nbr_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val cc = x.join(y, Seq("query_id")).where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(cosSim(dot(col("va"), col("vb")), col("na"), col("nb")) * 10000)
          .cast("long").as("s"))
    val candsArr = cand.groupBy("query_id")
      .agg(collect_list(struct(col("nbr_id"), col("sq"))).as("cands"))
    val ccArr = cc.groupBy("query_id")
      .agg(collect_list(struct(col("a"), col("b"), col("s"))).as("pairs"))
    val emptyPairs = expr(
      "cast(array() as array<struct<a:bigint,b:bigint,s:bigint>>)")
    candsArr.join(ccArr, Seq("query_id"), "left") // 1-candidate pools: no pairs
      .select(col("query_id"), explode(graft.functions.MmrFunctions.mmrSelect(
        col("cands"), coalesce(col("pairs"), emptyPairs), k, lambdaPct)).as("e"))
      .select(col("query_id"), col("e.nbr_id").as("nbr_id"),
        col("e.mmr_rank").as("mmr_rank"),
        col("e.score_scaled").as("score_scaled"))
  }

  /** Int8 quantization for embedding storage: symmetric max-abs scaling to
    * [-127, 127] bytes — 4× smaller at rest than float32, 8× smaller than
    * the double compute form; the per-vector scale restores approximate
    * values (|error| ≤ scale/127). Row-local, shuffle-free.
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val scale = array_max(transform(v, x => abs(x)))
    embeddings.select(
      col("vec_id"),
      round(scale, 6).as("scale"),
      transform(v, x => round(x / scale * 127).cast("byte")).as("q"))
  }

  /** Johnson–Lindenstrauss random projection to `k` dimensions via a
    * deterministic ±1 sign matrix (Achlioptas 2003: ±1 entries preserve
    * pairwise distances as well as Gaussian ones, at integer cost). Sign
    * `s(j, d)` = parity of the portable 60-bit md5 of `"p:j:d"` — the
    * same hash scheme the LSH planes ride ([[lshPlanes]], distinct key
    * prefix so the two matrices are independent) — so any engine with
    * md5 replays the matrix exactly (DuckDB:
    * `('0x'||substr(md5('p:'||j||':'||d),1,15))::BIGINT % 2`).
    *
    * Exactness: inputs quantize to micro-units first
    * (`round(x·1e6) : BIGINT`), so each output coordinate is an INTEGER
    * signed sum — order-independent, engine-exact — in micro-units.
    *
    * Scale shape: entirely row-local (the sign matrix inlines as k
    * literal arrays; each output coordinate is one codegen'd
    * `aggregate(zip_with(...))` fold) — no shuffle, no broadcast, no
    * driver state beyond the k×dims literal. This is the cheap
    * dimensionality-reduction front end for clustering at the 100 TB
    * scale: project once row-locally, run k-means/dedup in k dims.
    * Output long form `(vec_id, j, y_micro)` for portable comparison;
    * use [[projectEmbeddingsWide]] for the array form downstream ops
    * consume.
    */
  def projectEmbeddings(embeddings: DataFrame, k: Int = 16): DataFrame = {
    require(k > 0, s"projectEmbeddings: k must be positive, got $k")
    // the y columns come from [[projectColumns]] (native codegen'd dot);
    // the long form unpivots them through `stack`, NOT posexplode over a
    // computed array — InferFiltersFromGenerate rewrites ExplodeBase
    // generators with a pre-Filter that would re-evaluate every fold
    // (2× CPU, seen in the formatted plan); Stack is not rewritten
    val k2 = projectColumns(embeddings, k)
    k2.selectExpr("vec_id",
      s"stack($k, ${(0 until k).map(j => s"$j, y$j").mkString(", ")}) " +
        "as (j, y_micro)")
  }

  /** [[projectEmbeddings]] in array form: `(vec_id, y: array<bigint>)`. */
  def projectEmbeddingsWide(embeddings: DataFrame, k: Int = 16): DataFrame = {
    require(k > 0, s"projectEmbeddings: k must be positive, got $k")
    projectColumns(embeddings, k)
      .select(col("vec_id"),
        array((0 until k).map(j => col(s"y$j")): _*).as("y"))
  }

  /** Shared projection core: one column per output dim, each the NATIVE
    * codegen'd [[dot]] of the micro-unit vector against its ±1 sign row
    * (both integral-valued doubles — exact up to 2⁵³, so the long cast
    * loses nothing; the interpreted `aggregate(zip_with(...))`
    * formulation it replaces ran outside whole-stage codegen with
    * per-element boxing — isolated sf0.1 median 1.08 s → see commit).
    */
  private def projectColumns(embeddings: DataFrame, k: Int): DataFrame = {
    val w = jlSigns(k, embDims(embeddings))
    val outCols = (0 until k).map { j =>
      graft.functions.VectorFunctions
        .dotNative(col("xi"), typedlit(w(j)))
        .cast("long").as(s"y$j")
    }
    embeddings.select(col("vec_id"), jlMicro.as("xi"))
      .select(col("vec_id") +: outCols: _*)
  }

  /** The k×dims ±1 JL sign matrix (md5-parity recipe — see
    * [[projectEmbeddings]]'s scaladoc for the DuckDB replay), as
    * integral doubles for the native dot.
    */
  private def jlSigns(k: Int, dims: Int): Seq[Seq[Double]] = {
    def h60(s: String): Long = graft.functions.PortableMd5.hash64(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Seq.tabulate(k, dims)((j, d) => if (h60(s"p:$j:$d") % 2 == 0) 1d else -1d)
  }

  /** Embedding column in micro-unit integers (integral doubles: exact
    * below 2⁵³, and the native dot consumes `array<double>`).
    */
  private def jlMicro: Column = expr(
    "transform(cast(embedding as array<double>), x -> round(x * 1e6))")

  /** Dimension count probe (0 on an empty table) — verified UNIFORM with
    * one map-side-combined min/max aggregate: sizing the JL sign matrix
    * (or any per-dim structure) from one arbitrary row would let a
    * mixed-dims corpus silently fold truncated dot products instead of
    * failing loudly.
    */
  private def embDims(embeddings: DataFrame): Int = {
    val r = embeddings.agg(min(size(col("embedding"))).as("mn"),
      max(size(col("embedding"))).as("mx")).head()
    if (r.isNullAt(0)) 0
    else {
      require(r.getInt(0) == r.getInt(1),
        s"embedding dims must be uniform, found ${r.getInt(0)}..${r.getInt(1)}")
      r.getInt(0)
    }
  }

  /** Scalar digest of [[quantizeEmbeddings]] for engine-portable checks:
    * per-vector dimension count and sum/min/max of the int8 codes. (The raw
    * `q` array column stays the library surface; array columns don't sort
    * portably across engines, so the verification view is scalar.)
    */
  def quantizeDigest(embeddings: DataFrame): DataFrame =
    quantizeEmbeddings(embeddings).select(
      col("vec_id"),
      col("scale"),
      size(col("q")).as("n_dims"),
      aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
      array_min(col("q")).cast("int").as("q_min"),
      array_max(col("q")).cast("int").as("q_max"))

  /** Per-label embedding statistics (count, norm distribution). */
  /** Embedding-space drift profile per document source: how far each
    * source's vectors sit from the corpus as a whole. `avg_cos_global` is
    * the mean per-document cosine to the global centroid (spread:
    * low = the source's docs scatter away from the corpus center);
    * `centroid_drift` is 1 − cos(source centroid, global centroid)
    * (systematic shift: high = the whole source points somewhere else —
    * a new crawl snapshot whose distribution moved, a mislabeled
    * ingest, a source that needs its own mixing weight).
    *
    * Scale shape: one equi-join docs↔embeddings (AQE broadcasts the doc
    * side if it fits), ONE corpus aggregate for the global centroid
    * (all-reduce to a single 1-row frame, broadcast back), one per-source
    * aggregate with map-side partials. The per-doc cosine is the
    * codegen'd [[dot]] against the broadcast centroid — no corpus-side
    * second shuffle. Averages are rounded to 4dp, making the result
    * stable under summation-order differences across engines/runs.
    */
  def sourceDrift(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val j = docs.select(col("doc_id"), col("source"))
      .join(prepared(embeddings), col("doc_id") === col("vec_id"))
      .select(col("source"), col("v"), col("nrm"))
    val g = j
      .agg(graft.functions.VectorFunctions.vecSum(col("v")).as("gs"),
        count(lit(1)).as("gn"))
      .select(transform(col("gs"), x => x / col("gn")).as("gv"))
    val perSrc = j.crossJoin(broadcast(g))
      .withColumn("gnrm", norm(col("gv")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_vecs"),
        avg(col("nrm")).as("_avg_norm"),
        avg(when(col("nrm") * col("gnrm") === 0d, lit(-1.0))
          .otherwise(dot(col("v"), col("gv")) / (col("nrm") * col("gnrm"))))
          .as("_avg_cos"),
        graft.functions.VectorFunctions.vecSum(col("v")).as("ss"))
    perSrc.crossJoin(broadcast(g))
      .withColumn("sv", transform(col("ss"), x => x / col("n_vecs")))
      .select(col("source"), col("n_vecs"),
        round(col("_avg_norm"), 4).as("avg_norm"),
        round(col("_avg_cos"), 4).as("avg_cos_global"),
        when(norm(col("sv")) * norm(col("gv")) === 0d, lit(2.0))
          .otherwise(round(lit(1.0)
            - dot(col("sv"), col("gv")) / (norm(col("sv")) * norm(col("gv"))), 4))
          .as("centroid_drift"))
  }

  def embeddingStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        norm(col("embedding").cast("array<double>")).as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        round(avg("nrm"), 4).as("avg_norm"),
        round(min("nrm"), 4).as("min_norm"),
        round(max("nrm"), 4).as("max_norm"))

  /** Clustering quality against reference labels: the (cluster, label)
    * contingency rolled to per-cluster purity — share of the cluster's
    * vectors carrying its majority label (ties break to the smallest
    * label id, deterministic). The standard sanity metric run after
    * [[kmeansAssign]] before the clusters drive anything downstream
    * (SemDeDup budgets, curriculum strata): low-purity clusters mean k
    * is wrong or the embedding space does not separate the taxonomy.
    *
    * Scale shape: the assignment is [[kmeansAssign]]'s broadcast-argmin
    * (no corpus exchange per round); on top of it ONE (cid, label)
    * count aggregate — map-side combined, k·|labels| rows — and a k-row
    * struct-max rollup. Nothing beyond the assignment ever shuffles the
    * corpus.
    */
  def clusterPurity(embeddings: DataFrame, kClusters: Int = 8,
      iters: Int = 2): DataFrame =
    purityRollup(kmeansAssignFull(embeddings, kClusters, iters,
      carry = Seq("label")))

  /** The (cid, label) contingency rollup shared by [[clusterPurity]]
    * and [[clusterPurityWith]].
    */
  private def purityRollup(assigned: DataFrame): DataFrame = {
    val cont = assigned.groupBy("cid", "label").agg(count(lit(1)).as("n"))
    cont.groupBy("cid")
      .agg(sum(col("n")).as("n_vecs"),
        // lexicographic struct max = argmax(count, then smallest label)
        max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
      .select(col("cid"), col("n_vecs"),
        (-col("m.nl")).as("top_label"), col("m.n").as("top_n"),
        round(col("m.n").cast("double") / col("n_vecs").cast("double"), 4)
          .as("purity"))
  }

  /** Label-noise audit (the confident-learning-style screen a labeled
    * training corpus runs before fine-tuning): centroid per LABEL, then
    * every vector's nearest-centroid assignment — a vector whose nearest
    * label centroid is NOT its own label is a mislabel suspect. Reports
    * the per-label rollup `(label, n_vecs, n_suspect, suspect_rate)`;
    * pair with a topK over margins for the triage list.
    *
    * Scale shape: label centroids are ONE map-side-combined vector-sum
    * aggregate (|labels| rows); the centroid table packs into a single
    * broadcast row exactly like [[kmeansAssign]]'s nearest-centroid
    * pipeline (row-local argmin over per-element (dist, label) structs,
    * NO corpus exchange); the rollup is a |labels|-row aggregate.
    * Argmin ties break to the smaller label id — deterministic, and the
    * double distance replay is the same form the kmeans oracle already
    * hash-matches.
    */
  def labelNoiseAudit(embeddings: DataFrame): DataFrame = {
    val p = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    val cents = p.groupBy(col("label").as("cid"))
      .agg(graft.functions.VectorFunctions.vecSum(col("v")).as("sum"),
        count(lit(1)).as("cn"))
      .select(col("cid"), transform(col("sum"), x => x / col("cn")).as("c"))
    val packed = cents
      .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cl"))
    p.crossJoin(broadcast(packed))
      .withColumn("m",
        array_min(transform(col("cl"), e =>
          struct(
            (dot(col("v"), col("v"))
              - lit(2.0) * dot(col("v"), e.getField("c"))
              + dot(e.getField("c"), e.getField("c"))).as("dist"),
            e.getField("cid").as("cid")))))
      .select(col("label"), col("m").getField("cid").as("near"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("near") =!= col("label"), 1L).otherwise(0L))
          .as("n_suspect"))
      .select(col("label"), col("n_vecs"), col("n_suspect"),
        round(col("n_suspect").cast("double") / col("n_vecs").cast("double"), 4)
          .as("suspect_rate"))
  }

  /** Per-dimension z-score standardization of the embedding corpus:
    * `z_i = (x_i − μ_i)/σ_i` with population σ (zero-variance dims map
    * to 0). The preprocessing step before distance-based work when
    * dimensions carry heterogeneous scales — unstandardized, a single
    * wide dimension dominates every L2 distance [[kmeansAssign]] or IVF
    * probes compute.
    *
    * Scale shape: ONE corpus pass builds the per-dim moment table
    * (posexplode → 64-row aggregate — map-side combined, rows bounded by
    * dim count), packed into single mean/std arrays and broadcast back;
    * the transform itself is a row-local projection. Output rounds to
    * 4dp so the moment summation order (engine-dependent at 1 ulp)
    * cannot surface.
    */
  def standardizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val p = prepared(embeddings).select(col("vec_id"), col("v"))
    // the moments round to 6dp BEFORE the transform: μ/σ carry ~1-ulp
    // summation-order drift across engines, and an unrounded moment can
    // push (x−μ)/σ onto the opposite side of an output rounding boundary.
    // Rounded moments are bit-identical everywhere, and from identical
    // inputs the IEEE subtract/divide — and hence the 4dp output — agree
    // exactly.
    val moments = p
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(round(avg(col("x")), 6).as("mu"),
        round(stddev_pop(col("x")), 6).as("sg"))
    val packed = moments.agg(
      array_sort(collect_list(struct(col("i"), col("mu"), col("sg")))).as("ms"))
      .select(transform(col("ms"), e => e("mu")).as("mu"),
        transform(col("ms"), e => e("sg")).as("sg"))
    p.crossJoin(broadcast(packed))
      .select(col("vec_id"),
        zip_with(col("v"), sequence(lit(0), size(col("v")) - 1), (x, i) => {
          val mu = element_at(col("mu"), i.cast("int") + 1)
          val sg = element_at(col("sg"), i.cast("int") + 1)
          // + 0.0 canonicalizes IEEE −0.0 (a tiny negative rounds to it)
          // to +0.0 — engines disagree on the sign bit's formatting
          round(when(sg === 0d, lit(0.0)).otherwise((x - mu) / sg), 4) + lit(0.0)
        }).as("z"))
  }

  /** Robust per-dimension scaling — the outlier-resistant complement to
    * [[standardizeEmbeddings]]: `z_i = (x_i − med_i)/mad_i` with
    * `med` = the per-dim median and `mad` = median absolute deviation
    * (zero-MAD dims map to 0). Where a single corrupt vector can drag a
    * mean/σ arbitrarily, the median/MAD breakdown point is 50% — the
    * right normalization when embedding batches may contain garbage rows
    * (failed decodes, zero vectors) that shouldn't poison the scale.
    *
    * Determinism: both engines compute the even-count median as the
    * midpoint interpolation of the two central order statistics — the
    * same IEEE add/halve on the same multiset — and the moments round to
    * 6dp before the transform (the [[standardizeEmbeddings]] discipline),
    * so the 4dp output replays exactly.
    *
    * Scale shape: two posexplode → dim-bounded aggregates (median, then
    * MAD with the 64-row med table broadcast back into the second pass),
    * each map-side reducible only in its sort — exact percentiles DO sort
    * per dim, but each dim's group is corpus-rows long, not corpus-wide,
    * and 64 groups spread across the cluster. For sketch-precision at
    * extreme scale, swap `percentile` for `percentile_approx` the way
    * [[quantilesApprox]] shadows exact quantiles. The transform itself is
    * a row-local projection against the broadcast moment arrays.
    */
  def robustScaleEmbeddings(embeddings: DataFrame): DataFrame = {
    val p = prepared(embeddings).select(col("vec_id"), col("v"))
    val d = p.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val med = d.groupBy("i")
      .agg(round(expr("percentile(x, 0.5)"), 6).as("med"))
    val mad = d.join(broadcast(med), "i")
      .groupBy("i")
      .agg(round(expr("percentile(abs(x - med), 0.5)"), 6).as("mad"))
      .join(broadcast(med), "i")
    val packed = mad.agg(
      array_sort(collect_list(struct(col("i"), col("med"), col("mad")))).as("ms"))
      .select(transform(col("ms"), e => e("med")).as("med"),
        transform(col("ms"), e => e("mad")).as("mad"))
    p.crossJoin(broadcast(packed))
      .select(col("vec_id"),
        zip_with(col("v"), sequence(lit(0), size(col("v")) - 1), (x, i) => {
          val m = element_at(col("med"), i.cast("int") + 1)
          val s = element_at(col("mad"), i.cast("int") + 1)
          round(when(s === 0d, lit(0.0)).otherwise((x - m) / s), 4) + lit(0.0)
        }).as("z"))
  }

  /** Scalar digest of [[robustScaleEmbeddings]] — same integer
    * basis-point shape as [[standardizeDigest]], same rationale.
    */
  def robustScaleDigest(embeddings: DataFrame): DataFrame = {
    val bp = transform(col("z"), x => round(x * 10000d).cast("long"))
    robustScaleEmbeddings(embeddings).select(
      col("vec_id"),
      size(col("z")).as("n_dims"),
      aggregate(bp, lit(0L), (acc, x) => acc + x).as("z_sum_bp"),
      array_min(bp).as("z_min_bp"),
      array_max(bp).as("z_max_bp"))
  }

  /** Top principal component of the (centered) embedding corpus by
    * fixed-round power iteration — the measurement behind embedding
    * whitening / "all-but-the-top" postprocessing: a corpus whose top PC
    * carries most of the variance has a dominant common direction
    * (frequency artifacts, a template header) that distance-based dedup
    * and ANN should remove first.
    *
    * Exact cross-engine replay is the design constraint, solved the same
    * way the engine's other iterative ops do it — integers wherever an
    * aggregation's order is uncontrolled, IEEE doubles only in
    * fixed-order row-local folds:
    *   - centered values quantize to micro-units (`xi = round((x−μ)·10⁶)`,
    *     μ rounded to 6dp) — all corpus-scale sums are then integer and
    *     order-independent;
    *   - the per-vector projection `p = Σ xi·vi` is a row-local long fold
    *     (no overflow: |xi|·|vi| ≤ 10¹³, 64 terms);
    *   - the per-dim reduction `w_i = Σ xi·p` runs in decimal(38,0) —
    *     exact at any corpus size up to ~10³⁰ row-terms;
    *   - the normalization alone uses doubles, but over the SORTED 64-dim
    *     vector with an explicit left fold, so the summation order is
    *     pinned; both engines then divide/round identical IEEE values.
    * Result: 64 rows `(i, pc_micro)` — the unit PC in integer
    * micro-units, hash-identical in any engine.
    *
    * Scale shape per iteration: one row-local projection against the
    * broadcast direction + one dim-bounded decimal aggregate (map-side
    * combined); the quantized matrix is computed once and persisted
    * (released via [[graft.plans.ReleaseRegistry]]). Iterations are a
    * fixed small count (power iteration converges geometrically in the
    * spectral-gap ratio; 2 rounds match the kmeans oracle-replay
    * precedent).
    */
  def topPrincipalComponent(embeddings: DataFrame, iters: Int = 2): DataFrame = {
    val (_, vcur) = powerIteration(embeddings, iters)
    vcur.select(posexplode(col("varr")).as(Seq("i0", "pc_micro")))
      .select(col("i0").cast("int").as("i"), col("pc_micro"))
  }

  /** Shared power-iteration core: returns the persisted micro-unit
    * centered matrix `(vec_id, xi: array<long>)` (release queued with the
    * registry) and the 1-row unit-PC frame `(varr: array<long>)` in
    * micro-units after `iters` rounds. Arithmetic contract documented on
    * [[topPrincipalComponent]].
    */
  private def powerIteration(embeddings: DataFrame,
      iters: Int): (DataFrame, DataFrame) = {
    val p = prepared(embeddings).select(col("vec_id"), col("v"))
    val mu = p.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(round(avg("x"), 6).as("mu"))
    val muArr = mu
      .agg(array_sort(collect_list(struct(col("i"), col("mu")))).as("ms"))
      .select(transform(col("ms"), e => e("mu")).as("mu"))
    val (xi, _) = Pins.materialize("similarity.top_pc", p.crossJoin(broadcast(muArr))
      .select(col("vec_id"),
        zip_with(col("v"), col("mu"),
          (x, m) => round((x - m) * 1e6).cast("long")).as("xi")))

    val dims = p.select(size(col("v"))).head.getInt(0)
    // v0 = uniform unit direction; 1/8 = 0.125 is exactly representable,
    // so for 64 dims the seed is bit-exact in micro-units
    val v0 = (0 until dims).map(_ => lit(math.round(1e6 / math.sqrt(dims))))
    var vcur = xi.sparkSession.range(1)
      .select(array(v0: _*).cast("array<long>").as("varr"))
    for (_ <- 1 to iters) {
      val proj = xi.crossJoin(broadcast(vcur))
        .select(col("vec_id"), col("xi"),
          aggregate(zip_with(col("xi"), col("varr"), (a, b) => a * b),
            lit(0L), (acc, y) => acc + y).as("p"))
      val w = proj
        .select(col("p"), posexplode(col("xi")).as(Seq("i", "x")))
        .groupBy("i")
        .agg(sum(col("x").cast("decimal(19,0)") * col("p").cast("decimal(19,0)"))
          .as("w"))
      vcur = w
        .agg(array_sort(collect_list(
          struct(col("i"), col("w").cast("double").as("wd")))).as("ms"))
        .select(transform(col("ms"), e => e("wd")).as("wds"))
        .select(col("wds"),
          sqrt(aggregate(col("wds"), lit(0.0), (acc, y) => acc + y * y))
            .as("nrm"))
        .select(transform(col("wds"),
          y => round(y / col("nrm") * 1e6).cast("long")).as("varr"))
    }
    (xi, vcur)
  }

  /** "All-but-the-top" postprocessing (Mu & Viswanath 2018): subtract
    * each centered vector's projection onto the corpus top PC —
    * `x' = x̄ − (x̄·u)u` — removing the dominant common direction that
    * inflates every cosine similarity. Emitted as the engine-portable
    * integer digest (per-vector sum/min/max of `round(x'_i·10⁴)`), the
    * same verification shape as [[standardizeDigest]].
    *
    * Exactness: the projection `p = Σ xi·ui` is integer; the residual is
    * then a per-element scalar double expression (`xi/10⁶ −
    * (p/10¹²)·(ui/10⁶)`) evaluated with the identical operation order in
    * both engines. Scale shape: the [[powerIteration]] passes plus ONE
    * row-local projection — nothing new shuffles.
    */
  def abttDigest(embeddings: DataFrame, iters: Int = 2): DataFrame = {
    val (xi, vcur) = powerIteration(embeddings, iters)
    val bp = xi.crossJoin(broadcast(vcur))
      .select(col("vec_id"), col("xi"), col("varr"),
        aggregate(zip_with(col("xi"), col("varr"), (a, b) => a * b),
          lit(0L), (acc, y) => acc + y).as("p"))
      .select(col("vec_id"),
        zip_with(col("xi"), col("varr"), (x, u) =>
          round((x.cast("double") / 1e6
            - col("p").cast("double") / 1e12 * (u.cast("double") / 1e6)) * 1e4)
            .cast("long")).as("bp"))
    bp.select(
      col("vec_id"),
      size(col("bp")).as("n_dims"),
      aggregate(col("bp"), lit(0L), (acc, x) => acc + x).as("r_sum_bp"),
      array_min(col("bp")).as("r_min_bp"),
      array_max(col("bp")).as("r_max_bp"))
  }

  /** Variance share of the top principal component — the scalar that
    * decides whether [[abttDigest]] is worth applying: `Σp²/(Σ‖x̄‖²·10¹²)`
    * over the micro-unit quantized corpus, both sums exact decimal
    * integers (order-free), the final ratio a single double division
    * rounded to 6dp. One extra corpus aggregate over the persisted
    * quantized matrix; at ≳10⁹ vectors the p² sum approaches decimal(38)
    * capacity — downscale `p` first if that regime is real.
    */
  def pcVarianceShare(embeddings: DataFrame, iters: Int = 2): DataFrame = {
    val (xi, vcur) = powerIteration(embeddings, iters)
    xi.crossJoin(broadcast(vcur))
      .select(col("vec_id"),
        aggregate(zip_with(col("xi"), col("varr"), (a, b) => a * b),
          lit(0L), (acc, y) => acc + y).as("p"),
        aggregate(col("xi"), lit(0L), (acc, x) => acc + x * x).as("x2"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("p").cast("decimal(19,0)") * col("p").cast("decimal(19,0)"))
          .as("p2"),
        sum(col("x2").cast("decimal(38,0)")).as("xx"))
      .select(col("n_vecs"),
        round(col("p2").cast("double")
          / (col("xx").cast("double") * 1e12), 6).as("var_share"))
  }

  /** Scalar digest of [[standardizeEmbeddings]] for engine-portable checks
    * (same rationale as [[quantizeDigest]]: array columns don't sort
    * portably across oracle engines, so the verification view is scalar).
    * The z values are already rounded to 4dp, so `round(z·10⁴)` recovers
    * the exact basis-point integer; all digest arithmetic is then integer
    * (sum/min/max of longs) — no summation-order or formatting drift is
    * possible. Row-local on top of the standardize projection.
    */
  def standardizeDigest(embeddings: DataFrame): DataFrame = {
    val bp = transform(col("z"), x => round(x * 10000d).cast("long"))
    standardizeEmbeddings(embeddings).select(
      col("vec_id"),
      size(col("z")).as("n_dims"),
      aggregate(bp, lit(0L), (acc, x) => acc + x).as("z_sum_bp"),
      array_min(bp).as("z_min_bp"),
      array_max(bp).as("z_max_bp"))
  }

  /** IVF (inverted-file) approximate nearest neighbor — the scale path for
    * large corpora: vectors are bucketed by nearest centroid; a query
    * probes only its `nProbe` closest buckets, so scored candidates shrink
    * by ~nProbe/nList versus brute force.
    *
    * Centroids are a deterministic one-step Lloyd refinement: seed
    * partition = `vec_id % nList`, centroid = per-dimension mean. The
    * centroid table stays a (tiny) DataFrame joined via broadcast — no
    * driver collect, no giant literal expression trees — so the same plan
    * shape works for any nList/dim and the corpus shuffles exactly once
    * (the assignment group-by).
    *
    * Probe precondition: cell assignment and probing rank centroids by
    * RAW dot product while the final candidate ranking is cosine — the
    * probe's recall against the [[cosineTopK]] baseline holds when
    * embeddings are (approximately) unit-norm; for widely varying norms,
    * normalize upstream (see the same note on [[pqTopK]]).
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, nList: Int = 16,
      nProbe: Int = 4, k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    val corpus = prepared(embeddings)
    // deterministic centroids: per-dimension mean over seed partition,
    // via the native vector-sum aggregate — one array per group per
    // partition crosses the shuffle (posexplode would multiply shuffle
    // rows by the dimensionality)
    val cents = corpus
      .groupBy((col("vec_id") % nList).as("cid"))
      .agg(graft.functions.VectorFunctions.vecSum(col("v")).as("s"),
        count(lit(1)).as("cn"))
      .select(col("cid"), transform(col("s"), x => x / col("cn")).as("c"))

    // nearest-centroid assignment: broadcast the centroid table, score all
    // (vector, centroid) pairs, argmax via max(struct) — ties to higher cid
    def scoreAgainstCentroids(df: DataFrame, vCol: String): DataFrame =
      df.crossJoin(broadcast(cents))
        .withColumn("cs", dot(col(vCol), col("c")))

    val assigned = scoreAgainstCentroids(corpus, "v")
      .groupBy("vec_id")
      .agg(
        max(struct(col("cs"), col("cid"))).getField("cid").as("cid"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))

    // query probes: top nProbe centroids per query
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy("query_id").orderBy(col("cs").desc, col("cid"))
    val probes = scoreAgainstCentroids(q, "qv")
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))

    val scored = assigned
      .join(broadcast(probes), Seq("cid"))
      .where(notSelf(excludeSelf))
      .select(col("query_id"), col("vec_id").as("nbr_id"),
        cosSim(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** ANN index quality evaluation: recall@k of [[ivfTopK]] against the
    * exact [[cosineTopK]] baseline, per query — the measurement an index
    * tuner sweeps `nList`/`nProbe` against before committing a 100 TB
    * corpus to an approximate index. `n_exact` is the baseline's result
    * count (k, or fewer when the corpus is small), `n_hit` how many of
    * those the IVF probe also returned, `recall` their ratio.
    *
    * Scale shape: recall is always evaluated over a SAMPLE of queries
    * (here: the caller-supplied query set), never the full corpus — both
    * sides produce ≤ queries×k rows, so the comparison join and the
    * per-query rollup are driver-trivial no matter the corpus size. The
    * corpus itself is scanned once per method under comparison, which is
    * inherent to evaluating one against the other.
    */
  def annRecall(embeddings: DataFrame, queries: DataFrame, nList: Int = 16,
      nProbe: Int = 4, k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf threads into BOTH sub-operators: an external query set
    // whose ids collide with corpus vec_ids would otherwise silently drop
    // one unrelated corpus neighbor per colliding id on each side,
    // skewing the recall measurement with no way to opt out
    val exact = cosineTopK(embeddings, queries, k, excludeSelf)
      .select(col("query_id"), col("nbr_id"))
    val approx = ivfTopK(embeddings, queries, nList, nProbe, k, excludeSelf)
      .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
    exact
      .join(approx, Seq("query_id", "nbr_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
  }

  /** Distributed k-means (Lloyd) over the embedding column — the clustering
    * primitive under SemDeDup-style semantic curation, data-selection and
    * IVF-style index builds. Fully deterministic: seed centroid `i` is the
    * per-dimension mean of vectors with `vec_id % k == i`, each iteration
    * reassigns by exact squared-L2 (ties to the smaller cid) and recomputes
    * means; clusters that empty out keep their previous centroid (same
    * left-join fallback as [[pqCodebooks]]), so the centroid count is
    * stable and every step replays on any engine.
    *
    * Scale shape: the k centroids are packed into ONE `array<struct>` row
    * and broadcast, so ASSIGNMENT IS ROW-LOCAL — a per-row argmin over the
    * packed array with zero exchanges on the corpus side (the earlier
    * shape cross-joined the k-row table and ran `groupBy(vec_id)` +
    * `min(struct)`, a full-corpus shuffle with the vectors aboard, once
    * per Lloyd round — iters × corpus of avoidable shuffle I/O at 100 TB).
    * Each iteration therefore costs exactly one map-side-combined
    * centroid-recompute aggregate over the corpus (the native
    * [[graft.functions.VectorFunctions.vecSum]] carries one array per
    * group per partition across the shuffle). Each Lloyd round's k-row
    * centroid table is persisted behind a count barrier (parent
    * released), so a round aggregates the corpus exactly once and the
    * plan depth stays constant in `iters`.
    */
  def kmeansAssign(embeddings: DataFrame, kClusters: Int = 8,
      iters: Int = 2): DataFrame =
    kmeansAssignFull(embeddings, kClusters, iters)
      .select(col("vec_id"), col("cid"), col("d2"))

  /** [[kmeansAssign]] keeping the prepared vector and its norm on every
    * output row, so cluster-scoped consumers ([[semDedup]]) read the
    * assignment frame directly instead of joining the corpus back on
    * `vec_id` (one less shuffle; at 100 TB the join-back would be a
    * full-corpus shuffle purely to rehydrate columns the plan already
    * carried).
    */
  private[graft] def kmeansAssignFull(embeddings: DataFrame, kClusters: Int,
      iters: Int, carry: Seq[String] = Nil): DataFrame = {
    val p = kmPrepare(embeddings, carry)
    val cents = lloydCentroids(p, kClusters, iters, kmNearest(p, _), kmToCentroid)
    kmAssignedFrame(p, cents, carry)
  }

  /** [[kmeansAssignFull]]'s preparation: vectors cast to double with the
    * norm precomputed. `carry` columns ride the row-local assignment
    * pipeline untouched — consumers that need corpus attributes next to
    * the cluster id (clusterPurity's label) get them for free instead of
    * re-scanning the source and shuffling a corpus-scale join on vec_id.
    */
  private def kmPrepare(embeddings: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    embeddings
      .select(Seq(col("vec_id"),
        col("embedding").cast("array<double>").as("v")) ++ carry.map(col): _*)
      .withColumn("nrm", norm(col("v")))

  private def kmToCentroid(grouped: org.apache.spark.sql.RelationalGroupedDataset,
      vCol: String, out: String): DataFrame =
    grouped
      .agg(graft.functions.VectorFunctions.vecSum(col(vCol)).as("sum"),
        count(lit(1)).as("cn"))
      .select(col("cid"), transform(col("sum"), x => x / col("cn")).as(out))

  /** Row-local nearest-centroid: pack the centroid table into a single
    * array<struct<cid,c>> row (sorted by cid for a deterministic array),
    * broadcast it, and take the argmin as array_min over per-element
    * (dist, cid) structs — the same lexicographic (dist, then smaller
    * cid) tie-break as the old min(struct) aggregate, with NO exchange
    * on the corpus side.
    */
  private def kmNearest(p: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cl"))
    p.crossJoin(broadcast(packed))
      .withColumn("m",
        array_min(transform(col("cl"), e =>
          struct(
            (dot(col("v"), col("v"))
              - lit(2.0) * dot(col("v"), e.getField("c"))
              + dot(e.getField("c"), e.getField("c"))).as("dist"),
            e.getField("cid").as("cid")))))
      .drop("cl")
  }

  private def kmAssignedFrame(p: DataFrame, cents: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    kmNearest(p, cents)
      .select(Seq(col("vec_id"), col("m").getField("cid").as("cid"),
        round(col("m").getField("dist"), 4).as("d2"), col("v"), col("nrm"))
        ++ carry.map(col): _*)

  /** Persist the trained Lloyd centroids — the train-once/store/
    * score-many deploy shape ([[buildIvfIndex]],
    * [[graft.operators.TextOps.saveNbModel]]) for the clustering the
    * SemDeDup/curriculum pipelines re-derive today: the k-row
    * (cid, c array<double>) table as parquet plus a one-row
    * (k_clusters, iters) provenance sidecar. Doubles round-trip parquet
    * bit-exactly and the assignment argmin is a deterministic function
    * of the centroid values, so [[kmeansAssignWith]] scoring from the
    * artifact is BIT-identical to the in-session [[kmeansAssign]]
    * (round-trip pinned in SimilaritySpec).
    */
  def saveKmeansModel(embeddings: DataFrame, modelDir: String,
      kClusters: Int = 8, iters: Int = 2): Unit = {
    val p = kmPrepare(embeddings)
    lloydCentroids(p, kClusters, iters, kmNearest(p, _), kmToCentroid)
      .select(col("cid"), col("c"))
      .write.mode("overwrite").parquet(s"$modelDir/centroids")
    embeddings.sparkSession.range(1)
      .select(lit(kClusters).as("k_clusters"), lit(iters).as("iters"))
      .write.mode("overwrite").parquet(s"$modelDir/meta")
  }

  /** Load a [[saveKmeansModel]] artifact: (centroid table, k_clusters,
    * iters).
    */
  def loadKmeansModel(spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, Int, Int) = {
    val m = spark.read.parquet(s"$modelDir/meta").head()
    (spark.read.parquet(s"$modelDir/centroids"),
      m.getAs[Int]("k_clusters"), m.getAs[Int]("iters"))
  }

  /** [[kmeansAssign]]'s scoring half against a SUPPLIED centroid table
    * ([[loadKmeansModel]]) — assignment becomes a pure row-local
    * broadcast-argmin projection: no Lloyd rounds, no corpus aggregate,
    * no persisted state. The shape that scores a new corpus shard (or
    * re-scores the same one) against yesterday's trained clustering.
    */
  def kmeansAssignWith(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    kmeansAssignFullWith(embeddings, centroids)
      .select(col("vec_id"), col("cid"), col("d2"))

  private[graft] def kmeansAssignFullWith(embeddings: DataFrame,
      centroids: DataFrame, carry: Seq[String] = Nil): DataFrame =
    kmAssignedFrame(kmPrepare(embeddings, carry),
      centroids.select(col("cid"), col("c")), carry)

  /** [[clusterPurity]] over a STORED clustering ([[loadKmeansModel]]):
    * the same contingency rollup on [[kmeansAssignWith]]'s row-local
    * assignment — audit today's labels against yesterday's centroids
    * without re-running Lloyd.
    */
  def clusterPurityWith(embeddings: DataFrame,
      centroids: DataFrame): DataFrame =
    purityRollup(kmeansAssignFullWith(embeddings, centroids,
      carry = Seq("label")))

  /** Shared Lloyd-refinement loop: deterministic seed (vec_id % k),
    * `iters` rounds of assign→mean with empty-cluster fallback. Each
    * round's k-row centroid frame persists behind a count barrier (read
    * twice: assignment cross-join + fallback join) and the parent
    * releases; the FINAL table stays pinned for the life of the returned
    * plan with its release queued on [[graft.plans.ReleaseRegistry]]. A
    * round that throws frees every generation still pinned.
    */
  private def lloydCentroids(p: DataFrame, kClusters: Int, iters: Int,
      nearest: DataFrame => DataFrame,
      toCentroid: (org.apache.spark.sql.RelationalGroupedDataset, String,
        String) => DataFrame): DataFrame = Pins.scope { s =>
    val seed = s.persist(
      toCentroid(p.groupBy((col("vec_id") % kClusters).as("cid")), "v", "c"))
    val cents = (1 to iters).foldLeft(seed) { (cb, _) =>
      val refined = toCentroid(
        nearest(cb).select(col("m").getField("cid").as("cid"), col("v"))
          .groupBy("cid"), "v", "c2")
      // materialize before releasing the parent
      val (next, _) = s.materialize(cb.join(refined, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("c2"), col("c")).as("c")))
      s.release(cb)
      next
    }
    s.keep("similarity.kmeans_centroids", cents)
    cents
  }

  /** Simplified (centroid-based) silhouette per cluster: for each vector
    * `a` = distance² to its own centroid, `b` = distance² to the nearest
    * OTHER centroid, `s = (b − a)/max(a, b)` — the O(n·k) stand-in for
    * the O(n²) exact silhouette, the standard separation check next to
    * [[clusterPurity]]'s label agreement. High mean ⇒ tight, separated
    * clusters; near 0 ⇒ the clustering is arbitrary (SemDeDup thresholds
    * deserve scrutiny).
    *
    * Determinism: the per-row distance array is the same broadcast
    * centroid structure [[kmeansAssignFull]] assigns with; a/b come from
    * its lexicographic sort, `s` rounds to integer basis points
    * row-locally, and the per-cluster mean divides two exact integers —
    * so the DuckDB replay (kmeans chain + rank-2 window) hash-matches.
    * Scale shape: the Lloyd rounds plus ONE extra row-local projection
    * and a k-row rollup — the corpus never shuffles beyond the shared
    * centroid aggregates.
    */
  def silhouetteSimplified(embeddings: DataFrame, kClusters: Int = 8,
      iters: Int = 2): DataFrame = {
    val assigned = kmeansAllDistances(embeddings, kClusters, iters)
    assigned
      .withColumn("s_bp",
        round(when(greatest(col("a"), col("b")) === 0d, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
          * 1e4).cast("long"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum("s_bp").cast("double") / count(lit(1)) / 1e4, 6)
          .as("mean_silhouette"))
  }

  /** Per-vector (cid, a, b) over the final Lloyd centroids: assigned
    * cluster plus the two smallest centroid distances² (a = own, b =
    * nearest other), via one broadcast row-local projection.
    */
  private def kmeansAllDistances(embeddings: DataFrame, kClusters: Int,
      iters: Int): DataFrame = {
    val p = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    def toCentroid(grouped: org.apache.spark.sql.RelationalGroupedDataset,
        vCol: String, out: String): DataFrame =
      grouped
        .agg(graft.functions.VectorFunctions.vecSum(col(vCol)).as("sum"),
          count(lit(1)).as("cn"))
        .select(col("cid"), transform(col("sum"), x => x / col("cn")).as(out))
    def distStructs(cents: DataFrame): DataFrame = {
      val packed = cents
        .agg(array_sort(collect_list(struct(col("cid"), col("c")))).as("cl"))
      p.crossJoin(broadcast(packed))
        .withColumn("ds",
          array_sort(transform(col("cl"), e =>
            struct(
              (dot(col("v"), col("v"))
                - lit(2.0) * dot(col("v"), e.getField("c"))
                + dot(e.getField("c"), e.getField("c"))).as("dist"),
              e.getField("cid").as("cid")))))
        .drop("cl")
    }
    def nearest(cents: DataFrame): DataFrame =
      distStructs(cents).withColumn("m", element_at(col("ds"), 1)).drop("ds")
    val cents = lloydCentroids(p, kClusters, iters, nearest, toCentroid)
    distStructs(cents).select(
      col("vec_id"),
      element_at(col("ds"), 1).getField("cid").as("cid"),
      element_at(col("ds"), 1).getField("dist").as("a"),
      element_at(col("ds"), 2).getField("dist").as("b"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with
    * [[kmeansAssign]], then inside each cluster drop every vector whose
    * cosine similarity to a LOWER-id cluster-mate reaches `minSim` (the
    * keep-first rule of the SemDeDup paper — arXiv:2303.09540 — which
    * needs no transitive resolution pass; [[graft.operators.Dedup
    * .resolveClusters]] is the connected-components alternative). Output
    * keeps every vector with its cluster and a `dropped` flag so callers
    * can either filter survivors or audit the drop rate per cluster.
    *
    * This is the scale path for embedding dedup: candidate pairs are
    * cluster-scoped — Σ(cluster²) with k centroids tuned so clusters fit
    * the shuffle partition budget — never the O(n²) corpus cross join.
    * All math is the same rounded-cosine contract as [[cosineTopK]], so
    * an external engine replays the full cluster→pair→drop cascade.
    *
    * Mega-cluster guard: with a FIXED k a skewed embedding space (one
    * dense cluster) makes Σ(cluster²) asymptotically n²/k — so cluster
    * sizes are probed first (a k-row aggregate) and any cluster whose
    * exact pair count exceeds its share of `maxClusterPairs` is
    * sub-split through the banded [[lshNearPairs]] path instead of the
    * exhaustive self-join (same delegation pattern as [[cosNearPairs]]
    * and `Dedup.ngramJaccardPairs`): candidates come from LSH buckets,
    * every emitted pair is still exact-cosine verified at `minSim`, so
    * guarded drops are always TRUE near-duplicate drops — recall inside
    * an oversized cluster becomes the standard multi-table LSH any-of
    * guarantee rather than exhaustive. Default budget is far above any
    * sane cluster layout; it exists so the worst case is bounded, not to
    * trigger in normal operation.
    *
    * The assignment frame is persisted behind a count barrier (it feeds
    * the size probe, both self-join sides and the final flag join);
    * like [[pqTopK]]'s codebook it stays pinned for the life of the
    * returned plan and is LRU-evictable — long-lived sessions should use
    * [[semDedupReleasable]] and call the hook once the result is
    * materialized.
    */
  def semDedup(embeddings: DataFrame, kClusters: Int = 8, iters: Int = 2,
      minSim: Double = 0.6, maxClusterPairs: Long = 10000000L): DataFrame = {
    val (out, release) =
      semDedupReleasable(embeddings, kClusters, iters, minSim, maxClusterPairs)
    Pins.queue("similarity.semdedup")(release)
    out
  }

  /** [[semDedup]] plus the release hook for the pinned assignment frame
    * (call AFTER materializing the result; lineage stays intact, so a
    * later recompute is slow but correct).
    */
  def semDedupReleasable(embeddings: DataFrame, kClusters: Int = 8,
      iters: Int = 2, minSim: Double = 0.6,
      maxClusterPairs: Long = 10000000L): (DataFrame, () => Unit) =
    semDedupFrom(kmeansAssignFull(embeddings, kClusters, iters), embeddings,
      minSim, maxClusterPairs)

  /** [[semDedup]] over a STORED clustering ([[loadKmeansModel]]): the
    * keep-first near-dup cascade on [[kmeansAssignWith]]'s row-local
    * assignment — dedupe today's shard inside yesterday's cluster
    * geometry, no Lloyd rounds re-run. Same exact-cosine verification,
    * same mega-cluster LSH guard.
    */
  def semDedupWith(embeddings: DataFrame, centroids: DataFrame,
      minSim: Double = 0.6,
      maxClusterPairs: Long = 10000000L): DataFrame = {
    val (out, release) = semDedupFrom(
      kmeansAssignFullWith(embeddings, centroids), embeddings,
      minSim, maxClusterPairs)
    Pins.queue("similarity.semdedup_with")(release)
    out
  }

  /** The cluster-scoped keep-first pair cascade under [[semDedup]] /
    * [[semDedupWith]], from an already-built full assignment frame.
    */
  private def semDedupFrom(assigned: DataFrame, embeddings: DataFrame,
      minSim: Double, maxClusterPairs: Long): (DataFrame, () => Unit) = Pins.scope { s =>
    val a = s.persist(assigned.select(col("vec_id"), col("cid"), col("v"), col("nrm")))
    // Σcluster² probe: k rows of bounded metadata, read from the cache
    val sizes = a.groupBy("cid").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val fairShare = math.max(1L, maxClusterPairs / math.max(1, sizes.length))
    val oversized = sizes.collect {
      case (cid, n) if n * (n - 1L) / 2L > fairShare => cid
    }.sorted
    def exactPairDrops(df: DataFrame): DataFrame =
      df.as("x")
        .join(df.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
        .where(cosSim(dot(col("x.v"), col("y.v")),
          col("x.nrm"), col("y.nrm")) >= minSim)
        .select(col("y.vec_id").as("vec_id"))
    val dropped = (if (oversized.isEmpty) exactPairDrops(a)
      else {
        val dims = embeddings.select(size(col("embedding")))
          .head(1).headOption.map(_.getInt(0)).getOrElse(0)
        // LSH drops per oversized cluster: the b side of each verified
        // (a < b, sim >= minSim) pair is a keep-first casualty exactly as
        // in the exhaustive path
        val lshDrops = oversized.map { cid =>
          lshNearPairs(
            a.where(col("cid") === cid)
              .select(col("vec_id"), col("v").as("embedding")), dims, minSim)
            .select(col("b").as("vec_id"))
        }.reduce(_ union _)
        exactPairDrops(a.where(!col("cid").isin(oversized: _*)))
          .union(lshDrops)
      }).distinct()
    val out = a.select("vec_id", "cid")
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("hit"), lit(false)).as("dropped"))
    (out, s.handOff("similarity.semdedup_assign", a)._1)
  }

  /** Persist an IVF index: the deterministic centroid table plus the
    * corpus with nearest-centroid assignments, written as parquet with the
    * corpus PARTITIONED BY cell id. A probe then reads only its `nProbe`
    * cell directories — partition pruning turns ANN search into an index
    * seek, the on-disk analog of an inverted file. Build cost is paid
    * once; [[ivfTopKIndexed]] queries skip centroid build + assignment
    * entirely.
    */
  def buildIvfIndex(embeddings: DataFrame, indexDir: String, nList: Int = 16): Unit = {
    val corpus = prepared(embeddings)
    val cents = corpus
      .groupBy((col("vec_id") % nList).as("cid"))
      .agg(graft.functions.VectorFunctions.vecSum(col("v")).as("s"),
        count(lit(1)).as("cn"))
      // int cell ids: directory-partition columns read back as int, so
      // keep every cid reference the same type end-to-end
      .select(col("cid").cast("int").as("cid"),
        transform(col("s"), x => x / col("cn")).as("c"))
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val centsSaved = corpus.sparkSession.read.parquet(s"$indexDir/centroids")
    corpus.crossJoin(broadcast(centsSaved))
      .withColumn("cs", dot(col("v"), col("c")))
      .groupBy("vec_id")
      .agg(
        max(struct(col("cs"), col("cid"))).getField("cid").as("cid"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$indexDir/corpus")
  }

  /** Incremental IVF maintenance — what a GROWING corpus does between
    * full rebuilds: assign a NEW slice of vectors to the persisted
    * index's EXISTING cells (nearest stored centroid, no retrain) and
    * append the assigned rows to the cid-partitioned corpus, so
    * [[ivfTopKIndexed]] immediately serves the enlarged index with the
    * same partition-pruned probe reads. Returns the post-append
    * [[ivfCellDrift]] staleness table — the signal that decides when
    * append-debt warrants a [[buildIvfIndex]] retrain (AnnSoak proves
    * append-then-query recall stays within a declared gap of a full
    * rebuild at 10×).
    *
    * Scale shape: one broadcast of the tiny centroid table against the
    * NEW slice only (never the existing corpus), one argmax aggregate,
    * one partitioned append — cost ∝ slice size, not index size. The
    * drift probe reads only per-cell aggregates of the corpus (one
    * map-side-combined pass, no payload shuffle).
    *
    * CONTRACT — append-once, disjoint ids: the slice's `vec_id`s must be
    * disjoint from the stored corpus (and from any concurrently appended
    * slice). The append is blind by design — deduplicating against the
    * index would read the whole corpus and break the cost-∝-slice
    * contract — so re-appending a slice (e.g. a retry after a partial
    * failure) silently duplicates vectors, skewing top-k results and
    * drift statistics. Callers that cannot guarantee exactly-once must
    * anti-join the slice against `read.parquet(s"$indexDir/corpus")
    * .select("vec_id")` first, or retry by rebuilding.
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      newVectors: DataFrame): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
    prepared(newVectors)
      .crossJoin(broadcast(cents))
      .withColumn("cs", dot(col("v"), col("c")))
      .groupBy("vec_id")
      .agg(
        max(struct(col("cs"), col("cid"))).getField("cid").as("cid"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .write.mode("append").partitionBy("cid").parquet(s"$indexDir/corpus")
    ivfCellDrift(spark, indexDir)
  }

  /** Cell-drift staleness probe for a persisted IVF index: per cell, the
    * angular gap between the STORED centroid (what probes route by) and
    * the CURRENT content of the cell — `drift_micro =
    * round((1 − cos(centroid, cell_sum))·10⁶)`, plus the cell's
    * population. Cosine is scale-invariant, so the cell SUM stands in for
    * the mean with no division at all. Appends shift cell directions away
    * from the trained centroids; when drift crosses an operator's
    * threshold the index has absorbed enough append-debt to retrain.
    *
    * Exactness: every input quantizes to integer micro-units ONCE
    * (`round(x·10⁶)` per element — the [[topPrincipalComponent]] scheme),
    * all corpus-scale sums then run in BIGINT (order-free), and the final
    * cosine is a single double expression over those exact integers —
    * identical IEEE values in any engine, so `drift_micro` replays
    * bit-exactly (oracle query `ivf_cell_drift` checks the in-memory
    * twin [[ivfCellDriftExact]]). One aggregate over the corpus + a
    * broadcast join with the tiny centroid table; at ≳10⁹ rows per cell
    * the squared sums approach BIGINT capacity — move the products to
    * decimal(38,0) first if that regime is real (the [[pcVarianceShare]]
    * note).
    */
  def ivfCellDrift(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val cdir = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cid"), posexplode(
        expr("transform(c, x -> cast(round(x * 1e6) as bigint))"))
        .as(Seq("i", "c")))
    val corpus = spark.read.parquet(s"$indexDir/corpus")
    val nVec = corpus.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
    val cellSum = corpus
      .select(col("cid"), posexplode(
        expr("transform(v, x -> cast(round(x * 1e6) as bigint))"))
        .as(Seq("i", "x")))
      .groupBy("cid", "i").agg(sum("x").as("m"))
    driftTable(cellSum, nVec, cdir)
  }

  /** Shared drift kernel: `(cid, n_vectors, drift_micro)` from the
    * per-cell integer sum frame `(cid, i, m)`, populations, and the
    * integer centroid directions `(cid, i, c)`. All dots/norms are exact
    * BIGINT sums; the cosine is one double expression with a pinned
    * operation order.
    */
  private def driftTable(cellSum: DataFrame, nVec: DataFrame,
      cdir: DataFrame): DataFrame =
    cellSum.join(broadcast(cdir), Seq("cid", "i"))
      .groupBy("cid")
      .agg(sum(col("c") * col("m")).as("dm"),
        sum(col("m") * col("m")).as("mm"),
        sum(col("c") * col("c")).as("cc"))
      .join(nVec, Seq("cid"))
      .select(col("cid"), col("n_vectors"),
        round((lit(1.0) - col("dm").cast("double") /
          (sqrt(col("cc").cast("double")) * sqrt(col("mm").cast("double"))))
          * 1e6).cast("long").as("drift_micro"))

  /** In-memory, oracle-checked twin of [[ivfCellDrift]]: seed the
    * centroid DIRECTIONS as integer sums over the deterministic
    * `vec_id % nList` groups (the [[buildIvfIndex]] seeding — a sum is a
    * positive scalar multiple of the mean, and cosine assignment is
    * scale-invariant, so no division ever happens), assign every vector
    * to its max-cosine cell (ties → larger cid, matching
    * `max(struct(cs, cid))`), then report each cell's population and
    * drift. Drift is non-zero even without appends — the ASSIGNED cell
    * content differs from the seed group the centroid was trained on —
    * which is exactly the staleness signal the probe measures.
    *
    * Scale shape: one quantize-and-explode pass, a broadcast of the
    * nList×dims centroid frame against the exploded corpus (|V|·dims·
    * nList intermediate rows, map-side combined), one argmax aggregate,
    * one per-cell sum. No driver state, no window over the corpus.
    */
  def ivfCellDriftExact(embeddings: DataFrame, nList: Int = 16): DataFrame = {
    val e = embeddings.select(col("vec_id"), posexplode(
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1e6) as bigint))"))
      .as(Seq("i", "x")))
    val cdir = e.groupBy((col("vec_id") % nList).cast("int").as("cid"), col("i"))
      .agg(sum("x").as("c"))
    val cc = cdir.groupBy("cid").agg(sum(col("c") * col("c")).as("cc"))
    val vv = e.groupBy("vec_id").agg(sum(col("x") * col("x")).as("vv"))
    val assigned = e.join(broadcast(cdir), Seq("i"))
      .groupBy("vec_id", "cid").agg(sum(col("x") * col("c")).as("d"))
      .join(broadcast(cc), Seq("cid")).join(vv, Seq("vec_id"))
      .withColumn("cs", col("d").cast("double") /
        (sqrt(col("cc").cast("double")) * sqrt(col("vv").cast("double"))))
      .groupBy("vec_id")
      .agg(max(struct(col("cs"), col("cid"))).getField("cid").as("cid"))
    val nVec = assigned.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
    val cellSum = e.join(assigned, Seq("vec_id"))
      .groupBy("cid", "i").agg(sum("x").as("m"))
    driftTable(cellSum, nVec, cdir)
  }

  /** Top-k over a persisted [[buildIvfIndex]] index: score the query
    * against the (tiny) centroid table, then scan ONLY the probed cell
    * partitions of the corpus — the cid filter is a partition filter, so
    * unprobed cells are never read from disk.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queries: DataFrame, nProbe: Int = 4, k: Int = 5,
      excludeSelf: Boolean = true): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val assigned = spark.read.parquet(s"$indexDir/corpus")
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy("query_id").orderBy(col("cs").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cs", dot(col("qv"), col("c")))
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))
    val scored = assigned
      .join(broadcast(probes), Seq("cid"))
      .where(notSelf(excludeSelf))
      .select(col("query_id"), col("vec_id").as("nbr_id"),
        cosSim(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** All-pairs cosine near-duplicates above `minSim` — adaptive. At or
    * below `maxBroadcastRows` vectors it runs the exact O(n²) plan: each
    * pair scored by the codegen'd native dot product, one side broadcast so
    * the other streams (a count-guarded choice, same pattern as
    * `Dedup.resolveClusters`: the broadcast payload itself OOMs executors
    * long before n² compute hurts, so the exact path must be provably
    * small). Beyond the guard it delegates to [[lshNearPairs]] at the same
    * `minSim` verify threshold — candidates come from banded buckets
    * instead of exhaustive enumeration (multi-table any-of recall), and
    * every emitted pair is still exact-cosine verified.
    */
  def cosNearPairs(embeddings: DataFrame, minSim: Double = 0.5,
      maxBroadcastRows: Long = 100000L,
      maxBroadcastCells: Long = 8000000L): DataFrame = {
    val p = prepared(embeddings)
    val dims = embeddings.select(size(col("embedding")))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    // the broadcast payload is rows × dims doubles, so the guard must be
    // byte-aware: a row-only bound would wave through 100k × 768-dim
    // vectors (~600 MB broadcast — the OOM this guard exists to prevent).
    // Default cell budget 8M cells ≈ 64 MB of vector doubles.
    val cap = math.min(maxBroadcastRows,
      if (dims > 0) math.max(1L, maxBroadcastCells / dims) else maxBroadcastRows)
    val guard = math.min(cap + 1, Int.MaxValue.toLong).toInt
    if (p.limit(guard).count() <= cap) {
      p.as("x")
        .join(broadcast(p.as("y")), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          cosSim(dot(col("x.v"), col("y.v")), col("x.nrm"), col("y.nrm")).as("sim"))
        .where(col("sim") >= minSim)
    } else {
      lshNearPairs(embeddings, dims, minSim)
    }
  }

  /** Deterministic, engine-portable hyperplane weights: plane i, dim d
    * weight = the portable 60-bit md5 hash of `"i:d"` scaled to [-1, 1)
    * (same hash scheme as [[Dedup.portableHash64]], computed driver-side).
    * Any engine with md5 replays them exactly — DuckDB:
    * `('0x'||substr(md5(i||':'||d),1,15))::BIGINT / 2^59 - 1.0` — so LSH
    * buckets are reproducible across engines, not just across runs.
    */
  def lshPlanes(dims: Int, nPlanes: Int): Seq[Seq[Double]] = {
    // the shared portable 60-bit md5 (thread-local digest, no hex string
    // round-trip) — one definition, so plane weights can never drift from
    // the hash the rest of the engine replays in SQL
    def h60(s: String): Long = graft.functions.PortableMd5.hash64(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Seq.tabulate(nPlanes, dims)((i, d) =>
      h60(s"$i:$d").toDouble / 576460752303423488.0 - 1.0) // h / 2^59 - 1
  }

  /** Multi-table random-hyperplane LSH bucket keys: `nTables` keys of
    * `nBits` projection sign bits each (plane i = bit i % nBits of table
    * i / nBits). One native codegen'd expression per row regardless of
    * dimensionality — the plane matrix rides as a single literal, not
    * nBits × dims column arithmetic nodes (which at 768-dim embeddings
    * built ~9k-node trees that pushed Janino into interpreted fallback).
    */
  def lshBuckets(v: Column, dims: Int, nBits: Int = 12, nTables: Int = 8): Column =
    graft.functions.VectorFunctions.lshBuckets(
      v, typedlit[Seq[Seq[Double]]](lshPlanes(dims, nBits * nTables)), nBits)

  /** Single-table LSH bucket key (see [[lshBuckets]]). */
  def lshBucket(v: Column, dims: Int, nBits: Int = 12): Column =
    element_at(lshBuckets(v, dims, nBits, nTables = 1), 1)

  /** All-pairs near-neighbor pairs via multi-table LSH: vectors sharing any
    * table's bucket are candidates, verified with the exact cosine and
    * filtered by `minSim`. The scale path for all-pairs similarity — cost
    * is the bucket self-join, sum(bucket²) per table, never n²; the
    * candidate join carries only (table, bucket, vec_id), with vectors
    * joined back for verification of the (much smaller) candidate set.
    * More tables raise recall (any-of-T bucket agreement) at linearly more
    * bucketing cost — the standard LSH amplification trade.
    */
  def lshNearPairs(embeddings: DataFrame, dims: Int, minSim: Double = 0.9,
      nBits: Int = 12, nTables: Int = 8): DataFrame = {
    requireDims(embeddings, dims, "lshNearPairs")
    val p = prepared(embeddings)
    val banded = p
      .withColumn("bkts", lshBuckets(col("v"), dims, nBits, nTables))
      .select(col("vec_id"), posexplode(col("bkts")).as(Seq("t", "bkt")))
    val cand = banded.as("x")
      .join(banded.as("y"), Seq("t", "bkt"))
      .where(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    cand
      .join(p.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na")), Seq("a"))
      .join(p.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        cosSim(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim"))
      .where(col("sim") >= minSim)
  }

  /** Product-quantization codebooks: split each vector into `m` subspaces
    * of dims/m dimensions; per subspace, `codes` centroids seeded with the
    * same deterministic seed-partition mean as the IVF centroids
    * (seed = vec_id % codes, per-dimension mean via the native vector-sum
    * aggregate) and sharpened by ONE Lloyd step (reassign to nearest seed
    * centroid, recompute means) — still fully deterministic and
    * replayable on any engine, no RNG. Returns (s, code,
    * c: array<double>), m × codes rows — tiny, broadcastable.
    */
  def pqCodebooks(embeddings: DataFrame, dims: Int = 64, m: Int = 16,
      codes: Int = 32): DataFrame = {
    require(dims % m == 0, "dims must divide into m subspaces")
    requireDims(embeddings, dims, "pqCodebooks")
    val subDim = dims / m
    val p = prepared(embeddings)
    val subs = p.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("v"), s * subDim + 1, subDim)): _*)).as(Seq("s", "sv")))
    val seed = subs
      .groupBy(col("s"), (col("vec_id") % codes).as("code"))
      .agg(graft.functions.VectorFunctions.vecSum(col("sv")).as("sum"),
        count(lit(1)).as("cn"))
      .select(col("s"), col("code"), transform(col("sum"), x => x / col("cn")).as("c"))
    // one Lloyd refinement: nearest-seed assignment (L2, ties to smaller
    // code), then per-cluster mean — empty clusters keep their seed via
    // the left join fallback
    val assigned = subs.join(broadcast(seed), Seq("s"))
      .withColumn("dist",
        dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("c"))
          + dot(col("c"), col("c")))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("dist"), col("code"))).getField("code").as("code"),
        first(col("sv")).as("sv"))
    val refined = assigned
      .groupBy("s", "code")
      .agg(graft.functions.VectorFunctions.vecSum(col("sv")).as("sum"),
        count(lit(1)).as("cn"))
      .select(col("s"), col("code"),
        transform(col("sum"), x => x / col("cn")).as("c2"))
    seed.join(refined, Seq("s", "code"), "left")
      .select(col("s"), col("code"), coalesce(col("c2"), col("c")).as("c"))
  }

  /** PQ encoding: each vector's nearest codebook entry per subspace —
    * (vec_id, s, code), i.e. m small ints per vector in place of dims
    * floats (32× smaller at dims=64, m=4). Assignment minimizes the
    * exact subspace L2 distance; ties break to the smaller code (the
    * `min(struct(dist, code))` ordering any engine reproduces).
    */
  def pqEncode(embeddings: DataFrame, dims: Int = 64, m: Int = 16,
      codes: Int = 32): DataFrame =
    pqEncodeWith(embeddings, pqCodebooks(embeddings, dims, m, codes), dims, m)

  /** [[pqEncode]] against a PREBUILT codebook table — the production
    * shape: train codebooks once (possibly on a sample), persist them,
    * then encode any number of corpora/batches without retraining.
    * [[pqTopK]]/[[ivfPqTopK]] also route through this so the codebook
    * plan is built exactly once per query.
    */
  def pqEncodeWith(embeddings: DataFrame, cb: DataFrame, dims: Int = 64,
      m: Int = 16): DataFrame = {
    requireDims(embeddings, dims, "pqEncodeWith")
    val subDim = dims / m
    val p = prepared(embeddings)
    val subs = p.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("v"), s * subDim + 1, subDim)): _*)).as(Seq("s", "sv")))
    subs.join(broadcast(cb), Seq("s"))
      .withColumn("dist",
        dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("c"))
          + dot(col("c"), col("c")))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("dist"), col("code"))).getField("code").as("code"))
  }

  /** PQ-ADC approximate top-k (asymmetric distance computation): the
    * query builds an m × codes lookup table of subspace dot products
    * against the codebooks (tiny, broadcast), and every corpus vector's
    * approximate dot score is the sum of its m table entries — scan-time
    * work touches only the byte codes, never the float vectors. The
    * memory-compressed complement to [[ivfTopK]] (IVF prunes WHICH
    * vectors to score; PQ shrinks WHAT a score costs); production ANN
    * stacks compose them (IVF-PQ).
    *
    * Ranking precondition (shared with the IVF probe): ADC scores are RAW
    * summed dot products, not cosine — they track the [[cosineTopK]]
    * baseline when embeddings are (approximately) unit-norm. For corpora
    * with widely varying norms, normalize upstream or expect recall
    * against the cosine baseline to degrade (the protocol stays exact;
    * the metric it approximates differs).
    */
  def pqTopK(embeddings: DataFrame, queries: DataFrame, dims: Int = 64,
      m: Int = 16, codes: Int = 32, k: Int = 5,
      excludeSelf: Boolean = true): DataFrame = {
    val subDim = dims / m
    // train once: the codebook feeds BOTH the corpus encoding and the
    // query LUT; persist+count the (m x codes)-row table so the seed +
    // Lloyd aggregation runs a single time per query. The pinned frame is
    // tiny (m x codes rows) and read by the returned plan, so there is no
    // safe unpersist point here — its release is queued with the session
    // ReleaseRegistry; long-lived sessions can also train once via
    // pqCodebooks and use the prebuilt-codebook path instead
    val (cb, _) = Pins.materialize("similarity.pq_codebook",
      pqCodebooks(embeddings, dims, m, codes))
    val enc = pqEncodeWith(embeddings, cb, dims, m)
    val qsubs = prepared(queries).select(col("vec_id").as("query_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("v"), s * subDim + 1, subDim)): _*)).as(Seq("s", "qsv")))
    val lut = qsubs.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        dot(col("qsv"), col("c")).as("val"))
    val scored = enc.join(broadcast(lut), Seq("s", "code"))
      .where(notSelf(excludeSelf))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(round(sum("val"), 4).as("adc"))
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** IVF-PQ: the production ANN composition — IVF prunes WHICH vectors a
    * query scores (probe the nProbe nearest cells), PQ-ADC shrinks WHAT a
    * score costs (sum m lookup-table entries instead of a dims-wide dot).
    * Candidates = corpus × nProbe/nList, per-candidate cost = m adds:
    * both factors of brute force drop independently. All stages reuse the
    * deterministic IVF centroids and PQ codebooks above.
    */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, dims: Int = 64,
      nList: Int = 16, nProbe: Int = 4, m: Int = 16, codes: Int = 32,
      k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    val subDim = dims / m
    val corpus = prepared(embeddings)
    val cents = corpus
      .groupBy((col("vec_id") % nList).as("cid"))
      .agg(graft.functions.VectorFunctions.vecSum(col("v")).as("s"),
        count(lit(1)).as("cn"))
      .select(col("cid"), transform(col("s"), x => x / col("cn")).as("c"))
    val assignedCell = corpus.crossJoin(broadcast(cents))
      .withColumn("cs", dot(col("v"), col("c")))
      .groupBy("vec_id")
      .agg(max(struct(col("cs"), col("cid"))).getField("cid").as("cid"))
    // PQ codes per corpus vector, carrying the cell assignment; the
    // codebook trains once (persist+count) and feeds encode + LUT — same
    // pinned-tiny-frame contract as pqTopK (no safe unpersist point;
    // LRU-evictable; prebuilt-codebook path for long-lived sessions)
    val (cb, _) = Pins.materialize("similarity.pq_codebook",
      pqCodebooks(embeddings, dims, m, codes))
    val enc = pqEncodeWith(embeddings, cb, dims, m).join(assignedCell, "vec_id")
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probeW = Window.partitionBy("query_id").orderBy(col("cs").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cs", dot(col("qv"), col("c")))
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("cid"))
    val qsubs = q.select(col("query_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("qv"), s * subDim + 1, subDim)): _*)).as(Seq("s", "qsv")))
    val lut = qsubs.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        dot(col("qsv"), col("c")).as("val"))
    val scored = enc
      .join(broadcast(probes), Seq("cid")) // cell prune: candidates only
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .where(notSelf(excludeSelf))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(round(sum("val"), 4).as("adc"))
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }
}
