package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for document corpora (SURVEY.md §2.C).
  *
  * Scale design: every variant is either map-only until a keyed shuffle
  * (exact, minhash, simhash) or blocked so the pair space never goes
  * quadratic (LSH bands / same-key blocking). Nothing collects to the
  * driver; candidate verification is a keyed self-join on bounded
  * buckets.
  */
object Dedup {

  /** Exact dedup: group-by content hash, keep the lowest id per group.
    * One shuffle on a 128-bit hash — uniform keys, no skew at any scale.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard over blocked pairs. `blockCols` bounds the pair
    * space (e.g. same language); use LSH ([[minhashCandidates]]) when no
    * natural block exists. Returns (id1, id2, inter_cnt, union_cnt) with
    * minJaccardInv·inter ≥ union (Jaccard ≥ 1/minJaccardInv) — integer filter, no float compare.
    *
    * `maxShingleDf` drops shingles appearing in more than that many docs
    * of a block before the self-join — the stop-shingle guard that keeps
    * the pair space from exploding quadratically on boilerplate n-grams
    * at corpus scale (sizes are computed post-filter so Jaccard stays
    * internally consistent).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, k: Int = 3,
                        maxShingleDf: Int = Int.MaxValue,
                        minJaccardInv: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = graft.Tables.spread(docs, col(idCol))
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        explode(Text.shingles(Text.tokens(col(textCol)), k)).as("sh"))
    // Document frequency as a WINDOW over (blk, sh) — one shuffle instead
    // of the aggregate + join-back shape (same skew profile: a hot shingle
    // makes a hot join key either way, and the df-cap exists to kill it).
    val filtered =
      if (maxShingleDf == Int.MaxValue) raw
      else raw.withColumn("df", count(lit(1)).over(Window.partitionBy("blk", "sh")))
        .filter(col("df") <= maxShingleDf).drop("df")
    // Post-filter set size rides along as a second window; the self-join
    // then carries both sizes inline, so no join-back against a sizes
    // table afterwards. Self-join sides are identical subplans — the
    // physical planner reuses one exchange for both.
    val sh = filtered.withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
    sh.as("a").join(sh.as("b"),
      col("a.sh") === col("b.sh") && col("a.blk") === col("b.blk") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter_cnt"),
        max(col("a.sz")).as("sz1"), max(col("b.sz")).as("sz2"))
      .select(col("id1"), col("id2"), col("inter_cnt"),
        (col("sz1") + col("sz2") - col("inter_cnt")).as("union_cnt"))
      .filter(col("inter_cnt") * minJaccardInv >= col("union_cnt"))
  }

  /** Asymmetric containment pairs: C(A→B) = |A∩B|/|A| over distinct
    * k-shingle sets — the near-dup relation Jaccard misses when a short
    * document is wholly embedded in a long one (quote inclusion, page
    * aggregation, boilerplate wrapping). Same scale shape as
    * [[ngramJaccardPairs]]: df-cap window kills hot shingles BEFORE the
    * self-join, set sizes ride the same exchange as window counts, and
    * both join sides are one reused subplan. Emits both directions
    * (c1 = inter/|id1|, c2 = inter/|id2|); pairs kept when either
    * containment clears `minContainmentPct`.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, k: Int = 3,
                       maxShingleDf: Int = Int.MaxValue,
                       minContainmentPct: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = graft.Tables.spread(docs, col(idCol))
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        explode(Text.shingles(Text.tokens(col(textCol)), k)).as("sh"))
    val filtered =
      if (maxShingleDf == Int.MaxValue) raw
      else raw.withColumn("df", count(lit(1)).over(Window.partitionBy("blk", "sh")))
        .filter(col("df") <= maxShingleDf).drop("df")
    val sh = filtered.withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
    sh.as("a").join(sh.as("b"),
      col("a.sh") === col("b.sh") && col("a.blk") === col("b.blk") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter_cnt"),
        max(col("a.sz")).as("sz1"), max(col("b.sz")).as("sz2"))
      // max(c1, c2) = inter/min(sz1, sz2) — integer comparison, no division
      .filter(col("inter_cnt") * 100 >= least(col("sz1"), col("sz2")) * minContainmentPct)
      .select(col("id1"), col("id2"), col("inter_cnt"), col("sz1"), col("sz2"),
        graft.Det.qz(col("inter_cnt").cast("double") / col("sz1").cast("double")).as("c1"),
        graft.Det.qz(col("inter_cnt").cast("double") / col("sz2").cast("double")).as("c2"))
  }

  /** MinHash+LSH near-dup candidates: signature and band keys are computed
    * row-local (one projection), pairs come from a shuffle keyed on band
    * buckets — the classic shingle→minhash→band→bucket-join pipeline.
    * Returns distinct (id1, id2, est_jaccard) where est_jaccard is the
    * fraction of matching signature components.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 32, bands: Int = 8, shingleLen: Int = 3): DataFrame = {
    require(k % bands == 0,
      s"signature size $k must divide evenly into $bands bands or trailing components are dead")
    // Explode shingles and take the k permutation-minima as a real
    // aggregation: map-side partial mins, one keyed shuffle, and — the
    // point — the signature is a materialized *attribute* afterwards.
    // A row-local signature expression gets re-inlined by projection
    // collapse and recomputed per band key and per candidate pair (over
    // 20× slower end-to-end on the benchmark corpus).
    // Shingle identity is the md5-derived [[Text.md5Long]] over the
    // literal shingle string, so a SQL oracle can replay the signature
    // bit-for-bit.
    val banded = minhashBanded(docs, idCol, textCol, k, bands, shingleLen)
    banded.as("a").join(banded.as("b"),
      col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
          .cast("double") / k).as("est_jaccard"))
      .dropDuplicates("id1", "id2")
  }

  /** The shared minhash front half: (id, sig, band_key) per document,
    * one band row per band. Signature minima are a real aggregation
    * (map-side partial mins, one keyed shuffle) through the one-pass
    * [[graft.plans.MinHashSigAgg]] buffer — see [[minhashCandidates]]'s
    * inline notes for why the signature must be a materialized attribute
    * rather than a row-local expression.
    */
  private[graft] def minhashBanded(docs: DataFrame, idCol: String, textCol: String,
                                   k: Int, bands: Int, shingleLen: Int): DataFrame =
    bandSigs(minhashSigs(docs, idCol, textCol, k, shingleLen), k, bands)

  /** (id, sig) per document — the persistable signature form (k longs).
    * A table format stores exactly this per snapshot dir so later fuzzy
    * admissions read signatures, never payloads.
    */
  private[graft] def minhashSigs(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int, shingleLen: Int): DataFrame = {
    // The fused [[graft.plans.ShingleMd5Expr]] kernel
    // replaces shingle-string build + md5→hex→conv per shingle (guide
    // §1.2 per-task work; same tier as the winnowing kernel). The
    // distinct moves AFTER hashing (array_distinct over longs, not
    // strings) — the signature is identical either way: permutation
    // minima are unaffected by duplicate shingle hashes, and a (never
    // observed) 60-bit collision collapses two rows whose minima
    // already coincided.
    val hashed = graft.Tables.spread(docs, col(idCol))
      .select(col(idCol).as("id"), explode(
        graft.plans.ShingleMd5Expr(col(textCol), shingleLen, skipEmpty = false, distinct = true)).as("sh"))
      .select(col("id"), pmod(col("sh"), lit(Text.minhashPrime)).as("h"))
    // custom one-pass TypedImperativeAggregate (graft.plans.MinHashSigAgg):
    // one long[k] buffer per group instead of k separate min() aggregates
    hashed.groupBy(col("id")).agg(expr(s"graft_minhash_sig(h, $k)").as("sig"))
  }

  /** Explode a signature frame into (…, band_key) rows — the LSH bucket
    * half, derived from stored signatures at read time.
    */
  private[graft] def bandSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.withColumn("band_key",
      explode(Text.minhashBandKeys(col("sig"), bands, k / bands)))

  /** Incremental NEAR-dup admission — the fuzzy twin of [[newDocuments]]
    * (which is exact-content): a new crawl batch is admitted minus the
    * docs whose estimated Jaccard against SOME existing doc reaches
    * `tau`. The asymmetric LSH join is what scales: both sides reduce to
    * (id, sig, band_key) rows — the existing side is signature METADATA
    * (k longs per doc, ~256 B at k=32; at 100 TB of payload that is a
    * ~0.1% sidecar, and a table format can persist it per snapshot dir
    * exactly like the content-hash sidecars) — and candidates come from
    * the band-bucket join, never a payload pair scan. Band-bucket
    * occupancy is corpus-bounded the same way [[minhashCandidates]]'s
    * is; the verify step compares the two signatures already on the
    * joined row (no payload read). Docs with no shingles (shorter than
    * `shingleLen`) have no signature and are admitted — matching the
    * batch LSH operators, which never pair them.
    */
  def newDocumentsFuzzy(existing: DataFrame, incoming: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
                        tau: Double = 0.5): DataFrame = {
    require(k % bands == 0,
      s"signature size $k must divide evenly into $bands bands or trailing components are dead")
    val ex = minhashBanded(existing, idCol, textCol, k, bands, shingleLen)
    val in = minhashBanded(incoming, idCol, textCol, k, bands, shingleLen)
    incoming.join(fuzzyDupIds(ex, in, k, tau), col(idCol) === col("__dup"), "left_anti")
  }

  /** Incoming ids whose signature matches SOME existing signature at
    * est-Jaccard ≥ tau — the verify half of [[newDocumentsFuzzy]], split
    * out so a table format can feed the existing side from persisted
    * signature sidecars instead of recomputing it from payloads. Both
    * inputs are (id, sig, band_key) frames (the existing side's `id` is
    * unused and may be any value).
    */
  private[graft] def fuzzyDupIds(exBanded: DataFrame, inBanded: DataFrame,
                                 k: Int, tau: Double): DataFrame =
    inBanded.as("a").join(exBanded.as("b"), col("a.band_key") === col("b.band_key"))
      .filter((size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
        .cast("double") / k) >= tau)
      .select(col("a.id").as("__dup")).distinct()

  /** Incremental-ingest pre-filter: a Bloom filter over the existing
    * corpus' content hashes splits a new batch cheaply. No false
    * negatives ⇒ probe-negative rows are *definitely* new and pass with
    * zero join work; probe-positive rows (true dups + the fpp share of
    * new docs) are exactly resolved with an anti-join whose probe side
    * the bloom has already shrunk to ~dup-rate·batch. The filter ships
    * as a binary literal probed by the built-in `might_contain`
    * expression — codegen'd, no UDF, no extra shuffle for the fast path.
    */
  def newDocuments(existing: DataFrame, incoming: DataFrame,
                   idCol: String, textCol: String,
                   expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val bf = existing.stat.bloomFilter(xxhash64(col(textCol)), expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = call_function("graft_might_contain", lit(bos.toByteArray), xxhash64(col(textCol)))
    val definitelyNew = incoming.filter(!probe)
    val needsCheck = incoming.filter(probe)
    val verifiedNew = needsCheck.join(
      existing.select(md5(col(textCol)).as("__h")).distinct(),
      md5(needsCheck(textCol)) === col("__h"), "left_anti")
    definitelyNew.unionByName(verifiedNew)
  }

  /** Embedding-cosine near-dup pairs: (id1, id2, cos) with quantized
    * cosine ≥ `minCosine`, id1 < id2.
    *
    * `blockBits = 0` is the exact path: norms are computed per-vector
    * BELOW the self-join (the join node blocks projection collapse, so
    * each norm folds once per row, not once per pair), the smaller
    * left side broadcasts, and the per-pair work is one decimal-exact
    * dot product — oracle-comparable bit-for-bit. Exact is O(n²) by
    * definition: use it on bounded blocks.
    *
    * `blockBits > 0` is the scale path: random-hyperplane LSH buckets
    * (OR-amplified over `tables` plane sets) turn the pair space into a
    * keyed equality join on bucket ids — near-linear at corpus scale,
    * recall < 1 by construction (spec-pinned against the exact path).
    */
  /** SemDeDup-style cluster-scoped near-duplicate pairs (Abbas et al.
    * 2023, arXiv:2303.09540 shape): semantic dedup runs the expensive
    * pairwise-cosine step WITHIN clusters only, so the pair space is
    * sum-of-cluster-sizes², never corpus². The equality join on the
    * cluster id is a plain keyed shuffle — at 100 TB the cluster count
    * is the scale knob (SemDeDup uses k ≈ 10⁴–10⁵ k-means clusters, so
    * per-cluster membership is bounded; [[SimilaritySearch.ivfTopK]]'s
    * deterministic Lloyd's training provides exactly that assignment
    * when no upstream clustering exists). Scoring reuses
    * [[embeddingCosinePairs]]'s two-phase trick: the codegen'd double
    * dot prefilters inside the join condition and the decimal-exact
    * cosine only evaluates for survivors — bit-identical to exact
    * scoring, oracle-comparable.
    *
    * Returns (cluster, id1, id2, cos) with quantized cos ≥ `tau`,
    * id1 < id2, both ids in the same cluster. The caller applies the
    * keeper policy (the registry query keeps the smallest id — the
    * deterministic variant of the paper's keep-one-per-group rule).
    */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, tau: Double): DataFrame = {
    val side = emb.select(col(idCol).as("id"), col(clusterCol).as("cl"),
      col(vecCol).as("v"),
      sqrt(Text.norm2Exact(col(vecCol)).cast("double")).as("nrm"))
    val a = side.select(col("id").as("id1"), col("cl").as("cl1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = side.select(col("id").as("id2"), col("cl").as("cl2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val exactCos = graft.Det.qz(
      Text.dotExact(col("v1"), col("v2")).cast("double") /
        (col("n1") * col("n2")), 6)
    a.join(graft.Tables.spread(b, col("id2")),
      col("cl1") === col("cl2") && col("id1") < col("id2") &&
        Text.dotFast(col("v1"), col("v2")) / (col("n1") * col("n2")) >= tau - 1e-4 &&
        exactCos >= tau)
      .select(col("cl1").as("cluster"), col("id1"), col("id2"),
        exactCos.as("cos"))
  }

  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           minCosine: Double, blockBits: Int = 0,
                           tables: Int = 2, dims: Int = 64): DataFrame = {
    import graft.operators.SimilaritySearch.lshBucket
    if (blockBits == 0) {
      val side = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(Text.norm2Exact(col(vecCol)).cast("double")).as("nrm"))
      val a = side.select(col("id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
      val b = side.select(col("id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
      // Two-phase scoring INSIDE the join condition, cheap→expensive:
      // And short-circuits left to right, so the codegen'd double-fold
      // dot (native DotProductF after the HOF rewrite) prefilters every
      // pair with a margin far wider than double-vs-decimal summation
      // error (~64·eps relative), and the decimal-exact cosine —
      // interpreted BigDecimal folds, ~10× costlier — only evaluates for
      // the survivors. (A post-projection filter instead gets pushed
      // into the join condition AHEAD of the cheap conjuncts, exact-
      // scoring all pairs — measured 8.8 s vs 0.5 s on the benchmark.)
      // Result is bit-identical to exact-scoring all pairs.
      val exactCos = graft.Det.qz(Text.dotExact(col("v1"), col("v2")).cast("double") /
        (col("n1") * col("n2")), 6)
      val streamed = graft.Tables.spread(b, col("id2"))
      broadcast(a).join(streamed,
        col("id1") < col("id2") &&
          Text.dotFast(col("v1"), col("v2")) / (col("n1") * col("n2")) >= minCosine - 1e-4 &&
          exactCos >= minCosine)
        .select(col("id1"), col("id2"), exactCos.as("cos"))
    } else {
      val banded = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(array((0 until tables).map(t =>
          concat_ws(":", lit(t),
            lshBucket(col(vecCol), dims, blockBits, planeOffset = t * blockBits))): _*)).as("bucket"))
      banded.as("a").join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          Text.cosineFast(col("a.v"), col("b.v")).as("cos"))
        .filter(col("cos") >= minCosine)
        .dropDuplicates("id1", "id2")
    }
  }

  /** DBSCAN over an embedding column with cosine similarity as the
    * ε-neighborhood (cos ≥ minCosine): points with ≥ minPts neighbors
    * are CORES, non-cores adjacent to a core are BORDER (attached to
    * the minimum cluster label among their core neighbors — a
    * deterministic tie-break where classic DBSCAN is scan-order-
    * dependent), the rest NOISE. Clusters are connected components of
    * the core-core graph labeled by minimum member id
    * ([[connectedComponents]]); an isolated core keeps its own id.
    *
    * Neighbor pairs come from [[embeddingCosinePairs]] — the exact tier
    * here (bounded-subset contract like d5); at corpus scale pass
    * blockBits>0 for the LSH-blocked pair path and the same roles
    * downstream. Everything after the pair list is id-keyed joins and
    * aggregations — pair-list-sized, never corpus².
    */
  def dbscan(points: DataFrame, idCol: String, vecCol: String,
             minCosine: Double, minPts: Int,
             blockBits: Int = 0): DataFrame = {
    // Shape note (round-17 A/B, REVERTED): eagerly localCheckpoint-ing
    // the pair list — it feeds sym twice, the core-core filter, the
    // border attachment, plus connectedComponents' own collect action —
    // measured d16 1.5→2.5 s: the eager materialization serializes the
    // pipeline where the scheduler was already overlapping the
    // duplicate branches within each action (the p4 lesson, not the
    // hdbscan-mr one — mr's checkpoint pays off because the per-level
    // CC loop crosses MANY actions over the SAME filtered edges).
    val pairs = embeddingCosinePairs(points, idCol, vecCol, minCosine, blockBits)
      .select("id1", "id2")
    val sym = pairs.union(pairs.select(col("id2"), col("id1"))).toDF("id", "nb")
    val cnt = sym.groupBy("id").agg(count(lit(1)).as("n_neighbors"))
    val ids = points.select(col(idCol).as("id"))
    val withCnt = ids.join(cnt, Seq("id"), "left")
      .withColumn("n_neighbors", coalesce(col("n_neighbors"), lit(0L)))
    val coreIds = withCnt.filter(col("n_neighbors") >= minPts).select(col("id"))
    val ce = pairs
      .join(coreIds.select(col("id").as("c1")), col("id1") === col("c1"))
      .join(coreIds.select(col("id").as("c2")), col("id2") === col("c2"))
      .select("id1", "id2")
    val cc = connectedComponents(ce, "id1", "id2")
    val coreClusters = coreIds
      .join(cc.select(col("id"), col("cluster")), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    val borderClusters = sym
      .join(coreClusters.select(col("id").as("nb"), col("cluster")), "nb")
      .groupBy(col("id")).agg(min(col("cluster")).as("bcluster"))
    withCnt
      .join(coreClusters.select(col("id"), col("cluster").as("ccluster")), Seq("id"), "left")
      .join(borderClusters, Seq("id"), "left")
      .select(col("id"), col("n_neighbors"),
        when(col("ccluster").isNotNull, "core")
          .when(col("bcluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("ccluster"), col("bcluster")).as("cluster"))
  }

  /** HDBSCAN-lite: density-adaptive clustering over an embedding column,
    * the variable-density case a single global ε (d16 [[dbscan]]) cannot
    * handle — a dense cluster and a sparse cluster need different ε, and
    * any single choice either dissolves the sparse one into noise or
    * merges the dense one into its surroundings.
    *
    * The HDBSCAN machinery kept (Campello/Moulavi/Sander 2013, re-derived
    * here in similarity space where bigger = closer):
    *  - CORE SIMILARITY: a point's `minPts`-th largest neighbor cosine —
    *    the k-NN density estimate (HDBSCAN's core distance, inverted).
    *    Points with fewer than `minPts` neighbors above `simFloor` get no
    *    core similarity and can only ever be noise.
    *  - MUTUAL REACHABILITY: mr(a,b) = min(cos(a,b), core(a), core(b)) —
    *    an edge is only as strong as its LESS dense endpoint, which stops
    *    a straggler chain through sparse space from bridging clusters
    *    (classic DBSCAN's single-link chaining artifact).
    *  - HIERARCHY BY LEVELS: instead of the exact dendrogram (an MST +
    *    condensed-tree walk — inherently sequential, driver-sized),
    *    connected components of the mr-graph are taken at each λ in
    *    `levels` (descending). This is the dendrogram sampled at L cut
    *    heights: each CC call runs on the (filter-shrunken) pair list
    *    with the [[connectedComponents]] scale path, so the whole
    *    hierarchy is L pair-list-sized passes, distributed end to end.
    *  - STABILITY-LITE SELECTION: each point's cluster is taken from the
    *    HIGHEST λ at which its component reaches `minClusterSize` — the
    *    dense cluster resolves at its own (high) density level before
    *    lower levels can merge it with surroundings, the sparse cluster
    *    is extracted at the level where it first coheres, and fragments
    *    that never reach `minClusterSize` at any level are noise exactly
    *    as in full HDBSCAN. Labels are (level, component-min-id) pairs,
    *    so a λ-0 cluster can never collide with the λ-2 component that
    *    absorbed it.
    *
    * Neighbor pairs come from [[embeddingCosinePairs]]: exact tier on
    * bounded blocks (`blockBits = 0`, the d5/d16 contract), LSH-blocked
    * at corpus scale. Everything downstream of the pair list is id-keyed
    * joins/aggregations — pair-list-sized, never corpus².
    *
    * Output: (id, n_neighbors, core_sim, birth_level, cluster_level,
    * cluster, role) with role ∈ clustered / sparse (mr-connected but no
    * component ever reached `minClusterSize`) / noise.
    */
  def hdbscanLite(points: DataFrame, idCol: String, vecCol: String,
                  simFloor: Double, minPts: Int, levels: Seq[Double],
                  minClusterSize: Int = 0, blockBits: Int = 0): DataFrame = {
    require(levels.nonEmpty && levels.forall(_ >= simFloor),
      s"levels $levels must all sit at or above simFloor $simFloor " +
        "(edges below the floor were never generated)")
    val mcs = if (minClusterSize > 0) minClusterSize else minPts
    val lvls = levels.sorted(Ordering[Double].reverse)
    // Shape note (round-17 A/B, REVERTED): an additional eager
    // localCheckpoint of the raw pair list (cnt/core/mr/final joins all
    // replan the cosine tier) measured d18 2.4→4.0 s — within one
    // action the scheduler overlaps the duplicate branches and the
    // eager materialization only serializes them. The mr checkpoint
    // below is the one that pays: the per-level CC loop crosses many
    // ACTIONS over the same filtered edge set.
    val pairs = embeddingCosinePairs(points, idCol, vecCol, simFloor, blockBits)
    val sym = pairs.select(col("id1").as("id"), col("id2").as("nb"), col("cos"))
      .unionByName(pairs.select(col("id2").as("id"), col("id1").as("nb"), col("cos")))
    // minPts-th largest neighbor cosine per point; cos is quantized by
    // the pair tier, nb breaks ties, so the rank is deterministic. The
    // count rides the same window pass (one keyed exchange on id).
    import org.apache.spark.sql.expressions.Window
    val byId = Window.partitionBy(col("id"))
    val w = byId.orderBy(col("cos").desc, col("nb"))
    val ranked = sym.withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(byId))
    val cnt = ranked.filter(col("rn") === 1)
      .select(col("id"), col("nn").as("n_neighbors"))
    val core = ranked.filter(col("rn") === minPts)
      .select(col("id"), col("cos").as("core_sim"))
    val mrEdges = pairs
      .join(core.select(col("id").as("id1"), col("core_sim").as("cs1")), "id1")
      .join(core.select(col("id").as("id2"), col("core_sim").as("cs2")), "id2")
      .select(col("id1"), col("id2"),
        least(col("cos"), col("cs1"), col("cs2")).as("mr"))
    val labs = connectedComponentsAtLevels(mrEdges, "id1", "id2", "mr", lvls)
    val birth = labs.groupBy(col("id")).agg(min(col("lvl")).as("birth_level"))
    // stability-lite: smallest level index (highest λ) whose component
    // already has >= mcs members
    val sel = labs.filter(col("sz") >= mcs)
      .groupBy(col("id")).agg(min(col("lvl")).as("cluster_level"))
      .join(labs.select(col("id"), col("lvl").as("cluster_level"), col("cluster")),
        Seq("id", "cluster_level"))
    points.select(col(idCol).as("id"))
      .join(cnt, Seq("id"), "left")
      .join(core, Seq("id"), "left")
      .join(birth, Seq("id"), "left")
      .join(sel, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("core_sim"), col("birth_level"), col("cluster_level"), col("cluster"),
        when(col("cluster").isNotNull, "clustered")
          .when(col("birth_level").isNotNull, "sparse")
          .otherwise("noise").as("role"))
  }

  /** Connected components over a near-dup pair list → cluster labels
    * (cluster id = minimum member id), the step that turns pairwise
    * candidates (jaccard/minhash/simhash/cosine) into keep-one-per-
    * cluster decisions.
    *
    * Min-label propagation: each round every node takes the minimum of
    * its own and its neighbors' labels — one keyed join + one
    * aggregation per round, converging in O(component diameter) rounds
    * (near-dup clusters are shallow). `localCheckpoint` truncates the
    * growing lineage each round — without it the plan doubles per
    * iteration. The convergence check is a counted action per round;
    * `maxIter` bounds adversarial chains.
    *
    * Small-graph fast path: the pair list is the output of a near-dup
    * FILTER, typically orders of magnitude smaller than the corpus —
    * one bounded collect (`driverEdgeLimit`+1 rows max, ≈64 MB at the
    * default) either fits, in which case a driver-side min-root
    * union-find replaces the whole loop with a single job, or
    * overflows, in which case the distributed loop runs (billions of
    * near-dup edges at 100 TB). Ids must be integral for the fast path.
    */
  def connectedComponents(pairs: DataFrame, id1: String, id2: String,
                          maxIter: Int = 20,
                          driverEdgeLimit: Int = 4 << 20): DataFrame = {
    val spark = pairs.sparkSession
    val integralIds = pairs.schema(id1).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val bounded: Array[(Long, Long)] = if (!integralIds) null else {
      import spark.implicits._
      pairs.select(col(id1).cast("long"), col(id2).cast("long"))
        .limit(driverEdgeLimit + 1).as[(Long, Long)].collect()
    }
    if (bounded != null && bounded.length <= driverEdgeLimit) {
      import spark.implicits._
      val edges = bounded
      // min-root union-find with path compression: always attach the
      // LARGER root under the smaller, so every root is its component's
      // minimum — the same fixpoint as the propagation loop.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      edges.foreach { case (a, b) =>
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = new Array[(Long, Long)](parent.size())
      val it = parent.keySet().iterator()
      var i = 0
      while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
      val idType = pairs.schema(id1).dataType
      return out.toSeq.toDF("id", "cluster")
        .select(col("id").cast(idType).as("id"), col("cluster").cast(idType).as("cluster"))
    }
    val p = spark.sparkContext.defaultParallelism
    // Edges are the BIG side at scale: hash-partition them on dst ONCE
    // and pin that layout through localCheckpoint (LogicalRDD preserves
    // outputPartitioning), so every round's dst==id join co-locates
    // against it without re-shuffling the edge set. Labels likewise stay
    // hash(id, p) round to round (the left join preserves the streamed
    // side's partitioning into the next checkpoint) — per-round shuffle
    // volume is the aggregated label frontier, not the graph.
    val edges = pairs.select(col(id1).as("src"), col(id2).as("dst"))
      .unionByName(pairs.select(col(id2).as("src"), col(id1).as("dst")))
      .distinct()
      .repartition(p, col("dst"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .repartition(p, col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val hop = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"), labels("lbl").as("old_lbl"),
          least(labels("lbl"), coalesce(col("nlbl"), labels("lbl"))).as("lbl"))
      // Pointer jump: also take my (new) label's OWN label. One-hop
      // min-label needs O(depth-from-min) rounds; the jump makes label
      // distances halve each round ⇒ O(log depth) rounds. Each round
      // scans all edges for nbrMin, so at scale fewer rounds = fewer
      // full-graph passes. Invariant holds: labels only ever decrease
      // toward real member ids, so the fixpoint (stable under
      // neighbor-min) is still the per-component minimum.
      val next = hop.as("x").join(
        hop.select(col("id").as("jid"), col("lbl").as("jlbl")).as("y"),
        col("x.lbl") === col("y.jid"), "left")
        .select(col("x.id").as("id"), col("x.old_lbl").as("old_lbl"),
          least(col("x.lbl"), coalesce(col("y.jlbl"), col("x.lbl"))).as("lbl"))
        .localCheckpoint(true)
      changed = next.filter(col("lbl") =!= col("old_lbl")).count()
      labels = next.select(col("id"), col("lbl"))
      iter += 1
    }
    // Loud failure beats silently-wrong labels: with pointer jumping the
    // label distance to the component min halves per round, so maxIter=20
    // covers ~2^20-deep components; anything un-converged is a bug.
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still moving) — raise maxIter (components deeper than it exist)")
    labels.withColumnRenamed("lbl", "cluster")
  }

  /** Multi-threshold connected components in ONE pass over the edge
    * list: rows (id, lvl, cluster, sz) for every threshold level, where
    * level l's graph is {edges | `wCol` >= thresholds(l)}. Thresholds
    * are DESCENDING, so the per-level edge sets are NESTED and one
    * min-root union-find can grow incrementally — each level adds only
    * the edges its predecessor lacked, then snapshots labels and
    * component sizes.
    *
    * Why (r18, guide §1.2 step 1 — fewer actions over the same data):
    * the previous shape ran one [[connectedComponents]] call per level,
    * each a separate collect ACTION over the λ-filtered edge list, plus
    * an eager localCheckpoint of the edges to keep those L actions from
    * re-deriving the pair machinery. One bounded collect now replaces
    * the checkpoint job AND all L per-level collects. The fixpoint is
    * identical: min-root union-find and min-label propagation both
    * converge to the per-component minimum id, and sizes count the same
    * per-level membership (ids incident to a surviving edge).
    *
    * Scale path: the driver holds a label row per id per level, and
    * each edge adds at most two ids, so the fast path collects at most
    * `driverEdgeLimit / thresholds.size` edges: about
    * `2·driverEdgeLimit` label rows whatever the level count. Past that
    * the distributed per-level loop runs exactly as before (checkpoint
    * once, one distributed CC per level) — billions of mr edges at
    * 100 TB never collect.
    *
    * A NaN weight counts as +∞ on both paths: Spark SQL orders NaN above
    * every double, so `w >= λ` keeps a NaN edge at every level, while the
    * driver path's Scala `>=` would drop it — the weights are normalized
    * before either path runs.
    */
  private[graft] def connectedComponentsAtLevels(
      edgesW0: DataFrame, id1: String, id2: String, wCol: String,
      thresholds: Seq[Double],
      driverEdgeLimit: Int = 4 << 20): DataFrame = {
    require(thresholds.nonEmpty &&
      thresholds == thresholds.sorted(Ordering[Double].reverse),
      s"thresholds must be descending, got $thresholds")
    val edgesW = edgesW0.withColumn(wCol,
      nanvl(col(wCol).cast("double"), lit(Double.PositiveInfinity)))
    val spark = edgesW.sparkSession
    val integralIds = edgesW.schema(id1).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val edgeLimit = driverEdgeLimit / thresholds.size
    val bounded: Array[(Long, Long, Double)] = if (!integralIds) null else {
      import spark.implicits._
      edgesW.select(col(id1).cast("long"), col(id2).cast("long"),
        col(wCol).cast("double"))
        .limit(edgeLimit + 1).as[(Long, Long, Double)].collect()
    }
    if (bounded != null && bounded.length <= edgeLimit) {
      import spark.implicits._
      // heaviest first: level l consumes the prefix with w >= thresholds(l)
      val sorted = bounded.sortBy(-_._3)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      val rows = Seq.newBuilder[(Long, Int, Long, Long)]
      var ei = 0
      thresholds.zipWithIndex.foreach { case (lambda, l) =>
        while (ei < sorted.length && sorted(ei)._3 >= lambda) {
          val (a, b, _) = sorted(ei)
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
          ei += 1
        }
        // snapshot this level: every id incident to a consumed edge
        val sz = new java.util.HashMap[Long, Long]()
        val it0 = parent.keySet().iterator()
        while (it0.hasNext) { val r = find(it0.next()); sz.merge(r, 1L, _ + _) }
        val it = parent.keySet().iterator()
        while (it.hasNext) {
          val id = it.next(); val r = find(id)
          rows += ((id, l, r, sz.get(r)))
        }
      }
      val idType = edgesW.schema(id1).dataType
      rows.result().toDF("id", "lvl", "cluster", "sz")
        .select(col("id").cast(idType).as("id"), col("lvl"),
          col("cluster").cast(idType).as("cluster"), col("sz"))
    } else {
      // Materialize the edges ONCE: every λ level below re-filters this
      // list, and without the checkpoint each level's CC would re-derive
      // the whole upstream pair machinery.
      val mr = edgesW.localCheckpoint(true)
      thresholds.zipWithIndex.map { case (lambda, l) =>
        val cc = connectedComponents(mr.filter(col(wCol) >= lambda), id1, id2)
        val sizes = cc.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        cc.join(sizes, "cluster")
          .select(col("id"), lit(l).as("lvl"), col("cluster"), col("sz"))
      }.reduce(_ unionByName _)
    }
  }

  /** Cluster roll-up of [[connectedComponents]]: one row per cluster
    * with the TYPED member list — (cluster, n_members, members:
    * array<id-type> ascending). This is the consumer-facing shape (join
    * or explode `members` without re-parsing); registry twins that need
    * a driver-sortable scalar project `array_join(members, ',')` on top
    * (the driver's pandas canonicalization cannot sort raw array
    * columns — oracle-harness constraint, not a semantic one).
    * One keyed aggregation over the label output; members sort inside
    * their cluster row, never across the corpus.
    */
  def clusterMembers(pairs: DataFrame, id1: String, id2: String,
                     maxIter: Int = 20,
                     driverEdgeLimit: Int = 4 << 20): DataFrame =
    connectedComponents(pairs, id1, id2, maxIter, driverEdgeLimit)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(col("id"))).as("members"))

  /** SimHash near-dup candidates: 64-bit simhash banded on 4 contiguous
    * 16-bit slices (the Manku/Jain/Sarma WWW'07 shape), exact Hamming
    * verify after the bucket join. By pigeonhole, any pair within
    * Hamming ≤ 3 differs in at most 3 of the 4 slices, so it matches
    * exactly on at least one band — candidate generation is lossless for
    * the default bound regardless of band width.
    *
    * Band width is the SCALE parameter, not a free choice: 8-bit bands
    * (the earlier 32-bit form) give 256 buckets per band FOREVER, so
    * bucket occupancy grows linearly with the corpus and the verify
    * join's pair count quadratically — the sf1.0 smoke measured exactly
    * that (×14.3 runtime for ×10 docs, BENCH_sf1_r10.json). 16-bit
    * bands give 65,536 buckets per band; at 100 TB the banded join is
    * still keyed on uniform slices of a uniform hash, and occupancy —
    * hence pairs per bucket — is 256× smaller at any corpus size.
    */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-band slicing only guarantees candidate generation for Hamming <= 3")
    // Same materialization reasoning as minhash: per-bit ±1 sums as a
    // real aggregation (map-side combinable), simhash assembled from the
    // aggregated attributes. The token hash is the oracle-replayable
    // [[Text.md5Long]], fused per row by [[graft.plans.ShingleMd5Expr]]
    // with k = 1 (per-token hashes, no per-token string explode + hex
    // round trip).
    val tok = graft.Tables.spread(docs, col(idCol))
      .select(col(idCol).as("id"),
        explode(graft.plans.ShingleMd5Expr(col(textCol), 1, skipEmpty = false)).as("h"))
    // Round-17: the 64 per-bit ±1 sums + 64-way bit assembly fused into
    // one TypedImperativeAggregate ([[graft.plans.SimHashSigAgg]]) — a
    // single long[64] buffer pass per row instead of 64 aggregate
    // expressions, identical sim long out (same sums, same >0 cut).
    val sh = tok.groupBy(col("id")).agg(expr("graft_simhash_sig(h)").as("sim"))
    val banded = sh.select(col("id"), col("sim"), explode(array(
      (0 until 4).map(b => concat(lit(s"$b:"),
        shiftright(col("sim"), b * 16).bitwiseAND(0xffffL).cast("string"))): _*)).as("band"))
    banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        Text.hamming(col("a.sim"), col("b.sim")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS local fingerprinting algorithm). Normalized text is sliced
    * into character k-grams; every window of `w` consecutive k-gram
    * hashes contributes its minimum, so any substring of length
    * ≥ k + w − 1 shared by two documents is guaranteed to share a
    * fingerprint — the positional-overlap relation that token-set
    * Jaccard (d2) and minhash (d3) both miss (they see bags, not runs).
    *
    * Shape: gram hashes, the w-window sliding min, and the distinct
    * fingerprint set all happen inside ONE map-side projection — the
    * native [[graft.plans.WinnowingFpExpr]] kernel, a per-row primitive
    * loop — so the document never leaves its row until the (much
    * smaller) distinct fingerprints explode. The earlier
    * explode-per-character + keyed-window form shipped the EXPANDED
    * corpus (one row per char position) through a per-doc exchange — at
    * 100 TB that is a >100 TB shuffle to compute a value that never
    * needed to leave the row. (The intermediate all-HOF form fixed the
    * shuffle but still paid interpreted per-gram hashing — the kernel
    * is ~4× over it on the md5 path.)
    *
    * Gram hashes are the md5-derived 60-bit hash DuckDB can replay
    * ([[Text.md5Long]]), bit-exact in the kernel.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"degenerate winnowing params k=$k w=$w")
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val base = graft.Tables.spread(docs, col(idCol))
      .select(col(idCol).as("id"), norm.as("txt"))
      .filter(length(col("txt")) >= k + w - 1)
    val fps = org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.WinnowingFpExpr(
        org.apache.spark.sql.GraftSqlShim.expression(col("txt")), k, w))
    base.select(col("id"), explode(fps).as("fp"))
  }

  /** Substring-overlap pairs from winnowing fingerprints: self-join on
    * fingerprint with a document-frequency cap (`maxFpDf`) killing hot
    * fingerprints (boilerplate runs) BEFORE the pair space can go
    * quadratic — same guard as [[ngramJaccardPairs]]. Per-doc fingerprint
    * counts ride a window over the same exchange; overlap is
    * shared / min(|fp₁|, |fp₂|), kept when ≥ `minSharedFps` fingerprints
    * match. Both join sides are one reused subplan.
    */
  def winnowingPairs(fps: DataFrame, maxFpDf: Int = 100,
                     minSharedFps: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Shape note (round-17 A/B, REVERTED): splitting `sz` out of the
    // join sides and joining it back after the pair aggregation looked
    // like two exchanges saved per side, but AQE broadcasts the (small
    // post-cap) build side, which breaks ReuseExchange — the fingerprint
    // kernel subtree then computes FOUR times (probe, broadcast build,
    // and twice more for the split-out sz branches) and d17 measured
    // +24% at sf0.1. Carrying sz through a second window keeps the
    // whole thing ONE subtree that both join sides reuse.
    val capped = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxFpDf).drop("df")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
    capped.as("a").join(capped.as("b"),
      col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("shared"),
        max(col("a.sz")).as("sz1"), max(col("b.sz")).as("sz2"))
      .filter(col("shared") >= minSharedFps)
      .select(col("id1"), col("id2"), col("shared"),
        least(col("sz1"), col("sz2")).as("min_sz"),
        graft.Det.qz(col("shared").cast("double") /
          least(col("sz1"), col("sz2")).cast("double")).as("overlap"))
  }

  /** Maximal repeated token runs (the exact-substring dedup unit): every
    * span of ≥ k tokens whose k-shingles all occur ≥ 2 times anywhere in
    * the corpus — within-doc repeats count. ALL positioned k-shingles
    * (order kept, no distinct), a hash-keyed occurrence count marks
    * repeated start positions, then per-doc island detection merges
    * marked positions into maximal runs: a new run starts iff
    * pos > prev + k, since covered spans [p, p+k-1] overlap or touch
    * exactly when the next start is within k of the previous.
    *
    * Output: one row per run — (idCol, p0, p1) with p0/p1 the inclusive
    * 0-based token bounds. Two shingle-keyed exchanges (count + mark
    * join, both linear in corpus tokens, never pairwise) + one doc-keyed
    * window; the repeated-hash side is NOT broadcast because repeated
    * mass grows with dup content. Consumers: d19 (per-doc run stats),
    * d20 (span excision / cleaned-corpus materialization).
    *
    * Shingles are keyed on the md5-derived 60-bit hash the DuckDB oracle
    * can replay ([[Text.md5Long]]).
    */
  def repeatedRuns(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Positioned shingle hashes from the fused
    // [[graft.plans.ShingleMd5Expr]] kernel — identical (pos, h) pairs
    // to posexplode(shinglesAt)+md5Long at a fraction of the per-row
    // cost (this subtree is planned TWICE: occurrence-count side and
    // probe side), so halving its unit cost pays double.
    val pos = docs
      .select(col(idCol),
        posexplode(graft.plans.ShingleMd5Expr(col(textCol), k, skipEmpty = false)))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("h"))
    val rep = pos.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    pos.join(rep, "h")
      .select(idCol, "pos")
      .withColumn("newrun",
        when(col("pos") > lag(col("pos"), 1, -1000000L).over(w) + k,
          1L).otherwise(0L))
      .withColumn("run_id", sum(col("newrun")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("run_id"))
      .agg(min(col("pos")).as("p0"),
        (max(col("pos")) + lit(k - 1L)).as("p1"))
      .drop("run_id")
  }
}
