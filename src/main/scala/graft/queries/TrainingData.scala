package graft.queries

import graft.{Det, Q, Tables}
import graft.functions.Text
import graft.operators.{Dedup, Multimodal, SimilaritySearch, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Block C — training-data pipeline operators over `documents` and
  * `embeddings` (SURVEY.md §2.C).
  */
object TrainingData {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The 32 minhash multiply-add parameters as a SQL VALUES list, so the
    * DuckDB oracle replays the exact signature permutations.
    */
  private def minhashParamsSql: String =
    Text.minhashParams(32).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")

  // ---- d1_dedup_exact: content-hash group sizes ------------------------
  private val d1 = Q(
    (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"), min(col("keep_id")).as("min_keep"))
        .orderBy("n_copies")
    },
    Some("""
      SELECT n_copies, COUNT(*) AS n_groups, MIN(keep_id) AS min_keep
      FROM (SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY md5(text)) g
      GROUP BY n_copies ORDER BY n_copies"""))

  // ---- d2_dedup_ngram_jaccard: exact pair Jaccard, same-lang blocking --
  private val d2 = Q(
    (s, dir) => {
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 80), "doc_id", "text", "lang",
        maxShingleDf = 40, minJaccardInv = 100)
        .orderBy("id1", "id2")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE doc_id < 80),
      sh0 AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
        FROM tok),
      dfc AS (
        SELECT lang AS dblk, sh AS dsh, COUNT(*) AS df
        FROM sh0 GROUP BY 1, 2 HAVING COUNT(*) <= 40),
      sh AS (
        SELECT doc_id, lang, sh FROM sh0
        JOIN dfc ON sh0.lang = dfc.dblk AND sh0.sh = dfc.dsh),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, inter_cnt, s1.sz + s2.sz - inter_cnt AS union_cnt
      FROM pairs
      JOIN sizes s1 ON id1 = s1.doc_id
      JOIN sizes s2 ON id2 = s2.doc_id
      WHERE inter_cnt * 100 >= s1.sz + s2.sz - inter_cnt
      ORDER BY id1, id2"""))

  // ---- d15_containment: asymmetric shingle containment -----------------
  // C(A→B) = |A∩B|/|A|: the inclusion relation Jaccard misses when a
  // short doc is embedded in a long one. Same df-cap + self-join shape
  // as d2 (one window exchange, reused join subplan), exact integer
  // counts, divisions quantized — fully oracle-replayed.
  private val d15 = Q(
    (s, dir) => {
      Dedup.containmentPairs(
        t(s, dir, "documents").filter(col("doc_id") < 80), "doc_id", "text", "lang",
        maxShingleDf = 40, minContainmentPct = 20)
        .orderBy("id1", "id2")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id < 80),
      sh0 AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
        FROM tok),
      dfc AS (
        SELECT lang AS dblk, sh AS dsh, COUNT(*) AS df
        FROM sh0 GROUP BY 1, 2 HAVING COUNT(*) <= 40),
      sh AS (
        SELECT doc_id, lang, sh FROM sh0
        JOIN dfc ON sh0.lang = dfc.dblk AND sh0.sh = dfc.dsh),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id1, id2, inter_cnt, s1.sz AS sz1, s2.sz AS sz2,
             ${Det.qzSql("CAST(inter_cnt AS DOUBLE) / CAST(s1.sz AS DOUBLE)")} AS c1,
             ${Det.qzSql("CAST(inter_cnt AS DOUBLE) / CAST(s2.sz AS DOUBLE)")} AS c2
      FROM pairs
      JOIN sizes s1 ON id1 = s1.doc_id
      JOIN sizes s2 ON id2 = s2.doc_id
      WHERE inter_cnt * 100 >= LEAST(s1.sz, s2.sz) * 20
      ORDER BY id1, id2"""))

  // ---- d16_dbscan: density clustering over embeddings -------------------
  // DBSCAN with a cosine ε-neighborhood on d5's bounded exact tier:
  // core/border/noise roles + min-label core clusters, every tie-break
  // deterministic (classic DBSCAN's scan-order border assignment
  // replaced by min-cluster-of-core-neighbors). DuckDB replays the
  // whole thing — exact pairs, neighbor counts, a recursive transitive
  // closure seeded per core (so isolated cores self-label), border
  // attachment — row for row.
  private val d16 = Q(
    (s, dir) => {
      Dedup.dbscan(
        t(s, dir, "embeddings").filter(col("vec_id") < 400),
        "vec_id", "embedding", minCosine = 0.35, minPts = 2)
        .orderBy("id")
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT vec_id, embedding AS v,
               sqrt(CAST(list_sum(list_transform(range(len(embedding)), i -> (embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)) AS nrm
        FROM embeddings WHERE vec_id < 400),
      p AS (
        SELECT i1, i2 FROM (
          SELECT a.vec_id AS i1, b.vec_id AS i2,
            FLOOR((CAST(list_sum(list_transform(range(len(a.v)), i -> (a.v[i+1]::DOUBLE * b.v[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)
              / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id) z
        WHERE cos >= 0.35),
      sym AS (SELECT i1 AS id, i2 AS nb FROM p UNION ALL SELECT i2, i1 FROM p),
      cnt AS (SELECT id, COUNT(*) AS n FROM sym GROUP BY id),
      wc AS (
        SELECT e.vec_id AS id, COALESCE(cnt.n, 0) AS n_neighbors
        FROM e LEFT JOIN cnt ON e.vec_id = cnt.id),
      core AS (SELECT id FROM wc WHERE n_neighbors >= 2),
      ce AS (
        SELECT i1, i2 FROM p
        JOIN core c1 ON i1 = c1.id JOIN core c2 ON i2 = c2.id),
      edges AS (SELECT i1 AS ea, i2 AS eb FROM ce UNION SELECT i2, i1 FROM ce),
      reach(x, y) AS (
        SELECT id, id FROM core
        UNION
        SELECT r.x, g.eb FROM reach r JOIN edges g ON r.y = g.ea),
      clus AS (SELECT x AS clid, MIN(y) AS cluster FROM reach GROUP BY x),
      border AS (
        SELECT s.id AS bid, MIN(c.cluster) AS bcluster
        FROM sym s JOIN clus c ON s.nb = c.clid GROUP BY s.id)
      SELECT wc.id, CAST(wc.n_neighbors AS BIGINT) AS n_neighbors,
             CASE WHEN cl.cluster IS NOT NULL THEN 'core'
                  WHEN b.bcluster IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role,
             COALESCE(cl.cluster, b.bcluster) AS cluster
      FROM wc
      LEFT JOIN clus cl ON wc.id = cl.clid
      LEFT JOIN border b ON wc.id = b.bid
      ORDER BY id"""))

  // ---- d17_winnowing: substring-overlap pairs (MOSS fingerprints) ------
  // Winnowing (Schleimer et al., SIGMOD 2003) catches POSITIONAL overlap
  // — shared runs ≥ k+w−1 chars — that the bag-of-shingles family (d2,
  // d3) can't see. With the portable md5-derived k-gram hash DuckDB
  // replays the whole pipeline: char 8-grams → 4-window sliding min →
  // distinct fingerprints → df-capped self-join → overlap ratio. The
  // per-pair overlap is floor-quantized BEFORE the decimal-exact mean so
  // no computed-double decimal cast is ever compared across engines.
  // ---- d18_hdbscan: density-ADAPTIVE clustering (HDBSCAN-lite) ---------
  // The variable-density case d16's single global ε cannot serve: core
  // similarity (minPts-th neighbor cosine) + mutual-reachability edges
  // + components cut at a descending λ ladder, each point's cluster
  // taken from the highest λ where its component reaches minClusterSize.
  // Semantics (dense+sparse planted clusters both recovered where
  // single-ε DBSCAN provably fails) are pinned in Round10Spec on a
  // planted fixture; here DuckDB replays the WHOLE operator — quantized
  // exact pairs, the minPts-th-neighbor rank, mutual-reachability
  // LEAST, and the per-level min-label closure as ONE recursive CTE
  // keyed by (level, seed) — row for row. Same bounded-subset contract
  // as d16; at corpus scale pass blockBits>0 for the LSH pair tier.
  private val d18 = Q(
    (s, dir) => {
      Dedup.hdbscanLite(
        t(s, dir, "embeddings").filter(col("vec_id") < 500),
        "vec_id", "embedding", simFloor = 0.3, minPts = 3,
        levels = Seq(0.5, 0.4, 0.3), minClusterSize = 4)
        .orderBy("id")
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT vec_id, embedding AS v,
               sqrt(CAST(list_sum(list_transform(range(len(embedding)), i -> (embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)) AS nrm
        FROM embeddings WHERE vec_id < 500),
      p AS (
        SELECT i1, i2, cos FROM (
          SELECT a.vec_id AS i1, b.vec_id AS i2,
            FLOOR((CAST(list_sum(list_transform(range(len(a.v)), i -> (a.v[i+1]::DOUBLE * b.v[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)
              / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id) z
        WHERE cos >= 0.3),
      sym AS (SELECT i1 AS id, i2 AS nb, cos FROM p
              UNION ALL SELECT i2, i1, cos FROM p),
      cnt AS (SELECT id, COUNT(*) AS n FROM sym GROUP BY id),
      core AS (
        SELECT id, cos AS core_sim FROM (
          SELECT id, cos,
                 row_number() OVER (PARTITION BY id ORDER BY cos DESC, nb) AS rn
          FROM sym)
        WHERE rn = 3),
      mr AS (
        SELECT p.i1, p.i2, LEAST(p.cos, c1.core_sim, c2.core_sim) AS mr
        FROM p JOIN core c1 ON p.i1 = c1.id JOIN core c2 ON p.i2 = c2.id),
      lvl(l, lam) AS (VALUES (0, 0.5), (1, 0.4), (2, 0.3)),
      le AS (SELECT l, i1, i2 FROM mr JOIN lvl ON mr.mr >= lvl.lam),
      nodes AS (SELECT DISTINCT l, i1 AS id FROM le
                UNION SELECT DISTINCT l, i2 FROM le),
      edges AS (SELECT l, i1 AS ea, i2 AS eb FROM le
                UNION SELECT l, i2, i1 FROM le),
      reach(l, x, y) AS (
        SELECT l, id, id FROM nodes
        UNION
        SELECT r.l, r.x, g.eb FROM reach r JOIN edges g
          ON r.l = g.l AND r.y = g.ea),
      labs AS (SELECT l, x AS id, MIN(y) AS cluster FROM reach GROUP BY l, x),
      sizes AS (SELECT l, cluster, COUNT(*) AS sz FROM labs GROUP BY l, cluster),
      labsz AS (
        SELECT labs.l, labs.id, labs.cluster, sizes.sz
        FROM labs JOIN sizes ON labs.l = sizes.l AND labs.cluster = sizes.cluster),
      birth AS (SELECT id, MIN(l) AS birth_level FROM labs GROUP BY id),
      sel0 AS (SELECT id, MIN(l) AS cluster_level FROM labsz
               WHERE sz >= 4 GROUP BY id),
      sel AS (
        SELECT sel0.id, sel0.cluster_level, labsz.cluster
        FROM sel0 JOIN labsz
          ON labsz.id = sel0.id AND labsz.l = sel0.cluster_level)
      SELECT e.vec_id AS id,
             CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_neighbors,
             core.core_sim,
             CAST(birth.birth_level AS INTEGER) AS birth_level,
             CAST(sel.cluster_level AS INTEGER) AS cluster_level,
             sel.cluster,
             CASE WHEN sel.cluster IS NOT NULL THEN 'clustered'
                  WHEN birth.birth_level IS NOT NULL THEN 'sparse'
                  ELSE 'noise' END AS role
      FROM e
      LEFT JOIN cnt ON e.vec_id = cnt.id
      LEFT JOIN core ON e.vec_id = core.id
      LEFT JOIN birth ON e.vec_id = birth.id
      LEFT JOIN sel ON e.vec_id = sel.id
      ORDER BY id"""))

  // ---- d19_exact_substr: maximal repeated token-run detection ----------
  // The substring-level dedup unit (the "exact substring" family:
  // corpus-wide repeated spans are memorized verbatim by LMs, so
  // pipelines locate every maximal token run whose k-shingles all occur
  // ≥2 times anywhere in the corpus — within-doc repeats count — and
  // either excise the spans or drop high-coverage docs). Shape: ALL
  // positioned k-shingles (no distinct — position is the payload),
  // hash-keyed count ≥2 marks repeated positions, then per-doc island
  // detection merges marked positions into maximal runs (new run iff
  // pos > prev + k: spans [p, p+k-1] overlap or touch exactly when the
  // next start is within k of the previous). Two shingle-keyed
  // exchanges (the count and the mark join — both linear in corpus
  // tokens, never pairwise) + one doc-keyed window; the repeated-hash
  // side is NOT broadcast because repeated mass grows with dup content,
  // unlike t11's fixed-size benchmark side. Output per contaminated
  // doc: run count, repeated-token mass, longest run, coverage
  // fraction — docs with no repeated run are absent by contract.
  private val d19k = 5

  /** SQL twin of [[Dedup.repeatedRuns]] as the CTE
    * chain `w → u → p → rep → fl → marked → rid → runs` over the doc
    * table named by `src` — shared by d19, d20, and p3 so the three
    * replays cannot drift.
    */
  private def repeatedRunsSql(src: String): String = s"""w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM $src),
      u AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(w) - ${d19k - 1}, 0)),
                 i -> {'pos': i, 'h': ${Text.md5LongSql(s"array_to_string(w[i+1 : i+$d19k], ' ')")}})) AS s
        FROM w),
      p AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM u),
      rep AS (SELECT h FROM p GROUP BY h HAVING COUNT(*) >= 2),
      fl AS (SELECT doc_id, pos FROM p JOIN rep USING (h)),
      marked AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -1000000) + $d19k
                    THEN 1 ELSE 0 END AS newrun
        FROM fl),
      rid AS (
        SELECT doc_id, pos,
               SUM(newrun) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
        FROM marked),
      runs AS (
        SELECT doc_id, run_id, MIN(pos) AS p0, MAX(pos) + ${d19k - 1} AS p1
        FROM rid GROUP BY doc_id, run_id)"""
  private val d19 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val runs = Dedup.repeatedRuns(Tables.spread(docs, col("doc_id")),
        "doc_id", "text", d19k)
      val toks = docs.select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      runs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_runs"),
          sum(col("p1") - col("p0") + 1).as("rep_tokens"),
          max(col("p1") - col("p0") + 1).as("longest_run"))
        .join(toks, "doc_id")
        .withColumn("rep_frac", Det.qz(
          col("rep_tokens").cast("double") / col("n_toks").cast("double"), 6))
        .select("doc_id", "n_runs", "rep_tokens", "longest_run", "rep_frac")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${repeatedRunsSql("documents")},
      toks AS (
        SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks
        FROM documents)
      SELECT r.doc_id,
             COUNT(*) AS n_runs,
             CAST(SUM(p1 - p0 + 1) AS BIGINT) AS rep_tokens,
             CAST(MAX(p1 - p0 + 1) AS BIGINT) AS longest_run,
             ${Det.qzSql("CAST(SUM(p1 - p0 + 1) AS DOUBLE) / n_toks", 6)} AS rep_frac
      FROM runs r JOIN toks USING (doc_id)
      GROUP BY r.doc_id, n_toks
      ORDER BY doc_id"""))

  // ---- d20_substr_excise: cleaned-corpus materialization ---------------
  // The excision half of exact-substring dedup: d19 locates maximal
  // repeated token runs; this op MATERIALIZES the cleaned corpus a
  // training loader actually reads. Policy: repeated spans are
  // boilerplate — excised at every occurrence — and a doc whose
  // repeated coverage reaches 80% is dropped outright (it IS the
  // duplicate; excising it would leave connective tissue). The gate is
  // integer-exact (n_removed·5 < n_toks·4), never a float compare.
  // Shape on top of Dedup.repeatedRuns: runs explode to covered
  // positions (run-list-sized, ≤ corpus tokens), kept tokens are a
  // doc-keyed anti-join, and the text rebuild is one per-doc
  // sort+join — every exchange doc- or shingle-keyed, linear in corpus
  // tokens. Untouched docs pass through with n_removed = 0 and their
  // text intact.
  private val d20 = Q(
    (s, dir) => {
      // Round-17 shape (guide §2.4 remove shuffles outright): runs are
      // MAXIMAL DISJOINT intervals (island detection merges overlapping
      // spans, consecutive runs are separated by ≥ 2 positions), so
      //   n_removed = Σ (p1 − p0 + 1)  — no covered-position explode —
      // and the cleaned text is a ROW-LOCAL positional filter of the
      // token array against the doc's (tiny) interval list, instead of
      // the r16 form's corpus-sized covered explode + token posexplode
      // + (doc, pos)-keyed anti-join + collect_list/array_sort rebuild.
      // Exchanges drop from 4 token-level (covered, toksP, anti-join,
      // rebuild agg) to 1 doc-level (the runs rollup); the token corpus
      // never leaves its row. Output is bit-identical: kept tokens stay
      // in position order, untouched docs pass through with their
      // whitespace normalized to single spaces exactly as the
      // collect_list rebuild produced, and fully-excised docs were
      // already dropped by the 80%-coverage gate in both forms.
      val docs = t(s, dir, "documents")
      val spreadDocs = Tables.spread(docs, col("doc_id"))
      val runs = Dedup.repeatedRuns(spreadDocs, "doc_id", "text", d19k)
      val runList = runs.groupBy(col("doc_id"))
        .agg(collect_list(struct(col("p0"), col("p1"))).as("rs"),
          sum(col("p1") - col("p0") + 1).as("n_removed"))
      spreadDocs
        .join(runList, Seq("doc_id"), "left")
        .withColumn("toks", Text.tokens(col("text")))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
        .filter(col("n_removed") * 5 < col("n_toks") * 4)
        .withColumn("kept",
          when(col("rs").isNull, col("toks")).otherwise(
            filter(col("toks"), (_, i) =>
              !exists(col("rs"), r =>
                i.cast("long") >= r.getField("p0") && i.cast("long") <= r.getField("p1")))))
        .select(col("doc_id"), col("n_toks"),
          size(col("kept")).cast("long").as("n_kept"),
          col("n_removed"),
          array_join(col("kept"), " ").as("cleaned_text"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${repeatedRunsSql("documents")},
      covered AS (SELECT doc_id, unnest(range(p0, p1 + 1)) AS pos FROM runs),
      tk AS (
        SELECT doc_id,
               unnest(list_transform(range(len(w)), i -> {'pos': i, 'tok': w[i+1]})) AS s
        FROM w),
      toksP AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM tk),
      totals AS (
        SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks
        FROM documents),
      removed AS (SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id),
      kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM toksP t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        WHERE c.pos IS NULL),
      cleaned AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id, CAST(t.n_toks AS BIGINT) AS n_toks,
             CAST(c.n_kept AS BIGINT) AS n_kept,
             CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
             c.cleaned_text
      FROM totals t
        LEFT JOIN removed r ON r.doc_id = t.doc_id
        JOIN cleaned c ON c.doc_id = t.doc_id
      WHERE COALESCE(r.n_removed, 0) * 5 < t.n_toks * 4
      ORDER BY t.doc_id"""))

  private val d17 = Q(
    (s, dir) => {
      val fps = Dedup.winnowingFingerprints(t(s, dir, "documents"),
        "doc_id", "text", k = 8, w = 4)
      Dedup.winnowingPairs(fps, maxFpDf = 100, minSharedFps = 3)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("shared") * 10 >= col("min_sz") * 8, 1L).otherwise(0L))
            .as("n_high"),
          Det.davg(col("overlap")).as("avg_overlap"))
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS txt
        FROM documents),
      g0 AS (
        SELECT doc_id, len(txt) AS l, txt,
               unnest(range(len(txt) - 7)) AS pos
        FROM base WHERE len(txt) >= 11),
      g AS (
        SELECT doc_id, l, pos,
               ${Text.md5LongSql("substr(txt, CAST(pos AS INTEGER) + 1, 8)")} AS h
        FROM g0),
      wm AS (
        SELECT doc_id, l, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM g),
      fps AS (
        SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= l - 11),
      capped AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps)
        WHERE df <= 100),
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM capped GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
        FROM capped a JOIN capped b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      ov AS (
        SELECT shared, LEAST(x.sz, y.sz) AS min_sz,
               ${Det.qzSql("shared / CAST(LEAST(x.sz, y.sz) AS DOUBLE)")} AS overlap
        FROM pairs JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
        WHERE shared >= 3)
      SELECT COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN shared * 10 >= min_sz * 8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_high,
             ${Det.davgSql("overlap")} AS avg_overlap
      FROM ov"""))

  // ---- d3_dedup_minhash: LSH candidate summary (oracle-replayed) -------
  // The signature pipeline is deterministic given the shingle hash; with
  // the portable md5-derived re-key ([[Text.md5Long]]) DuckDB replays the
  // ENTIRE minhash stack — shingles → 32 permutation minima → banded LSH
  // candidates → estimated Jaccard — bit-for-bit, so the summary is
  // hash-compared, not just spec-pinned. DedupSpec still pins recall.
  private val d3 = Q(
    (s, dir) => {
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_ge_half"),
          Det.qz(avg(col("est_jaccard"))).as("avg_est"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh0 AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS s
        FROM tok),
      sh AS (
        SELECT DISTINCT doc_id, ${Text.md5LongSql("s")} % 2147483647 AS h
        FROM sh0),
      params(i, a, b) AS (VALUES $minhashParamsSql),
      sig AS (
        SELECT doc_id, i, MIN((h * a + b) % 2147483647) AS v
        FROM sh CROSS JOIN params GROUP BY 1, 2),
      sigl AS (
        SELECT doc_id, list(v ORDER BY i) AS sig FROM sig GROUP BY doc_id),
      band AS (
        SELECT doc_id, bb, sig[bb*4+1 : bb*4+4] AS key
        FROM sigl, (SELECT unnest(range(8)) AS bb)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM band a JOIN band b
          ON a.bb = b.bb AND a.key = b.key AND a.doc_id < b.doc_id),
      est AS (
        SELECT id1, id2,
               len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0 AS ej
        FROM cand JOIN sigl x ON id1 = x.doc_id JOIN sigl y ON id2 = y.doc_id)
      SELECT COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_half,
             ${Det.qzSql("AVG(ej)")} AS avg_est
      FROM est"""))

  // ---- d4_dedup_simhash: hamming-bucket candidate summary (oracled) ----
  // Same portable re-key as d3: bit-b of the md5-derived token hash
  // drives the ±1 sums, so DuckDB rebuilds the 64-bit simhash, the
  // 4×16-bit banding, and the Hamming verify exactly. Bit 63 is
  // assembled as an explicit Long.MinValue addend: DuckDB refuses
  // `1::BIGINT << 63` (left-shift overflow), but the two's-complement
  // value of the full pattern is SUM(low-bit powers) − 2⁶³, which its
  // HUGEINT SUM carries exactly before the final BIGINT cast.
  private val d4 = Q(
    (s, dir) => {
      Dedup.simhashCandidates(t(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(min(col("hamming")), lit(-1L)).as("min_hamming"),
          Det.qz(coalesce(avg(col("hamming")), lit(-1.0))).as("avg_hamming"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tkn
        FROM documents),
      hx AS (
        SELECT doc_id, ${Text.md5LongSql("tkn")} AS h FROM tok),
      bits AS (
        SELECT doc_id, bb,
               SUM(CASE WHEN (h >> CAST(bb AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        FROM hx, (SELECT unnest(range(64)) AS bb) GROUP BY 1, 2),
      sim AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN sgn > 0 AND bb < 63 THEN (1::BIGINT << CAST(bb AS INTEGER)) ELSE 0 END)
                    + SUM(CASE WHEN sgn > 0 AND bb = 63 THEN -9223372036854775807 - 1 ELSE 0 END) AS BIGINT) AS sim
        FROM bits GROUP BY doc_id),
      band AS (
        SELECT doc_id, sim, bb, (sim >> CAST(bb*16 AS INTEGER)) & 65535 AS key
        FROM sim, (SELECT unnest(range(4)) AS bb)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
               bit_count(xor(a.sim, b.sim)) AS hamming
        FROM band a JOIN band b
          ON a.bb = b.bb AND a.key = b.key AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim, b.sim)) <= 3)
      SELECT COUNT(*) AS n_pairs,
             CAST(COALESCE(MIN(hamming), -1) AS BIGINT) AS min_hamming,
             ${Det.qzSql("COALESCE(AVG(hamming), -1.0)")} AS avg_hamming
      FROM cand"""))

  // ---- d5_dedup_embedding: cosine near-dup pairs (exact, oracle-checked) --
  private val d5 = Q(
    (s, dir) => {
      Dedup.embeddingCosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 400),
        "vec_id", "embedding", minCosine = 0.30)
        .orderBy("id1", "id2")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding AS v,
               sqrt(CAST(list_sum(list_transform(range(len(embedding)), i -> (embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)) AS nrm
        FROM embeddings WHERE vec_id < 400)
      SELECT id1, id2, cos FROM (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
          FLOOR((CAST(list_sum(list_transform(range(len(a.v)), i -> (a.v[i+1]::DOUBLE * b.v[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)
            / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id) z
      WHERE cos >= 0.30 ORDER BY id1, id2"""))

  // ---- d6_dedup_url: URL canonicalization dedup ------------------------
  // URLs are synthesized deterministically from doc_id on BOTH sides
  // (mixed case, default ports, tracking params, trailing slashes,
  // fragments), then canonicalized and grouped — modulo collisions give
  // real duplicate groups.
  private val d6 = Q(
    (s, dir) => {
      val url = concat(
        lit("HTTP://Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
        lit("/Path/"), (col("doc_id") % 11).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?id="), (col("doc_id") % 13).cast("string"),
        lit("&utm_source=feed&b=2"),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), Text.canonicalUrl(url).as("canon"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
        .orderBy("canon")
    },
    Some {
      val urlSql = "concat('HTTP://Example', CAST(doc_id % 7 AS VARCHAR), '.COM', " +
        "CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END, " +
        "'/Path/', CAST(doc_id % 11 AS VARCHAR), " +
        "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, " +
        "'?id=', CAST(doc_id % 13 AS VARCHAR), '&utm_source=feed&b=2', " +
        "CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"
      s"""
      SELECT canon, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
      FROM (SELECT doc_id, ${Text.canonicalUrlSql(urlSql)} AS canon FROM documents) u
      GROUP BY canon ORDER BY canon"""
    })

  // ---- d7_dedup_normalized: casefold/whitespace-normalized exact dedup --
  // The standard preprocessing tier above exact dedup: normalize case and
  // whitespace BEFORE hashing, so trivially-reformatted copies collapse.
  // Compared against raw-exact groups in one pass.
  private val d7 = Q(
    (s, dir) => {
      val norm = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val raw = md5(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), norm.as("nh"), raw.as("rh"))
        .groupBy(col("nh"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rh")).as("n_raw_variants"),
          min(col("doc_id")).as("keep_id"))
        .groupBy(col("n_docs"), col("n_raw_variants"))
        .agg(count(lit(1)).as("n_groups"), min(col("keep_id")).as("min_keep"))
        .orderBy("n_docs", "n_raw_variants")
    },
    Some("""
      SELECT n_docs, n_raw_variants, COUNT(*) AS n_groups, MIN(keep_id) AS min_keep
      FROM (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nh,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_raw_variants,
               MIN(doc_id) AS keep_id
        FROM documents GROUP BY 1) g
      GROUP BY n_docs, n_raw_variants
      ORDER BY n_docs, n_raw_variants"""))

  // ---- d8_dedup_clusters: pairs → connected components ------------------
  // The clustering step over the d2 pair list: min-label propagation on
  // the Spark side, a recursive CTE on the oracle side — independent
  // algorithms, identical fixpoint.
  private val d8 = Q(
    (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 80), "doc_id", "text", "lang",
        maxShingleDf = 40, minJaccardInv = 100)
      // Typed array<long> members live in Dedup.clusterMembers (the
      // consumer API); the REGISTRY row projects them to a CSV scalar
      // because the driver's pandas comparator sort_values-es raw
      // columns and cannot order array cells (oracle-harness
      // constraint — r10 shipped the raw array and both rows errored).
      Dedup.clusterMembers(pairs, "id1", "id2")
        .select(col("cluster"), col("n_members"),
          array_join(col("members").cast("array<string>"), ",").as("members"))
        .orderBy("cluster")
    },
    Some("""
      WITH RECURSIVE tok AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE doc_id < 80),
      sh0 AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
        FROM tok),
      dfc AS (
        SELECT lang AS dblk, sh AS dsh, COUNT(*) AS df
        FROM sh0 GROUP BY 1, 2 HAVING COUNT(*) <= 40),
      sh AS (
        SELECT doc_id, lang, sh FROM sh0
        JOIN dfc ON sh0.lang = dfc.dblk AND sh0.sh = dfc.dsh),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      cand AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter_cnt
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id1, id2 FROM cand
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE inter_cnt * 100 >= s1.sz + s2.sz - inter_cnt),
      edges AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      walk(id, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
      cc AS (SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id)
      SELECT cluster, COUNT(*) AS n_members,
             array_to_string(list_sort(list(id)), ',') AS members
      FROM cc GROUP BY cluster ORDER BY cluster"""))

  // ---- d12_embedding_clusters: semantic near-dup clusters ----------------
  // The embedding-space analogue of d8: exact cosine pairs (d5's
  // two-phase scorer) fed into connected components, summarized per
  // cluster. The composition that turns "these pairs look alike" into
  // "keep one per semantic group" — pair generation is the d5 plan,
  // clustering adds its bounded label-propagation rounds (or the
  // driver union-find fast path for filter-sized pair lists).
  private val d12 = Q(
    (s, dir) => {
      val pairs = Dedup.embeddingCosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 400),
        "vec_id", "embedding", minCosine = 0.30)
      Dedup.connectedComponents(pairs, "id1", "id2")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).as("n_clusters"),
          min(col("cluster")).as("min_cluster"),
          max(col("max_member")).as("max_member"))
        .orderBy("n_members")
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT vec_id, embedding AS v,
               sqrt(CAST(list_sum(list_transform(range(len(embedding)), i -> (embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)) AS nrm
        FROM embeddings WHERE vec_id < 400),
      pairs AS (
        SELECT id1, id2 FROM (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
            FLOOR((CAST(list_sum(list_transform(range(len(a.v)), i -> (a.v[i+1]::DOUBLE * b.v[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)
              / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id) z
        WHERE cos >= 0.30),
      edges AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      walk(id, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e2.dst, w.lbl FROM walk w JOIN edges e2 ON e2.src = w.id),
      cc AS (SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id),
      per AS (
        SELECT cluster, COUNT(*) AS n_members, MAX(id) AS max_member
        FROM cc GROUP BY cluster)
      SELECT n_members, COUNT(*) AS n_clusters,
             MIN(cluster) AS min_cluster, MAX(max_member) AS max_member
      FROM per GROUP BY n_members ORDER BY n_members"""))

  // ---- t20_weighted_sample: Efraimidis-Spirakis weighted selection -------
  // Length-weighted sampling without replacement per language (the
  // "sample proportional to token count" mixture step): deterministic
  // ES keys (u from the id hash, no RNG) cut to top-20 per lang through
  // the bounded-heap node. Training is hash-deterministic but the key
  // involves ln() ranking → rows-only; Round5Spec pins layout
  // invariance and the weight-bias property.
  // With the portable-hash uniform, the Efraimidis-Spirakis selection is
  // fully oracle-replayed: DuckDB derives the same u in (0,1] from
  // md5(doc_id), ranks ln(u)/w per stratum, and takes the same top-20.
  private val t20 = Q(
    (s, dir) => {
      val sampled = graft.operators.Sampling.weightedSample(
        t(s, dir, "documents"), "doc_id", "n_chars", "lang", 20)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          Det.davg(col("n_chars").cast("double")).as("avg_sampled_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    },
    Some(s"""
      WITH k AS (
        SELECT doc_id, lang, n_chars,
               LN((${Text.md5LongSql("CAST(doc_id AS VARCHAR)")} + 1) /
                 1.152921504606846976e18) / CAST(n_chars AS DOUBLE) AS es_key
        FROM documents WHERE n_chars > 0),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                 ORDER BY es_key DESC, doc_id) AS rn
        FROM k)
      SELECT lang, COUNT(*) AS n_sampled,
             ${Det.davgSql("CAST(n_chars AS DOUBLE)")} AS avg_sampled_chars,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM r WHERE rn <= 20 GROUP BY lang ORDER BY lang"""))

  // ---- d13_minhash_dedup: the full MinHash pipeline as a keep decision ---
  // End-to-end what d3 (candidates) and d8 (clustering) exercise in
  // parts: signatures → banded LSH candidates → estimated-Jaccard
  // filter → connected components → per-cluster keeper (minimum id) →
  // corpus-level removal accounting. With the portable re-key the whole
  // decision is oracle-replayed: DuckDB rebuilds the candidates like d3
  // and resolves clusters with a recursive transitive closure whose
  // per-node minimum reachable id IS the min-label fixpoint the
  // distributed loop converges to. DedupSpec still pins recall.
  private val d13 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val cc = Dedup.connectedComponents(pairs, "id1", "id2")
      val removed = cc.filter(col("id") =!= col("cluster"))
      docs.select(count(lit(1)).as("n_docs"))
        .crossJoin(removed.agg(count(lit(1)).as("n_removed"),
          countDistinct(col("cluster")).as("n_groups_with_dups")))
        .withColumn("kept_frac", Det.qz(
          (col("n_docs") - col("n_removed")).cast("double") / col("n_docs").cast("double"), 6))
    },
    Some(s"""
      WITH RECURSIVE tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh0 AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS s
        FROM tok),
      sh AS (
        SELECT DISTINCT doc_id, ${Text.md5LongSql("s")} % 2147483647 AS h
        FROM sh0),
      params(i, a, b) AS (VALUES $minhashParamsSql),
      sig AS (
        SELECT doc_id, i, MIN((h * a + b) % 2147483647) AS v
        FROM sh CROSS JOIN params GROUP BY 1, 2),
      sigl AS (
        SELECT doc_id, list(v ORDER BY i) AS sig FROM sig GROUP BY doc_id),
      band AS (
        SELECT doc_id, bb, sig[bb*4+1 : bb*4+4] AS key
        FROM sigl, (SELECT unnest(range(8)) AS bb)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM band a JOIN band b
          ON a.bb = b.bb AND a.key = b.key AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT id1, id2 FROM cand
        JOIN sigl x ON id1 = x.doc_id JOIN sigl y ON id2 = y.doc_id
        WHERE len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0 >= 0.5),
      edges AS (
        SELECT id1 AS ea, id2 AS eb FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      reach(x, y) AS (
        SELECT ea, ea FROM edges
        UNION
        SELECT r.x, e.eb FROM reach r JOIN edges e ON r.y = e.ea),
      clus AS (
        SELECT x AS id, MIN(y) AS cluster FROM reach GROUP BY x),
      removed AS (
        SELECT id, cluster FROM clus WHERE id != cluster)
      SELECT n_docs, n_removed, n_groups_with_dups,
             ${Det.qzSql(
               "CAST(n_docs - n_removed AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS kept_frac
      FROM (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                   (SELECT COUNT(*) FROM removed) AS n_removed,
                   (SELECT COUNT(DISTINCT cluster) FROM removed) AS n_groups_with_dups)"""))

  // ---- t1_token_count --------------------------------------------------
  private val t1 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        size(Text.tokens(col("text"))).as("ws_tokens"),
        Text.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '${Text.bpePattern}')) AS INTEGER) AS bpe_tokens
      FROM documents ORDER BY doc_id"""))

  // ---- t2_lang_id ------------------------------------------------------

  /** SQL for the per-language marker scores (aliases `s_<lang>`). */
  private def langScoresSql: String = Text.langMarkers.map { case (l, p) =>
    s"CAST(len(regexp_extract_all(lower(text), '$p')) AS INTEGER) AS s_$l"
  }.mkString(", ")

  /** SQL CASE over the `s_<lang>` aliases replaying Text.langPredict's
    * deterministic argmax (earliest marker wins ties). Shared by the t2
    * oracle and the p1 pipeline oracle so the twins cannot drift.
    */
  private def langPredictSql: String = {
    val langs = Text.langMarkers.map(_._1)
    val whens = langs.zipWithIndex.map { case (l, i) =>
      val laterGe = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
      val earlierGt = langs.take(i).map(o => s"s_$l >= s_$o")
      val conds = (earlierGt ++ laterGe ++ Seq(s"s_$l > 0")).mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private val t2 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = Text.langMarkers.foldLeft(d) { case (df, (l, p)) =>
        df.withColumn(s"s_$l", Text.langScore(col("text"), p))
      }
      scored.select(col("doc_id") +: Text.langMarkers.map { case (l, _) => col(s"s_$l") } :+
        Text.langPredict(col("text")).as("predicted"): _*)
        .orderBy("doc_id")
    },
    Some {
      val langs = Text.langMarkers.map(_._1)
      s"""
      SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
             $langPredictSql AS predicted
      FROM (SELECT doc_id, $langScoresSql FROM documents) a
      ORDER BY doc_id"""
    })

  // ---- t3_quality_score ------------------------------------------------

  /** SQL replay of Text.qualityScore over a `documents`-shaped relation:
    * a subquery producing (doc_id, score). Shared by the t3 oracle and
    * the p1 pipeline oracle.
    */
  private def qualityScoreSql: String = """
        SELECT doc_id,
          FLOOR((LEAST(1.0, toks / 100.0) * 0.3 +
                (1.0 - LEAST(1.0, punct / GREATEST(n, 1.0) * 10.0)) * 0.4 +
                LEAST(1.0, stops / GREATEST(toks, 1.0) * 5.0) * 0.3) * 1e4 + 0.5) / 1e4 AS score
        FROM (
          SELECT doc_id,
            CAST(LENGTH(text) AS DOUBLE) AS n,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
            CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?''"()\-]', '', 'g')) AS DOUBLE) AS punct,
            CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in)\b')) AS DOUBLE) AS stops
          FROM documents) m"""

  private val t3 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), Text.qualityScore(col("text")).as("score"))
        .withColumn("bucket",
          when(col("score") >= 0.7, "high").when(col("score") >= 0.4, "mid").otherwise("low"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, score,
             CASE WHEN score >= 0.7 THEN 'high' WHEN score >= 0.4 THEN 'mid' ELSE 'low' END AS bucket
      FROM ($qualityScoreSql) z
      ORDER BY doc_id"""))

  // ---- t4_fingerprint --------------------------------------------------
  private val t4 = Q(
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(Text.tokens(col("text"))).as("fp"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CAST(SUM(CAST(i AS BIGINT) *
                      (CAST(LENGTH(tk) AS BIGINT) * 31 + ascii(substr(tk, 1, 1)) +
                       ascii(substr(tk, -1, 1)))) % ${Text.fingerprintMod} AS BIGINT) AS fp
      FROM (SELECT doc_id, unnest(w) AS tk, generate_subscripts(w, 1) AS i
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                  FROM documents) a) b
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---- t5_edit_distance: fuzzy short-string matching -------------------
  private val t5 = Q(
    (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_partkey") < 60)
      p.as("a").join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("id1"), col("b.p_partkey").as("id2"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
        .filter(col("dist") <= 12)
        .orderBy("id1", "id2")
    },
    Some("""
      SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      WHERE a.p_partkey < 60 AND b.p_partkey < 60
        AND levenshtein(a.p_name, b.p_name) <= 12
      ORDER BY id1, id2"""))

  // ---- t6_ngram_freq: top bigrams per language --------------------------
  // Corpus n-gram statistics: explode bigram shingles (distributed via
  // spread), one keyed count, one window top-k per language.
  private val t6 = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sh = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("lang"),
          explode(Text.shingles(Text.tokens(lower(col("text"))), 2)).as("bigram"))
      val counted = sh.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
      // bounded-heap cut (partial pass map-side, so the lang exchange
      // carries ~partitions·langs·5 rows, not every distinct bigram);
      // rank is a window over only the ≤5·langs survivors
      val top = graft.operators.TopK.perKey(counted,
        Seq("lang"), Seq(("cnt", false), ("bigram", true)), 5)
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("bigram"))
      top.withColumn("rnk", row_number().over(w))
        .orderBy("lang", "rnk")
    },
    Some("""
      WITH sh AS (
        SELECT lang,
               unnest(list_distinct(list_transform(range(greatest(len(w)-1, 0)),
                 i -> array_to_string(w[i+1:i+2], ' ')))) AS bigram
        FROM (SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS w
              FROM documents) tkn),
      c AS (SELECT lang, bigram, COUNT(*) AS cnt FROM sh GROUP BY 1, 2)
      SELECT lang, bigram, cnt, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rnk
            FROM c) z
      WHERE rnk <= 5 ORDER BY lang, rnk"""))

  // ---- d9_dedup_paragraph: cross-doc duplicate token-block removal ------
  // C4-style "remove repeated spans corpus-wide", adapted to the
  // punctuation-free corpus: non-overlapping 20-token blocks, md5 per
  // block, duplicate = same block in >1 document; the lowest doc_id
  // keeps its copy. Two keyed exchanges (block-hash window + per-doc
  // agg) regardless of corpus size; block hashing is map-only.
  private val d9blk = 20
  private val d9 = Q(
    (s, dir) => {
      val toks = Text.tokens(col("text"))
      val chunkHashes = transform(
        filter(
          transform(sequence(lit(0), (size(toks) / d9blk).cast("int")),
            j => slice(toks, j * d9blk + 1, lit(d9blk))),
          a => size(a) === d9blk),
        a => md5(array_join(a, " ")))
      val chunks = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), explode(chunkHashes).as("h"))
        .distinct()
      val w = Window.partitionBy(col("h"))
      chunks
        .withColumn("n_docs", count(lit(1)).over(w))
        .withColumn("owner", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"),
          sum(when(col("owner") =!= col("doc_id"), 1L).otherwise(0L)).as("n_removed"))
        .withColumn("dup_frac",
          graft.Det.qz(col("n_removed").cast("double") / col("n_blocks").cast("double"), 6))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH raw AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      chunks AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[j*$d9blk+1 : j*$d9blk+$d9blk], ' ')) AS h
        FROM (SELECT doc_id, toks,
                     unnest(range(0, CAST(len(toks)/$d9blk AS INTEGER) + 1)) AS j
              FROM raw) r
        WHERE len(toks[j*$d9blk+1 : j*$d9blk+$d9blk]) = $d9blk),
      flagged AS (
        SELECT doc_id,
               COUNT(*) OVER (PARTITION BY h) AS n_docs,
               MIN(doc_id) OVER (PARTITION BY h) AS owner
        FROM chunks)
      SELECT doc_id, COUNT(*) AS n_blocks,
             CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             CAST(SUM(CASE WHEN owner <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             ${Det.qzSql("CAST(SUM(CASE WHEN owner <> doc_id THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS dup_frac
      FROM flagged GROUP BY doc_id ORDER BY doc_id"""))

  // ---- t10_domain_stats: per-source corpus dashboard --------------------
  // The "which sources are worth keeping" rollup a corpus pipeline runs
  // before mixture design: volume, language spread, duplication rate and
  // mean length per source, in ONE keyed exchange with map-side partials.
  private val t10 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          countDistinct(col("lang")).as("n_langs"),
          graft.Det.davg(col("n_chars").cast("double")).as("avg_chars"),
          sum(size(Text.tokens(col("text"))).cast("long")).as("total_toks"))
        .withColumn("dup_rate", graft.Det.qz(
          lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs").cast("double"), 6))
        .orderBy("source")
    },
    Some(s"""
      SELECT source, COUNT(*) AS n_docs,
             COUNT(DISTINCT md5(text)) AS n_distinct_texts,
             COUNT(DISTINCT lang) AS n_langs,
             ${Det.davgSql("CAST(n_chars AS DOUBLE)")} AS avg_chars,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_toks,
             ${Det.qzSql("1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS dup_rate
      FROM documents GROUP BY source ORDER BY source"""))

  // ---- t7_pii_redact: regex PII scrubbing ------------------------------
  // The synthetic corpus has no PII, so a deterministic contact block is
  // appended from doc_id FIRST (same expression on both engines) — the
  // redaction+count then runs against real matches, not vacuous zeros.
  private val t7 = Q(
    (s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"), lit("@example.com or 416-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")).as("text"))
      val counted = Text.piiCounts(col("text")).foldLeft(withPii) {
        case (df, (n, c)) => df.withColumn(n, c)
      }
      counted.select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        Text.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH p AS (
        SELECT doc_id,
               text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com or 416-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '${Text.emailPattern}')) AS INTEGER) AS n_emails,
             CAST(len(regexp_extract_all(text, '${Text.phonePattern}')) AS INTEGER) AS n_phones,
             CAST(len(regexp_extract_all(text, '${Text.ipv4Pattern}')) AS INTEGER) AS n_ips,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '${Text.emailPattern}', '[EMAIL]', 'g'),
                 '${Text.phonePattern}', '[PHONE]', 'g'),
               '${Text.ipv4Pattern}', '[IP]', 'g') AS redacted
      FROM p ORDER BY doc_id"""))

  // ---- t8_repetition: token-repetition quality filter --------------------
  // Gopher-style repetition stats: duplicate-token fraction and
  // top-token mass per document; the keep flag compares QUANTIZED
  // fractions so the cut line is engine-exact.
  private val t8 = Q(
    (s, dir) => {
      val tok = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tk"))
      val perTok = tok.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("cnt"))
      val perDoc = perTok.groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_toks"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      val dupFrac = graft.Det.qz(
        lit(1.0) - col("n_distinct").cast("double") / col("n_toks").cast("double"), 6)
      val topFrac = graft.Det.qz(
        col("top_cnt").cast("double") / col("n_toks").cast("double"), 6)
      perDoc.select(col("doc_id"), col("n_toks"), col("n_distinct"), col("top_cnt"),
        dupFrac.as("dup_frac"), topFrac.as("top_frac"))
        .withColumn("keep", col("dup_frac") <= 0.8 && col("top_frac") <= 0.2)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tk
        FROM documents),
      c AS (SELECT doc_id, tk, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      a AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
               COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt
        FROM c GROUP BY doc_id),
      f AS (
        SELECT doc_id, n_toks, n_distinct, top_cnt,
               ${Det.qzSql("1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE)", 6)} AS dup_frac,
               ${Det.qzSql("CAST(top_cnt AS DOUBLE) / CAST(n_toks AS DOUBLE)", 6)} AS top_frac
        FROM a)
      SELECT doc_id, n_toks, n_distinct, top_cnt, dup_frac, top_frac,
             (dup_frac <= 0.8 AND top_frac <= 0.2) AS keep
      FROM f ORDER BY doc_id"""))

  // ---- t9_sample_mixture: deterministic stratified sampling --------------
  private val t9rates = Map("en" -> 0.2, "zh" -> 1.0)
  private val t9 = Q(
    (s, dir) => {
      val sampled = graft.operators.Sampling.stratifiedHashSample(
        t(s, dir, "documents"), "doc_id", "lang", t9rates, defaultRate = 0.5)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("lang")
    },
    Some {
      import graft.operators.Sampling.hexThreshold
      val whens = t9rates.toSeq.sorted
        .map { case (k, r) => s"WHEN '$k' THEN '${hexThreshold(r)}'" }.mkString(" ")
      s"""
      SELECT lang, COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                                (CASE lang $whens ELSE '${hexThreshold(0.5)}' END)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      FROM documents GROUP BY lang ORDER BY lang"""
    })

  // ---- t11_contamination: eval-set n-gram overlap check ------------------
  // The benchmark-contamination operator: which corpus docs contain a
  // 13-token shingle that also appears in the held-out set (here: the
  // deterministic doc_id % 50 == 0 slice). The held-out side is tiny by
  // construction → its distinct shingle hashes BROADCAST; the corpus
  // side is one map-side scan + one keyed agg. No shuffle grows with
  // corpus size except the final per-doc rollup.
  private val t11s = 13
  private val t11 = Q(
    (s, dir) => {
      // Round-17: both sides hash shingles through the fused kernel's
      // full-digest mode — the 16-byte binary join identity is exactly
      // md5-hex-string equality (hex is injective), with no per-shingle
      // string build and half the broadcast key bytes.
      val docs = t(s, dir, "documents")
      val bsh = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(
          graft.plans.ShingleMd5Expr.full(col("text"), t11s, distinct = true)).as("bh")).distinct()
      val csh = graft.Tables.spread(docs.filter(col("doc_id") % 50 =!= 0), col("doc_id"))
        .select(col("doc_id"), explode(
          graft.plans.ShingleMd5Expr.full(col("text"), t11s, distinct = true)).as("h"))
      csh.join(broadcast(bsh), col("h") === col("bh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_matched"))
        .withColumn("contam_frac", graft.Det.qz(
          col("n_matched").cast("double") / col("n_shingles").cast("double"), 6))
        .withColumn("contaminated", col("n_matched") > 0)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(greatest(len(w) - ${t11s - 1}, 0)),
                 i -> md5(array_to_string(w[i+1 : i+$t11s], ' '))))) AS h
        FROM w),
      bench AS (SELECT DISTINCT h AS bh FROM sh WHERE doc_id % 50 = 0)
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN bh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             ${Det.qzSql("CAST(SUM(CASE WHEN bh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS contam_frac,
             (SUM(CASE WHEN bh IS NOT NULL THEN 1 ELSE 0 END) > 0) AS contaminated
      FROM (SELECT s.doc_id, s.h, b.bh FROM sh s LEFT JOIN bench b ON s.h = b.bh
            WHERE s.doc_id % 50 <> 0) z
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---- v1_cosine_topk: brute-force baseline ----------------------------
  private val v1 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", k = 10)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },
    Some("""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      scored AS (
        SELECT qid, cid,
          FLOOR((CAST(list_sum(list_transform(range(len(qv)), i -> (qv[i+1]::DOUBLE * cv[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)
            / (sqrt(CAST(list_sum(list_transform(range(len(qv)), i -> (qv[i+1]::DOUBLE * qv[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(range(len(cv)), i -> (cv[i+1]::DOUBLE * cv[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)))) * 1e6 + 0.5) / 1e6 AS cos
        FROM q, c)
      SELECT qid, cid, cos, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
            FROM scored) z
      WHERE rnk <= 10 ORDER BY qid, rnk"""))

  // ---- v2_ann_lsh: bucketed ANN, recall vs brute force -----------------
  private val v2 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val cands = emb.filter(col("vec_id") >= 5)
      val brute = SimilaritySearch.bruteForceTopK(queries, cands, "vec_id", "embedding", 10)
        .select(col("qid"), col("cid"))
      val approx = SimilaritySearch.lshTopK(queries, cands, "vec_id", "embedding",
        dims = 64, bits = 4, k = 10)
        .select(col("qid").as("aqid"), col("cid").as("acid"))
      brute.join(approx, col("qid") === col("aqid") && col("cid") === col("acid"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_brute"), count(col("acid")).as("n_hit"))
        .withColumn("recall", round(col("n_hit").cast("double") / col("n_brute"), 4))
        .orderBy("qid")
    },
    None)

  // ---- v9_multiprobe_lsh: margin-ranked probing ANN ---------------------
  // One hash table probed nProbe times per query (home bucket + lowest-
  // margin bit flips) instead of nProbe tables: the corpus is bucketed
  // ONCE, the probe fan-out rides the broadcast-small query side.
  // Training-free and deterministic, but bucket membership isn't SQL-
  // replayable cheaply → rows-only; Round6Spec pins recall ≥ the
  // single-probe table and a floor vs brute force.
  private val v9 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.multiProbeLshTopK(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", dims = 64, bits = 4, k = 10, nProbe = 3)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },
    None)

  // ---- m1_binary_meta: opaque-binary plumbing over text bytes ----------
  private val m1 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("bin", encode(col("text"), "UTF-8"))
      d.select(col("doc_id"),
        length(col("bin")).as("byte_len"),
        upper(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("head_hex"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
             upper(hex(encode(substr(text, 1, 8)))) AS head_hex
      FROM documents ORDER BY doc_id"""))

  // ---- m2_header_decode: typed metadata out of opaque bytes -------------
  // The multimodal decode shape with a portable oracle: a deterministic
  // 16-hex-digit "codec header" derived from the document bytes, parsed
  // into typed fields (format tag, big-endian u16 width/height, flag
  // bits) with hex→int conversion — the same plumbing a real image
  // header sniffer runs over binary columns.
  private val m2 = Q(
    (s, dir) => {
      val h = md5(encode(col("text"), "UTF-8"))
      t(s, dir, "documents")
        .select(col("doc_id"), substring(h, 1, 16).as("hdr"))
        .select(col("doc_id"), col("hdr"),
          element_at(array(lit("raw"), lit("rgb"), lit("yuv"), lit("gray")),
            (conv(substring(col("hdr"), 1, 1), 16, 10).cast("int") % 4) + 1).as("format"),
          conv(substring(col("hdr"), 2, 4), 16, 10).cast("long").as("width"),
          conv(substring(col("hdr"), 6, 4), 16, 10).cast("long").as("height"),
          (conv(substring(col("hdr"), 10, 2), 16, 10).cast("int").bitwiseAND(lit(3))).as("flags"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, hdr,
             ['raw', 'rgb', 'yuv', 'gray'][(CAST(('0x' || substr(hdr, 1, 1)) AS INTEGER) % 4) + 1] AS format,
             CAST(('0x' || substr(hdr, 2, 4)) AS BIGINT) AS width,
             CAST(('0x' || substr(hdr, 6, 4)) AS BIGINT) AS height,
             CAST(('0x' || substr(hdr, 10, 2)) AS INTEGER) & 3 AS flags
      FROM (SELECT doc_id, substr(md5(text), 1, 16) AS hdr FROM documents) h
      ORDER BY doc_id"""))

  // ---- m3_frame_sample: strided frame sampling over opaque payloads ----
  // The video-frame-sampling shape: a payload is cut into fixed 16-byte
  // frames, every 4th frame (stride 64) is sampled and fingerprinted —
  // one constant-size transform per row, no explode, order preserved in
  // the output array. Frame extraction is substr arithmetic; the decode
  // itself stays a stub (no codecs in env) exactly like Multimodal.
  private val m3 = Q(
    (s, dir) => {
      val nFrames = Multimodal.frameCount(col("text"), frameLen = 16, stride = 64)
      // Typed array<string> fingerprints live in
      // Multimodal.frameFingerprints (the consumer API); the REGISTRY
      // row projects them to a CSV scalar because the driver's pandas
      // comparator cannot sort raw array columns (oracle-harness
      // constraint — r10 shipped the raw array and the row errored).
      t(s, dir, "documents")
        .select(col("doc_id"), nFrames.as("n_frames"),
          array_join(
            Multimodal.frameFingerprints(col("text"), nFrames, frameLen = 16, stride = 64),
            ",").as("frame_fps"))
        .filter(col("n_frames") > 0)
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, n_frames,
             array_to_string(list_transform(range(n_frames),
               i -> substr(md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 16)), 1, 8)), ',') AS frame_fps
      FROM (SELECT doc_id, text,
                   CASE WHEN LENGTH(text) >= 16
                        THEN CAST(FLOOR((LENGTH(text) - 16) / 64) AS INTEGER) + 1
                        ELSE 0 END AS n_frames
            FROM documents) f
      WHERE n_frames > 0
      ORDER BY doc_id"""))

  // ---- m4_channel_stats: interleaved-channel de-interleave --------------
  // The audio shape over opaque payloads: bytes are read as interleaved
  // 2-channel samples (odd positions = left, even = right), each channel
  // folded to count/mean/peak in ONE bounded HOF projection per row —
  // no explode, map-only, the same plumbing a PCM stats pass runs over
  // real audio blobs (decode itself stays a stub; no codecs in env).
  private val m4 = Q(
    (s, dir) => {
      val n = length(col("text"))
      def chanSum(startIdx: Int) = aggregate(
        transform(sequence(lit(startIdx), n, lit(2)),
          i => ascii(col("text").substr(i, lit(1))).cast("long")),
        lit(0L), (a, b) => a + b)
      def chanCnt(startIdx: Int) = size(sequence(lit(startIdx), n, lit(2)))
      val peak = aggregate(
        transform(sequence(lit(1), n),
          i => ascii(col("text").substr(i, lit(1))).cast("long")),
        lit(0L), (a, b) => greatest(a, b))
      t(s, dir, "documents")
        .filter(col("n_chars") >= 2)
        .select(col("doc_id"), n.as("n_samples"),
          Det.qz(chanSum(1).cast("double") / chanCnt(1).cast("double")).as("left_mean"),
          Det.qz(chanSum(2).cast("double") / chanCnt(2).cast("double")).as("right_mean"),
          peak.as("peak"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS n_samples,
             ${Det.qzSql("CAST(list_sum(list_transform(range(1, LENGTH(text)+1, 2), i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) AS DOUBLE) / CAST(len(range(1, LENGTH(text)+1, 2)) AS DOUBLE)")} AS left_mean,
             ${Det.qzSql("CAST(list_sum(list_transform(range(2, LENGTH(text)+1, 2), i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) AS DOUBLE) / CAST(len(range(2, LENGTH(text)+1, 2)) AS DOUBLE)")} AS right_mean,
             CAST(list_max(list_transform(range(1, LENGTH(text)+1), i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS peak
      FROM documents WHERE n_chars >= 2
      ORDER BY doc_id"""))

  // ---- m5_cdc_chunks: content-defined chunking over opaque payloads ------
  // The storage-dedup shape (rsync/LBFS-style): chunk boundaries fall
  // where a rolling 4-byte hash hits a modulus target, so identical
  // content produces identical chunks regardless of offset shifts —
  // unlike fixed-width framing (m3). Boundary detection is one bounded
  // HOF filter over positions (map-only, no explode); the per-doc chunk
  // stats derive from the boundary-position array in the same
  // projection. Integer arithmetic end to end — engine-exact.
  private val m5 = Q(
    (s, dir) => {
      val n = length(col("text"))
      def a(i: org.apache.spark.sql.Column) = ascii(col("text").substr(i, lit(1))).cast("long")
      val h = (i: org.apache.spark.sql.Column) =>
        a(i - 3) * (31L * 31L * 31L) + a(i - 2) * (31L * 31L) + a(i - 1) * 31L + a(i)
      val bounds = filter(sequence(lit(4), n), i => pmod(h(i), lit(64L)) === 0L)
      // chunk ends = boundaries + final position; lengths via zip with
      // the shifted array (start offset 0)
      val ends = concat(bounds, array(n))
      val starts = concat(array(lit(0)), bounds)
      val lens = zip_with(ends, starts, (e, st) => e - st)
      val realLens = filter(lens, l => l > 0)
      t(s, dir, "documents")
        .filter(col("n_chars") >= 4)
        .select(col("doc_id"), n.as("n_bytes"),
          size(realLens).as("n_chunks"),
          element_at(array_sort(realLens), -1).cast("long").as("max_chunk"),
          Det.qz(n.cast("double") / size(realLens).cast("double")).as("avg_chunk"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH b AS (
        SELECT doc_id, LENGTH(text) AS n,
               list_filter(range(4, LENGTH(text) + 1), i ->
                 (ascii(substr(text, CAST(i AS INTEGER) - 3, 1)) * 29791 +
                  ascii(substr(text, CAST(i AS INTEGER) - 2, 1)) * 961 +
                  ascii(substr(text, CAST(i AS INTEGER) - 1, 1)) * 31 +
                  ascii(substr(text, CAST(i AS INTEGER), 1))) % 64 = 0) AS bounds
        FROM documents WHERE n_chars >= 4),
      c AS (
        SELECT doc_id, n,
               list_filter(
                 list_transform(range(len(bounds) + 1), j ->
                   COALESCE(bounds[j + 1], n) - COALESCE(bounds[j], 0)),
                 l -> l > 0) AS lens
        FROM b)
      SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
             CAST(len(lens) AS INTEGER) AS n_chunks,
             CAST(list_max(lens) AS BIGINT) AS max_chunk,
             ${Det.qzSql("CAST(n AS DOUBLE) / CAST(len(lens) AS DOUBLE)")} AS avg_chunk
      FROM c ORDER BY doc_id"""))

  // ---- v3_ann_ivf: trained-partition ANN (KMeans centroids) -------------
  // Clustering output is initialization-dependent, so no SQL oracle; the
  // spec pins recall against the brute-force path.
  private val v3 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.ivfTopK(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", k = 10, nCentroids = 10, nProbe = 3, iters = 3)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },
    None)

  // ---- v6_ivf_pq: IVF + PQ ADC + exact re-rank (the full ANN stack) -----
  // Coarse quantizer restricts the scan to nProbe inverted lists; ADC
  // scores only those lists' 8-byte codes; the shortlist re-ranks on
  // full vectors. Training is iterative → rows-only; Round3Spec pins
  // recall against the brute-force baseline.
  private val v6 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", dims = 64, k = 10,
        nCentroids = 10, nProbe = 4, ivfIters = 3, shortlist = 50)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },
    None)

  // ---- v4_pq_codes: product-quantization compression --------------------
  // Training is iterative (not SQL-expressible) → rows-only; Round2Spec
  // pins reconstruction error below signal energy and the code shape.
  private val v4 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val enc = SimilaritySearch.pqEncode(emb, "vec_id", "embedding", dims = 64)
      enc.join(emb.select(col("vec_id").as("id"), col("label")), "id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          graft.Det.davg(col("err")).as("avg_sq_err"),
          countDistinct(col("codes")).as("n_distinct_codes"))
        .orderBy("label")
    },
    None)

  // ---- v5_pq_adc: asymmetric-distance search over PQ codes --------------
  private val v5 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.pqAdcTopK(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", dims = 64, k = 10)
        .select(col("qid"), col("cid"), col("adc_dist"), col("rnk"))
        .orderBy("qid", "rnk")
    },
    None)

  // ---- v7_sq_int8: scalar-quantized ADC search + exact re-rank -----------
  // The SQ8 tier of the ANN stack: candidates scanned as int8-range
  // codes (4× compression), per-query affine ADC scoring, bounded-heap
  // shortlist, exact re-rank. Training (per-dim ranges) is
  // sample-bounded → rows-only; Round5Spec pins recall vs brute force.
  private val v7 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.sqTopK(
        emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", dims = 64, k = 10, shortlist = 50)
        .select(col("qid"), col("cid"), col("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },
    None)

  // ---- m6_patch_grid: ViT-style patch tiling over opaque frames ---------
  // The vision-transformer preprocessing shape: from each frame's typed
  // header (m2's decode), derive the 16×16 patch grid and emit the
  // byte-level access plan (patch coords → row-major byte offset at the
  // format's pixel stride) for a BOUNDED corner window of the grid —
  // the explode is capped at 4×4 per frame, so row growth is a constant
  // factor, never width×height. Integer arithmetic end to end; the
  // actual pixel decode stays behind the codec stub (Multimodal.scala),
  // this is the distributed access-planning layer above it.
  private val m6 = Q(
    (s, dir) => {
      val P = 16
      val h = substring(md5(encode(col("text"), "UTF-8")), 1, 16)
      val base = t(s, dir, "documents")
        .select(col("doc_id"), h.as("hdr"))
        .select(col("doc_id"),
          element_at(array(lit("raw"), lit("rgb"), lit("yuv"), lit("gray")),
            (conv(substring(col("hdr"), 1, 1), 16, 10).cast("int") % 4) + 1).as("format"),
          conv(substring(col("hdr"), 2, 4), 16, 10).cast("long").as("width"),
          conv(substring(col("hdr"), 6, 4), 16, 10).cast("long").as("height"))
        .withColumn("bpp",
          element_at(map(lit("raw"), lit(1L), lit("rgb"), lit(3L),
            lit("yuv"), lit(2L), lit("gray"), lit(1L)), col("format")))
        // floor-div on both engines (plain / is float division in each,
        // and DuckDB's CAST(double AS BIGINT) rounds instead of truncating)
        .withColumn("npx", floor(col("width") / P).cast("long"))
        .withColumn("npy", floor(col("height") / P).cast("long"))
        .filter(col("npx") >= 1 && col("npy") >= 1)
      base
        .withColumn("py", explode(sequence(lit(0L), least(col("npy"), lit(4L)) - 1)))
        .withColumn("px", explode(sequence(lit(0L), least(col("npx"), lit(4L)) - 1)))
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          (col("npx") * col("npy")).as("n_patches"),
          (col("py") * col("npx") + col("px")).as("patch_id"),
          col("px"), col("py"),
          ((col("py") * P * col("width") + col("px") * P) * col("bpp")).as("byte_off"))
        .orderBy("doc_id", "patch_id")
    },
    Some(s"""
      WITH hh AS (
        SELECT doc_id, substr(md5(text), 1, 16) AS hdr FROM documents),
      b AS (
        SELECT doc_id,
               ['raw', 'rgb', 'yuv', 'gray'][(CAST(('0x' || substr(hdr, 1, 1)) AS INTEGER) % 4) + 1] AS format,
               CAST(('0x' || substr(hdr, 2, 4)) AS BIGINT) AS width,
               CAST(('0x' || substr(hdr, 6, 4)) AS BIGINT) AS height
        FROM hh),
      g AS (
        SELECT *,
               CASE format WHEN 'rgb' THEN 3 WHEN 'yuv' THEN 2 ELSE 1 END AS bpp,
               CAST(FLOOR(width / 16) AS BIGINT) AS npx,
               CAST(FLOOR(height / 16) AS BIGINT) AS npy
        FROM b WHERE width >= 16 AND height >= 16)
      SELECT doc_id, format, width, height,
             npx * npy AS n_patches,
             py * npx + px AS patch_id,
             px, py,
             (py * 16 * width + px * 16) * bpp AS byte_off
      FROM g, range(4) tx(px), range(4) ty(py)
      WHERE px < LEAST(npx, 4) AND py < LEAST(npy, 4)
      ORDER BY doc_id, patch_id"""))

  // ---- v8_recall_eval: ANN quality measurement --------------------------
  // The evaluation harness every ANN deployment runs before trusting an
  // index: recall@k of an approximate tier against the exact brute-force
  // baseline, per query. Join is on (qid, cid) id pairs — queries×k
  // rows however big the corpus — so the evaluator is constant-cost
  // relative to the index build. The evaluated index is the multi-probe
  // LSH tier (training-free), so this row bills the EVALUATOR, not an
  // inline k-means — v3's row already prices IVF training, and
  // Round6Spec pins the evaluator against IVF (nProbe→recall
  // monotonicity, full-probe==1.0 identity) separately. Approx side is
  // hash-dependent → rows-only.
  private val v8 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      val exact = SimilaritySearch.bruteForceTopK(q, c, "vec_id", "embedding", k = 10)
      val approx = SimilaritySearch.multiProbeLshTopK(q, c, "vec_id", "embedding",
        dims = 64, bits = 4, k = 10, nProbe = 3)
      SimilaritySearch.recallAtK(exact, approx, k = 10)
        .orderBy("qid")
    },
    None)

  // ---- t12_histogram: corpus length distribution per language ------------
  // Fixed-width histogram (500-char buckets) of document length by lang —
  // the profiling shape behind "what does this corpus look like" at
  // 100 TB: map-side bucket assignment, one keyed agg exchange, bounded
  // output (buckets × langs).
  private val t12 = Q(
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), (floor(col("n_chars") / 500) * 500).as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), Det.davg(col("n_chars")).as("avg_chars"))
        .orderBy("lang", "bucket_lo")
    },
    Some(s"""
      SELECT lang, CAST(FLOOR(n_chars / 500) * 500 AS BIGINT) AS bucket_lo,
             COUNT(*) AS n_docs, ${Det.davgSql("n_chars")} AS avg_chars
      FROM documents
      GROUP BY 1, 2 ORDER BY lang, bucket_lo"""))

  // ---- t13_profile: one-pass column profiling ----------------------------
  // Data-profiling dashboard over `documents`: per column, null count,
  // exact distinct, lexicographic min/max (truncated for display) — all
  // from ONE scan and one agg, unpivoted with stack(). The 100 TB path
  // swaps countDistinct for the mergeable HLL sketch (k1/k3) — shape is
  // identical.
  private val t13 = Q(
    (s, dir) => {
      def p(c: String, asStr: org.apache.spark.sql.Column) = Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        substring(min(asStr), 1, 24).as(s"${c}_min"),
        substring(max(asStr), 1, 24).as(s"${c}_max"))
      val cols = Seq("text" -> col("text"), "lang" -> col("lang"),
        "source" -> col("source"), "n_chars" -> col("n_chars").cast("string"))
      val aggs = cols.flatMap { case (n, c) => p(n, c) }
      t(s, dir, "documents").agg(aggs.head, aggs.tail: _*)
        .selectExpr("stack(4, " + cols.map(_._1).map(n =>
          s"'$n', ${n}_nulls, ${n}_distinct, ${n}_min, ${n}_max").mkString(", ") +
          ") AS (col_name, n_nulls, n_distinct, min_val, max_val)")
        .orderBy("col_name")
    },
    Some("""
      WITH a AS (
        SELECT
          CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
          COUNT(DISTINCT text) AS text_distinct,
          SUBSTR(MIN(text), 1, 24) AS text_min, SUBSTR(MAX(text), 1, 24) AS text_max,
          CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
          COUNT(DISTINCT lang) AS lang_distinct,
          SUBSTR(MIN(lang), 1, 24) AS lang_min, SUBSTR(MAX(lang), 1, 24) AS lang_max,
          CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
          COUNT(DISTINCT source) AS source_distinct,
          SUBSTR(MIN(source), 1, 24) AS source_min, SUBSTR(MAX(source), 1, 24) AS source_max,
          CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
          COUNT(DISTINCT n_chars) AS n_chars_distinct,
          SUBSTR(MIN(CAST(n_chars AS VARCHAR)), 1, 24) AS n_chars_min,
          SUBSTR(MAX(CAST(n_chars AS VARCHAR)), 1, 24) AS n_chars_max
        FROM documents)
      SELECT 'text' AS col_name, text_nulls AS n_nulls, text_distinct AS n_distinct,
             text_min AS min_val, text_max AS max_val FROM a
      UNION ALL SELECT 'lang', lang_nulls, lang_distinct, lang_min, lang_max FROM a
      UNION ALL SELECT 'source', source_nulls, source_distinct, source_min, source_max FROM a
      UNION ALL SELECT 'n_chars', n_chars_nulls, n_chars_distinct, n_chars_min, n_chars_max FROM a
      ORDER BY col_name"""))

  // ---- t14_tfidf: top TF-IDF terms per document --------------------------
  // Keyword extraction: term frequency (one keyed agg), document
  // frequency (second keyed agg over the already-distinct doc-term
  // pairs), rational idf surrogate (N+1)/(df+1) — transcendental-free so
  // both engines agree bit-for-bit — and a per-doc top-3 via row_number.
  // At 100 TB the tf→df join stays keyed (term-partitioned); nothing
  // here collects to the driver.
  private val t14 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = docs
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.join(dfc, "term").crossJoin(n)
        .withColumn("score", Det.qz(col("tf") *
          ((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      // bounded-heap top-3 per doc (no sort of the full doc-term table);
      // rank is a window over only the 3·docs survivors
      val top = graft.operators.TopK.perKey(scored,
        Seq("doc_id"), Seq(("score", false), ("term", true)), 3)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      top.withColumn("rnk", row_number().over(w))
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rnk")
    },
    Some(s"""
      WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM terms
        WHERE term <> '' GROUP BY doc_id, term),
      dfc AS (SELECT term AS dterm, COUNT(*) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term, tf, df,
               ${Det.qzSql("tf * ((n_docs + 1.0) / (df + 1.0))", 6)} AS score
        FROM tf JOIN dfc ON term = dterm CROSS JOIN n),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER
          (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        FROM scored)
      SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, df, score
      FROM ranked WHERE rnk <= 3
      ORDER BY doc_id, rnk"""))

  // ---- t15_char_entropy: letter-distribution entropy quality gate --------
  // Shannon entropy over the a–z letter distribution — the classic
  // gibberish/keyboard-mash detector (low entropy = repeated chars, high
  // ≈ log2(26) = uniform noise). Letter counts come from 26
  // length-after-replace expressions — MAP-ONLY, no explode of the text
  // into characters, so the operator is a pure scan at any corpus size.
  // Both engines evaluate the same left-associated a→z sum chain and the
  // same -(c/n)·log2(c/n) terms in doubles, so bits match; the final
  // quantization absorbs libm log2 ulp skew.
  private val t15 = Q(
    (s, dir) => {
      // Round-17: the 26 length-after-replace counts (each a full copy
      // of the lowered document) fuse into ONE byte scan —
      // [[graft.plans.LetterCountsExpr]] — bound as a lambda variable so
      // the kernel evaluates once per row; the sum chain and the
      // -(c/n)·log2(c/n) terms keep the exact a→z left association, so
      // the doubles (and the quantized cut) are bit-identical.
      val lc = graft.plans.LetterCountsExpr(lower(col("text")))
      val packed = element_at(transform(array(lc), a => {
        def cnt(i: Int) = element_at(a, i + 1)
        val nL = (0 until 26).map(cnt).reduce(_ + _).cast("long")
        val nl = nL.cast("double")
        val ent = (0 until 26).map { i =>
          val c = cnt(i).cast("double")
          when(c > 0, -(c / nl) * log2(c / nl)).otherwise(lit(0.0))
        }.reduce(_ + _)
        struct(nL.as("n_letters"), ent.as("ent"))
      }), 1)
      t(s, dir, "documents")
        .select(col("doc_id"), packed.as("p"))
        .select(col("doc_id"), col("p.n_letters").as("n_letters"), col("p.ent").as("ent"))
        .filter(col("n_letters") > 0)
        .withColumn("entropy", Det.qz(col("ent")))
        .withColumn("keep", (col("entropy") >= 2.0) && (col("entropy") <= 4.5))
        .select("doc_id", "n_letters", "entropy", "keep")
        .orderBy("doc_id")
    },
    Some {
      def cntSql(ch: Char) = s"(length(lt) - length(replace(lt, '$ch', '')))"
      val nSql = ('a' to 'z').map(cntSql).mkString(" + ")
      val entSql = ('a' to 'z').map { ch =>
        val c = s"CAST(${cntSql(ch)} AS DOUBLE)"
        s"CASE WHEN ${cntSql(ch)} > 0 THEN -($c / nl) * log2($c / nl) ELSE 0.0 END"
      }.mkString(" + ")
      s"""
      WITH c AS (SELECT doc_id, lower(text) AS lt FROM documents),
      n AS (SELECT doc_id, lt, CAST($nSql AS BIGINT) AS n_letters FROM c),
      f AS (SELECT doc_id, lt, n_letters, CAST(n_letters AS DOUBLE) AS nl
            FROM n WHERE n_letters > 0)
      SELECT doc_id, n_letters, ${Det.qzSql(entSql)} AS entropy,
             (${Det.qzSql(entSql)} >= 2.0 AND ${Det.qzSql(entSql)} <= 4.5) AS keep
      FROM f ORDER BY doc_id"""
    })

  // ---- t16_gopher_rules: word-level quality gate ------------------------
  // The Gopher/C4-style rule battery over word statistics: document word
  // count bounds, mean word length band, minimum stopword incidence, and
  // a short-word-fraction cap, composed into one keep flag. Every rule
  // input is quantized (Det.qz) BEFORE the cut line so the boolean is
  // engine-exact. Map-only: one projection over the scan, no explode —
  // word stats come from split + HOF folds, so the operator is a pure
  // scan at any corpus size.
  private val t16 = Q(
    (s, dir) => {
      val w = split(trim(lower(col("text"))), "\\s+")
      val nWords = size(w)
      val totLen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
      val nShort = size(filter(w, x => length(x) <= 2))
      val nStop = size(filter(w, x => x.isin("the", "a", "of", "and", "to", "in")))
      val meanLen = Det.qz(totLen.cast("double") / nWords.cast("double"))
      val shortFrac = Det.qz(nShort.cast("double") / nWords.cast("double"))
      val stopFrac = Det.qz(nStop.cast("double") / nWords.cast("double"))
      t(s, dir, "documents")
        .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
          shortFrac.as("short_frac"), stopFrac.as("stop_frac"))
        .withColumn("keep",
          col("n_words") >= 20 && col("n_words") <= 100000 &&
            col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
            col("stop_frac") >= 0.02 && col("short_frac") <= 0.3)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM documents),
      m AS (
        SELECT doc_id,
               CAST(len(w) AS INTEGER) AS n_words,
               ${Det.qzSql("CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS DOUBLE)")} AS mean_word_len,
               ${Det.qzSql("CAST(len(list_filter(w, x -> length(x) <= 2)) AS DOUBLE) / CAST(len(w) AS DOUBLE)")} AS short_frac,
               ${Det.qzSql("CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE) / CAST(len(w) AS DOUBLE)")} AS stop_frac
        FROM w)
      SELECT doc_id, n_words, mean_word_len, short_frac, stop_frac,
             (n_words >= 20 AND n_words <= 100000 AND
              mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
              stop_frac >= 0.02 AND short_frac <= 0.3) AS keep
      FROM m ORDER BY doc_id"""))

  // ---- t24_code_detect: code-vs-prose heuristic -------------------------
  // The training-mix router every web-scale corpus needs: is this
  // document source code or natural language? Symbol-density heuristics
  // (brace/semicolon/operator incidence, indented-line share, keyword
  // hits) composed into a score and a cut — the interpretable tier
  // below an ML classifier, and the shape the classifier's features
  // feed through anyway. Map-only: character counts by replace-diff,
  // line stats by one split, everything quantized before the cut.
  private val t24 = Q(
    (s, dir) => {
      val txt = col("text")
      def cnt(ss: String) =
        ((length(txt) - length(replace(txt, lit(ss), lit("")))) / ss.length).cast("long")
      val lines = split(txt, "\n")
      val nLines = size(lines)
      val nIndent = size(filter(lines, l => l.startsWith("    ") || l.startsWith("\t")))
      val symbols = cnt("{") + cnt("}") + cnt(";") + cnt("==") + cnt("->") + cnt("=>")
      val kw = size(filter(split(lower(txt), "\\s+"),
        x => x.isin("def", "return", "import", "class", "void", "const", "func", "let")))
      val nChars = length(txt).cast("long")
      val symDensity = Det.qz(symbols.cast("double") * 1000.0 / nChars.cast("double"))
      val indentFrac = Det.qz(nIndent.cast("double") / nLines.cast("double"))
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), nChars.as("n_chars_m"),
          symbols.as("n_symbols"), kw.as("n_keywords"),
          symDensity.as("sym_per_kchar"), indentFrac.as("indent_frac"))
        .withColumn("is_code",
          col("sym_per_kchar") >= 20.0 ||
            (col("n_keywords") >= 3 && col("indent_frac") >= 0.2))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               CAST((length(text) - length(replace(text, '{', ''))) +
                    (length(text) - length(replace(text, '}', ''))) +
                    (length(text) - length(replace(text, ';', ''))) +
                    (length(text) - length(replace(text, '==', ''))) / 2 +
                    (length(text) - length(replace(text, '->', ''))) / 2 +
                    (length(text) - length(replace(text, '=>', ''))) / 2 AS BIGINT) AS n_symbols,
               CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                 x -> x IN ('def','return','import','class','void','const','func','let'))) AS INTEGER) AS n_keywords,
               CAST(len(list_filter(regexp_split_to_array(text, '\\n'),
                 l -> l LIKE '    %' OR l LIKE chr(9) || '%')) AS DOUBLE) /
               CAST(len(regexp_split_to_array(text, '\\n')) AS DOUBLE) AS indent_frac_raw
        FROM documents WHERE length(text) > 0)
      SELECT doc_id, n_chars_m, n_symbols, n_keywords,
             ${Det.qzSql("CAST(n_symbols AS DOUBLE) * 1000.0 / CAST(n_chars_m AS DOUBLE)")} AS sym_per_kchar,
             ${Det.qzSql("indent_frac_raw")} AS indent_frac,
             (${Det.qzSql("CAST(n_symbols AS DOUBLE) * 1000.0 / CAST(n_chars_m AS DOUBLE)")} >= 20.0 OR
              (n_keywords >= 3 AND ${Det.qzSql("indent_frac_raw")} >= 0.2)) AS is_code
      FROM m ORDER BY doc_id"""))

  // ---- t25_host_rank: PageRank over the host graph ----------------------
  // The crawl-authority signal corpus curation weights by (CommonCrawl
  // publishes exactly this): PageRank on a host-level link graph, here
  // synthesized deterministically (50 hosts, two fixed out-links each)
  // so both engines build the identical graph. Three Jacobi iterations,
  // d = 0.85, each one keyed join + keyed agg — the 100 TB shape, where
  // iterations dominate and every round is one shuffle on the dst key.
  // Per-iteration contributions are pre-quantized to 1e-6 so the
  // decimal-exact sum sees identical values on both engines (a raw
  // double→decimal cast rounds differently: Spark HALF_UP on the
  // shortest string, DuckDB on the scaled binary).
  private val t25 = Q(
    (s, dir) => {
      val hosts = t(s, dir, "documents").select((col("doc_id") % 50).as("h")).distinct()
      val el = hosts.select(col("h").as("src"))
        .select(col("src"), explode(array(
          (col("src") * 7 + 3) % 50, (col("src") * 13 + 11) % 50)).as("dst"))
      var pr = hosts.select(col("h"), lit(0.02).as("pr"))
      for (_ <- 1 to 3) {
        val contrib = el.join(pr, col("src") === col("h"))
          .select(col("dst"), Det.qz(col("pr") / 2, 6).as("c"))
        val agg = contrib.groupBy("dst").agg(Det.dsum(col("c")).as("sc"))
        pr = hosts.join(agg, col("h") === col("dst"), "left")
          .select(col("h"),
            Det.qz(lit(3.0e-3) + lit(8.5e-1) * coalesce(col("sc"), lit(0.0)), 6).as("pr"))
      }
      pr.select(col("h").as("host"), col("pr")).orderBy("host")
    },
    Some(s"""
      WITH hosts AS (SELECT DISTINCT doc_id % 50 AS h FROM documents),
      el AS (
        SELECT h AS src, (h * 7 + 3) % 50 AS dst FROM hosts
        UNION ALL SELECT h, (h * 13 + 11) % 50 FROM hosts),
      pr0 AS (SELECT h, 2.0e-2 AS pr FROM hosts),
      c1 AS (SELECT dst, FLOOR(pr / 2 * 1e6 + 0.5) / 1e6 AS c FROM el JOIN pr0 ON src = h),
      a1 AS (SELECT dst, ${Det.dsumSql("c")} AS sc FROM c1 GROUP BY dst),
      pr1 AS (SELECT h, FLOOR((3.0e-3 + 8.5e-1 * COALESCE(sc, 0.0)) * 1e6 + 0.5) / 1e6 AS pr
              FROM hosts LEFT JOIN a1 ON h = a1.dst),
      c2 AS (SELECT dst, FLOOR(pr / 2 * 1e6 + 0.5) / 1e6 AS c FROM el JOIN pr1 ON src = h),
      a2 AS (SELECT dst, ${Det.dsumSql("c")} AS sc FROM c2 GROUP BY dst),
      pr2 AS (SELECT h, FLOOR((3.0e-3 + 8.5e-1 * COALESCE(sc, 0.0)) * 1e6 + 0.5) / 1e6 AS pr
              FROM hosts LEFT JOIN a2 ON h = a2.dst),
      c3 AS (SELECT dst, FLOOR(pr / 2 * 1e6 + 0.5) / 1e6 AS c FROM el JOIN pr2 ON src = h),
      a3 AS (SELECT dst, ${Det.dsumSql("c")} AS sc FROM c3 GROUP BY dst),
      pr3 AS (SELECT h, FLOOR((3.0e-3 + 8.5e-1 * COALESCE(sc, 0.0)) * 1e6 + 0.5) / 1e6 AS pr
              FROM hosts LEFT JOIN a3 ON h = a3.dst)
      SELECT h AS host, pr FROM pr3 ORDER BY host"""))

  // ---- t26_readability: Flesch reading ease per language -----------------
  // The grade-level routing signal curriculum-ordered training mixes cut
  // on (easy → hard). Flesch reading ease with a vowel-group syllable
  // proxy (the standard dictionary-free approximation): words = \S+ runs,
  // sentences = [.!?]+ runs, syllables = [aeiouy]+ groups. All three are
  // single regexp_count passes — map-only below one keyed agg. Every
  // ratio is pure-IEEE then floor-quantized before banding and before the
  // decimal mean, so the band cuts and the averages are engine-exact.
  private val t26 = Q(
    (s, dir) => {
      val words = greatest(regexp_count(col("text"), lit("\\S+")), lit(1L))
      val sents = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1L))
      val syll = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1L))
      val flesch = Det.qz(lit(206.835)
        - lit(1.015) * (words.cast("double") / sents.cast("double"))
        - lit(84.6) * (syll.cast("double") / words.cast("double")))
      val band = when(col("flesch") >= 90, "very_easy")
        .when(col("flesch") >= 70, "easy")
        .when(col("flesch") >= 50, "medium")
        .when(col("flesch") >= 30, "hard")
        .otherwise("very_hard")
      t(s, dir, "documents")
        .select(col("lang"), flesch.as("flesch"),
          Det.qz(words.cast("double") / sents.cast("double")).as("wps"))
        .select(col("lang"), col("flesch"), col("wps"), band.as("band"))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n"),
          Det.davg(col("flesch")).as("avg_flesch"),
          Det.davg(col("wps")).as("avg_wps"))
        .orderBy("lang", "band")
    },
    Some(s"""
      WITH f AS (
        SELECT lang,
               GREATEST(len(regexp_extract_all(text, '\\S+')), 1) AS words,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
               GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syll
        FROM documents),
      sc AS (
        SELECT lang,
               ${Det.qzSql("206.835 - 1.015 * (CAST(words AS DOUBLE) / sents) " +
                           "- 84.6 * (CAST(syll AS DOUBLE) / words)")} AS flesch,
               ${Det.qzSql("CAST(words AS DOUBLE) / sents")} AS wps
        FROM f)
      SELECT lang,
             CASE WHEN flesch >= 90 THEN 'very_easy'
                  WHEN flesch >= 70 THEN 'easy'
                  WHEN flesch >= 50 THEN 'medium'
                  WHEN flesch >= 30 THEN 'hard'
                  ELSE 'very_hard' END AS band,
             COUNT(*) AS n,
             ${Det.davgSql("flesch")} AS avg_flesch,
             ${Det.davgSql("wps")} AS avg_wps
      FROM sc GROUP BY 1, 2 ORDER BY lang, band"""))

  // ---- t27_domain_cap: per-domain document caps (C4-style) ---------------
  // Crawl corpora cap documents per registered domain so one hot site
  // can't dominate the mix (C4 does exactly this). Keep the `cap` best
  // documents per domain by a deterministic quality key (n_chars desc,
  // doc_id asc tie-break) — routed through the custom GroupedTopK plan
  // node (bounded per-group heaps with a map-side partial pass, no
  // partition sort), so the cap costs ONE keyed exchange at any corpus
  // size. The oracle replays it as the window row_number shape.
  private val t27 = Q(
    (s, dir) => {
      val cap = 25
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 37).as("domain"),
          col("n_chars"), col("lang"))
      graft.operators.TopK.perKey(docs,
        keys = Seq("domain"),
        order = Seq(("n_chars", false), ("doc_id", true)),
        k = cap)
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"),
          min(col("n_chars")).as("cut_n_chars"))
        .orderBy("domain")
    },
    Some("""
      WITH ranked AS (
        SELECT doc_id % 37 AS domain, n_chars,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 37
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
      SELECT domain, COUNT(*) AS n_kept,
             CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
             MIN(n_chars) AS cut_n_chars
      FROM ranked WHERE rn <= 25
      GROUP BY domain ORDER BY domain"""))

  // ---- t17_domain_tld: URL structure analytics ---------------------------
  // The crawl-corpus provenance rollup: parse URLs (synthesized
  // deterministically from doc_id on BOTH engines, like d6) into host /
  // registered domain / TLD / path depth with one regexp_extract pass
  // (map-only), then aggregate per TLD. The parse is the same shape
  // `parse_url` covers, expressed as portable regex so the oracle
  // replays it.
  private val t17 = Q(
    (s, dir) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net"), lit("io"), lit("ca")),
        (col("doc_id") % 5).cast("int") + 1)
      val url = concat(lit("https://sub"), (col("doc_id") % 3).cast("string"),
        lit(".example"), (col("doc_id") % 7).cast("string"), lit("."), tld,
        lit("/p"), (col("doc_id") % 4).cast("string"), lit("/item"),
        (col("doc_id") % 11).cast("string"))
      val host = regexp_extract(col("url"), "^https?://([^/]+)", 1)
      val path = regexp_extract(col("url"), "^https?://[^/]+(/.*)$", 1)
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"), col("n_chars"))
        .select(col("doc_id"), col("n_chars"), host.as("host"),
          (length(path) - length(replace(path, lit("/"), lit("")))).as("path_depth"))
        // registered domain / TLD come off the parsed host, not the full
        // URL (whose trailing path segment would defeat a $-anchored match)
        .select(col("doc_id"), col("n_chars"), col("host"),
          regexp_extract(col("host"), "([^./]+\\.[^./]+)$", 1).as("domain"),
          regexp_extract(col("host"), "\\.([^./]+)$", 1).as("tld"),
          col("path_depth"))
        .groupBy(col("tld"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("domain")).as("n_domains"),
          Det.davg(col("path_depth").cast("double")).as("avg_depth"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("tld")
    },
    Some(s"""
      WITH u AS (
        SELECT doc_id, n_chars,
               'https://sub' || CAST(doc_id % 3 AS VARCHAR) ||
               '.example' || CAST(doc_id % 7 AS VARCHAR) || '.' ||
               ['com','org','net','io','ca'][CAST(doc_id % 5 AS INTEGER) + 1] ||
               '/p' || CAST(doc_id % 4 AS VARCHAR) || '/item' || CAST(doc_id % 11 AS VARCHAR) AS url
        FROM documents),
      p AS (
        SELECT doc_id, n_chars,
               regexp_extract(url, '^https?://([^/]+)', 1) AS host,
               regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1), '([^./]+\\.[^./]+)$$', 1) AS domain,
               regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1), '\\.([^./]+)$$', 1) AS tld,
               length(regexp_extract(url, '^https?://[^/]+(/.*)$$', 1)) -
                 length(replace(regexp_extract(url, '^https?://[^/]+(/.*)$$', 1), '/', '')) AS path_depth
        FROM u)
      SELECT tld, COUNT(*) AS n_docs,
             COUNT(DISTINCT host) AS n_hosts,
             COUNT(DISTINCT domain) AS n_domains,
             ${Det.davgSql("CAST(path_depth AS DOUBLE)")} AS avg_depth,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM p GROUP BY tld ORDER BY tld"""))

  // ---- d10_dedup_fuzzy: blocked edit-distance near-dup pairs -------------
  // Fuzzy dedup the way production pipelines block it: candidate pairs
  // form ONLY inside (lang, length-bucket) blocks — never an O(n²) corpus
  // cross join — and the expensive levenshtein runs on a bounded prefix
  // of each side. At 100 TB the block join is one keyed exchange on the
  // block id; skewed blocks fall to AQE.
  private val d10 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("lang"),
          floor(col("n_chars") / 50).as("lenb"),
          substring(col("text"), 1, 60).as("pfx"))
      d.as("a").join(d.as("b"),
          col("a.lang") === col("b.lang") && col("a.lenb") === col("b.lenb") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          col("a.lang").as("lang"),
          levenshtein(col("a.pfx"), col("b.pfx")).as("dist"))
        .filter(col("dist") <= 20)
        .orderBy("id1", "id2")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang, CAST(FLOOR(n_chars / 50) AS BIGINT) AS lenb,
               substr(text, 1, 60) AS pfx
        FROM documents WHERE doc_id < 150)
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.lang AS lang,
             CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id
      WHERE levenshtein(a.pfx, b.pfx) <= 20
      ORDER BY id1, id2"""))

  // ---- t18_unigram_ll: unigram LM quality score --------------------------
  // The KenLM-filter shape with the LM trained in-stream: per-language
  // unigram probabilities from corpus counts (one keyed agg), each
  // document scored by its tokens' mean negative log-likelihood with
  // add-one smoothing (token→prob join is keyed on the token; nothing
  // collects). ln() is libm on both engines — Det.qz absorbs the ulp
  // skew exactly as t15 does for log2. Low score = in-distribution text;
  // the cut line compares quantized values so keep is engine-exact.
  private val t18 = Q(
    (s, dir) => {
      val tok = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("tk"))
        .filter(col("tk") =!= "")
      val vocab = tok.groupBy(col("lang").as("vlang"), col("tk").as("vtk"))
        .agg(count(lit(1)).as("cnt"))
      val totals = vocab.groupBy(col("vlang"))
        .agg(sum(col("cnt")).as("n_tok"), count(lit(1)).as("n_vocab"))
      val probs = vocab.join(broadcast(totals), "vlang")
        .select(col("vlang"), col("vtk"),
          ((col("cnt") + 1.0) / (col("n_tok") + col("n_vocab"))).as("p"))
      tok.join(probs, col("lang") === col("vlang") && col("tk") === col("vtk"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          Det.qz(Det.dsum(-log(col("p"))) / count(lit(1))).as("avg_nll"))
        .withColumn("keep", col("avg_nll") <= 6.0)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tk
        FROM documents),
      tok2 AS (SELECT * FROM tok WHERE tk <> ''),
      vocab AS (
        SELECT lang, tk, COUNT(*) AS cnt FROM tok2 GROUP BY 1, 2),
      totals AS (
        SELECT lang, SUM(cnt) AS n_tok, COUNT(*) AS n_vocab FROM vocab GROUP BY 1),
      probs AS (
        SELECT v.lang, v.tk, (cnt + 1.0) / (n_tok + n_vocab) AS p
        FROM vocab v JOIN totals t ON v.lang = t.lang),
      scored AS (
        SELECT doc_id, COUNT(*) AS n_toks,
               ${Det.qzSql(s"${Det.dsumSql("-ln(p)")} / COUNT(*)")} AS avg_nll
        FROM tok2 k JOIN probs p ON k.lang = p.lang AND k.tk = p.tk
        GROUP BY doc_id)
      SELECT doc_id, n_toks, avg_nll, (avg_nll <= 6.0) AS keep
      FROM scored ORDER BY doc_id"""))

  // ---- d11_snapshot_diff: corpus version delta ---------------------------
  // The incremental-ingest bookkeeping op: diff two corpus snapshots
  // (v2 drops doc_id % 17 == 0, rewrites text for doc_id % 13 == 0,
  // keeps the rest) into added / removed / changed / unchanged via ONE
  // full outer join on doc_id comparing content hashes. At 100 TB both
  // sides shuffle once on the id — or zero times if both snapshots are
  // bucketed by id ([[Sink]]). Since round 12 the two versions are REAL
  // [[SnapshotTable]] commits read back through `readAt` — the table
  // format's time-travel contract exercised by its flagship consumer
  // query, not a same-plan synthesis.
  private def d11Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d11") { path =>
      val docs = t(s, dir, "documents")
      SnapshotTable.write(s, docs.select(col("doc_id"), col("text")), path)
      SnapshotTable.write(s, docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text")), path)
    }

  /** SnapshotTable fixture staging shared by d11 and d23–d54, keyed by
    * (prefix, sf dir) in the application's scratch dir
    * ([[Tables.scratch]]), so every fixture is staged by the code
    * that is running and removed when the SparkContext stops. Content is
    * deterministic per sf dir, so reuse within the application is sound;
    * anything other than exactly the `expect` version set — a crashed
    * half-stage, a commit planted on top — is torn down and rebuilt
    * rather than trusted.
    */
  private[graft] def fixturePath(s: SparkSession, dir: String, prefix: String): String =
    new java.io.File(Tables.scratch(s), s"$prefix-${Tables.dirKey(dir)}").toString

  private def stagedSnapshotFixture(s: SparkSession, dir: String, prefix: String,
                                    expect: Seq[Long] = Seq(1L, 2L))
                                   (build: String => Unit): String = {
    val path = fixturePath(s, dir, prefix)
    if (SnapshotTable.versions(s, path) != expect) {
      val hp = new org.apache.hadoop.fs.Path(path)
      val f = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      // a failed teardown must fail HERE: building on top of a stale
      // table would serve wrong v1/v2 content for this whole run
      // (Hadoop's delete returns false instead of throwing)
      if (!f.delete(hp, true) && f.exists(hp)) throw new java.io.IOException(
        s"cannot remove stale fixture at $path; refusing to stage on top of it")
      build(path)
      val staged = SnapshotTable.versions(s, path)
      if (staged != expect) throw new IllegalStateException(
        s"fixture staging at $path produced versions $staged, expected $expect")
    }
    path
  }

  private val d11 = Q(
    (s, dir) => {
      val path = d11Fixture(s, dir)
      val v1 = SnapshotTable.readAt(s, path, 1L)
        .select(col("doc_id").as("id1"), md5(col("text")).as("h1"))
      val v2 = SnapshotTable.readAt(s, path, 2L)
        .select(col("doc_id").as("id2"), md5(col("text")).as("h2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .select(
          when(col("id1").isNull, "added")
            .when(col("id2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    },
    Some("""
      WITH v1 AS (SELECT doc_id AS id1, md5(text) AS h1 FROM documents),
      v2 AS (
        SELECT doc_id AS id2,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h2
        FROM documents WHERE doc_id % 17 <> 0)
      SELECT CASE WHEN id1 IS NULL THEN 'added'
                  WHEN id2 IS NULL THEN 'removed'
                  WHEN h1 <> h2 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COUNT(*) AS n_docs
      FROM v1 FULL OUTER JOIN v2 ON id1 = id2
      GROUP BY 1 ORDER BY status"""))

  // ---- t19_context_pack: sequence packing into context windows -----------
  // The GPT-pretraining packing shape: per packing stream, documents are
  // concatenated in a deterministic order (doc_id) and chunked into
  // fixed token-budget context windows — chunk id is just
  // floor(preceding_tokens / budget) over a running sum, so packing is
  // ONE keyed exchange (the per-stream window) plus the per-chunk rollup.
  // The stream key is (lang, pack_shard) with pack_shard a salted
  // portable hash of the doc id mod N (t32's shard machinery):
  // partitioning by bare lang would cap packing parallelism at the
  // language count — ~10 reducer tasks each sorting a whole language at
  // 100 TB — while the composite key scales the stream count with N
  // (a parameter that rises with the cluster; the 8 here is test-sized)
  // and stays deterministic and engine-portable with no RNG state.
  // Output: per-chunk document count, token fill, and fill fraction
  // (the packing-efficiency metric batch builders watch).
  private val t19budget = 2048L

  /** Packing streams per language for t19/t31 (test-size parameter — at
    * warehouse scale this rises with the cluster, like t32's N_SHARDS).
    * The salted portable hash makes stream assignment uniform,
    * deterministic across runs, and replayable in the oracle engine.
    */
  private val packShards = 8L
  private def packShard: org.apache.spark.sql.Column =
    Text.md5Long(concat(lit("pack:"), col("doc_id").cast("string"))) % packShards
  private def packShardSql: String =
    s"${Text.md5LongSql("'pack:' || CAST(doc_id AS VARCHAR)")} % $packShards"

  private val t19 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("lang"), col("pack_shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val toks = size(split(trim(col("text")), "\\s+")).cast("long")
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), toks.as("n_toks"))
        .withColumn("pack_shard", packShard)
        .withColumn("before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
        .withColumn("chunk_id", floor(col("before") / t19budget))
        .groupBy(col("lang"), col("pack_shard"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("chunk_toks"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .withColumn("fill_frac",
          Det.qz(col("chunk_toks").cast("double") / lit(t19budget.toDouble), 6))
        .orderBy("lang", "pack_shard", "chunk_id")
    },
    Some(s"""
      WITH d AS (
        SELECT lang, doc_id, $packShardSql AS pack_shard,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
        FROM documents),
      p AS (
        SELECT lang, pack_shard, doc_id, n_toks,
               COALESCE(SUM(n_toks) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        FROM d)
      SELECT lang, CAST(pack_shard AS BIGINT) AS pack_shard,
             CAST(FLOOR(before / $t19budget) AS BIGINT) AS chunk_id,
             COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS chunk_toks,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
             ${Det.qzSql(s"CAST(SUM(n_toks) AS DOUBLE) / $t19budget.0", 6)} AS fill_frac
      FROM p GROUP BY 1, 2, 3 ORDER BY lang, pack_shard, chunk_id"""))

  // ---- p1_corpus_pipeline: the end-to-end cleaning funnel ----------------
  // The headline composite: language-ID gate → quality-score gate →
  // repetition gate → exact-dedup keep, chained CUMULATIVELY the way a
  // production corpus build applies them, reported as a per-source
  // survival funnel with kept-token volume. Everything up to the dedup
  // window is MAP-ONLY (langid/quality/repetition are projections; the
  // repetition ratio uses array_distinct in-row, no token shuffle);
  // the dedup owner is one window over the content hash; the funnel
  // rollup is one keyed agg. Three exchanges total at any corpus size.
  /** The p1 gate cascade (langid → quality → repetition → exact-dedup
    * owner), shared by p1 and p3 so the two funnels cannot drift: one
    * row per doc with the cumulative g_* flags.
    */
  private def stagedGates(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val dupFrac = Det.qz(lit(1.0) -
      size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 6)
    val hw = Window.partitionBy(col("h"))
    t(s, dir, "documents")
      .withColumn("h", md5(col("text")))
      .withColumn("predicted", Text.langPredict(col("text")))
      .withColumn("score", Text.qualityScore(col("text")))
      .withColumn("dup_frac", dupFrac)
      .withColumn("n_toks", size(toks).cast("long"))
      .withColumn("owner", min(col("doc_id")).over(hw))
      .withColumn("g_lang", col("predicted") =!= "und")
      .withColumn("g_quality", col("g_lang") && col("score") >= 0.4)
      .withColumn("g_rep", col("g_quality") && col("dup_frac") <= 0.6)
      .withColumn("g_kept", col("g_rep") && col("doc_id") === col("owner"))
  }

  /** SQL twin of [[stagedGates]] as a CTE prefix (`lang`, `qual`,
    * `staged`, `flags`) — `flags` carries the superset of columns both
    * consumers read.
    */
  private def stagedGatesSql: String = s"""
      lang AS (
        SELECT doc_id, $langPredictSql AS predicted
        FROM (SELECT doc_id, $langScoresSql FROM documents) a),
      qual AS ($qualityScoreSql),
      staged AS (
        SELECT d.doc_id, d.source, d.text,
               l.predicted <> 'und' AS g_lang,
               (l.predicted <> 'und' AND q.score >= 0.4) AS g_quality,
               (l.predicted <> 'und' AND q.score >= 0.4 AND
                FLOOR((1.0 - CAST(len(list_distinct(regexp_split_to_array(trim(d.text), '\\s+'))) AS DOUBLE)
                       / CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS DOUBLE)) * 1e6 + 0.5) / 1e6 <= 0.6) AS g_rep,
               CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS n_toks,
               MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS owner
        FROM documents d
        JOIN lang l ON d.doc_id = l.doc_id
        JOIN qual q ON d.doc_id = q.doc_id),
      flags AS (
        SELECT doc_id, source, text, n_toks, g_lang, g_quality, g_rep,
               (g_rep AND doc_id = owner) AS g_kept
        FROM staged)"""

  private val p1 = Q(
    (s, dir) => {
      stagedGates(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("g_lang"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("g_quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("g_rep"), 1L).otherwise(0L)).as("n_rep"),
          sum(when(col("g_kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("g_kept"), col("n_toks")).otherwise(0L)).as("kept_toks"))
        .withColumn("yield_frac",
          Det.qz(col("n_kept").cast("double") / col("n_total").cast("double"), 6))
        .orderBy("source")
    },
    Some(s"""
      WITH $stagedGatesSql
      SELECT source, COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN g_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
             CAST(SUM(CASE WHEN g_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
             CAST(SUM(CASE WHEN g_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
             CAST(SUM(CASE WHEN g_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN g_kept THEN n_toks ELSE 0 END) AS BIGINT) AS kept_toks,
             ${Det.qzSql("CAST(SUM(CASE WHEN g_kept THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS yield_frac
      FROM flags GROUP BY source ORDER BY source"""))

  // ---- p3_curation_pipeline: p1 + substring excision ---------------------
  // The FULL modern curation chain (what a production corpus build runs
  // end-to-end): langid → quality → repetition → exact-dedup keep →
  // exact-SUBSTRING excision (Lee et al. dedup over the doc-level
  // survivors). Stage order matters and is the production order:
  // doc-level dedup first, so spans that repeat only because whole-doc
  // duplicates exist are already gone and the substring pass sees each
  // surviving doc once. On the kept set, `Dedup.repeatedRuns` marks
  // maximal repeated token runs; the d20 policy applies — a doc at
  // ≥80% repeated coverage is dropped outright (integer-exact gate,
  // n_removed·5 < n_toks·4), otherwise its repeated tokens are excised
  // from the kept-token volume. Funnel accounting extends p1 with
  // n_substr (docs surviving the coverage gate) and clean_toks (token
  // volume AFTER excision — the number the training loader actually
  // reads). Plan: p1's three exchanges + the two linear shingle-keyed
  // exchanges of the runs pass over the (smaller) kept subset.
  private val p3 = Q(
    (s, dir) => {
      val staged = stagedGates(s, dir)
      val kept = staged.filter(col("g_kept"))
        .select(col("doc_id"), col("source"), col("text"), col("n_toks"))
      val removed = Dedup.repeatedRuns(Tables.spread(kept, col("doc_id")),
          "doc_id", "text", d19k)
        .groupBy(col("doc_id"))
        .agg(sum(col("p1") - col("p0") + 1).as("n_removed"))
      val substr = kept.join(removed, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_removed"))
        .withColumn("g_substr", col("n_removed") * 5 < col("n_toks") * 4)
        .groupBy(col("source"))
        .agg(sum(when(col("g_substr"), 1L).otherwise(0L)).as("n_substr"),
          sum(when(col("g_substr"), col("n_toks") - col("n_removed"))
            .otherwise(0L)).as("clean_toks"))
      staged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("g_lang"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("g_quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("g_rep"), 1L).otherwise(0L)).as("n_rep"),
          sum(when(col("g_kept"), 1L).otherwise(0L)).as("n_kept"))
        .join(substr, Seq("source"), "left")
        .na.fill(0L, Seq("n_substr", "clean_toks"))
        .withColumn("yield_frac",
          Det.qz(col("n_substr").cast("double") / col("n_total").cast("double"), 6))
        .orderBy("source")
    },
    Some(s"""
      WITH $stagedGatesSql,
      kept AS (SELECT doc_id, source, text, n_toks FROM flags WHERE g_kept),
      ${repeatedRunsSql("kept")},
      removed AS (
        SELECT doc_id, CAST(SUM(p1 - p0 + 1) AS BIGINT) AS n_removed
        FROM runs GROUP BY doc_id),
      substr AS (
        SELECT k.source,
               CAST(SUM(CASE WHEN COALESCE(r.n_removed, 0) * 5 < k.n_toks * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_substr,
               CAST(SUM(CASE WHEN COALESCE(r.n_removed, 0) * 5 < k.n_toks * 4
                             THEN k.n_toks - COALESCE(r.n_removed, 0) ELSE 0 END) AS BIGINT) AS clean_toks
        FROM kept k LEFT JOIN removed r USING (doc_id)
        GROUP BY k.source),
      fcnt AS (
        SELECT source, COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN g_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
               CAST(SUM(CASE WHEN g_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
               CAST(SUM(CASE WHEN g_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
               CAST(SUM(CASE WHEN g_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM flags GROUP BY source)
      SELECT f.source, f.n_total, f.n_lang, f.n_quality, f.n_rep, f.n_kept,
             COALESCE(s.n_substr, 0) AS n_substr,
             COALESCE(s.clean_toks, 0) AS clean_toks,
             ${Det.qzSql("CAST(COALESCE(s.n_substr, 0) AS DOUBLE) / CAST(f.n_total AS DOUBLE)", 6)} AS yield_frac
      FROM fcnt f LEFT JOIN substr s USING (source)
      ORDER BY f.source"""))

  // ---- t21_length_gate: percentile winsorization filter ------------------
  // The outlier-length gate corpus builds run before training: per-lang
  // exact interpolated p5/p95 of document length, then each doc keeps
  // iff its length falls inside the (quantized) band. Percentiles are
  // one keyed agg over a bounded group count → broadcast back; the gate
  // itself is map-side. The cut line compares QUANTIZED bounds so the
  // keep decision is engine-exact.
  private val t21 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val pcts = d.groupBy(col("lang").as("plang"))
        .agg(Det.qz(expr("percentile(n_chars, 0.05)")).as("p5"),
          Det.qz(expr("percentile(n_chars, 0.95)")).as("p95"))
      d.join(broadcast(pcts), col("lang") === col("plang"))
        .withColumn("keep", col("n_chars") >= col("p5") && col("n_chars") <= col("p95"))
        .groupBy(col("lang"), col("p5"), col("p95"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    },
    Some(s"""
      WITH p AS (
        SELECT lang AS plang,
               ${Det.qzSql("quantile_cont(n_chars, 0.05)")} AS p5,
               ${Det.qzSql("quantile_cont(n_chars, 0.95)")} AS p95
        FROM documents GROUP BY lang)
      SELECT lang, p5, p95, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN n_chars >= p5 AND n_chars <= p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents JOIN p ON lang = plang
      GROUP BY lang, p5, p95 ORDER BY lang"""))

  // ---- d14_dedup_incremental: bloom-prefiltered new-batch dedup ----------
  // The cronjob shape of dedup at 100 TB: an existing corpus summarized
  // as a Bloom filter over content hashes splits each incoming batch —
  // probe-negative rows are DEFINITELY new (no join work at all, the
  // overwhelming majority at normal dup rates), probe-positive rows
  // (true dups + the fpp share) resolve exactly with an anti-join the
  // bloom already shrank. The bloom is a pure prefilter, so the OUTPUT
  // is exactly "incoming minus exact duplicates" — fully deterministic
  // and SQL-oracle-checked even though a sketch sits on the fast path.
  private val d14 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.newDocuments(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "doc_id", "text", expectedItems = 1000L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents i
      WHERE doc_id >= 400 AND NOT EXISTS (
        SELECT 1 FROM documents e
        WHERE e.doc_id < 400 AND md5(e.text) = md5(i.text))
      ORDER BY doc_id"""))

  // ---- t22_html_strip: boilerplate/markup removal ------------------------
  // The first transform every web-crawl pipeline runs: drop script/style
  // blocks, strip tags, collapse whitespace. HTML is synthesized
  // deterministically around each doc's text on BOTH engines (same d6
  // convention), the strip chain is three regexp_replace passes —
  // map-only, codegen'd, no UDF.
  private val t22 = Q(
    (s, dir) => {
      val html = concat(lit("<html><body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><nav><a href=\"/home\">home</a></nav><p>"),
        substring(col("text"), 1, 200),
        lit("</p><script>var x = 1;</script></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("html"), lit("<[^>]+>"), lit(0))).as("n_tags"),
          trim(regexp_replace(regexp_replace(regexp_replace(col("html"),
            "<script[^<]*</script>", " "), "<[^>]+>", " "), "\\s+", " ")).as("clean"))
        .select(col("doc_id"), col("n_tags"), length(col("clean")).as("clean_len"),
          substring(col("clean"), 1, 40).as("clean_prefix"))
        .orderBy("doc_id")
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
               '</h1><nav><a href="/home">home</a></nav><p>' ||
               substr(text, 1, 200) ||
               '</p><script>var x = 1;</script></body></html>' AS html
        FROM documents),
      c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(html, '<[^>]+>')) AS INTEGER) AS n_tags,
               trim(regexp_replace(regexp_replace(regexp_replace(html,
                 '<script[^<]*</script>', ' ', 'g'), '<[^>]+>', ' ', 'g'),
                 '\s+', ' ', 'g')) AS clean
        FROM h)
      SELECT doc_id, n_tags, CAST(length(clean) AS INTEGER) AS clean_len,
             substr(clean, 1, 40) AS clean_prefix
      FROM c ORDER BY doc_id"""))

  // ---- t23_zipf_slope: rank-frequency power-law fit ----------------------
  // Corpus health check: the least-squares slope of ln(freq) on ln(rank)
  // over the top-200 tokens (natural text ≈ −1; a corpus that drifts far
  // off is boilerplate- or template-heavy). One token count, one rank
  // window over 200 rows, then a closed-form regression from
  // exact-decimal sums; the ln inputs are pre-quantized so a 1-ulp libm
  // divergence between engines cannot flip the result.
  private val t23 = Q(
    (s, dir) => {
      // top-200 cut via orderBy().limit() = distributed TakeOrdered (no
      // global sort of the vocabulary); the rank window then runs over
      // just the 200 survivors
      val freqs = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(200)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("freq").desc, col("tok"))))
        .select(Det.qz(log(col("rnk").cast("double")), 8).as("x"),
          Det.qz(log(col("freq").cast("double")), 8).as("y"))
      val sums = freqs.agg(count(lit(1)).cast("double").as("n"),
        Det.dsum(col("x")).as("sx"), Det.dsum(col("y")).as("sy"),
        Det.dsum(col("x") * col("y")).as("sxy"),
        Det.dsum(col("x") * col("x")).as("sxx"))
      sums.select(col("n").cast("long").as("n_tokens"),
        Det.qz((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("zipf_slope"))
    },
    Some(s"""
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents),
      f AS (
        SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
      r AS (
        SELECT ${Det.qzSql("LN(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))", 8)} AS x,
               ${Det.qzSql("LN(CAST(freq AS DOUBLE))", 8)} AS y,
               row_number() OVER (ORDER BY freq DESC, tok) AS rnk
        FROM f QUALIFY rnk <= 200),
      s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               ${Det.dsumSql("x")} AS sx, ${Det.dsumSql("y")} AS sy,
               ${Det.dsumSql("x * y")} AS sxy, ${Det.dsumSql("x * x")} AS sxx
        FROM r)
      SELECT CAST(n AS BIGINT) AS n_tokens,
             ${Det.qzSql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS zipf_slope
      FROM s"""))

  // ---- t28_bm25: BM25 top-k retrieval ------------------------------------
  // The ranked-retrieval workhorse (Robertson-Spärck Jones BM25,
  // k1 = 1.2, b = 0.75) over the corpus for a small query batch — what a
  // training-data team runs to pull topical slices out of 100 TB. Plan
  // shape: document length is a map-only size(split()) (no explode for
  // dl); the token explode is filtered to query terms IMMEDIATELY, so the
  // (doc, term) aggregation only ever shuffles matching tokens — corpus
  // rows with no query term never leave the scan. df and the global
  // length stats are tiny aggregates broadcast back; the final per-query
  // ranking is the bounded-heap GroupedTopK, not a corpus sort. Numeric
  // determinism: tf/df/dl/n_docs/sum_dl are integers, idf's ln is
  // quantized before use (Det.qz 8), each term contribution is quantized,
  // and the per-doc score is an exact decimal sum of quantized terms.
  // `.distinct` guards the scoring join: a duplicate (qid, term) pair
  // would silently double that term's contribution and inflate n_terms.
  // private[graft] so the spec derives per-query term counts from the
  // same list instead of hardcoding them.
  private[graft] val bm25Queries: Seq[(String, String)] = Seq(
    "qa" -> "spark", "qa" -> "join",
    "qb" -> "hash", "qb" -> "scan", "qb" -> "merge",
    "qc" -> "vector", "qc" -> "stream").distinct
  private val t28 = Q(
    (s, dir) => {
      import s.implicits._
      val terms = bm25Queries.map(_._2).distinct
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("w"))
        .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
      val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val qt = bm25Queries.toDF("qid", "term")
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf
        .join(broadcast(dfc), "term")
        .crossJoin(broadcast(stats))
        .join(broadcast(qt), "term")
        .withColumn("idf", Det.qz(
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 8))
        // dl/avgdl kept rational as dl·n_docs/sum_dl: one double division
        .withColumn("contrib", Det.qz(col("idf") * (col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * (col("dl") * col("n_docs") / col("sum_dl"))))), 8))
      val perDoc = scored.groupBy(col("qid"), col("doc_id"))
        .agg(Det.qz(Det.dsum(col("contrib")), 6).as("score"),
          count(lit(1)).as("n_terms"))
      val top = graft.operators.TopK.perKey(perDoc, Seq("qid"),
        Seq(("score", false), ("doc_id", true)), 5)
      val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
      top.withColumn("rnk", row_number().over(w))
        .select(col("qid"), col("rnk"), col("doc_id"), col("n_terms"), col("score"))
        .orderBy("qid", "rnk")
    },
    Some {
      val qvals = bm25Queries.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
      val inList = bm25Queries.map(_._2).distinct.map(t => s"'$t'").mkString(", ")
      val idf = Det.qzSql("LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)", 8)
      val contrib = Det.qzSql(
        s"($idf) * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs / sum_dl))))", 8)
      s"""
      WITH qt(qid, term) AS (VALUES $qvals),
      d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      dd AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM d),
      st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dd),
      tok AS (SELECT doc_id, dl, unnest(w) AS tterm FROM dd),
      tf AS (
        SELECT doc_id, tterm, COUNT(*) AS tf, MAX(dl) AS dl FROM tok
        WHERE tterm IN ($inList) GROUP BY doc_id, tterm),
      dfc AS (SELECT tterm AS dterm, COUNT(*) AS df FROM tf GROUP BY tterm),
      scored AS (
        SELECT qid, doc_id, $contrib AS contrib
        FROM tf JOIN dfc ON tterm = dterm CROSS JOIN st
             JOIN qt ON term = tterm),
      perdoc AS (
        SELECT qid, doc_id,
               ${Det.qzSql(Det.dsumSql("contrib"), 6)} AS score,
               COUNT(*) AS n_terms
        FROM scored GROUP BY qid, doc_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER
          (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
        FROM perdoc)
      SELECT qid, CAST(rnk AS INTEGER) AS rnk, doc_id, n_terms, score
      FROM ranked WHERE rnk <= 5
      ORDER BY qid, rnk"""
    })

  // ---- t30_source_overlap: pairwise corpus-slice resemblance -------------
  // The "how much does source A repeat source B" matrix — the diagnostic a
  // curation team reads before mixing corpus slices (crawl snapshots,
  // vendor drops) into one training set. Resemblance unit is the distinct
  // 3-token shingle set per source (d2's unit, aggregated per slice
  // instead of per doc): |A∩B|, |A|, |B| and exact Jaccard per source
  // pair. Plan shape: one distinct over (source, shingle), then a
  // self-join keyed on the shingle — the per-key fanout is bounded by the
  // number of sources containing that shingle (≤ #slices, a fixed small
  // catalog at any corpus size), so the join output is O(#shingles ·
  // #slices²) worst case and the exchange carries (source, shingle)
  // pairs, never documents. Sizes ride in as broadcast joins. Both join
  // sides and the sizes agg read the SAME distinct subplan — Spark plans
  // the second side as a ReusedExchange (PlanAuditSpec pins it), so the
  // tokenize+shingle+distinct work runs once, not three times. Contract:
  // source pairs with ZERO shingle overlap are omitted (inner join), not
  // emitted as jaccard=0 rows — absent pair ⇒ no resemblance.
  private val t30 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // Round-17: shingle identity is the fused kernel's full 16-byte
      // digest (== md5-hex equality, the d1/d22 identity convention) —
      // the corpus-wide distinct and the self-join exchange carry fixed
      // 16-byte keys instead of built shingle strings.
      val sh = docs
        .select(col("source"), explode(
          graft.plans.ShingleMd5Expr.full(col("text"), 3, distinct = true)).as("sh"))
        .distinct()
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val pairs = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
        .agg(count(lit(1)).as("n_common"))
      pairs
        .join(broadcast(sizes.select(col("source").as("src1"), col("n").as("n1"))), "src1")
        .join(broadcast(sizes.select(col("source").as("src2"), col("n").as("n2"))), "src2")
        .withColumn("jaccard",
          Det.qz(col("n_common") / (col("n1") + col("n2") - col("n_common")), 6))
        .select("src1", "src2", "n1", "n2", "n_common", "jaccard")
        .orderBy("src1", "src2")
    },
    Some(s"""
      WITH tok AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh AS (
        SELECT DISTINCT source,
               unnest(list_distinct(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
        FROM tok),
      sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
      pairs AS (
        SELECT a.source AS src1, b.source AS src2, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT src1, src2, s1.n AS n1, s2.n AS n2, n_common,
             ${Det.qzSql("n_common / (s1.n + s2.n - n_common)", 6)} AS jaccard
      FROM pairs
        JOIN sizes s1 ON s1.source = src1
        JOIN sizes s2 ON s2.source = src2
      ORDER BY src1, src2"""))

  // ---- t31_sequence_pack: concat-and-chop packing into context windows --
  // The step between a cleaned corpus and a training run: documents are
  // concatenated per stream in a deterministic order and chopped into
  // fixed token-budget sequences (B = 2048), docs straddling pack
  // boundaries — the packing LLM pipelines actually run (concat + split
  // at the context length), NOT bin-packing: the chop form is an
  // exclusive-prefix-sum per stream, so it's ONE keyed window exchange
  // at any corpus size, where greedy whole-doc bin-packing is an
  // inherently sequential recursion. The stream key is the composite
  // (lang, pack_shard) — see [[packShards]]: bare lang would funnel
  // 100 TB into #languages reducer tasks; the salted-hash shard keeps
  // every tiling invariant per stream while the stream count scales
  // with the parameter. Output per doc: token count, first/last pack
  // index, span width, and the offset inside its first pack —
  // everything a sharded loader needs to materialize pack -> (doc,
  // slice) lists via a range join on pack index. Integer-only math
  // (`div`/`%` on longs) so both engines are exact.
  private val t31 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("lang"), col("pack_shard"))
        .orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          Text.bpeTokenCount(col("text")).cast("long").as("toks"))
        .filter(col("toks") > 0)
        .withColumn("pack_shard", packShard)
        .withColumn("cum", sum(col("toks")).over(w) - col("toks"))
        .select(col("lang"), col("pack_shard"), col("doc_id"), col("toks"),
          expr("cum div 2048").as("pack_first"),
          expr("(cum + toks - 1) div 2048").as("pack_last"),
          expr("(cum + toks - 1) div 2048 - cum div 2048 + 1").as("n_packs"),
          expr("cum % 2048").as("pack_off"))
        .orderBy("lang", "pack_shard", "doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT lang, doc_id, $packShardSql AS pack_shard,
               CAST(len(regexp_extract_all(text, '${Text.bpePattern}')) AS BIGINT) AS toks
        FROM documents),
      c AS (
        SELECT lang, pack_shard, doc_id, toks,
               SUM(toks) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - toks AS cum
        FROM d WHERE toks > 0)
      SELECT lang, CAST(pack_shard AS BIGINT) AS pack_shard, doc_id, toks,
             CAST(cum // 2048 AS BIGINT) AS pack_first,
             CAST((cum + toks - 1) // 2048 AS BIGINT) AS pack_last,
             CAST((cum + toks - 1) // 2048 - cum // 2048 + 1 AS BIGINT) AS n_packs,
             CAST(cum % 2048 AS BIGINT) AS pack_off
      FROM c ORDER BY lang, pack_shard, doc_id"""))

  // ---- t32_shard_shuffle: deterministic global shuffle into shards -------
  // The loader-side companion to t31: training runs don't read the
  // corpus in ingest order, they read a reproducible pseudo-random
  // permutation split into shards. A salted portable hash gives every
  // doc a shuffle key (uniform ⇒ no shard skew by construction), shard =
  // key mod N, and the intra-shard position is the rank of the key —
  // fully deterministic across runs/engines, no RNG state. ONE keyed
  // exchange (the shard window); at warehouse scale N_SHARDS rises with
  // the cluster (the 64 here is a test-size parameter, not a design
  // limit) and each shard sorts independently. The salt string
  // re-shuffles the corpus per epoch without rewriting anything.
  private val t32 = Q(
    (s, dir) => {
      val h = Text.md5Long(concat(lit("epoch0:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", (col("h") % 64).cast("int"))
        .withColumn("pos", row_number().over(w))
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },
    Some(s"""
      WITH k AS (
        SELECT doc_id,
               ${Text.md5LongSql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents)
      SELECT CAST(h % 64 AS INTEGER) AS shard,
             CAST(row_number() OVER (PARTITION BY h % 64 ORDER BY h, doc_id) AS INTEGER) AS pos,
             doc_id
      FROM k ORDER BY shard, pos"""))

  // ---- t33_bigram_lm: stupid-backoff bigram LM perplexity filter ---------
  // The KenLM-filter shape one order up from t18: a bigram LM with
  // stupid backoff (Brants et al. EMNLP'07 — score, not probability:
  // S(w2|w1) = c(w1w2)/c(w1) when the bigram was seen in training, else
  // 0.4·(c(w2)+1)/(N+V) add-one-smoothed unigram) trained on the
  // doc_id%5≠0 split and scoring the held-out doc_id%5=0 docs, so the
  // backoff branch actually fires (in-stream training à la t18 would
  // make every scored bigram a seen bigram). Bigram formation is a
  // map-only array transform (no window, no per-doc exchange); counts
  // are two keyed aggs with map-side partials; scoring joins are keyed
  // on the token/bigram — never a collect, totals broadcast. Per-term
  // scores go through the t18 decimal pipeline (each -ln quantized to
  // 1e-6 by the DECIMAL(28,6) cast, summed order-free) so the held-out
  // mean NLL and the keep gate are engine-exact.
  private val t33 = Q(
    (s, dir) => {
      val docs = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("lang"),
          filter(split(trim(lower(col("text"))), "\\s+"), x => x =!= "").as("tk"))
      val big = docs.filter(size(col("tk")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(expr("transform(sequence(0, size(tk)-2), " +
            "i -> named_struct('w1', tk[i], 'w2', tk[i+1]))")).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val train = big.filter(col("doc_id") % 5 =!= 0)
      val bigCnt = train.groupBy(col("lang").as("bl"), col("w1").as("bw1"),
        col("w2").as("bw2")).agg(count(lit(1)).as("c12"))
      val ctxCnt = train.groupBy(col("lang").as("kl"), col("w1").as("kw"))
        .agg(count(lit(1)).as("c1"))
      val uni = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("lang"), explode(col("tk")).as("w"))
      val uniCnt = uni.groupBy(col("lang").as("ul"), col("w").as("uw"))
        .agg(count(lit(1)).as("c2"))
      val tot = uniCnt.groupBy(col("ul").as("tl"))
        .agg(sum(col("c2")).as("n_tok"), count(lit(1)).as("n_vocab"))
      val score =
        when(col("c12").isNotNull, col("c12").cast("double") / col("c1"))
          .otherwise(lit(0.4) * (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
            (col("n_tok") + col("n_vocab")))
      big.filter(col("doc_id") % 5 === 0)
        .join(bigCnt, col("lang") === col("bl") && col("w1") === col("bw1") &&
          col("w2") === col("bw2"), "left")
        .join(ctxCnt, col("lang") === col("kl") && col("w1") === col("kw"), "left")
        .join(uniCnt, col("lang") === col("ul") && col("w2") === col("uw"), "left")
        .join(broadcast(tot), col("lang") === col("tl"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_backoff"),
          Det.qz(Det.dsum(-log(score)) / count(lit(1))).as("avg_nll"))
        .withColumn("keep", col("avg_nll") <= 3.5)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS tk
        FROM documents),
      bigr AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(tk)),
                                     i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
        FROM d WHERE len(tk) >= 2),
      b2 AS (SELECT doc_id, lang, bg.w1 AS w1, bg.w2 AS w2 FROM bigr),
      train AS (SELECT * FROM b2 WHERE doc_id % 5 <> 0),
      bigcnt AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM train GROUP BY 1, 2, 3),
      ctxcnt AS (SELECT lang, w1, COUNT(*) AS c1 FROM train GROUP BY 1, 2),
      uni AS (SELECT lang, unnest(tk) AS w FROM d WHERE doc_id % 5 <> 0),
      unicnt AS (SELECT lang, w, COUNT(*) AS c2 FROM uni GROUP BY 1, 2),
      tot AS (SELECT lang, SUM(c2) AS n_tok, COUNT(*) AS n_vocab FROM unicnt GROUP BY 1),
      sc AS (
        SELECT h.doc_id,
               (bc.c12 IS NULL) AS backoff,
               CASE WHEN bc.c12 IS NOT NULL THEN CAST(bc.c12 AS DOUBLE) / cc.c1
                    ELSE 0.4 * (COALESCE(uc.c2, 0) + 1.0) / (tt.n_tok + tt.n_vocab)
               END AS s
        FROM (SELECT * FROM b2 WHERE doc_id % 5 = 0) h
        LEFT JOIN bigcnt bc ON h.lang = bc.lang AND h.w1 = bc.w1 AND h.w2 = bc.w2
        LEFT JOIN ctxcnt cc ON h.lang = cc.lang AND h.w1 = cc.w1
        LEFT JOIN unicnt uc ON h.lang = uc.lang AND h.w2 = uc.w
        JOIN tot tt ON h.lang = tt.lang),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
               ${Det.qzSql(s"${Det.dsumSql("-ln(s)")} / COUNT(*)")} AS avg_nll
        FROM sc GROUP BY doc_id)
      SELECT doc_id, n_bigrams, n_backoff, avg_nll, (avg_nll <= 3.5) AS keep
      FROM agg ORDER BY doc_id"""))

  // ---- t34_dsir_select: hashed-ngram importance resampling ---------------
  // DSIR (Xie et al. NeurIPS'23) data selection: score raw-corpus docs
  // by how target-like their hashed token distribution is. Features are
  // tokens hashed into B=64 buckets (portable md5 hash, so the oracle
  // replays the bucketing bit-for-bit); the bucket log-likelihood-ratio
  // table ln(p_target[b]) − ln(p_raw[b]) (add-one smoothed) is B rows —
  // broadcast at any corpus size — and a doc's importance weight is the
  // sum of its tokens' bucket LLRs (Σ_b f_b(doc)·llr_b). The target
  // here is the src0 slice standing in for the curated corpus. Two
  // keyed aggs (bucket counts w/ map-side partials, per-doc rollup) +
  // one global top-k cut (TakeOrdered, not a full sort); per-bucket
  // LLRs quantized to 1e-6 BEFORE the per-doc decimal sum so weights
  // and the top-100 cut (tie-broken by doc_id) are engine-exact.
  private val t34 = Q(
    (s, dir) => {
      val B = 64L
      // Round-17 single-pass shape: tokens hash through the fused
      // per-token kernel (skipEmpty = the x <> '' filter; identical
      // buckets to md5Long(w) % B) and collapse IMMEDIATELY to
      // (doc_id, source, bucket) counts — one tokenize+hash pass over
      // the corpus instead of the r16 form's two (bucket-count pass +
      // scoring pass), and both downstream aggregations re-aggregate
      // the compressed ≤64-buckets-per-doc table. The per-doc weight
      // Σ llr is decimal-exact either way: summing cast(llr)·c equals
      // summing cast(llr) over c token rows (decimal × integral is
      // exact, no rounding until the final double cast).
      val byBucket = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), (col("source") === "src0").as("is_t"),
          explode(graft.plans.ShingleMd5Expr(lower(col("text")), 1, skipEmpty = true)).as("hw"))
        .groupBy(col("doc_id"), col("is_t"), (col("hw") % B).as("b"))
        .agg(count(lit(1)).as("c"))
      val cnt = byBucket.groupBy(col("b").as("cb")).agg(
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), col("c")).otherwise(0L)).as("cr"))
      val tot = cnt.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
      val llr = cnt.crossJoin(broadcast(tot))
        .select(col("cb"),
          Det.qz(log((col("ct") + lit(1.0)) / (col("nt") + lit(B.toDouble))) -
            log((col("cr") + lit(1.0)) / (col("nr") + lit(B.toDouble))), 6).as("llr"))
      byBucket.filter(!col("is_t"))
        .join(broadcast(llr), col("b") === col("cb"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"),
          Det.qz(sum(col("llr").cast(Det.D) * col("c")).cast("double")).as("weight"))
        .orderBy(col("weight").desc, col("doc_id")).limit(100)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, source, w,
               ${Text.md5LongSql("w")} % 64 AS b
        FROM (SELECT doc_id, source,
                     unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                        x -> x <> '')) AS w
              FROM documents)),
      cnt AS (
        SELECT b,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
        FROM toks GROUP BY b),
      tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM cnt),
      llr AS (
        SELECT b,
               ${Det.qzSql("ln((ct + 1.0) / (nt + 64.0)) - ln((cr + 1.0) / (nr + 64.0))", 6)} AS llr
        FROM cnt, tot)
      SELECT doc_id, COUNT(*) AS n_toks,
             ${Det.qzSql(Det.dsumSql("llr"))} AS weight
      FROM toks k JOIN llr l ON k.b = l.b
      WHERE source <> 'src0'
      GROUP BY doc_id
      ORDER BY weight DESC, doc_id LIMIT 100"""))

  // ---- t35_fuzzy_decontam: n-gram-Jaccard eval-set decontamination -------
  // The fuzzy half of benchmark decontamination: t11's exact 13-gram
  // containment misses a contaminated doc the moment a few tokens
  // drift, so this scores corpus docs against each benchmark doc by
  // 3-shingle Jaccard resemblance (the PaLM/Llama-style "high-overlap
  // with an eval example" report). Same scale split as t11: the
  // benchmark side is fixed-size → its (bench_id, shingle) set
  // BROADCASTS; the corpus side is one map-only scan (per-doc distinct
  // shingle array built once, its size riding each exploded row — no
  // per-doc size agg) into a per-(doc, bench) keyed count. Output is
  // bounded by pairs that share ≥1 shingle; per corpus doc the best
  // match wins by quantized-Jaccard with bench-id tiebreak (one keyed
  // window over the overlap pairs, which are join output — tiny
  // relative to the corpus). Jaccard = inter/(na+nb−inter) over exact
  // integers, so the quantized score and the ≥0.2 flag are engine-exact.
  private val t35k = 3
  private val t35 = Q(
    (s, dir) => {
      // Round-17: distinct shingle sets as fused full digests (16-byte
      // binary join identity == md5-hex equality; set sizes identical —
      // distinct-of-digests vs digest-of-distinct-strings agree short of
      // an md5 collision, the same identity d1/d22 already stand on).
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bid"),
          graft.plans.ShingleMd5Expr.full(col("text"), t35k, distinct = true).as("barr"))
        .select(col("bid"), size(col("barr")).as("nb"),
          explode(col("barr")).as("bh"))
      val corp = graft.Tables.spread(docs.filter(col("doc_id") % 50 =!= 0), col("doc_id"))
        .select(col("doc_id"),
          graft.plans.ShingleMd5Expr.full(col("text"), t35k, distinct = true).as("arr"))
        .select(col("doc_id"), size(col("arr")).as("na"),
          explode(col("arr")).as("h"))
      val ov = corp.join(broadcast(bench), col("h") === col("bh"))
        .groupBy(col("doc_id"), col("na"), col("bid"), col("nb"))
        .agg(count(lit(1)).as("inter"))
        .select(col("doc_id"), col("bid"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("un"),
          Det.qz(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jacc"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("jacc").desc, col("bid"))
      ov.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("bid").as("best_bench"), col("inter"),
          col("un"), col("jacc"), (col("jacc") >= 0.2).as("flagged"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh AS (
        SELECT doc_id,
               len(list_distinct(list_transform(range(greatest(len(w) - ${t35k - 1}, 0)),
                 i -> md5(array_to_string(w[i+1 : i+$t35k], ' '))))) AS n,
               unnest(list_distinct(list_transform(range(greatest(len(w) - ${t35k - 1}, 0)),
                 i -> md5(array_to_string(w[i+1 : i+$t35k], ' '))))) AS h
        FROM w),
      bench AS (SELECT doc_id AS bid, n AS nb, h AS bh FROM sh WHERE doc_id % 50 = 0),
      corp AS (SELECT doc_id, n AS na, h FROM sh WHERE doc_id % 50 <> 0),
      ov AS (
        SELECT c.doc_id, c.na, b.bid, b.nb, COUNT(*) AS inter
        FROM corp c JOIN bench b ON c.h = b.bh
        GROUP BY 1, 2, 3, 4),
      scored AS (
        SELECT doc_id, bid, inter, na + nb - inter AS un,
               ${Det.qzSql("CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)", 6)} AS jacc
        FROM ov),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY jacc DESC, bid) AS rn
        FROM scored)
      SELECT doc_id, bid AS best_bench, inter, un, jacc, (jacc >= 0.2) AS flagged
      FROM best WHERE rn = 1 ORDER BY doc_id"""))

  // ---- t36_mixture_budget: token-budget mixture sampling -----------------
  // The pre-training data RECIPE op: given a target mixture (uniform
  // across languages here) and a total token budget (30% of the corpus),
  // select documents per language by deterministic hash priority until
  // that language's token quota fills — the reproducible "sample a
  // 500B-token mix from a 100TB corpus" step every training run starts
  // with. Selection rule: order docs within a language by md5 priority
  // and admit while the EXCLUSIVE running token sum is under the quota
  // (the boundary doc is admitted — budgets are targets, not caps).
  // SCALE: the naive form is one window per language — #languages
  // reducer tasks at any corpus size. Instead the priority space splits
  // into 256 buckets (the first priority byte): per-(lang, bucket) token
  // sums classify every bucket as fully-inside / boundary / beyond the
  // quota in metadata-sized work, whole buckets keep or drop MAP-SIDE,
  // and only the single boundary bucket per language (~1/256 of rows)
  // pays the exact ordering window. DuckDB replays the plain one-window
  // form — the bucket decomposition must be invisible in the answer.
  private val t36 = Q(
    (s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          Text.bpeTokenCount(col("text")).cast("long").as("toks"))
        .filter(col("toks") > 0)
        .withColumn("pri", md5(concat_ws(":", col("lang"), col("doc_id"))))
        .withColumn("bkt", conv(substring(col("pri"), 1, 2), 16, 10).cast("int"))
      // ONE corpus aggregation: per-(lang, bucket) token sums. The
      // per-language totals, the corpus total, and the quotas all derive
      // from this metadata-scale table (langs × 256 rows) — no second
      // pass over the corpus. Quota: integer-exact 30% of corpus
      // tokens, uniform target shares.
      val bsums = base.groupBy(col("lang"), col("bkt")).agg(sum("toks").as("btoks"))
      val perLang = bsums.groupBy(col("lang")).agg(sum("btoks").as("lang_toks"))
      val tot = perLang.agg(sum("lang_toks").as("tot"), count(lit(1)).as("nl"))
      val quota = perLang.crossJoin(broadcast(tot))
        .select(col("lang").as("qlang"), expr("tot * 3 div 10 div nl").as("quota"))
      val wB = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      val buckets = bsums
        .withColumn("bcum", sum(col("btoks")).over(wB) - col("btoks"))
        .join(quota, col("lang") === col("qlang"))
        .select(col("lang").as("blang"), col("bkt").as("bbkt"),
          col("bcum"), col("quota"),
          (col("bcum") + col("btoks") <= col("quota")).as("full"),
          (col("bcum") < col("quota") && col("bcum") + col("btoks") > col("quota")).as("edge"))
      val joined = base.join(broadcast(buckets),
        col("lang") === col("blang") && col("bkt") === col("bbkt"))
      val fullKeep = joined.filter(col("full")).select(col("doc_id"), col("lang"))
      val wE = Window.partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))
      val edgeKeep = joined.filter(col("edge"))
        .withColumn("ecum", sum(col("toks")).over(wE) - col("toks"))
        .filter(col("bcum") + col("ecum") < col("quota"))
        .select(col("doc_id"), col("lang"))
      fullKeep.unionByName(edgeKeep).orderBy("lang", "doc_id")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '${Text.bpePattern}')) AS BIGINT) AS toks,
               md5(concat(lang, ':', doc_id)) AS pri
        FROM documents WHERE lang IS NOT NULL),
      d2 AS (SELECT * FROM d WHERE toks > 0),
      q AS (
        SELECT lang, SUM(SUM(toks)) OVER () * 3 // 10 // COUNT(*) OVER () AS quota
        FROM d2 GROUP BY lang),
      c AS (
        SELECT d2.doc_id, d2.lang,
               SUM(toks) OVER (PARTITION BY d2.lang ORDER BY pri, doc_id
                               ROWS UNBOUNDED PRECEDING) - toks AS cumb,
               q.quota
        FROM d2 JOIN q USING (lang))
      SELECT doc_id, lang FROM c WHERE cumb < quota
      ORDER BY lang, doc_id"""))

  // ---- t37_bpe_train: distributed BPE tokenizer training -----------------
  // The stage between raw text and every token-budget operator (t31
  // packing, t36 mixture sampling): LEARN the vocabulary. Classic BPE
  // (Sennrich et al. 2016) as a corpus-scale Spark loop
  // ([[graft.operators.BpeTrainer]]): the corpus collapses to a
  // (word, count) table in ONE keyed pass, then each merge round is one
  // vocab-scale pair aggregation + a 1-row argmax whose winner is
  // broadcast into a codegen'd string `replace`. Deterministic by
  // construction (exact counts, total-order tie-break), layout-
  // invariant (Round15Spec property). The registry row trains 6 merges
  // over `documents` and emits per-doc token counts under the learned
  // vocabulary; the oracle replays ALL SIX rounds — pair explode,
  // argmax with the same tie-break, greedy left-to-right re-segmentation
  // via the same `replace` — unrolled as DuckDB CTE stages, then the
  // final per-word symbol counts joined back to documents.
  private def bpeOracleSql(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""
      sym$i AS (
        SELECT w, cnt,
               string_split(substr(seg, 2, len(seg) - 2), chr(2) || chr(1)) AS s
        FROM s${i - 1}),
      pe$i AS (
        SELECT cnt,
               unnest(list_transform(range(1, len(s)), j -> [s[j], s[j + 1]])) AS pr
        FROM sym$i),
      p$i AS (SELECT pr[1] AS l, pr[2] AS r, SUM(cnt) AS n FROM pe$i GROUP BY 1, 2),
      b$i AS (SELECT l, r FROM p$i ORDER BY n DESC, l, r LIMIT 1),
      s$i AS (
        SELECT w, cnt,
               CASE WHEN b$i.l IS NULL THEN seg
                    ELSE replace(seg,
                                 chr(1) || b$i.l || chr(2) || chr(1) || b$i.r || chr(2),
                                 chr(1) || b$i.l || b$i.r || chr(2)) END AS seg
        FROM s${i - 1} LEFT JOIN b$i ON TRUE)"""
    }.mkString(",")
    s"""
      WITH dw AS (
        SELECT doc_id, w
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM documents)
        WHERE len(w) > 0 AND NOT contains(w, chr(1)) AND NOT contains(w, chr(2))),
      s0 AS (
        SELECT w, COUNT(*) AS cnt,
               regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS seg
        FROM dw GROUP BY w),$stages,
      tok AS (
        SELECT w,
               len(string_split(substr(seg, 2, len(seg) - 2), chr(2) || chr(1))) AS n_sym
        FROM s$rounds)
      SELECT d.doc_id, CAST(COALESCE(x.n, 0) AS BIGINT) AS n_tokens
      FROM documents d
      LEFT JOIN (SELECT dw.doc_id, SUM(tok.n_sym) AS n
                 FROM dw JOIN tok USING (w) GROUP BY 1) x
        ON d.doc_id = x.doc_id
      ORDER BY d.doc_id"""
  }

  private val t37 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrainer.train(
        graft.operators.BpeTrainer.wordTable(docs, "text"), 6)
      graft.operators.BpeTrainer.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    Some(bpeOracleSql(6)))

  // ---- d21_semdedup: cluster-scoped semantic dedup -----------------------
  // SemDeDup (Abbas et al. 2023): near-duplicate excision scoped to
  // semantic clusters — the pairwise step runs within a cluster only,
  // so pair cost is Σ(cluster size)², never corpus², and the cluster
  // count is the scale knob (the paper uses 10⁴–10⁵ k-means clusters;
  // here the fixture's label column stands in for that assignment —
  // [[graft.operators.SimilaritySearch.ivfTopK]]'s deterministic
  // Lloyd's centroids provide it when no labels exist). Keeper policy:
  // a vector is removed iff some same-cluster neighbor with a SMALLER
  // id sits at cos ≥ τ (deterministic keep-first). vec_id < 800 bounds
  // the exact tier like d5/d16; the per-cluster rollup reports what
  // curation dashboards track — how much each semantic region shrinks.
  private val d21 = Q(
    (s, dir) => {
      val base = t(s, dir, "embeddings").filter(col("vec_id") < 800)
      val pairs = Dedup.semDedupPairs(base, "vec_id", "embedding", "label", 0.35)
      val removed = pairs.select(col("cluster").as("rc"), col("id2").as("rid"))
        .distinct()
      val remCnt = removed.groupBy(col("rc")).agg(count(lit(1)).as("n_removed"))
      val pairCnt = pairs.groupBy(col("cluster").as("pc"))
        .agg(count(lit(1)).as("n_pairs"), Det.qz(max(col("cos")), 6).as("max_cos"))
      base.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
        .join(pairCnt, col("label") === col("pc"), "left")
        .join(remCnt, col("label") === col("rc"), "left")
        .select(col("label"), col("n_vecs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          (col("n_vecs") - coalesce(col("n_removed"), lit(0L))).as("n_kept"),
          col("max_cos"))
        .orderBy("label")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label, embedding AS v,
               sqrt(CAST(list_sum(list_transform(range(len(embedding)), i -> (embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)) AS nrm
        FROM embeddings WHERE vec_id < 800),
      pairs AS (
        SELECT cluster, id1, id2, cos FROM (
          SELECT a.label AS cluster, a.vec_id AS id1, b.vec_id AS id2,
            FLOOR((CAST(list_sum(list_transform(range(len(a.v)), i -> (a.v[i+1]::DOUBLE * b.v[i+1]::DOUBLE)::DECIMAL(38,18))) AS DOUBLE)
              / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) z
        WHERE cos >= 0.35),
      remcnt AS (
        SELECT cluster, COUNT(*) AS n_removed
        FROM (SELECT DISTINCT cluster, id2 FROM pairs) r GROUP BY cluster),
      paircnt AS (
        SELECT cluster, COUNT(*) AS n_pairs,
               FLOOR(MAX(cos) * 1e6 + 0.5) / 1e6 AS max_cos
        FROM pairs GROUP BY cluster),
      basecnt AS (
        SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY label)
      SELECT b.label, b.n_vecs,
             COALESCE(p.n_pairs, 0) AS n_pairs,
             COALESCE(r.n_removed, 0) AS n_removed,
             b.n_vecs - COALESCE(r.n_removed, 0) AS n_kept,
             p.max_cos
      FROM basecnt b
      LEFT JOIN paircnt p ON b.label = p.cluster
      LEFT JOIN remcnt r ON b.label = r.cluster
      ORDER BY b.label"""))

  // ---- p4_ccnet_pipeline: the CCNet stage ORDER -------------------------
  // The other published curation chain (Wenzek et al. 2019, CCNet):
  // paragraph-level dedup FIRST, then language-ID, then LM-perplexity
  // bucketing into head/middle/tail terciles — a deliberately different
  // stage order than p1/p3 (which gate then dedup whole docs): CCNet
  // dedups shared boilerplate paragraphs BEFORE the LM sees them, so
  // perplexity measures each doc's unique content. Paragraph model is
  // d9's 20-token blocks; a block is kept iff its (doc_id, position) is
  // the FIRST corpus-wide occurrence of its hash (within-doc repeats
  // dedup too); docs left with zero full blocks drop (CCNet drops empty
  // docs). The unigram LM trains in-stream per predicted lang over KEPT
  // block tokens (t18's add-one form), doc score = mean token NLL over
  // kept blocks, and per-lang EXACT terciles (t21's percentile →
  // broadcast pattern) cut head/middle/tail. Exchanges: block-hash
  // window, lang/token-keyed LM aggs with broadcast totals, doc-keyed
  // score agg, bounded percentile agg — all linear, no pairwise step.
  private val p4 = Q(
    (s, dir) => {
      val toks = Text.tokens(col("text"))
      val blockArr = filter(
        transform(sequence(lit(0), (size(toks) / d9blk).cast("int")),
          j => slice(toks, j * d9blk + 1, lit(d9blk))),
        a => size(a) === d9blk)
      val base = t(s, dir, "documents")
        .withColumn("predicted", Text.langPredict(col("text")))
        .filter(col("predicted") =!= "und")
      val blocks = Tables.spread(base, col("doc_id"))
        .select(col("doc_id"), col("predicted").as("lang"),
          posexplode(blockArr))
        .select(col("doc_id"), col("lang"), col("pos").as("j"),
          col("col").as("btoks"))
        .withColumn("h", md5(array_join(col("btoks"), " ")))
      val wH = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("j"))
      // The kept-block subplan feeds four differently-pruned consumers
      // (vocab, totals, both scoring-join sides), so Catalyst plans four
      // subtrees and ReusedExchange never fires. Consumers read the
      // count-collapsed (doc_id, lang, tk, c) tier — the smallest one
      // every consumer can re-derive its input from — UNSTAGED. Writing
      // that tier to parquet once per run (r18) cut the plan to 32
      // exchanges but was reverted, as it never paid in wall clock: the
      // r18 driver read p4 at 0.75x, the isolated sf1.0 A/B minimum went
      // 6.85 -> 7.34 s, and the sf1.0 8-vs-32-core ratio was 0.96 (the
      // staged write + re-read serializes the pipeline). A raw
      // localCheckpoint of the kept tier was reverted twice before
      // (r16, r17): within one action the scheduler overlaps the
      // duplicate branches.
      // Decimal exactness of the count-weighted NLL sum: dsum casts each
      // addend to DECIMAL(28,6) first, and c identical decimal addends
      // sum to exactly addend*c, so sum(cast(-log p)*c) == dsum over the
      // exploded per-token rows (the t34 argument; oracle-confirmed).
      val kept = blocks.withColumn("rn", row_number().over(wH))
        .filter(col("rn") === 1)
      val ktok = kept
        .select(col("doc_id"), col("lang"), explode(col("btoks")).as("tk"))
        .groupBy(col("doc_id"), col("lang"), col("tk"))
        .agg(count(lit(1)).as("c"))
      val vocab = ktok.groupBy(col("lang").as("vlang"), col("tk").as("vtk"))
        .agg(sum(col("c")).as("cnt"))
      val totals = vocab.groupBy(col("vlang"))
        .agg(sum(col("cnt")).as("n_tok"), count(lit(1)).as("n_vocab"))
      val probs = vocab.join(broadcast(totals), "vlang")
        .select(col("vlang"), col("vtk"),
          ((col("cnt") + 1.0) / (col("n_tok") + col("n_vocab"))).as("p"))
      val scored = ktok
        .join(probs, col("lang") === col("vlang") && col("tk") === col("vtk"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("kept_toks"),
          Det.qz(sum((-log(col("p"))).cast(Det.D) * col("c")).cast("double") /
            sum(col("c"))).as("avg_nll"))
      val cuts = scored.groupBy(col("lang").as("plang"))
        .agg(Det.qz(expr("percentile(avg_nll, 0.3333333333333333)")).as("c1"),
          Det.qz(expr("percentile(avg_nll, 0.6666666666666666)")).as("c2"))
      scored.join(broadcast(cuts), col("lang") === col("plang"))
        .withColumn("bucket",
          when(col("avg_nll") <= col("c1"), "head")
            .when(col("avg_nll") <= col("c2"), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept_toks")).as("kept_toks"),
          Det.qz(Det.dsum(col("avg_nll")) / count(lit(1))).as("mean_nll"))
        .orderBy("lang", "bucket")
    },
    Some(s"""
      WITH lang AS (
        SELECT doc_id, $langPredictSql AS predicted
        FROM (SELECT doc_id, $langScoresSql FROM documents) a),
      raw AS (
        SELECT d.doc_id, l.predicted AS lang,
               regexp_split_to_array(trim(d.text), '\\s+') AS toks
        FROM documents d JOIN lang l ON d.doc_id = l.doc_id
        WHERE l.predicted <> 'und'),
      blocks AS (
        SELECT doc_id, lang, j,
               md5(array_to_string(toks[j*$d9blk+1 : j*$d9blk+$d9blk], ' ')) AS h
        FROM (SELECT doc_id, lang, toks,
                     unnest(range(0, CAST(len(toks)/$d9blk AS INTEGER) + 1)) AS j
              FROM raw) r
        WHERE len(toks[j*$d9blk+1 : j*$d9blk+$d9blk]) = $d9blk),
      kept AS (
        SELECT doc_id, lang, j FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, j) AS rn
          FROM blocks) z WHERE rn = 1),
      ktok AS (
        SELECT k.doc_id, k.lang,
               unnest(r.toks[k.j*$d9blk+1 : k.j*$d9blk+$d9blk]) AS tk
        FROM kept k JOIN raw r ON k.doc_id = r.doc_id),
      vocab AS (
        SELECT lang, tk, COUNT(*) AS cnt FROM ktok GROUP BY 1, 2),
      totals AS (
        SELECT lang, SUM(cnt) AS n_tok, COUNT(*) AS n_vocab FROM vocab GROUP BY 1),
      probs AS (
        SELECT v.lang, v.tk, (cnt + 1.0) / (n_tok + n_vocab) AS p
        FROM vocab v JOIN totals t ON v.lang = t.lang),
      scored AS (
        SELECT k.doc_id, k.lang, COUNT(*) AS kept_toks,
               ${Det.qzSql(s"${Det.dsumSql("-ln(p)")} / COUNT(*)")} AS avg_nll
        FROM ktok k JOIN probs p ON k.lang = p.lang AND k.tk = p.tk
        GROUP BY 1, 2),
      cuts AS (
        SELECT lang AS plang,
               ${Det.qzSql("quantile_cont(avg_nll, 0.3333333333333333)")} AS c1,
               ${Det.qzSql("quantile_cont(avg_nll, 0.6666666666666666)")} AS c2
        FROM scored GROUP BY lang),
      bucketed AS (
        SELECT s.lang, s.kept_toks, s.avg_nll,
               CASE WHEN s.avg_nll <= c.c1 THEN 'head'
                    WHEN s.avg_nll <= c.c2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored s JOIN cuts c ON s.lang = c.plang)
      SELECT lang, bucket, COUNT(*) AS n_docs,
             CAST(SUM(kept_toks) AS BIGINT) AS kept_toks,
             ${Det.qzSql(s"${Det.dsumSql("avg_nll")} / COUNT(*)")} AS mean_nll
      FROM bucketed GROUP BY 1, 2 ORDER BY lang, bucket"""))

  // ---- d22_url_content_incremental: composite-key incremental dedup ----
  // The document-level admission rule a crawl ingest actually runs: a
  // new-batch row is admitted iff NEITHER its canonical URL NOR its
  // content hash appears in the existing corpus (URL catches re-crawls
  // of changed pages, content catches mirrors on new URLs — either
  // alone misses half the duplication). Registry twin of the
  // SnapshotTable.ingest operator family, as a deterministic batch
  // query: both existence checks are keyed left joins against DISTINCT
  // key projections of the existing side (hash-keyed, broadcast-able
  // when the history index is small, bloom-prefilterable via the d14
  // path at 100 TB); per-row flags emitted so the oracle checks the
  // classification, not just the survivor count. URLs are synthesized
  // from doc_id on BOTH engines (d6's convention) with port/slash/
  // tracking noise so canonicalization is load-bearing.
  private val d22 = Q(
    (s, dir) => {
      // page id: docs 450+ re-crawl pages 0-49, so URL collisions across
      // the 400-boundary exist by construction (noise fields still vary
      // per doc_id so canonicalization is what makes them collide)
      def urlOf = concat(
        lit("HTTP://Mirror"), ((col("doc_id") % 450) % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 450).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?a=1&utm_campaign=x"))
      val docs = t(s, dir, "documents")
      val keyed = docs.select(col("doc_id"),
        md5(col("text")).as("h"), Text.canonicalUrl(urlOf).as("u"))
      val existing = keyed.filter(col("doc_id") < 400)
      val incoming = keyed.filter(col("doc_id") >= 400)
      incoming
        .join(existing.select(col("h").as("eh")).distinct(),
          col("h") === col("eh"), "left")
        .join(existing.select(col("u").as("eu")).distinct(),
          col("u") === col("eu"), "left")
        .select(col("doc_id"),
          col("eu").isNotNull.as("dup_url"),
          col("eh").isNotNull.as("dup_content"),
          (col("eu").isNull && col("eh").isNull).as("admitted"))
        .orderBy("doc_id")
    },
    Some {
      val urlSql = "concat('HTTP://Mirror', CAST((doc_id % 450) % 7 AS VARCHAR), '.COM', " +
        "CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END, " +
        "'/p/', CAST(doc_id % 450 AS VARCHAR), " +
        "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, " +
        "'?a=1&utm_campaign=x')"
      s"""
      WITH keyed AS (
        SELECT doc_id, md5(text) AS h, ${Text.canonicalUrlSql(urlSql)} AS u
        FROM documents),
      exh AS (SELECT DISTINCT h FROM keyed WHERE doc_id < 400),
      exu AS (SELECT DISTINCT u FROM keyed WHERE doc_id < 400)
      SELECT i.doc_id,
             (exu.u IS NOT NULL) AS dup_url,
             (exh.h IS NOT NULL) AS dup_content,
             (exu.u IS NULL AND exh.h IS NULL) AS admitted
      FROM keyed i
      LEFT JOIN exh ON i.h = exh.h
      LEFT JOIN exu ON i.u = exu.u
      WHERE i.doc_id >= 400
      ORDER BY i.doc_id"""
    })

  // ---- d23_snapshot_changelog: O(delta) what-arrived-since read --------
  // The CDC-read companion of d11's full diff: two REAL SnapshotTable
  // ingest commits (corpus < 400, then the >= 400 crawl batch), then
  // `addedBetween(v1)` reads ONLY the second commit's delta directory —
  // never the base — so "what arrived since yesterday" costs O(new
  // data) at any table size. Because ingest is content-dedup, the
  // committed delta (and hence the changelog) is exactly "batch 2 minus
  // batch 1's content", which DuckDB replays as d14's NOT EXISTS shape.
  private def d23Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d23") { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 400), path, "text",
        expectedItems = 100000L)
      SnapshotTable.ingest(s, docs.filter(col("doc_id") >= 400), path, "text",
        expectedItems = 100000L)
      ()
    }

  private val d23 = Q(
    (s, dir) => {
      SnapshotTable.addedBetween(s, d23Fixture(s, dir), 1L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    // COALESCE mirrors ingest's contentKey NULL sentinel: the table
    // dedups NULL payloads against each other (NULL content is still
    // content), so the oracle's compare must be null-equal too — a bare
    // md5(e.text) = md5(i.text) never matches NULL and would KEEP a
    // NULL-text doc the ingest dropped as a duplicate.
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents i
      WHERE doc_id >= 400 AND NOT EXISTS (
        SELECT 1 FROM documents e
        WHERE e.doc_id < 400
          AND COALESCE(md5(e.text), '<null>') = COALESCE(md5(i.text), '<null>'))
      ORDER BY doc_id"""))

  // ---- d24_snapshot_merge: committed copy-on-write upsert/delete -------
  // q33_cdc_merge proves the merge SEMANTICS as a query; this row proves
  // it as a TABLE COMMIT: v1 ingests the corpus (< 400), v2 is one
  // SnapshotTable.merge applying updates (100-199 revised), deletes
  // (200-249), and inserts (400-449), and the registry reads the final
  // committed snapshot. DuckDB replays the row-level result with plain
  // relational algebra — no table format involved — so the hash match
  // pins that the copy-on-write commit is exactly "current minus changed
  // keys plus winning upserts".
  private def d24Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d24") { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 400), path, "text",
        expectedItems = 100000L)
      val updates = docs.filter(col("doc_id").between(100, 199))
        .select(col("doc_id"), upper(col("lang")).as("lang"),
          (col("n_chars") + 1).as("n_chars"),
          concat(col("text"), lit(" rev2")).as("text"), lit(false).as("is_deleted"))
      val deletes = docs.filter(col("doc_id").between(200, 249))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(true).as("is_deleted"))
      val inserts = docs.filter(col("doc_id").between(400, 449))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(false).as("is_deleted"))
      SnapshotTable.merge(s, updates.unionByName(deletes).unionByName(inserts),
        path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
        expectedItems = 100000L)
      ()
    }

  private val d24 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d24Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id BETWEEN 100 AND 199 THEN upper(lang) ELSE lang END AS lang,
             CASE WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1 ELSE n_chars END AS n_chars
      FROM documents
      WHERE (doc_id < 400 AND doc_id NOT BETWEEN 200 AND 249)
         OR doc_id BETWEEN 400 AND 449
      ORDER BY doc_id"""))

  // ---- d25_stats_pruned_scan: predicate-pruned snapshot read -----------
  // The read-side half of the stats contract as a registry row: three
  // append commits with per-file doc_id min/max sidecars (config stated
  // once, inherited by the chain), then readWhere resolves the current
  // manifest and plans the scan over ONLY the files whose intervals the
  // predicate can touch (Round13Spec audits the planned bytes; here the
  // oracle pins that pruning never changes the ANSWER — a plain DuckDB
  // filter over the same rows). Texts are suffixed with the doc id so
  // cross-commit content dedup provably admits every row and the oracle
  // stays a pure filter.
  private def d25Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d25", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      Seq(col("doc_id") < 200, col("doc_id").between(200, 399), col("doc_id") >= 400)
        .foreach { slice =>
          SnapshotTable.ingest(s, docs.filter(slice), path, "text",
            expectedItems = 100000L, statsCols = Seq("doc_id"))
        }
      ()
    }

  private val d25 = Q(
    (s, dir) => {
      SnapshotTable.readWhere(s, d25Fixture(s, dir),
          col("doc_id") >= 250 && col("doc_id") < 350)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE doc_id >= 250 AND doc_id < 350
      ORDER BY doc_id"""))

  // ---- d26_schema_evolution: additive drift committed + null-filled ----
  // The schema-evolution contract end-to-end through the oracle gate:
  // v1 ingests (doc_id, text) only; v2 ingests the rest of the corpus
  // WITH a lang column under evolveSchema=true, widening the committed
  // schema. The current read applies the manifest schema explicitly, so
  // v1's directory — whose parquet files have no lang column at all —
  // reads back null-filled, which DuckDB replays as a CASE on the split
  // point. Texts are id-suffixed so cross-commit dedup admits every row.
  private def d26Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d26") { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300).select(col("doc_id"), col("text")),
        path, "text", expectedItems = 100000L)
      SnapshotTable.ingest(s, docs.filter(col("doc_id") >= 300)
          .select(col("doc_id"), col("text"), col("lang")),
        path, "text", expectedItems = 100000L, evolveSchema = true)
      ()
    }

  private val d26 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d26Fixture(s, dir))
        .select(col("doc_id"), coalesce(col("lang"), lit("<absent>")).as("lang"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id >= 300 THEN lang ELSE '<absent>' END AS lang
      FROM documents
      ORDER BY doc_id"""))

  // ---- d27_merge_on_read: O(delta) committed upserts/deletes -----------
  // d24 proves the merge semantics as a COPY-ON-WRITE commit; this row
  // proves the MERGE-ON-READ flavor gives the IDENTICAL logical table
  // while writing only deltas: v1 ingests the corpus (< 400), v2 is one
  // SnapshotTable.mergeOnRead (updates 100-199, deletes 200-249, inserts
  // 400-449 — one small delta dir + one tombstone, base files untouched),
  // and v3 STACKS a second overlay that masks rows from BOTH earlier
  // vintages: updates 0-49 (masking v1 rows), re-updates 120-129
  // (masking v2's own delta rows — the strictly-later-tombstone rule),
  // and deletes 300-319 plus 410-419 (the latter erasing v2 inserts).
  // The registry reads the final masked table; DuckDB replays the same
  // row-level result with plain relational algebra, so the hash match
  // pins that the tombstone overlay is exactly the copy-on-write answer.
  private def d27Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d27", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 400), path, "text",
        expectedItems = 100000L)
      val upd2 = docs.filter(col("doc_id").between(100, 199))
        .select(col("doc_id"), upper(col("lang")).as("lang"),
          (col("n_chars") + 1).as("n_chars"),
          concat(col("text"), lit(" rev2")).as("text"), lit(false).as("is_deleted"))
      val del2 = docs.filter(col("doc_id").between(200, 249))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(true).as("is_deleted"))
      val ins2 = docs.filter(col("doc_id").between(400, 449))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(false).as("is_deleted"))
      SnapshotTable.mergeOnRead(s, upd2.unionByName(del2).unionByName(ins2),
        path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
        expectedItems = 100000L)
      val upd3a = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 2).as("n_chars"),
          concat(col("text"), lit(" rev3")).as("text"), lit(false).as("is_deleted"))
      val upd3b = docs.filter(col("doc_id").between(120, 129))
        .select(col("doc_id"), upper(col("lang")).as("lang"),
          (col("n_chars") + 10).as("n_chars"),
          concat(col("text"), lit(" rev3b")).as("text"), lit(false).as("is_deleted"))
      val del3 = docs.filter(col("doc_id").between(300, 319) ||
          col("doc_id").between(410, 419))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(true).as("is_deleted"))
      SnapshotTable.mergeOnRead(s, upd3a.unionByName(upd3b).unionByName(del3),
        path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
        expectedItems = 100000L)
      ()
    }

  private val d27 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d27Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id BETWEEN 120 AND 129 THEN upper(lang)
                  WHEN doc_id BETWEEN 100 AND 199 THEN upper(lang)
                  ELSE lang END AS lang,
             CASE WHEN doc_id BETWEEN 120 AND 129 THEN n_chars + 10
                  WHEN doc_id BETWEEN 0 AND 49 THEN n_chars + 2
                  WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1
                  ELSE n_chars END AS n_chars
      FROM documents
      WHERE (doc_id < 400 AND doc_id NOT BETWEEN 200 AND 249
                          AND doc_id NOT BETWEEN 300 AND 319)
         OR (doc_id BETWEEN 400 AND 449 AND doc_id NOT BETWEEN 410 AND 419)
      ORDER BY doc_id"""))

  // ---- d28_update_delete_where: SQL row-level UPDATE/DELETE -------------
  // The UPDATE ... SET ... WHERE / DELETE ... WHERE surface over the
  // snapshot table, each an O(matches) merge-on-read commit whose victim
  // scan goes through the stats-pruned read: v1 ingests the corpus
  // (< 400) with doc_id stats, v2 is one updateWhere (SET lang =
  // upper(lang), n_chars = n_chars + 1 WHERE doc_id BETWEEN 100 AND 199
  // — every SET evaluates against the OLD row), v3 is one deleteWhere
  // (WHERE doc_id BETWEEN 200 AND 249 OR doc_id >= 380, a tombstone-only
  // commit). DuckDB replays both as plain CASE/WHERE algebra.
  private def d28Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d28", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 400), path, "text",
        expectedItems = 100000L, statsCols = Seq("doc_id"))
      SnapshotTable.updateWhere(s, path, "doc_id",
        col("doc_id").between(100, 199),
        Map("lang" -> upper(col("lang")), "n_chars" -> (col("n_chars") + 1)))
      SnapshotTable.deleteWhere(s, path, "doc_id",
        col("doc_id").between(200, 249) || col("doc_id") >= 380)
      ()
    }

  private val d28 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d28Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id BETWEEN 100 AND 199 THEN upper(lang) ELSE lang END AS lang,
             CASE WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1 ELSE n_chars END AS n_chars
      FROM documents
      WHERE doc_id < 380 AND doc_id NOT BETWEEN 200 AND 249
      ORDER BY doc_id"""))

  // ---- d29_table_history: the DESCRIBE HISTORY metadata table -----------
  // One row per retained version with the commit kind RECORDED by the
  // operator in the manifest (overwrite/append/compact/merge/
  // merge-on-read/...). Over the d28 fixture the history is a deterministic
  // function of the staged ops, so the oracle is a literal VALUES
  // relation — a cross-engine CONTRACT PIN of the kinds and counts
  // rather than a data replay (the fixture's determinism is what it
  // verifies: ingest→1 dir, updateWhere→+1 dir +1 tombstone,
  // deleteWhere→+0 dirs +1 tombstone).
  private val d29 = Q(
    (s, dir) => {
      SnapshotTable.history(s, d28Fixture(s, dir))
        .select(col("version"), col("kind"), col("n_dirs"),
          col("n_added_dirs"), col("n_tombstones"))
        .orderBy("version")
    },
    Some("""
      SELECT CAST(v AS BIGINT) AS version, kind,
             CAST(nd AS BIGINT) AS n_dirs,
             CAST(na AS BIGINT) AS n_added_dirs,
             CAST(nt AS BIGINT) AS n_tombstones
      FROM (VALUES (1, 'append', 1, 1, 0),
                   (2, 'merge-on-read', 2, 1, 1),
                   (3, 'merge-on-read', 2, 0, 2)) AS t(v, kind, nd, na, nt)
      ORDER BY version"""))

  // ---- d30_partitioned_scan: Hive-partitioned snapshot, pruned read ----
  // The identity-partitioning half of the table-format read path as a
  // registry row: two ingest commits Hive-partitioned by lang (the
  // layout is set at table creation and inherited — enforced — down the
  // chain) with per-file doc_id stats, then readWhere plans the scan by
  // dropping whole lang=... partition SUBTREES before listing a single
  // file (the Hive-metastore contract: O(partitions) names touched, not
  // O(files)), composes the per-file stats pass on the survivors, and
  // restores partition values through basePath leaf scans.
  // PartitionedTableSpec audits layouts, dir counts, and bytes; here the
  // oracle pins that the pruned read aggregates exactly like the plain
  // filter. Texts are doc_id-suffixed so cross-commit content dedup
  // admits every row (the d25 discipline).
  private def d30Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d30") { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      Seq(col("doc_id") < 300, col("doc_id") >= 300).foreach { slice =>
        SnapshotTable.ingest(s, docs.filter(slice), path, "text",
          expectedItems = 100000L, statsCols = Seq("doc_id"),
          partitionCols = Seq("lang"))
      }
      ()
    }

  private val d30 = Q(
    (s, dir) => {
      SnapshotTable.readWhere(s, d30Fixture(s, dir),
          col("lang").isin("en", "fr") && col("doc_id") < 300)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents
      WHERE lang IN ('en', 'fr') AND doc_id < 300
      GROUP BY lang ORDER BY lang"""))

  // ---- d31_concurrent_ingest: racing appends, deterministic table -----
  // The multi-writer contract as a registry row: two ingests RACE from
  // the same parent snapshot (a real barrier, not a simulation — the
  // loser's commit hits the version-slot conflict and rebases through
  // SnapshotTable.commitLoop, re-deduping its staged delta
  // against the winner's hash sidecars at O(delta)). The batches
  // overlap each other AND the base, so every conflict class fires;
  // because overlapping rows are byte-identical and dedup is by
  // content, the final table is the SAME SET regardless of which
  // writer wins — which is exactly what lets DuckDB replay it as a
  // plain filter. ConcurrencySpec pins the mechanism (rename vs
  // rewrite re-home, bloom re-merge, rewrite refusal); this row pins
  // the user-visible semantics through the oracle gate.
  private def d31Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d31", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 200), path, "text",
        expectedItems = 100000L, statsCols = Seq("doc_id"))
      val a = docs.filter(col("doc_id").between(150, 299))
      val b = docs.filter(col("doc_id").between(250, 399))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(a, b).map { batch =>
        new Thread(() => {
          try {
            barrier.await()
            SnapshotTable.ingest(s, batch, path, "text",
              expectedItems = 100000L)
            ()
          } catch { case th: Throwable => errors.add(th); () }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      if (!errors.isEmpty) throw new IllegalStateException(
        s"d31 fixture race failed: ${errors.peek()}", errors.peek())
      ()
    }

  private val d31 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d31Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE doc_id < 400
      ORDER BY doc_id"""))

  // ---- d32_snapshot_rollback: RESTORE as a commit, dedup follows --------
  // The rollback contract through the oracle gate: v1 ingests
  // doc_id<300, v2 ingests the "bad batch" 300..499, v3 rolls back to
  // v1 (pure metadata — v1's manifest content re-referenced, nothing
  // staged), v4 re-crawls 300..399. Because the rollback dropped the
  // bad batch's content from the dedup universe (the bloom reference
  // is v1's again), the re-crawl is ADMITTED — the same re-admission
  // contract compaction applies to deleted content, here proven
  // through DuckDB replaying the final state as a plain filter: rows
  // <300 from the kept base, 300..399 from the re-crawl, 400..499
  // gone with the rollback. Round13Spec pins the mechanism (metadata-
  // only manifest, expire keeping re-referenced dirs, the flagged
  // rewrite in the changelog); this row pins the user-visible state.
  private def d32Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d32", expect = Seq(1L, 2L, 3L, 4L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L)
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(300, 499)),
        path, "text", expectedItems = 100000L)
      SnapshotTable.rollback(s, path, 1L)
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(300, 399)),
        path, "text", expectedItems = 100000L)
      ()
    }

  private val d32 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d32Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE doc_id < 400
      ORDER BY doc_id"""))

  // ---- d33_binpack_compact: incremental small-file compaction ----------
  // The maintenance shape a 100 TB table actually runs: v1 ingests the
  // base (doc_id<300), v2-v4 ingest three small tails, v5 binpacks —
  // compactSmall(threshold = the base dir's own bytes) merges ONLY the
  // three strictly-smaller tail dirs into one and keeps the base dir
  // BY NAME, never reading it (bytes-audited in Round13Spec alongside
  // the no-op, overlay-refusal, and dedup-carry-forward pins). Content
  // is unchanged by construction, so DuckDB replays the final state as
  // a plain filter — the oracle proves the layout op was a content
  // no-op.
  private def d33Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d33", expect = Seq(1L, 2L, 3L, 4L, 5L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("@"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L)
      Seq((300, 319), (320, 339), (340, 359)).foreach { case (lo, hi) =>
        SnapshotTable.ingest(s, docs.filter(col("doc_id").between(lo, hi)),
          path, "text", expectedItems = 100000L)
      }
      val bigBytes = SnapshotTable.filesMeta(s, path)
        .filter(col("commit_version") === 1L)
        .agg(sum(col("bytes"))).head.getLong(0)
      val st = SnapshotTable.compactSmall(s, path, smallDirBytes = bigBytes)
      require(st.committed && st.nDirsMerged == 3 && st.nDirsKept == 1,
        s"binpack fixture staged unexpectedly: $st")
      ()
    }

  private val d33 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d33Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE doc_id < 360
      ORDER BY doc_id"""))

  // ---- d34_time_travel_ts: timestamp time travel over real commits -----
  // TIMESTAMP AS OF, oracled: three ingest commits (doc_id<200,
  // 200-299, 300-349 — content salted with @doc_id so the dedup gate
  // never collapses cross-batch duplicates), then each retained version
  // is read back via readAtTimestamp at ITS OWN recorded commit instant
  // (taken from the history metadata table — driver metadata, the same
  // clock versionAtTimestamp resolves against). The per-version
  // (n_docs, sum_chars) aggregates replay in DuckDB from the doc_id
  // splits, proving each instant resolved to exactly the snapshot that
  // was current then — the audit-query contract ("what did the table
  // hold at 02:00?") pinned cross-engine. Mid-commit instants and the
  // predates-history error are spec-pinned (Round13Spec); this row pins
  // the at-or-before resolution on REAL manifests across runs (the
  // instants persist in the manifests, so a cached fixture exercises
  // the read path identically).
  // prefix "d34b": the b vintage forces a re-stage under the strictly-
  // increasing commit-instant discipline — a pre-discipline cached
  // fixture could carry equal-millisecond instants, and this row's
  // exact instant→version round trip assumes distinct ones
  private def d34Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d34b", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("@"), col("doc_id")).as("text"))
      Seq(col("doc_id") < 200, col("doc_id").between(200, 299),
          col("doc_id").between(300, 349)).foreach { p =>
        SnapshotTable.ingest(s, docs.filter(p), path, "text",
          expectedItems = 100000L)
      }
      ()
    }

  private val d34 = Q(
    (s, dir) => {
      val path = d34Fixture(s, dir)
      val instants = SnapshotTable.history(s, path)
        .select(col("version"), col("commit_ts")).collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
      Seq(1L, 2L, 3L).map { v =>
        SnapshotTable.readAtTimestamp(s, path, instants(v))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
      }.reduce(_ unionByName _).orderBy("version")
    },
    Some("""
      SELECT CAST(v AS BIGINT) AS version,
             (SELECT count(*) FROM documents WHERE doc_id < lim) AS n_docs,
             (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents WHERE doc_id < lim) AS sum_chars
      FROM (VALUES (1, 200), (2, 300), (3, 350)) AS t(v, lim)
      ORDER BY version"""))

  // ---- d35_check_constraints: the write-gate expectations contract -----
  // CHECK constraints as table metadata (Delta constraints / DLT
  // expectations), oracled end-to-end: v1 ingests the base (content
  // salted with @doc_id), v2 commits a DROP-mode constraint
  // (n_chars % 7 != 0 — SQL CHECK semantics, NULL passes), v3 ingests
  // doc_id 200-299 through the gate so violating rows leave the batch
  // while survivors admit. The gate costs O(batch) (the drop filter
  // folds into the staging write) and the config rides the manifest
  // like the stats config — compact/rebase carry-through and fail-mode
  // refusal are Round13Spec-pinned; this row pins the ADMITTED SET
  // cross-engine: DuckDB replays the gate as a plain WHERE.
  private def d35Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d35", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("@"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 200), path, "text",
        expectedItems = 100000L)
      SnapshotTable.addConstraint(s, path, "mod7", "n_chars % 7 != 0",
        mode = "drop")
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(200, 299)),
        path, "text", expectedItems = 100000L)
      ()
    }

  private val d35 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d35Fixture(s, dir))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, n_chars
      FROM documents
      WHERE doc_id < 200
         OR (doc_id BETWEEN 200 AND 299
             AND (n_chars % 7 != 0 OR n_chars IS NULL))
      ORDER BY doc_id"""))

  // ---- d36_snapshot_tag: named version pins through retention ----------
  // The Iceberg tag contract as the training-reproducibility primitive:
  // tag the corpus vintage a run consumed and expire keeps that exact
  // snapshot alive while the rest of the history ages out. Fixture:
  // v1 = base ingest (doc_id<250), tag it "vintage"; v2 and v3 ingest
  // more; expire(keep=1) drops v2 — retained versions become the
  // TAGGED ISLAND {1} plus the head {3}, and the row reads the table
  // BACK THROUGH THE TAG. DuckDB replays the pinned vintage as a plain
  // filter — proving the tag still resolves to exactly the v1 content
  // after its neighbors expired (dirs/blooms refcounted, not copied).
  // Gap-instant refusal and drop-the-pin-then-age-out are
  // Round13Spec-pinned.
  private def d36Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d36", expect = Seq(1L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("@"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 250), path, "text",
        expectedItems = 100000L)
      SnapshotTable.tag(s, path, "vintage", Some(1L))
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(250, 299)),
        path, "text", expectedItems = 100000L)
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(300, 349)),
        path, "text", expectedItems = 100000L)
      val n = SnapshotTable.expire(s, path, keep = 1)
      require(n == 1, s"tag fixture expire dropped $n versions, expected 1 (v2)")
      ()
    }

  private val d36 = Q(
    (s, dir) => {
      SnapshotTable.readTag(s, d36Fixture(s, dir), "vintage")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, n_chars
      FROM documents
      WHERE doc_id < 250
      ORDER BY doc_id"""))

  // ---- d37_column_mapping: rename/drop as metadata-only commits --------
  // The Delta column-mapping "name mode" / Iceberg RENAME-DROP COLUMN
  // contract end-to-end through the oracle gate: v1 ingests (doc_id,
  // lang, n_chars, text) for doc_id<300; v2 RENAMES lang→language — a
  // metadata-only commit (no data file touched; v1's parquet keeps the
  // physical name `lang` forever, the manifest maps it); v3 ingests the
  // rest of the corpus under the NEW logical name (its delta dir is
  // written with the PHYSICAL name, so the whole chain shares one
  // on-disk schema); v4 DROPS n_chars (metadata-only; the bytes stay in
  // retained files but leave every projection, and the physical name
  // retires so a later re-add can never resurrect them). The registry
  // reads the final table: every row's language — across files written
  // under BOTH vintages of the name — must equal the plain DuckDB
  // projection, and n_chars must be gone (schema hash). Deep coverage
  // (time travel under old names, fresh-physical re-add, refusals,
  // compact/merge on a mapped table) is Round14Spec-pinned.
  private def d37Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d37", expect = Seq(1L, 2L, 3L, 4L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L, statsCols = Seq("doc_id"))
      SnapshotTable.renameColumn(s, path, "lang", "language")
      SnapshotTable.ingest(s,
        docs.filter(col("doc_id") >= 300).withColumnRenamed("lang", "language"),
        path, "text", expectedItems = 100000L)
      SnapshotTable.dropColumn(s, path, "n_chars")
      ()
    }

  private val d37 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d37Fixture(s, dir))
        .select(col("doc_id"), col("language"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang AS language
      FROM documents
      ORDER BY doc_id"""))

  // ---- d38_bloom_pruned_scan: point-lookup file skipping ----------------
  // The equality half of the scan-planning contract (d25 is the range
  // half): per-file BLOOMS over string stats columns skip files on point
  // predicates where min/max intervals cannot — the key column here is a
  // content hash, so every file's [min,max] spans ~the whole keyspace and
  // interval stats alone keep everything. Fixture: three ingests keyed on
  // md5(doc_id); the row point-reads one key through readWhere and DuckDB
  // replays the same lookup as a plain filter (pruning must never change
  // the ANSWER; the files-skipped audit is Round14Spec-pinned).
  private def d38Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d38", expect = Seq(1L, 2L, 3L)) { path =>
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
      Seq(col("doc_id") < 200, col("doc_id").between(200, 399), col("doc_id") >= 400)
        .foreach { slice =>
          SnapshotTable.ingest(s, keyed.filter(slice), path, "k",
            expectedItems = 100000L, statsCols = Seq("k"))
        }
      ()
    }

  private val d38 = Q(
    (s, dir) => {
      val probe = java.security.MessageDigest.getInstance("MD5")
        .digest("123".getBytes("UTF-8")).map("%02x".format(_)).mkString
      SnapshotTable.readWhere(s, d38Fixture(s, dir), col("k") === probe)
        .select(col("doc_id"), col("k"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents
      WHERE doc_id = 123
      ORDER BY doc_id"""))

  // ---- d39_neardup_incremental: fuzzy new-batch admission ---------------
  // d14/d22 admit a crawl batch against EXACT content/URL history; this
  // is the fuzzy tier every production crawl also runs — "drop the new
  // doc if it's a NEAR-dup of anything already ingested". The operator
  // ([[Dedup.newDocumentsFuzzy]]) joins the batch's minhash band keys
  // against the existing corpus' SIGNATURES (k longs per doc — metadata
  // an ingest chain can persist per snapshot dir like the hash
  // sidecars), verifies candidates on the joined signature pair, and
  // never touches existing payloads. The portable-hash re-key lets
  // DuckDB replay the whole stack — shingles → 32 minima → 8-band keys
  // → cross-split candidates → signature-estimate gate — so admission
  // is hash-compared end-to-end. Split: existing = doc_id<300,
  // incoming = doc_id>=300; within-batch near-dups both admit (the
  // operator gates on HISTORY only), which the oracle mirrors by
  // pairing across the split alone.
  private val d39 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.newDocumentsFuzzy(
          docs.filter(col("doc_id") < 300),
          docs.filter(col("doc_id") >= 300),
          "doc_id", "text", tau = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh0 AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS s
        FROM tok),
      sh AS (
        SELECT DISTINCT doc_id, ${Text.md5LongSql("s")} % 2147483647 AS h
        FROM sh0),
      params(i, a, b) AS (VALUES $minhashParamsSql),
      sig AS (
        SELECT doc_id, i, MIN((h * a + b) % 2147483647) AS v
        FROM sh CROSS JOIN params GROUP BY 1, 2),
      sigl AS (
        SELECT doc_id, list(v ORDER BY i) AS sig FROM sig GROUP BY doc_id),
      band AS (
        SELECT doc_id, bb, sig[bb*4+1 : bb*4+4] AS key
        FROM sigl, (SELECT unnest(range(8)) AS bb)),
      dup AS (
        SELECT DISTINCT a.doc_id AS id
        FROM band a JOIN band b ON a.bb = b.bb AND a.key = b.key
        JOIN sigl x ON a.doc_id = x.doc_id
        JOIN sigl y ON b.doc_id = y.doc_id
        WHERE a.doc_id >= 300 AND b.doc_id < 300
          AND len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0 >= 0.5)
      SELECT doc_id, lang
      FROM documents
      WHERE doc_id >= 300 AND doc_id NOT IN (SELECT id FROM dup)
      ORDER BY doc_id"""))

  // ---- d40_fuzzy_ingest: near-dup gate as a COMMITTED table operator ----
  // d39 proves fuzzy admission as a batch operator; this row proves it
  // wired over snapshot commits ([[SnapshotTable.ingestFuzzy]]): v1
  // fuzzy-ingests doc_id<300 (no history — all admitted), v2
  // fuzzy-ingests the rest — near-dups of v1 drop at the signature
  // gate (sidecar-fed; the bytes-read audit is Round14Spec-pinned),
  // exact dups of v1 content drop at ingest's exact gate (the only rows
  // the fuzzy gate can miss are shingle-less ones, where est-Jaccard
  // does not exist). The registry reads the final committed table;
  // DuckDB replays BOTH gates — the d39 signature stack for fuzzy, the
  // null-safe md5 NOT EXISTS for exact — over the same split.
  private def d40Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d40") { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      SnapshotTable.ingestFuzzy(s, docs.filter(col("doc_id") < 300), path,
        "doc_id", "text", expectedItems = 100000L)
      SnapshotTable.ingestFuzzy(s, docs.filter(col("doc_id") >= 300), path,
        "doc_id", "text", expectedItems = 100000L)
      ()
    }

  private val d40 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d40Fixture(s, dir))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      sh0 AS (
        SELECT doc_id,
               unnest(list_transform(range(greatest(len(w)-2, 0)),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS s
        FROM tok),
      sh AS (
        SELECT DISTINCT doc_id, ${Text.md5LongSql("s")} % 2147483647 AS h
        FROM sh0),
      params(i, a, b) AS (VALUES $minhashParamsSql),
      sig AS (
        SELECT doc_id, i, MIN((h * a + b) % 2147483647) AS v
        FROM sh CROSS JOIN params GROUP BY 1, 2),
      sigl AS (
        SELECT doc_id, list(v ORDER BY i) AS sig FROM sig GROUP BY doc_id),
      band AS (
        SELECT doc_id, bb, sig[bb*4+1 : bb*4+4] AS key
        FROM sigl, (SELECT unnest(range(8)) AS bb)),
      dup AS (
        SELECT DISTINCT a.doc_id AS id
        FROM band a JOIN band b ON a.bb = b.bb AND a.key = b.key
        JOIN sigl x ON a.doc_id = x.doc_id
        JOIN sigl y ON b.doc_id = y.doc_id
        WHERE a.doc_id >= 300 AND b.doc_id < 300
          AND len(list_filter(range(32), j -> x.sig[j+1] = y.sig[j+1])) / 32.0 >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id < 300
      UNION ALL
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id >= 300
        AND d.doc_id NOT IN (SELECT id FROM dup)
        AND NOT EXISTS (
          SELECT 1 FROM documents e WHERE e.doc_id < 300
            AND COALESCE(md5(e.text), '<null>') = COALESCE(md5(d.text), '<null>'))
      ORDER BY doc_id"""))

  // ---- d41_or_pruned_scan: OR-of-ranges union-of-intervals pruning -----
  // The backfill time-slice-union shape `(k BETWEEN a AND b) OR (k
  // BETWEEN c AND d)` — pre-r15 readWhere degraded an OR conjunct to
  // read-everything; the extraction now lifts a top-level OR over
  // extractable branches into a union of intervals a file survives by
  // matching ANY branch (Round15Spec audits the files actually
  // skipped). Reuses the d25 three-commit chain with per-file doc_id
  // stats; the two slices straddle the first and third commits, so the
  // middle commit's files prune entirely. The oracle is the plain
  // disjunctive filter — pruning must never change the answer.
  private val d41 = Q(
    (s, dir) => {
      SnapshotTable.readWhere(s, d25Fixture(s, dir),
          col("doc_id").between(100, 150) || col("doc_id").between(450, 520))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE (doc_id BETWEEN 100 AND 150) OR (doc_id BETWEEN 450 AND 520)
      ORDER BY doc_id"""))

  // ---- d42_dsv2_scan: the DataSource V2 / SQL surface of the format ----
  // The same point lookup as d38, but THROUGH Spark's DataSource V2
  // path (`spark.read.format("graft")` — graft.sources.v2
  // .GraftDataSource): the pushed equality filter reaches the scan,
  // plans through the SAME stats+bloom pruning readWhere runs
  // (GraftV2SourceSpec pins identical files-kept counts and the
  // PushedFilters audit), and the surviving files stream through
  // Spark's own vectorized parquet reader. One fixture, two access
  // paths, one oracle — the "a SQL consumer loses nothing" contract.
  private val d42 = Q(
    (s, dir) => {
      val probe = java.security.MessageDigest.getInstance("MD5")
        .digest("123".getBytes("UTF-8")).map("%02x".format(_)).mkString
      s.read.format("graft").load(d38Fixture(s, dir))
        .filter(col("k") === probe)
        .select(col("doc_id"), col("k"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents
      WHERE doc_id = 123
      ORDER BY doc_id"""))

  // ---- d43_positional_delete: keyless deletion-vector MOR tier ----------
  // Iceberg v2's positional-delete contract as a committed operator
  // ([[SnapshotTable.deleteWherePositional]]): a predicate DELETE on
  // NON-key columns over a 3-commit chain — victims resolve through the
  // stats-pruned scan (the doc_id range term opens only the files it
  // can touch), and what commits is their (file, row-ordinal) identity
  // as a `_posdel/` sidecar of O(matches) rows. No key column exists or
  // is required — the delta over d27/d28's key-equality overlay. The
  // registry reads the final table (reads anti-join parquet `_metadata`
  // row identity against the sidecar); DuckDB replays the delete as a
  // plain WHERE. Round15Spec pins the sidecar bytes audit (only touched
  // files' ordinals persisted), time-travel exactness, and compaction
  // materializing + resetting the overlay.
  private def d43Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d43", expect = Seq(1L, 2L, 3L, 4L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(coalesce(col("text"), lit("")), lit("#"), col("doc_id")).as("text"))
      Seq(col("doc_id") < 200, col("doc_id").between(200, 399), col("doc_id") >= 400)
        .foreach { slice =>
          SnapshotTable.ingest(s, docs.filter(slice), path, "text",
            expectedItems = 100000L, statsCols = Seq("doc_id"))
        }
      SnapshotTable.deleteWherePositional(s, path,
        col("doc_id").between(150, 249) && col("lang") === "en")
      ()
    }

  private val d43 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d43Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE NOT (doc_id BETWEEN 150 AND 249 AND COALESCE(lang = 'en', FALSE))
      ORDER BY doc_id"""))

  // ---- d44_sql_ingest: the SQL WRITE surface of the format --------------
  // CREATE TABLE + INSERT INTO through [[graft.sources.v2.GraftCatalog]]:
  // the create commits an empty v1 overwrite carrying the schema and
  // the stats config; each INSERT lands as a plain APPEND commit
  // ([[SnapshotTable.append]] — SQL is row-preserving, so no dedup
  // gate) whose delta carries the table's stats sidecars. The registry
  // reads back through SQL, so the row exercises catalog resolution,
  // the V1-write bridge, and the pruned V2 scan in one chain; DuckDB
  // replays the two INSERT slices as a plain union.
  // one catalog name PER WAREHOUSE: Spark caches catalog instances per
  // session, so re-pointing a fixed name's warehouse conf would keep
  // serving the first warehouse it was initialized with
  private def sqlCatalogFor(s: SparkSession, tablePath: String): (String, String) = {
    val wh = new java.io.File(tablePath).getParent
    val cat = s"graft_reg_${Integer.toHexString(wh.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, new java.io.File(tablePath).getName)
  }

  private def d44Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d44t", expect = Seq(1L, 2L, 3L)) { path =>
      val (cat, name) = sqlCatalogFor(s, path)
      t(s, dir, "documents").createOrReplaceTempView("d44_src")
      s.sql(s"CREATE TABLE $cat.`$name` " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING) " +
        "TBLPROPERTIES ('stats' = 'doc_id')")
      s.sql(s"INSERT INTO $cat.`$name` " +
        "SELECT doc_id, lang, n_chars, text FROM d44_src WHERE doc_id < 300")
      s.sql(s"INSERT INTO $cat.`$name` " +
        "SELECT doc_id, lang, n_chars, text FROM d44_src WHERE doc_id >= 300")
      ()
    }

  private val d44 = Q(
    (s, dir) => {
      val path = d44Fixture(s, dir)
      val (cat, name) = sqlCatalogFor(s, path)
      s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.`$name` ORDER BY doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      ORDER BY doc_id"""))

  // ---- d45_sql_delete: SQL DELETE + the mask-applying V2 scan -----------
  // `DELETE FROM ... WHERE` through the catalog routes to the
  // positional-delete tier (SupportsDelete →
  // [[SnapshotTable.deleteWherePositional]]): victims resolve through
  // the stats-pruned scan, the commit is a (file, row-ordinal) sidecar,
  // and — new with this row — the V2 scan APPLIES the overlay in its
  // readers (row-index mask, size-gated broadcast), so DELETE → SELECT
  // round-trips in pure SQL with no compaction in between. DuckDB
  // replays the delete as a plain WHERE NOT.
  private def d45Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d45t", expect = Seq(1L, 2L, 3L, 4L)) { path =>
      val (cat, name) = sqlCatalogFor(s, path)
      t(s, dir, "documents").createOrReplaceTempView("d45_src")
      s.sql(s"CREATE TABLE $cat.`$name` " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT, text STRING) " +
        "TBLPROPERTIES ('stats' = 'doc_id')")
      s.sql(s"INSERT INTO $cat.`$name` " +
        "SELECT doc_id, lang, n_chars, text FROM d45_src WHERE doc_id < 250")
      s.sql(s"INSERT INTO $cat.`$name` " +
        "SELECT doc_id, lang, n_chars, text FROM d45_src WHERE doc_id >= 250")
      s.sql(s"DELETE FROM $cat.`$name` " +
        "WHERE doc_id >= 100 AND doc_id < 400 AND lang = 'en'")
      ()
    }

  private val d45 = Q(
    (s, dir) => {
      val path = d45Fixture(s, dir)
      val (cat, name) = sqlCatalogFor(s, path)
      s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.`$name` ORDER BY doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE NOT (doc_id >= 100 AND doc_id < 400 AND COALESCE(lang = 'en', FALSE))
      ORDER BY doc_id"""))

  // ---- d46_positional_update: keyless UPDATE over the posdelete tier ----
  // `updateWherePositional` — Iceberg v2's update-as-delete-plus-insert
  // in ONE commit: victims resolve through the stats-pruned scan, their
  // (file, row-ordinal) identity commits as a `_posdel/` sidecar and
  // their UPDATED forms as one ordinary delta dir; no key column, no
  // data-file rewrite, O(matches) work. DuckDB replays the update as a
  // plain CASE WHEN projection.
  private def d46Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d46", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L, statsCols = Seq("doc_id"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") >= 300), path, "text",
        expectedItems = 100000L)
      SnapshotTable.updateWherePositional(s, path,
        col("doc_id").between(100, 399) && col("lang") === "en",
        Map("n_chars" -> (col("n_chars") + lit(1000000L)),
            "lang" -> lit("en-up")))
      ()
    }

  private val d46 = Q(
    (s, dir) => {
      SnapshotTable.read(s, d46Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id BETWEEN 100 AND 399 AND COALESCE(lang = 'en', FALSE)
                  THEN 'en-up' ELSE lang END AS lang,
             CASE WHEN doc_id BETWEEN 100 AND 399 AND COALESCE(lang = 'en', FALSE)
                  THEN n_chars + 1000000 ELSE n_chars END AS n_chars
      FROM documents
      ORDER BY doc_id"""))

  // ---- d47_sql_update / d48_sql_merge: SQL row-level DML ----------------
  // UPDATE and MERGE INTO through [[graft.sources.v2.GraftCatalog]] —
  // the SupportsDelta row-level contract: Spark reads the table with
  // the _graft_file/_graft_pos rowId metadata columns, computes per-row
  // delete/insert ops, and the V2 delta writers stage them from the
  // executors as a _posdel sidecar + one delta dir, committed
  // atomically (kind posupdate). DuckDB replays the UPDATE as a CASE
  // WHEN projection and the MERGE as its relational decomposition.
  private def d47Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d47", expect = Seq(1L, 2L, 3L, 4L)) { path =>
      val (cat, name) = sqlCatalogFor(s, path)
      t(s, dir, "documents").createOrReplaceTempView("d47_src")
      s.sql(s"CREATE TABLE $cat.`$name` TBLPROPERTIES ('stats' = 'doc_id') " +
        "AS SELECT doc_id, lang, n_chars, text FROM d47_src")
      s.sql(s"INSERT INTO $cat.`$name` " +
        "SELECT doc_id + 1000000, lang, n_chars, text FROM d47_src WHERE doc_id < 50")
      s.sql(s"UPDATE $cat.`$name` SET n_chars = n_chars + 7000000, lang = 'up' " +
        "WHERE doc_id >= 120 AND doc_id < 420 AND lang = 'en'")
      ()
    }

  private val d47 = Q(
    (s, dir) => {
      val path = d47Fixture(s, dir)
      val (cat, name) = sqlCatalogFor(s, path)
      s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.`$name` ORDER BY doc_id")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, lang, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id < 50)
      SELECT doc_id,
             CASE WHEN doc_id >= 120 AND doc_id < 420 AND COALESCE(lang = 'en', FALSE)
                  THEN 'up' ELSE lang END AS lang,
             CASE WHEN doc_id >= 120 AND doc_id < 420 AND COALESCE(lang = 'en', FALSE)
                  THEN n_chars + 7000000 ELSE n_chars END AS n_chars
      FROM base
      ORDER BY doc_id"""))

  private def d48Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d48", expect = Seq(1L, 2L, 3L)) { path =>
      val (cat, name) = sqlCatalogFor(s, path)
      t(s, dir, "documents").createOrReplaceTempView("d48_src")
      s.sql(s"CREATE TABLE $cat.`$name` TBLPROPERTIES ('stats' = 'doc_id') " +
        "AS SELECT doc_id, lang, n_chars FROM d48_src")
      // the change batch: updates for doc_id%10=3, deletes for %10=7,
      // inserts above the id space — the CDC-apply shape
      s.sql(s"""
        MERGE INTO $cat.`$name` t
        USING (
          SELECT doc_id, 'merged' AS lang, n_chars + 5000000 AS n_chars,
                 CASE WHEN doc_id % 10 = 7 THEN true ELSE false END AS is_del
          FROM d48_src WHERE doc_id % 10 IN (3, 7)
          UNION ALL
          SELECT doc_id + 2000000, 'fresh', doc_id, false
          FROM d48_src WHERE doc_id < 25
        ) c ON t.doc_id = c.doc_id
        WHEN MATCHED AND c.is_del THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.lang = c.lang, t.n_chars = c.n_chars
        WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
          VALUES (c.doc_id, c.lang, c.n_chars)""")
      ()
    }

  private val d48 = Q(
    (s, dir) => {
      val path = d48Fixture(s, dir)
      val (cat, name) = sqlCatalogFor(s, path)
      s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.`$name` ORDER BY doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 3 THEN 'merged' ELSE lang END AS lang,
             CASE WHEN doc_id % 10 = 3 THEN n_chars + 5000000 ELSE n_chars END AS n_chars
      FROM documents
      WHERE doc_id % 10 <> 7
      UNION ALL
      SELECT doc_id + 2000000, 'fresh', doc_id
      FROM documents WHERE doc_id < 25
      ORDER BY doc_id"""))

  // ---- d49_sql_read_mor: SQL read of an OUTSTANDING keyed-MOR overlay ---
  // The last read-surface asymmetry between SQL and the Scala API: d27's
  // two-merge-on-read chain (updates, deletes, inserts; two stacked
  // tombstone generations over one key) read THROUGH the DSv2 scan
  // (`format("graft")`) BEFORE any compaction — a table maintained by
  // streaming upserts must be SELECTable between compactions. The scan
  // applies the keyed mask in-scan: a broadcast (MOR key → latest
  // tombstone version) probe per row against the row's dir version with
  // the strictly-later rule, so the same-version upserts stay visible —
  // identical algebra to the API's keyed anti-join, same oracle as d27.
  // GraftV2SourceSpec pins V2 ↔ API row equality under the overlay.
  private val d49 = Q(
    (s, dir) => {
      s.read.format("graft").load(d27Fixture(s, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id BETWEEN 120 AND 129 THEN upper(lang)
                  WHEN doc_id BETWEEN 100 AND 199 THEN upper(lang)
                  ELSE lang END AS lang,
             CASE WHEN doc_id BETWEEN 120 AND 129 THEN n_chars + 10
                  WHEN doc_id BETWEEN 0 AND 49 THEN n_chars + 2
                  WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1
                  ELSE n_chars END AS n_chars
      FROM documents
      WHERE (doc_id < 400 AND doc_id NOT BETWEEN 200 AND 249
                          AND doc_id NOT BETWEEN 300 AND 319)
         OR (doc_id BETWEEN 400 AND 449 AND doc_id NOT BETWEEN 410 AND 419)
      ORDER BY doc_id"""))

  // ---- d50_cdc_changes: the change-data-feed over a mixed chain ---------
  // What addedBetween refuses to be: a version range crossing
  // row-mutating commits replayed EXACTLY as row events
  // ([[SnapshotTable.changes]], served to SQL as `t$changes`). The
  // fixture chain mixes every delta-commit class — v1/v2 ingests
  // (inserts), v3 keyed merge-on-read with all three event classes
  // (keys that existed AND are re-added emit Delta-typed
  // `update_preimage`/`update_postimage` PAIRS; pure deletes emit
  // `delete` with full pre-images via the keyed semi-join; fresh keys
  // emit `insert` — tombstones name every winning key, so the pairing
  // is the existed∩re-added intersection, not tombstone membership),
  // v4 positional delete (victims resolved by (file, ordinal) against
  // the v3 pre-image — note they carry v3-updated values where the
  // ranges overlap, which the oracle must replay too). DuckDB
  // reconstructs the whole event stream relationally from the base
  // table. Scale shape: per-commit frames are delta-scale scans and
  // broadcast semi-joins; nothing rewrites or collects.
  private def d50Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d50", expect = Seq(1L, 2L, 3L, 4L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L, statsCols = Seq("doc_id"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(300, 399)), path,
        "text", expectedItems = 100000L)
      val upd = docs.filter(col("doc_id").between(100, 149))
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars"),
          col("text"), lit(false).as("is_deleted"))
      val del = docs.filter(col("doc_id").between(200, 219))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(true).as("is_deleted"))
      val ins = docs.filter(col("doc_id").between(400, 429))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          lit(false).as("is_deleted"))
      SnapshotTable.mergeOnRead(s, upd.unionByName(del).unionByName(ins),
        path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
        expectedItems = 100000L)
      SnapshotTable.deleteWherePositional(s, path, col("doc_id").between(50, 69))
      ()
    }

  private val d50 = Q(
    (s, dir) => {
      SnapshotTable.changes(s, d50Fixture(s, dir), 1L)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "doc_id")
    },
    Some("""
      SELECT doc_id, lang, n_chars, 'insert' AS _change_type, 1 AS _commit_version
      FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT doc_id, lang, n_chars, 'insert', 2
      FROM documents WHERE doc_id BETWEEN 300 AND 399
      UNION ALL
      SELECT doc_id, lang, n_chars, 'update_preimage', 3
      FROM documents WHERE doc_id BETWEEN 100 AND 149
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete', 3
      FROM documents WHERE doc_id BETWEEN 200 AND 219
      UNION ALL
      SELECT doc_id, lang, n_chars + 1000, 'update_postimage', 3
      FROM documents WHERE doc_id BETWEEN 100 AND 149
      UNION ALL
      SELECT doc_id, lang, n_chars, 'insert', 3
      FROM documents WHERE doc_id BETWEEN 400 AND 429
      UNION ALL
      SELECT doc_id, lang, n_chars, 'delete', 4
      FROM documents WHERE doc_id BETWEEN 50 AND 69
      ORDER BY _commit_version, _change_type, doc_id"""))

  // ---- d51_spj_join: storage-partitioned join over co-partitioned ------
  // tables (SPARK-37375, the Iceberg SPJ contract). Both fixture tables
  // are identity-partitioned on `lang`; the scans opt in with
  // `preserveDataGrouping`, report KeyGroupedPartitioning(lang), and the
  // fact-to-dim merge join plus the lang aggregation plan with ZERO
  // exchanges (PlanAuditSpec pins the plan; Round17Spec pins the
  // multi-dir shape end-to-end). Scale shape: at 100 TB this is the
  // daily co-partitioned fact join — the layout already did the
  // shuffle's work once at write time, and the scan contract is what
  // lets every later join reuse it.
  private def d51Fixture(s: SparkSession, dir: String): (String, String) = {
    val a = stagedSnapshotFixture(s, dir, "d51a", expect = Seq(1L)) { path =>
      SnapshotTable.write(s,
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        path, "parquet", partitionCols = Seq("lang"))
      ()
    }
    val b = stagedSnapshotFixture(s, dir, "d51b", expect = Seq(1L)) { path =>
      SnapshotTable.write(s,
        t(s, dir, "documents").groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars")),
        path, "parquet", partitionCols = Seq("lang"))
      ()
    }
    (a, b)
  }

  private val d51 = Q(
    (s, dir) => {
      val (a, b) = d51Fixture(s, dir)
      def scan(p: String) = s.read.format("graft")
        .option("preserveDataGrouping", "true").load(p)
      // strictly-above-language-average docs, in exact integer math
      // (n_chars * cnt > sum_chars) so both engines agree bit-for-bit
      // no orderBy: the correctness gate sorts rows canonically, and a
      // global sort would add the plan's ONLY exchange — the zero-
      // exchange claim is the operator (PlanAuditSpec pins it)
      scan(a).join(scan(b).hint("merge"), "lang")
        .filter(col("n_chars") * col("cnt") > col("sum_chars"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_above"))
    },
    Some("""
      WITH b AS (
        SELECT lang, count(*) AS cnt, sum(n_chars) AS sum_chars
        FROM documents GROUP BY lang)
      SELECT d.lang, count(*) AS n_above
      FROM documents d JOIN b ON d.lang = b.lang
      WHERE d.n_chars * b.cnt > b.sum_chars
      GROUP BY d.lang"""))

  // ---- d52_partition_evolution: spec evolution as a metadata commit ----
  // The Iceberg partition-spec-evolution contract on hive layouts
  // ([[SnapshotTable.repartitionTable]]): v1 ingests lang-partitioned,
  // v2 re-declares the spec to `grp` WITHOUT touching a data file, v3
  // ingests under the new layout. The read spans both vintages — each
  // dir's partition values restore from its OWN k=v segments, and the
  // predicate prunes BOTH vintages (lang= subtrees on the old dirs,
  // grp= subtrees on the new; Round17Spec audits the per-vintage
  // partition-dir counts). DuckDB replays the filter on the base
  // table. At 100 TB this is the "yesterday we partitioned by crawl,
  // today by language" migration without the petabyte rewrite.
  private def d52Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d52", expect = Seq(1L, 2L, 3L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (col("doc_id") % 4).cast("string").as("grp"),
          col("n_chars"), col("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L, partitionCols = Seq("lang"),
        statsCols = Seq("doc_id"))
      SnapshotTable.repartitionTable(s, path, Seq("grp"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id").between(300, 499)),
        path, "text", expectedItems = 100000L)
      ()
    }

  private val d52 = Q(
    (s, dir) => {
      SnapshotTable.readWhere(s, d52Fixture(s, dir),
          col("lang").isin("en", "zh") && col("grp") === "1")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          max(col("doc_id")).as("max_id"))
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             max(doc_id) AS max_id
      FROM (SELECT *, CAST(doc_id % 4 AS VARCHAR) AS grp
            FROM documents WHERE doc_id < 500) d
      WHERE lang IN ('en', 'zh') AND grp = '1'
      GROUP BY lang"""))

  // ---- d53_zorder: multi-dimensional clustering as a rewrite commit ----
  // `compact(zorderCols)` re-lays the table along the Morton interleave
  // of two filter columns ([[graft.operators.ZOrder.zValue]]), so the
  // rebuilt per-file min/max stats are COMPACT in BOTH dimensions and
  // [[SnapshotTable.readWhere]] prunes files for predicates on either —
  // the lakehouse answer to "we filter by time AND by language" without
  // two copies of the corpus (Round13Spec pins the both-axes prune
  // audit on a controlled grid; Round17Spec pins the SQL CALL). The
  // registry row prices the full lifecycle: overwrite → z-order rewrite
  // commit → 2-D box read. DuckDB replays the box on the base parquet —
  // the answer is layout-independent by construction, which is exactly
  // the property that makes a clustering rewrite SAFE to run online.
  // Scale shape: the rewrite is one range-exchange over the table (the
  // same cost class as any compaction), bought once at maintenance
  // time; every later multi-dim slice reads O(matching files).
  private def d53Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d53") { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("doc_id") % 512).as("slot"), col("text"))
      SnapshotTable.write(s, docs, path, "parquet",
        statsCols = Seq("n_chars", "slot"))
      SnapshotTable.compact(s, path, targetFileBytes = 64L * 1024,
        zorderCols = Seq("n_chars", "slot"), zorderBits = 16)
      ()
    }

  private val d53 = Q(
    (s, dir) => {
      SnapshotTable.readWhere(s, d53Fixture(s, dir),
          col("n_chars").between(100, 400) && col("slot") < 128)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          max(col("doc_id")).as("max_id"))
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             max(doc_id) AS max_id
      FROM (SELECT *, doc_id % 512 AS slot FROM documents)
      WHERE n_chars BETWEEN 100 AND 400 AND slot < 128
      GROUP BY lang"""))

  // ---- d54_branch_wap: writable refs + fast-forward publish ------------
  // The write-audit-publish gate every production ingestion fleet runs:
  // candidate batches stage onto an `audit` BRANCH
  // ([[SnapshotTable.appendBranch]] — manifests under
  // `_versions/refs/audit/`, data shared under the table root), the
  // main table stays pinned at the fork point while validation reads
  // the branch head, and one atomic [[SnapshotTable.fastForward]]
  // commit publishes the audited state (a squash of the branch head's
  // self-contained manifest — multi-file chains can never publish
  // torn). The fixture REQUIRES the isolation invariants in the middle
  // (main unchanged while two branch appends land; branch head = fork
  // + both deltas) and the registry row reads the POST-PUBLISH branch
  // head (the reset ref re-points at the published version, so this
  // exercises the base-manifest read path too) — DuckDB replays the
  // published corpus as the plain full projection. Divergence refusal,
  // racing branch appenders, retention interplay (expire pins the fork
  // point; vacuum refcounts branch-only dirs), `t$refs`/
  // `VERSION AS OF 'branch'`/CALL surfaces are Round17Spec-pinned.
  // Scale shape: a branch append is the SAME O(delta) commit as a main
  // append; fast-forward is one manifest publish — zero data I/O, the
  // property that makes auditing 100 TB of daily intake affordable.
  private def d54Fixture(s: SparkSession, dir: String): String =
    stagedSnapshotFixture(s, dir, "d54", expect = Seq(1L, 2L)) { path =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(coalesce(col("text"), lit("")), lit("|"), col("doc_id")).as("text"))
      SnapshotTable.ingest(s, docs.filter(col("doc_id") < 300), path, "text",
        expectedItems = 100000L)
      SnapshotTable.createBranch(s, path, "audit")
      SnapshotTable.appendBranch(s, docs.filter(col("doc_id").between(300, 399)),
        path, "audit")
      SnapshotTable.appendBranch(s, docs.filter(col("doc_id") >= 400),
        path, "audit")
      val nMain = SnapshotTable.read(s, path).count()
      val nBranch = SnapshotTable.readBranch(s, path, "audit").count()
      val nAll = docs.count()
      require(SnapshotTable.currentVersion(s, path).contains(1L) &&
        nBranch == nAll && nMain < nAll,
        s"WAP isolation broken: main=$nMain branch=$nBranch corpus=$nAll")
      val published = SnapshotTable.fastForward(s, path, "audit")
      require(published == 2L, s"fast-forward published v$published, expected v2")
      ()
    }

  private val d54 = Q(
    (s, dir) => {
      SnapshotTable.readBranch(s, d54Fixture(s, dir), "audit")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang
      FROM documents
      ORDER BY doc_id"""))

  val entries: Seq[(String, Q)] = Seq(
    "p1_corpus_pipeline" -> p1,
    "p3_curation_pipeline" -> p3,
    "p4_ccnet_pipeline" -> p4,
    "d1_dedup_exact" -> d1,
    "d2_dedup_ngram_jaccard" -> d2,
    "d3_dedup_minhash" -> d3,
    "d4_dedup_simhash" -> d4,
    "d5_dedup_embedding" -> d5,
    "d6_dedup_url" -> d6,
    "d7_dedup_normalized" -> d7,
    "d8_dedup_clusters" -> d8,
    "d9_dedup_paragraph" -> d9,
    "d10_dedup_fuzzy" -> d10,
    "d11_snapshot_diff" -> d11,
    "d12_embedding_clusters" -> d12,
    "d13_minhash_dedup" -> d13,
    "d14_dedup_incremental" -> d14,
    "d15_containment" -> d15,
    "d16_dbscan" -> d16,
    "d17_winnowing" -> d17,
    "d18_hdbscan" -> d18,
    "d19_exact_substr" -> d19,
    "d20_substr_excise" -> d20,
    "d21_semdedup" -> d21,
    "d22_url_content_incremental" -> d22,
    "d23_snapshot_changelog" -> d23,
    "d24_snapshot_merge" -> d24,
    "d25_stats_pruned_scan" -> d25,
    "d26_schema_evolution" -> d26,
    "d27_merge_on_read" -> d27,
    "d28_update_delete_where" -> d28,
    "d29_table_history" -> d29,
    "d30_partitioned_scan" -> d30,
    "d31_concurrent_ingest" -> d31,
    "d32_snapshot_rollback" -> d32,
    "d33_binpack_compact" -> d33,
    "d34_time_travel_ts" -> d34,
    "d35_check_constraints" -> d35,
    "d36_snapshot_tag" -> d36,
    "d37_column_mapping" -> d37,
    "d38_bloom_pruned_scan" -> d38,
    "d39_neardup_incremental" -> d39,
    "d40_fuzzy_ingest" -> d40,
    "d41_or_pruned_scan" -> d41,
    "d42_dsv2_scan" -> d42,
    "d43_positional_delete" -> d43,
    "d44_sql_ingest" -> d44,
    "d45_sql_delete" -> d45,
    "d46_positional_update" -> d46,
    "d47_sql_update" -> d47,
    "d48_sql_merge" -> d48,
    "d49_sql_read_mor" -> d49,
    "d50_cdc_changes" -> d50,
    "d51_spj_join" -> d51,
    "d52_partition_evolution" -> d52,
    "d53_zorder" -> d53,
    "d54_branch_wap" -> d54,
    "t1_token_count" -> t1,
    "t2_lang_id" -> t2,
    "t3_quality_score" -> t3,
    "t4_fingerprint" -> t4,
    "t5_edit_distance" -> t5,
    "t6_ngram_freq" -> t6,
    "t7_pii_redact" -> t7,
    "t8_repetition" -> t8,
    "t9_sample_mixture" -> t9,
    "t10_domain_stats" -> t10,
    "t11_contamination" -> t11,
    "t12_histogram" -> t12,
    "t13_profile" -> t13,
    "t14_tfidf" -> t14,
    "t15_char_entropy" -> t15,
    "t16_gopher_rules" -> t16,
    "t17_domain_tld" -> t17,
    "t18_unigram_ll" -> t18,
    "t19_context_pack" -> t19,
    "t20_weighted_sample" -> t20,
    "t21_length_gate" -> t21,
    "t22_html_strip" -> t22,
    "t23_zipf_slope" -> t23,
    "t24_code_detect" -> t24,
    "t25_host_rank" -> t25,
    "t26_readability" -> t26,
    "t27_domain_cap" -> t27,
    "t28_bm25" -> t28,
    "t30_source_overlap" -> t30,
    "t31_sequence_pack" -> t31,
    "t32_shard_shuffle" -> t32,
    "t33_bigram_lm" -> t33,
    "t34_dsir_select" -> t34,
    "t35_fuzzy_decontam" -> t35,
    "t36_mixture_budget" -> t36,
    "t37_bpe_train" -> t37,
    "v1_cosine_topk" -> v1,
    "v2_ann_lsh" -> v2,
    "v3_ann_ivf" -> v3,
    "v4_pq_codes" -> v4,
    "v5_pq_adc" -> v5,
    "v6_ivf_pq" -> v6,
    "v7_sq_int8" -> v7,
    "v8_recall_eval" -> v8,
    "v9_multiprobe_lsh" -> v9,
    "m1_binary_meta" -> m1,
    "m2_header_decode" -> m2,
    "m3_frame_sample" -> m3,
    "m4_channel_stats" -> m4,
    "m5_cdc_chunks" -> m5,
    "m6_patch_grid" -> m6)
}
