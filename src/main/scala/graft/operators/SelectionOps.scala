package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DotProduct.dot_ff
import graft.sources.Tables

/** Data-SELECTION operators — the curation decisions a training-data
  * pipeline makes after cleaning: which near-identical content to drop
  * (semantic dedup, exact substring dedup), which documents to keep for
  * a target domain (importance weighting), and how to split without
  * leaking duplicates across the train/eval boundary.
  *
  * All four are corpus-linear or index-shaped (never all-pairs over the
  * corpus): q181 partitions the quadratic inside derived √N-sized
  * cells, q182 is an inverted-index equi-join on n-gram keys, q183 is
  * two bounded-key aggregations plus a broadcast join, q184 rides the
  * memoized q43 pair funnel. Windows are all partitioned by doc_id.
  */
object SelectionOps extends QueryModule {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Random centroid c's 64 components: first md5 nibble of "seed_dim",
    * centered — the q48/q75 hyperplane generator at seed block 200+
    * (uncorrelated with the LSH planes at 0-287 and the k-means seeds at
    * 100-103). ±x.5 values are exact in float/double, so products and
    * the left-to-right fold match the oracle's
    * (instr(md5(...))-8.5)·CAST(embedding AS DOUBLE) bit-for-bit. */
  private def centroid(c: Int): Seq[Float] = (0 until 64).map { j =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${200 + c}_$j".getBytes("UTF-8"))
    (((hex(0) >> 4) & 0xf) - 7.5).toFloat
  }

  /** Native sequential-accumulation inner product — bit-identical to
    * the interpreted `list_reduce` fold it replaces (see the
    * [[VectorOps]] dotSql note) and ~8× faster on the pair-join
    * oracles (q181/q185 within-cell verifies). */
  private val dotSql = (a: String, b: String) =>
    s"list_inner_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  /** Corpus-derived cell count for q181 — same no-conf contract as
    * [[VectorOps.lshShape]], and the same two-regime derivation that
    * closed lshShape's disk blow-up at the round-8 100× rehearsal:
    * k = 2^clamp(2, 10, max(⌊log₂N⌋/2 − 2, ⌊log₂N⌋ − 9)), continuous
    * at N = 16384. Below it, k ≈ √N/4 (occupancy 4√N, within-cell
    * volume ≈ N^1.5 — the recall-friendliest shape at fixture scales;
    * sf0.01 k=4, sf0.1 k=8, sf1 k=32, all UNCHANGED from the √N rule).
    * Above it, OCCUPANCY IS BOUNDED in [512, 1024) and the within-cell
    * pairwise volume ≈ N·768/2 — LINEAR in N: the 100× rehearsal
    * measured the √N-rule q181 at 200 s warm (64 cells × 3125
    * occupancy, 6.2×10⁸ pairs), confirming the N^1.5 curve the
    * round-7 verdict flagged; the occupancy rule cuts the pair volume
    * 8× at N = 200k and holds it linear beyond. The recall price at
    * the 0.45 boundary is measured, not assumed — q185 re-evaluates
    * against exact ground truth under whatever k this derives.
    * Integer bit-length (no float log), mirrored in the oracle as
    * `length(bin(cnt)) - 1`. The 1024 cap exists because the oracle
    * must enumerate centroid seeds statically and assignment is k
    * literal-array dots per row; production replaces the literal
    * argmax with a k-means index at that point (SemDeDup runs
    * k = 50k cells on 5B embeddings). */
  private[graft] def cellCount(n: Long): Int = {
    val ilog2 = 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
    1 << math.max(2, math.min(10, math.max(ilog2 / 2 - 2, ilog2 - 9)))
  }

  /** The (vec_id, cluster) cell-assignment table shared by q181/q185,
    * memoized per (session, fixture dir) like the q131 pqcodes.
    * Assignment = argmax dot over a BROADCAST (cid, centroid) table,
    * not k inline literal-array expressions: at the occupancy-bounded
    * k = 256 of the round-8 100× rehearsal, 256 dot_ff columns in one
    * projection overflowed whole-stage codegen into interpreted
    * evaluation (q181 measured SLOWER than at k = 64, 361 s vs 200 s
    * — the same latent-composition bomb as VectorOps.bucketRows). The
    * join form keeps ONE codegen'd dot whatever k is; each vector's k
    * rows stay consecutive in its partition, so the partial
    * aggregation collapses them map-side and only N rows shuffle.
    * First-max tie-break = max(d, then min cid), the oracle's
    * list_position(ds, max) semantics. The memo exists because the
    * assignment feeds MANY consumer subtrees (centroid means, cell
    * norms, priorities, both pair sides): unmemoized, Catalyst
    * replays the whole argmax per subtree — 11 corpus scans in
    * q181's plan. */
  private def cellAssignment(s: SparkSession, dir: String, k: Int): DataFrame =
    ScratchMemo("semasg", s, dir) {
      import s.implicits._
      val cents = broadcast(
        (0 until k).map(c => (c.toLong, centroid(c))).toDF("cid", "cv"))
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .crossJoin(cents)
        .select(col("vec_id"), col("cid"),
          dot_ff(col("cv"), col("embedding")).as("d"))
        .groupBy("vec_id")
        .agg(max(struct(col("d"), (-col("cid")).as("nc"))).as("m"))
        .select(col("vec_id"), (-col("m.nc")).cast("long").as("cluster"))
    }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * partition the embedding space into k derived cells (argmax-dot
    * against deterministic random centroids — the one-shot stand-in for
    * the paper's k-means, k from [[cellCount]]), compute exact pairwise
    * cosine ONLY within cells, and for every pair ≥ 0.45 drop the
    * member with the HIGHER similarity to its cell centroid — the
    * paper's keep-the-atypical rule, which retains the diverse example
    * and drops the redundant one. The dup rule is the paper's
    * upper-triangle max test (an item is a dup iff some higher-priority
    * item in its cell matches it), not connected components.
    *
    * Determinism: cell assignment = first-max argmax over dots whose
    * accumulation order matches the oracle's list_reduce; centroid
    * means and all similarity terms are per-term-floored BIGINT sums
    * (order-independent under any aggregation tree); the priority key
    * csim_fp is a floored fixed-point integer with vec_id tie-break.
    *
    * Scale shape: assignment is map-only (k literal-array native dots
    * per row — no shuffle); centroid means are one partial-aggregable
    * groupBy over N·64 component rows; cell stats (k·64 and k rows) are
    * BROADCAST back; the only data-sized joins are equi-joins on the
    * cell id. The within-cell self-join is the deliberate non-linear
    * term — N²/k, which the [[cellCount]] two-regime derivation keeps
    * at N^1.5 below 16k vectors and LINEAR (bounded occupancy) above —
    * and at production k (≥50k cells) each cell is one task's worth
    * of pairs. With only k
    * distinct join keys the cell join can skew; cells are the parallel
    * unit (one cell ≫ one partition ⇒ salt the pair enumeration the
    * [[Skew]] way — not needed at fixture occupancies). Cross-cell dup
    * pairs are invisible by design — the paper's own documented recall
    * trade, MEASURED by q185 (0.71 at sf0.01/k=4, 0.35 at sf0.1/k=8).
    *
    * Negative result (measured, not assumed): refining the random
    * centroids with one or two Lloyd steps before partitioning moves
    * q185's recall ≤ ±2 points on this corpus (0.347 → 0.340 → 0.354
    * at sf0.1) — at cos 0.45 in 64-d the dup pairs sit at the
    * near-orthogonal background rate, where NO coarse partition
    * co-locates them (the round-5 IvfProbe conclusion, BASELINE.md).
    * SemDeDup's cell partition pays off on corpora with real cluster
    * structure and high thresholds; in this regime the exact answer is
    * q158's dense sweep, and a k-means refinement would buy plan
    * depth, not recall — so the operator keeps the one-shot
    * deterministic partition. */
  /** The keep-the-atypical PRIORITY table (vec_id, cluster, csim_fp):
    * fixed-point cosine of each vector against its PRIMARY cell's
    * centroid mean — factored out of q181 (round-9) because the
    * multi-probe variant (q195) ranks pairs by the SAME priority, and
    * memoized because it feeds many consumer subtrees in both. All
    * sums are per-term-floored BIGINT (order-independent under any
    * aggregation tree); centroid stats are k·64 / k rows, BROADCAST
    * back — the only data-sized operations are one posexplode pass
    * and two partial-aggregable groupBys. */
  private def prioTable(s: SparkSession, dir: String, k: Int): DataFrame =
    ScratchMemo("semprio", s, dir) {
      val asg = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .join(cellAssignment(s, dir, k), "vec_id")
      val comps = asg.select(col("vec_id"), col("cluster"), posexplode(col("embedding")))
        .select(col("vec_id"), col("cluster"), col("pos").as("dim"),
          col("col").cast("double").as("x"))
      val cval = comps.groupBy("cluster", "dim")
        .agg(sum(floor(col("x") * lit(1e10)).cast("long")).cast("long").as("s_fp"),
          count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          (col("s_fp").cast("double") / (col("n").cast("double") * lit(1e10))).as("cv"))
      val ncl = cval.groupBy("cluster")
        .agg(sum(floor(col("cv") * col("cv") * lit(1e9)).cast("long")).cast("long").as("nc_fp"))
      comps.join(broadcast(cval), Seq("cluster", "dim"))
        .groupBy("vec_id", "cluster")
        .agg(sum(floor(col("x") * col("cv") * lit(1e9)).cast("long")).cast("long").as("dvc_fp"),
          sum(floor(col("x") * col("x") * lit(1e9)).cast("long")).cast("long").as("nv_fp"))
        .join(broadcast(ncl), "cluster")
        .select(col("vec_id"), col("cluster"),
          floor(col("dvc_fp").cast("double")
            / (sqrt(col("nv_fp").cast("double")) * sqrt(col("nc_fp").cast("double")))
            * lit(1e9)).cast("long").as("csim_fp"))
    }

  val q181_semantic_dedup = QueryDef(
    "q181_semantic_dedup",
    (s, dir) => {
      val n = ScratchMemo.countOnce("nvec", s, dir)(t(s, dir, "embeddings").count())
      val k = cellCount(n)
      val e = t(s, dir, "embeddings")
      val asg = e.select(col("vec_id"), col("embedding"))
        .join(cellAssignment(s, dir, k), "vec_id")
      val prio = prioTable(s, dir, k)
      val base = asg.join(prio.select("vec_id", "csim_fp"), "vec_id")
        .withColumn("nm", sqrt(dot_ff(col("embedding"), col("embedding"))))
      val xa = base.select(col("cluster"), col("vec_id").as("a"), col("embedding").as("av"),
        col("nm").as("na"), col("csim_fp").as("ca"))
      val xb = base.select(col("cluster"), col("vec_id").as("b"), col("embedding").as("bv"),
        col("nm").as("nb"), col("csim_fp").as("cb"))
      val losers = xa.join(xb, "cluster").filter(col("a") < col("b"))
        .withColumn("cos", dot_ff(col("av"), col("bv")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .select(when(col("ca") < col("cb")
          || (col("ca") === col("cb") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
        .distinct()
      prio.join(losers, prio("vec_id") === losers("v"), "left")
        .select(col("vec_id"), col("cluster"), col("csim_fp"),
          col("v").isNotNull.as("is_dup"))
        .orderBy("vec_id")
    },
    Some(s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
            ks AS (SELECT 1 << GREATEST(2, LEAST(10, GREATEST((length(bin(cnt)) - 1) // 2 - 2,
                                                  (length(bin(cnt)) - 1) - 9))) AS k FROM n),
            cw AS (
              SELECT c.c,
                     list((instr('0123456789abcdef',
                            substr(md5(CAST(200 + c.c AS VARCHAR) || '_' || CAST(d.j AS VARCHAR)), 1, 1)) - 8.5)
                          ORDER BY d.j) AS wv
              FROM range(0, 1024) c(c), range(0, 64) d(j), ks
              WHERE c.c < ks.k GROUP BY c.c),
            sc AS (
              SELECT e.vec_id, p.c,
                     list_inner_product(CAST(p.wv AS DOUBLE[]),
                       CAST(e.embedding AS DOUBLE[])) AS d
              FROM embeddings e, cw p),
            scl AS (SELECT vec_id, list(d ORDER BY c) AS ds FROM sc GROUP BY vec_id),
            asg AS (SELECT vec_id,
                      CAST(list_position(ds, list_aggregate(ds, 'max')) - 1 AS BIGINT) AS cluster
                    FROM scl),
            comps AS (
              SELECT a.vec_id, a.cluster, d.j AS dim,
                     CAST(e.embedding[d.j + 1] AS DOUBLE) AS x
              FROM asg a JOIN embeddings e USING (vec_id), range(0, 64) d(j)),
            cval AS (
              SELECT cluster, dim,
                     CAST(sum(CAST(floor(x * 10000000000.0) AS BIGINT)) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 10000000000.0) AS cv
              FROM comps GROUP BY 1, 2),
            ncl AS (
              SELECT cluster,
                     CAST(sum(CAST(floor(cv * cv * 1000000000.0) AS BIGINT)) AS BIGINT) AS nc_fp
              FROM cval GROUP BY 1),
            prio AS (
              SELECT v.vec_id, v.cluster,
                     CAST(floor(CAST(dvc_fp AS DOUBLE)
                       / (sqrt(CAST(nv_fp AS DOUBLE)) * sqrt(CAST(nc_fp AS DOUBLE)))
                       * 1000000000.0) AS BIGINT) AS csim_fp
              FROM (SELECT c.vec_id, c.cluster,
                      CAST(sum(CAST(floor(c.x * w.cv * 1000000000.0) AS BIGINT)) AS BIGINT) AS dvc_fp,
                      CAST(sum(CAST(floor(c.x * c.x * 1000000000.0) AS BIGINT)) AS BIGINT) AS nv_fp
                    FROM comps c JOIN cval w ON c.cluster = w.cluster AND c.dim = w.dim
                    GROUP BY 1, 2) v
              JOIN ncl USING (cluster)),
            pairs AS (
              SELECT x.vec_id AS a, y.vec_id AS b, px.csim_fp AS ca, py.csim_fp AS cb
              FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
              JOIN prio px ON px.vec_id = x.vec_id
              JOIN prio py ON py.vec_id = y.vec_id
              JOIN embeddings ex ON ex.vec_id = x.vec_id
              JOIN embeddings ey ON ey.vec_id = y.vec_id
              WHERE ${dotSql("ex.embedding", "ey.embedding")}
                      / (sqrt(${dotSql("ex.embedding", "ex.embedding")})
                         * sqrt(${dotSql("ey.embedding", "ey.embedding")})) >= 0.45),
            losers AS (
              SELECT DISTINCT CASE WHEN ca < cb OR (ca = cb AND a < b) THEN b ELSE a END AS v
              FROM pairs)
            SELECT p.vec_id, p.cluster, p.csim_fp, (l.v IS NOT NULL) AS is_dup
            FROM prio p LEFT JOIN losers l ON l.v = p.vec_id
            ORDER BY p.vec_id"""))

  /** TOP-2 cell assignment for the multi-probe variant (q195): per
    * vector, the primary argmax cell AND the runner-up. One map-only
    * pass — the k centroids arrive as a SINGLE broadcast array column
    * (not k literal expressions — the codegen-overflow class
    * [[cellAssignment]]'s scaladoc documents) and a `transform` lambda
    * scores them with the same codegen'd [[dot_ff]]; the runner-up is
    * `array_max` over the scores minus the primary element. Catalyst
    * collapses the projections so the transform evaluates twice —
    * ~2× assignment cost for the second probe, zero extra shuffles
    * (the verdict's predicted price). First-max tie-break matches
    * [[cellAssignment]]; the runner-up inherits "next occurrence"
    * semantics on d-ties (nc = −cid is unique, so exclusion by nc
    * removes exactly the primary). */
  /** TOP-P generalization of [[top2Assignment]] (round-9 verdict task
    * 5): per vector, its `p` best cells by (d, nc) — one broadcast
    * centroid array, one `transform` scoring pass, and a bounded
    * `slice(reverse(array_sort(…)), 1, p)` (k ≤ 1024 structs per row,
    * map-only). For p = 2 this reproduces [[top2Assignment]] exactly
    * (`reverse(array_sort)[0]` ≡ `array_max`; element 1 ≡ the
    * runner-up-by-exclusion), which MultiProbeCurveSpec pins.
    *
    * MEASURED CURVE (BASELINE.md round-10, "Multi-probe curve") —
    * pair recall vs the exact cos ≥ 0.45 truth, candidate rows:
    * sf0.1 (N=2k, k=8): p=1 .35/253k, p=2 .76/1.0M, p=4 .99/4.0M,
    * p=8 1.0/16M; 10× (N=20k, k=32): p=1 .16/6.5M, p=2 .43/25M,
    * p=4 .84/101M, p=8 .998/401M. Candidates grow exactly p²; recall
    * at fixed p DECAYS with scale (p=4: .99 → .84) — the q191 lesson
    * again: the dial scales with the corpus, no fixed p dominates, so
    * the shipped q195 stays at p=2 and exact answers route through
    * similarityJoin's dense regime. Un-memoized by design: each probe
    * point is an independent measurement. */
  private[graft] def topPAssignment(e: DataFrame, k: Int, p: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cents = broadcast(
      Seq(Tuple1((0 until k).map(c => (c.toLong, centroid(c))))).toDF("cents"))
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(cents)
      .withColumn("ds", transform(col("cents"),
        c => struct(dot_ff(c("_2"), col("embedding")).as("d"), (-c("_1")).as("nc"))))
      .select(col("vec_id"),
        transform(slice(reverse(array_sort(col("ds"))), 1, p),
          x => (-x("nc")).cast("long")).as("cells"))
  }

  private def top2Assignment(s: SparkSession, dir: String, k: Int): DataFrame =
    ScratchMemo("semasg2", s, dir) {
      import s.implicits._
      val cents = broadcast(
        Seq(Tuple1((0 until k).map(c => (c.toLong, centroid(c))))).toDF("cents"))
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .crossJoin(cents)
        .withColumn("ds", transform(col("cents"),
          c => struct(dot_ff(c("_2"), col("embedding")).as("d"), (-c("_1")).as("nc"))))
        .withColumn("m1", array_max(col("ds")))
        .withColumn("m2", array_max(filter(col("ds"), x => x("nc") =!= col("m1.nc"))))
        .select(col("vec_id"),
          (-col("m1.nc")).cast("long").as("c1"),
          (-col("m2.nc")).cast("long").as("c2"))
    }

  /** MULTI-PROBE semantic dedup — q181's SemDeDup with TOP-2 cell
    * probing (round-8 verdict task 5, the q54 multi-probe device
    * applied to the cell partition): each vector joins the pair
    * enumeration of BOTH its primary and runner-up cells, so a dup
    * pair straddling one cell boundary is caught whenever either
    * member's second-best cell is the other's — the standard recall
    * lever for any coarse quantizer. Priorities (keep-the-atypical)
    * are unchanged: similarity to the PRIMARY cell's centroid, the
    * shared memoized [[prioTable]]. Candidate volume is ~4× q181's
    * (2 probes × 2 probes per pair), still N²/k-shaped within the
    * [[cellCount] ] occupancy-bounded regime; pairs sharing both
    * probed cells are enumerated twice and collapsed by the final
    * DISTINCT on the loser id (cos is deterministic, so the duplicate
    * rows agree). Output adds the runner-up cell so the probe
    * structure is visible in data. Recall lift vs the within-cell
    * pass is MEASURED (BASELINE.md round-9): on this near-orthogonal
    * corpus the boundary-pair geometry predicts ~2× at small k. */
  val q195_semantic_dedup_multiprobe = QueryDef(
    "q195_semantic_dedup_multiprobe",
    (s, dir) => {
      val n = ScratchMemo.countOnce("nvec", s, dir)(t(s, dir, "embeddings").count())
      val k = cellCount(n)
      val e = t(s, dir, "embeddings")
      val t2 = top2Assignment(s, dir, k)
      val prio = prioTable(s, dir, k)
      val base = e.select(col("vec_id"), col("embedding"))
        .withColumn("nm", sqrt(dot_ff(col("embedding"), col("embedding"))))
        .join(prio.select(col("vec_id"), col("csim_fp")), "vec_id")
      val probes = t2.select(col("vec_id"),
        explode(array(col("c1"), col("c2"))).as("cell"))
      val pa = probes.join(base, "vec_id").select(col("cell"),
        col("vec_id").as("a"), col("embedding").as("av"),
        col("nm").as("na"), col("csim_fp").as("ca"))
      val pb = probes.join(base, "vec_id").select(col("cell"),
        col("vec_id").as("b"), col("embedding").as("bv"),
        col("nm").as("nb"), col("csim_fp").as("cb"))
      val losers = pa.join(pb, "cell").filter(col("a") < col("b"))
        .withColumn("cos", dot_ff(col("av"), col("bv")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .select(when(col("ca") < col("cb")
          || (col("ca") === col("cb") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
        .distinct()
      t2.join(prio.select(col("vec_id"), col("csim_fp")), "vec_id")
        .join(losers, col("vec_id") === losers("v"), "left")
        .select(col("vec_id"), col("c1"), col("c2"), col("csim_fp"),
          col("v").isNotNull.as("is_dup"))
        .orderBy("vec_id")
    },
    Some(s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
            ks AS (SELECT 1 << GREATEST(2, LEAST(10, GREATEST((length(bin(cnt)) - 1) // 2 - 2,
                                                  (length(bin(cnt)) - 1) - 9))) AS k FROM n),
            cw AS (
              SELECT c.c,
                     list((instr('0123456789abcdef',
                            substr(md5(CAST(200 + c.c AS VARCHAR) || '_' || CAST(d.j AS VARCHAR)), 1, 1)) - 8.5)
                          ORDER BY d.j) AS wv
              FROM range(0, 1024) c(c), range(0, 64) d(j), ks
              WHERE c.c < ks.k GROUP BY c.c),
            sc AS (
              SELECT e.vec_id, p.c,
                     list_inner_product(CAST(p.wv AS DOUBLE[]),
                       CAST(e.embedding AS DOUBLE[])) AS d
              FROM embeddings e, cw p),
            scl AS (SELECT vec_id, list(d ORDER BY c) AS ds FROM sc GROUP BY vec_id),
            a1 AS (SELECT vec_id, ds,
                     list_position(ds, list_aggregate(ds, 'max')) AS p1
                   FROM scl),
            a2 AS (SELECT vec_id, ds, p1,
                     list_aggregate(list_concat(ds[:p1-1], ds[p1+1:]), 'max') AS m2
                   FROM a1),
            asg2 AS (SELECT vec_id, CAST(p1 - 1 AS BIGINT) AS c1,
                       CAST((CASE WHEN m2 = ds[p1]
                             THEN list_position(ds[p1+1:], m2) + p1
                             ELSE list_position(ds, m2) END) - 1 AS BIGINT) AS c2
                     FROM a2),
            comps AS (
              SELECT a.vec_id, a.c1 AS cluster, d.j AS dim,
                     CAST(e.embedding[d.j + 1] AS DOUBLE) AS x
              FROM asg2 a JOIN embeddings e USING (vec_id), range(0, 64) d(j)),
            cval AS (
              SELECT cluster, dim,
                     CAST(sum(CAST(floor(x * 10000000000.0) AS BIGINT)) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 10000000000.0) AS cv
              FROM comps GROUP BY 1, 2),
            ncl AS (
              SELECT cluster,
                     CAST(sum(CAST(floor(cv * cv * 1000000000.0) AS BIGINT)) AS BIGINT) AS nc_fp
              FROM cval GROUP BY 1),
            prio AS (
              SELECT v.vec_id,
                     CAST(floor(CAST(dvc_fp AS DOUBLE)
                       / (sqrt(CAST(nv_fp AS DOUBLE)) * sqrt(CAST(nc_fp AS DOUBLE)))
                       * 1000000000.0) AS BIGINT) AS csim_fp
              FROM (SELECT c.vec_id, c.cluster,
                      CAST(sum(CAST(floor(c.x * w.cv * 1000000000.0) AS BIGINT)) AS BIGINT) AS dvc_fp,
                      CAST(sum(CAST(floor(c.x * c.x * 1000000000.0) AS BIGINT)) AS BIGINT) AS nv_fp
                    FROM comps c JOIN cval w ON c.cluster = w.cluster AND c.dim = w.dim
                    GROUP BY 1, 2) v
              JOIN ncl USING (cluster)),
            probes AS (
              SELECT vec_id, c1 AS cell FROM asg2
              UNION ALL SELECT vec_id, c2 FROM asg2),
            cand AS (
              SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
              FROM probes x JOIN probes y ON x.cell = y.cell AND x.vec_id < y.vec_id),
            pairs AS (
              SELECT a, b, px.csim_fp AS ca, py.csim_fp AS cb
              FROM cand
              JOIN prio px ON px.vec_id = a
              JOIN prio py ON py.vec_id = b
              JOIN embeddings ex ON ex.vec_id = a
              JOIN embeddings ey ON ey.vec_id = b
              WHERE ${dotSql("ex.embedding", "ey.embedding")}
                      / (sqrt(${dotSql("ex.embedding", "ex.embedding")})
                         * sqrt(${dotSql("ey.embedding", "ey.embedding")})) >= 0.45),
            losers AS (
              SELECT DISTINCT CASE WHEN ca < cb OR (ca = cb AND a < b) THEN b ELSE a END AS v
              FROM pairs)
            SELECT g.vec_id, g.c1, g.c2, p.csim_fp, (l.v IS NOT NULL) AS is_dup
            FROM asg2 g JOIN prio p USING (vec_id)
            LEFT JOIN losers l ON l.v = g.vec_id
            ORDER BY g.vec_id"""))

  /** EXACT duplicate-substring spans (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" semantics, arXiv:
    * 2107.06499, re-expressed as an inverted-index join instead of a
    * suffix array): every 8-token window (stride 1) is keyed; a window
    * whose key occurs ≥ 2 times ANYWHERE in the corpus (within- or
    * cross-document) is a duplicated window; per document, overlapping
    * duplicated windows MERGE into maximal token spans (running-max-end
    * islands — the q128 device, partitioned by doc_id), and the text is
    * REWRITTEN with every duplicated span removed (`clean_md5` pins the
    * exact cleaned bytes, the q178 contract). Catches every duplicated
    * substring of ≥ 8 tokens; shorter dups are invisible (the window
    * width is the detection floor — the paper uses 50 BPE tokens).
    * Divergence from the paper: ALL copies of a duplicated span are
    * removed, not all-but-one — removing "all but the first" needs a
    * corpus-global occurrence order over merged spans, which is
    * ill-defined once overlapping windows merge differently per doc;
    * the conservative form is what C4-style pipelines ship.
    *
    * Scale shape: windows are corpus-linear (Σ n_tok rows); the only
    * corpus-sized operations are one groupBy on the 8-byte window hash
    * (xxhash64 in Spark, the gram string in the oracle — the q43
    * collision-odds note applies) and one semi-join of windows against
    * duplicated keys; islands/coverage/rewrite are windows PARTITIONED
    * BY doc_id. A suffix array would find variable-length dups ≥ any
    * floor in O(N log N), but its construction is a 20-pass
    * prefix-doubling sort; the fixed-floor windowed form is one shuffle
    * and is what production near-dedup pipelines run. */
  /** The q182 window/island stats core, parameterized over the input
    * corpus slice so a composed pipeline (q188) can RE-COUNT duplicated
    * windows among its survivors — the counts genuinely change after a
    * dedup stage removes family members. Input: (doc_id, text). Output:
    * (doc_id, n_tok, n_spans, dup_tokens), one row per input doc. */
  private def dupSpanStats(docsWithText: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsWithText
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nt = docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"))
    // index-explode + scalar slice/concat_ws, not a transform(...)
    // lambda (the shingleStreamOf codegen device): the exploded index
    // IS the window position, so posexplode's pos column is just `i`.
    val wins = docs.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 8)).as("p"))
      .select(col("doc_id"), col("p"),
        xxhash64(expr("concat_ws(' ', slice(ws, p + 1, 8))")).as("gk"))
    val dupKeys = wins.groupBy("gk").agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val dups = wins.join(dupKeys.select("gk"), "gk", "left_semi")
    val wOrd = Window.partitionBy("doc_id").orderBy("p")
    val islands = dups
      .withColumn("pe", max(col("p") + 8).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni", when(col("pe").isNull || col("p") > col("pe"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("p")).as("st"), (max(col("p")) + 8).as("en"))
    val spanStats = islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("en") - col("st")).cast("long").as("dup_tokens"))
    nt.join(spanStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  val q182_dup_spans = QueryDef(
    "q182_dup_spans",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val stats = dupSpanStats(t(s, dir, "documents").select(col("doc_id"), col("text")))
      // same codegen index-explode device as [[dupSpanStats]]
      val wins = docs.filter(size(col("ws")) >= 8)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 8)).as("p"))
        .select(col("doc_id"), col("p"),
          xxhash64(expr("concat_ws(' ', slice(ws, p + 1, 8))")).as("gk"))
      val dupKeys = wins.groupBy("gk").agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      val dups = wins.join(dupKeys.select("gk"), "gk", "left_semi")
      // per-token coverage: token t is inside a dup span iff a dup
      // window STARTS at some p ∈ [t-7, t] — running max of (p+8) over
      // dup starts, including the current row, never re-expands spans
      val toks = docs.select(col("doc_id"), posexplode(col("ws")))
        .select(col("doc_id"), col("pos").as("tp"), col("col").as("w"))
      val cov = toks.join(dups.select(col("doc_id"), col("p").as("tp"), lit(1).as("ds")),
          Seq("doc_id", "tp"), "left")
        .withColumn("ce", max(when(col("ds").isNotNull, col("tp") + 8)).over(
          Window.partitionBy("doc_id").orderBy("tp")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("covered", coalesce(col("ce") > col("tp"), lit(false)))
      val cleaned = cov.groupBy("doc_id")
        .agg(expr("md5(concat_ws(' ', transform(filter(array_sort(collect_list(" +
          "struct(tp, covered, w))), x -> NOT x.covered), x -> x.w)))").as("clean_md5"))
      stats.join(cleaned, "doc_id")
        .select(col("doc_id"), col("n_tok"), col("n_spans"), col("dup_tokens"),
          floor(col("dup_tokens") * lit(1000000L) / col("n_tok"))
            .cast("long").as("dup_frac_fp"),
          col("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            nt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok FROM d),
            wins AS (
              SELECT doc_id, i.p,
                     array_to_string(ws[i.p + 1:i.p + 8], ' ') AS gk
              FROM d, unnest(range(len(ws) - 7)) AS i(p)
              WHERE len(ws) >= 8),
            dupk AS (SELECT gk FROM wins GROUP BY gk HAVING count(*) >= 2),
            dups AS (SELECT doc_id, p FROM wins WHERE gk IN (SELECT gk FROM dupk)),
            isl0 AS (
              SELECT doc_id, p,
                     max(p + 8) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM dups),
            isl1 AS (
              SELECT doc_id, p,
                     sum(CASE WHEN pe IS NULL OR p > pe THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
              FROM isl0),
            islands AS (
              SELECT doc_id, isl, min(p) AS st, max(p) + 8 AS en
              FROM isl1 GROUP BY 1, 2),
            stats AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(en - st) AS BIGINT) AS dup_tokens
              FROM islands GROUP BY 1),
            toks AS (
              SELECT doc_id, i.tp, ws[i.tp + 1] AS w
              FROM d, unnest(range(len(ws))) AS i(tp)),
            cov AS (
              SELECT t.doc_id, t.tp, t.w,
                     max(CASE WHEN u.p IS NOT NULL THEN t.tp + 8 END)
                       OVER (PARTITION BY t.doc_id ORDER BY t.tp
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
              FROM toks t LEFT JOIN dups u ON u.doc_id = t.doc_id AND u.p = t.tp),
            cleaned AS (
              SELECT doc_id,
                     md5(coalesce(string_agg(w, ' ' ORDER BY tp)
                       FILTER (WHERE NOT coalesce(ce > tp, false)), '')) AS clean_md5
              FROM cov GROUP BY doc_id)
            SELECT nt.doc_id, nt.n_tok,
                   coalesce(s.n_spans, 0) AS n_spans,
                   coalesce(s.dup_tokens, 0) AS dup_tokens,
                   CAST(floor(coalesce(s.dup_tokens, 0) * 1000000 / nt.n_tok) AS BIGINT) AS dup_frac_fp,
                   c.clean_md5
            FROM nt LEFT JOIN stats s ON s.doc_id = nt.doc_id
            JOIN cleaned c ON c.doc_id = nt.doc_id
            ORDER BY nt.doc_id"""))

  /** Hex-nibble value of `expr`'s md5 at 1-based position i — the q65
    * bucket device, shared by both engines verbatim. */
  private def nib(h: String, i: Int): String =
    s"(instr('0123456789abcdef', substring(md5($h), $i, 1)) - 1)"
  /** Nibble of an ALREADY-COMPUTED md5 column (hash once, extract many). */
  private def nibH(h: String, i: Int): String =
    s"(instr('0123456789abcdef', substring($h, $i, 1)) - 1)"
  private def nibSql(h: String, i: Int): String =
    s"(instr('0123456789abcdef', substr(md5($h), $i, 1)) - 1)"

  /** DSIR-style IMPORTANCE WEIGHTING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * hashed-bigram bag-of-ngrams features (256 md5 buckets), target
    * distribution = the English slice, raw = the whole corpus; a
    * document's log importance weight is Σ_bigram ln p̂_target(bucket) −
    * ln p̂_raw(bucket) with add-one smoothing, and the resample is
    * GUMBEL TOP-K — g = log w + Gumbel(0,1), take the top 100 — which
    * draws k docs without replacement with probability ∝ w, exactly the
    * paper's sampled (not argmax) selection. The Gumbel noise is
    * content-addressed (u from 4 md5 nibbles of 'gum:'||doc_id, 16-bit
    * resolution, doc_id tie-break), so the sample is reproducible on
    * any engine and any partitioning — no RNG state, same contract as
    * q65/q86.
    *
    * Determinism: bucket log-ratio terms are floored to BIGINT once per
    * bucket (256 rows) from exact integer counts; per-doc weights are
    * integer dot products count·term_fp; the Gumbel term is floored to
    * the same 1e-6 grid. Scale shape: ONE pass over the bigram
    * occurrences (explode + one md5 each) into the cached per-doc
    * bucket-count aggregate; raw and target bucket totals re-aggregate
    * THAT (≤ N_docs·256 rows), never the occurrences; one BROADCAST of
    * the 256-row term table; selection is distributed top-k
    * (TakeOrdered — never a global sort). */
  /** Per-doc DSIR log importance weights (doc_id, lang, n_big,
    * logw_fp) — the learned-weights core of q183, shared with the
    * composed pipeline (q188) which aggregates the weights instead of
    * sampling. */
  private def importanceWeights(s: SparkSession, dir: String): DataFrame = {
      val docs = t(s, dir, "documents")
      // index-explode + scalar concat, not a transform(...) lambda —
      // the SketchOps.shingleStreamOf codegen device (HOFs evaluate on
      // the interpreted path, 2.4× decay under megamorphic-JIT
      // pollution, BASELINE.md q201 study); content-identical bigram stream.
      val big = docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("lang"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 2)).as("i"))
        .select(col("doc_id"), col("lang"), concat(
          element_at(col("ws"), col("i") + 1), lit(" "),
          element_at(col("ws"), col("i") + 2)).as("bg"))
        // one md5 per occurrence (the q65 pattern) — computing it inside
        // each nibble extraction doubled the hash work (bench: 1.8 s)
        .withColumn("h", md5(col("bg")))
        .withColumn("bucket",
          (expr(nibH("h", 1)) * 16 + expr(nibH("h", 2))).cast("long"))
      // ONE pass over the occurrences: bucket totals re-aggregate the
      // per-doc counts (lang rides the key — functionally dependent on
      // doc_id) instead of re-running the explode+hash per consumer
      // (measured: three scans of `big` dominated the query)
      // localCheckpoint: three consumers (per-doc weights, raw totals,
      // target totals) read this ≤ N_docs·256-row aggregate — without
      // pinning it each re-runs the explode+hash pass over the corpus.
      // Eager checkpoint rather than .cache(): measured at sf1, repeated
      // cache create/drop cycles degraded later executions in the same
      // session (7 s → 45 s), while checkpoint blocks free with the RDD.
      val docBuckets = big.groupBy("doc_id", "lang", "bucket")
        .agg(count(lit(1)).as("cnt")).transform(Ckpt.ser(_))
      val rawC = docBuckets.groupBy("bucket").agg(sum("cnt").cast("long").as("cr"))
      val tgtC = docBuckets.filter(col("lang") === "en")
        .groupBy("bucket").agg(sum("cnt").cast("long").as("ct"))
      val totals = rawC.agg(sum("cr").cast("long").as("tr")).crossJoin(
        tgtC.agg(sum("ct").cast("long").as("tt")))
      val terms = s.range(256).select(col("id").as("bucket"))
        .join(rawC, Seq("bucket"), "left").join(tgtC, Seq("bucket"), "left")
        .crossJoin(broadcast(totals))
        .select(col("bucket"),
          floor((log((coalesce(col("ct"), lit(0L)) + 1).cast("double")
              / (col("tt") + 256).cast("double"))
            - log((coalesce(col("cr"), lit(0L)) + 1).cast("double")
              / (col("tr") + 256).cast("double"))) * lit(1e6))
            .cast("long").as("term_fp"))
      val logw = docBuckets.join(broadcast(terms), "bucket")
        .groupBy("doc_id")
        .agg(sum("cnt").cast("long").as("n_big"),
          sum(col("cnt") * col("term_fp")).cast("long").as("logw_fp"))
      docs.select(col("doc_id"), col("lang"))
        .join(logw, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          coalesce(col("logw_fp"), lit(0L)).as("logw_fp"))
  }

  val q183_dsir_importance = QueryDef(
    "q183_dsir_importance",
    (s, dir) => {
      importanceWeights(s, dir)
        .withColumn("gh", md5(concat(lit("gum:"), col("doc_id").cast("string"))))
        .withColumn("u16",
          (expr(nibH("gh", 1)) * 4096 + expr(nibH("gh", 2)) * 256
            + expr(nibH("gh", 3)) * 16 + expr(nibH("gh", 4))).cast("double"))
        .select(col("doc_id"), col("lang"), col("n_big"), col("logw_fp"),
          (col("logw_fp")
            + floor(-log(-log((col("u16") + 0.5) / 65536.0)) * lit(1e6)).cast("long"))
            .as("g_fp"))
        .orderBy(col("g_fp").desc, col("doc_id"))
        .limit(100)
    },
    Some(s"""WITH big AS (
              SELECT doc_id, lang,
                     unnest(list_transform(range(len(ws) - 1),
                       i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
              FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 2),
            bb AS (SELECT doc_id, lang,
                     CAST(${nibSql("bg", 1)} * 16 + ${nibSql("bg", 2)} AS BIGINT) AS bucket
                   FROM big),
            db AS (SELECT doc_id, bucket, count(*) AS cnt FROM bb GROUP BY 1, 2),
            rawc AS (SELECT bucket, count(*) AS cr FROM bb GROUP BY 1),
            tgtc AS (SELECT bucket, count(*) AS ct FROM bb WHERE lang = 'en' GROUP BY 1),
            tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM rawc) AS tr,
                           (SELECT CAST(sum(ct) AS BIGINT) FROM tgtc) AS tt),
            terms AS (
              SELECT r.b AS bucket,
                     CAST(floor((ln(CAST(coalesce(t.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 256 AS DOUBLE))
                       - ln(CAST(coalesce(w.cr, 0) + 1 AS DOUBLE) / CAST(tot.tr + 256 AS DOUBLE))) * 1e6) AS BIGINT) AS term_fp
              FROM range(0, 256) r(b)
              LEFT JOIN rawc w ON w.bucket = r.b
              LEFT JOIN tgtc t ON t.bucket = r.b
              CROSS JOIN tot),
            logw AS (
              SELECT db.doc_id, CAST(sum(db.cnt) AS BIGINT) AS n_big,
                     CAST(sum(db.cnt * terms.term_fp) AS BIGINT) AS logw_fp
              FROM db JOIN terms USING (bucket) GROUP BY 1),
            scored AS (
              SELECT d.doc_id, d.lang,
                     coalesce(l.n_big, 0) AS n_big,
                     coalesce(l.logw_fp, 0) AS logw_fp,
                     CAST(coalesce(l.logw_fp, 0)
                       + CAST(floor(-ln(-ln((CAST(${nibSql("'gum:' || CAST(d.doc_id AS VARCHAR)", 1)} * 4096
                           + ${nibSql("'gum:' || CAST(d.doc_id AS VARCHAR)", 2)} * 256
                           + ${nibSql("'gum:' || CAST(d.doc_id AS VARCHAR)", 3)} * 16
                           + ${nibSql("'gum:' || CAST(d.doc_id AS VARCHAR)", 4)} AS DOUBLE) + 0.5) / 65536.0)) * 1e6) AS BIGINT)
                       AS BIGINT) AS g_fp
              FROM documents d LEFT JOIN logw l ON l.doc_id = d.doc_id)
            SELECT doc_id, lang, n_big, logw_fp, g_fp
            FROM scored ORDER BY g_fp DESC, doc_id LIMIT 100"""))

  /** CLUSTER-SAFE train/val/test split — q65's content-addressed split
    * re-keyed on the NEAR-DUP CLUSTER id instead of the doc id, so a
    * whole transitive dup cluster (q68's connected components over the
    * q43 Jaccard graph) lands in ONE split and near-duplicates can
    * never leak across the train/eval boundary (the contamination mode
    * q70's exact-substring decontamination cannot catch). Singleton
    * docs key on their own id; clustered docs on the component
    * representative. By construction no cluster spans two splits, so
    * the proof obligation the output carries is the per-split census:
    * docs, distinct clusters, docs that arrived via a multi-doc
    * cluster, and chars.
    *
    * Scale shape: the funnel (shingle index join + Jaccard verify +
    * components) is the memoized q43/q68 machinery; this operator adds
    * one broadcast-sized left join (cluster assignments ≪ corpus) and
    * one 3-group aggregation. */
  val q184_cluster_safe_split = QueryDef(
    "q184_cluster_safe_split",
    (s, dir) => {
      val clusters = DedupOps.q68_dedup_clusters.run(s, dir)
      val keyed = t(s, dir, "documents")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("ck", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("bucket",
          (expr(nib("CAST(ck AS STRING)", 1)) * 16
            + expr(nib("CAST(ck AS STRING)", 2))).cast("long"))
        .withColumn("split",
          when(col("bucket") < 205, "train")
            .when(col("bucket") < 230, "val")
            .otherwise("test"))
      keyed.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("ck")).as("n_clusters"),
          sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_clustered_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"))
        .orderBy("split")
    },
    Some(s"""WITH RECURSIVE sh AS (
              SELECT DISTINCT doc_id,
                     string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                       || ' ' || string_split(text, ' ')[i+3] AS sh
              FROM documents, unnest(range(len(string_split(text, ' ')) - 2)) AS t(i)
              WHERE len(string_split(text, ' ')) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id),
            pairs AS (
              SELECT a, b FROM common
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE c / (sa.n + sb.n - c) >= 0.8),
            edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT DISTINCT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst),
            comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
            keyed AS (
              SELECT d.doc_id, d.n_chars, c.cluster_id,
                     coalesce(c.cluster_id, d.doc_id) AS ck
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
            assigned AS (
              SELECT doc_id, n_chars, cluster_id, ck,
                     ${nibSql("CAST(ck AS VARCHAR)", 1)} * 16
                       + ${nibSql("CAST(ck AS VARCHAR)", 2)} AS bucket
              FROM keyed)
            SELECT CASE WHEN bucket < 205 THEN 'train'
                        WHEN bucket < 230 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(count(DISTINCT ck) AS BIGINT) AS n_clusters,
                   CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM assigned GROUP BY 1 ORDER BY split"""))

  /** SEMANTIC-DEDUP RECALL EVAL — the q159/q162/q180 pattern applied to
    * q181: of the EXACT pairs at cos ≥ 0.45 (q158's dense-sweep ground
    * truth, read from the shared `dense` materialization), how many fall
    * WITHIN one of q181's derived cells — i.e. are visible to the
    * cell-partitioned dedup at all? Cross-cell pairs are SemDeDup's
    * documented blind spot; this query measures that blind spot on data
    * instead of trusting the partition. Broadcast-sized joins only (the
    * exact pair set and the k-row assignment side columns ride equi-
    * joins on vec_id); one scalar aggregate out. */
  val q185_semdedup_recall_eval = QueryDef(
    "q185_semdedup_recall_eval",
    (s, dir) => {
      val exact = ScratchMemo("dense", s, dir) { VectorOps.q158_dense_threshold.run(s, dir) }
      val n = ScratchMemo.countOnce("nvec", s, dir)(t(s, dir, "embeddings").count())
      val k = cellCount(n)
      // the shared memoized broadcast-argmax assignment (see
      // [[cellAssignment]])
      val asg = cellAssignment(s, dir, k)
      exact.select(col("a"), col("b"))
        .join(asg.select(col("vec_id").as("a"), col("cluster").as("cla")), "a")
        .join(asg.select(col("vec_id").as("b"), col("cluster").as("clb")), "b")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("cla") === col("clb"), 1L).otherwise(0L)).cast("long").as("n_within"),
          floor(sum(when(col("cla") === col("clb"), 1L).otherwise(0L)) * lit(1000000L)
            / count(lit(1))).cast("long").as("recall_fp"))
    },
    Some(s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
            ks AS (SELECT 1 << GREATEST(2, LEAST(10, GREATEST((length(bin(cnt)) - 1) // 2 - 2,
                                                  (length(bin(cnt)) - 1) - 9))) AS k FROM n),
            cw AS (
              SELECT c.c,
                     list((instr('0123456789abcdef',
                            substr(md5(CAST(200 + c.c AS VARCHAR) || '_' || CAST(d.j AS VARCHAR)), 1, 1)) - 8.5)
                          ORDER BY d.j) AS wv
              FROM range(0, 1024) c(c), range(0, 64) d(j), ks
              WHERE c.c < ks.k GROUP BY c.c),
            sc AS (
              SELECT e.vec_id, p.c,
                     list_inner_product(CAST(p.wv AS DOUBLE[]),
                       CAST(e.embedding AS DOUBLE[])) AS d
              FROM embeddings e, cw p),
            scl AS (SELECT vec_id, list(d ORDER BY c) AS ds FROM sc GROUP BY vec_id),
            asg AS (SELECT vec_id,
                      CAST(list_position(ds, list_aggregate(ds, 'max')) - 1 AS BIGINT) AS cluster
                    FROM scl),
            v AS (SELECT vec_id, embedding,
                         sqrt(${dotSql("embedding", "embedding")}) AS nm
                  FROM embeddings),
            exact AS (
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM v x JOIN v y ON x.vec_id < y.vec_id
              WHERE ${dotSql("x.embedding", "y.embedding")} / (x.nm * y.nm) >= 0.45)
            SELECT count(*) AS n_exact,
                   CAST(sum(CASE WHEN xa.cluster = xb.cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
                   CAST(floor(sum(CASE WHEN xa.cluster = xb.cluster THEN 1 ELSE 0 END) * 1000000
                     / count(*)) AS BIGINT) AS recall_fp
            FROM exact
            JOIN asg xa ON xa.vec_id = exact.a
            JOIN asg xb ON xb.vec_id = exact.b"""))

  /** MULTI-PROBE recall eval — q185's measurement extended to the q195
    * candidate rule, with BOTH recalls side by side so the probe's
    * lift is visible in data: for every exact pair at cos ≥ 0.45
    * (q158's memoized dense ground truth), is it within one primary
    * cell (q181's reach), and is it within ANY shared probed cell
    * ({c1,c2} ∩ {c1,c2} ≠ ∅, q195's reach)? The primary cell from
    * [[top2Assignment]] equals [[cellAssignment]]'s argmax by
    * construction, so one memoized table serves both conditions.
    * Exact-pairs join candidate-tables on vec_id — bounded by true-
    * pair volume, never corpus². */
  val q196_multiprobe_recall_eval = QueryDef(
    "q196_multiprobe_recall_eval",
    (s, dir) => {
      val exact = ScratchMemo("dense", s, dir) { VectorOps.q158_dense_threshold.run(s, dir) }
      val n = ScratchMemo.countOnce("nvec", s, dir)(t(s, dir, "embeddings").count())
      val k = cellCount(n)
      val t2 = top2Assignment(s, dir, k)
      val hit = (col("c1a") === col("c1b") || col("c1a") === col("c2b")
        || col("c2a") === col("c1b") || col("c2a") === col("c2b"))
      exact.select(col("a"), col("b"))
        .join(t2.select(col("vec_id").as("a"), col("c1").as("c1a"), col("c2").as("c2a")), "a")
        .join(t2.select(col("vec_id").as("b"), col("c1").as("c1b"), col("c2").as("c2b")), "b")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("c1a") === col("c1b"), 1L).otherwise(0L)).cast("long").as("n_within"),
          sum(when(hit, 1L).otherwise(0L)).cast("long").as("n_multi"),
          floor(sum(when(col("c1a") === col("c1b"), 1L).otherwise(0L)) * lit(1000000L)
            / count(lit(1))).cast("long").as("recall_fp"),
          floor(sum(when(hit, 1L).otherwise(0L)) * lit(1000000L)
            / count(lit(1))).cast("long").as("recall_multi_fp"))
    },
    Some(s"""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
            ks AS (SELECT 1 << GREATEST(2, LEAST(10, GREATEST((length(bin(cnt)) - 1) // 2 - 2,
                                                  (length(bin(cnt)) - 1) - 9))) AS k FROM n),
            cw AS (
              SELECT c.c,
                     list((instr('0123456789abcdef',
                            substr(md5(CAST(200 + c.c AS VARCHAR) || '_' || CAST(d.j AS VARCHAR)), 1, 1)) - 8.5)
                          ORDER BY d.j) AS wv
              FROM range(0, 1024) c(c), range(0, 64) d(j), ks
              WHERE c.c < ks.k GROUP BY c.c),
            sc AS (
              SELECT e.vec_id, p.c,
                     list_inner_product(CAST(p.wv AS DOUBLE[]),
                       CAST(e.embedding AS DOUBLE[])) AS d
              FROM embeddings e, cw p),
            scl AS (SELECT vec_id, list(d ORDER BY c) AS ds FROM sc GROUP BY vec_id),
            a1 AS (SELECT vec_id, ds,
                     list_position(ds, list_aggregate(ds, 'max')) AS p1
                   FROM scl),
            a2 AS (SELECT vec_id, ds, p1,
                     list_aggregate(list_concat(ds[:p1-1], ds[p1+1:]), 'max') AS m2
                   FROM a1),
            asg2 AS (SELECT vec_id, CAST(p1 - 1 AS BIGINT) AS c1,
                       CAST((CASE WHEN m2 = ds[p1]
                             THEN list_position(ds[p1+1:], m2) + p1
                             ELSE list_position(ds, m2) END) - 1 AS BIGINT) AS c2
                     FROM a2),
            v AS (SELECT vec_id, embedding,
                         sqrt(${dotSql("embedding", "embedding")}) AS nm
                  FROM embeddings),
            exact AS (
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM v x JOIN v y ON x.vec_id < y.vec_id
              WHERE ${dotSql("x.embedding", "y.embedding")} / (x.nm * y.nm) >= 0.45)
            SELECT count(*) AS n_exact,
                   CAST(sum(CASE WHEN xa.c1 = xb.c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
                   CAST(sum(CASE WHEN xa.c1 = xb.c1 OR xa.c1 = xb.c2
                                   OR xa.c2 = xb.c1 OR xa.c2 = xb.c2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
                   CAST(floor(sum(CASE WHEN xa.c1 = xb.c1 THEN 1 ELSE 0 END) * 1000000
                     / count(*)) AS BIGINT) AS recall_fp,
                   CAST(floor(sum(CASE WHEN xa.c1 = xb.c1 OR xa.c1 = xb.c2
                                         OR xa.c2 = xb.c1 OR xa.c2 = xb.c2
                                  THEN 1 ELSE 0 END) * 1000000
                     / count(*)) AS BIGINT) AS recall_multi_fp
            FROM exact
            JOIN asg2 xa ON xa.vec_id = exact.a
            JOIN asg2 xb ON xb.vec_id = exact.b"""))

  /** Bounded-depth distributed SUFFIX ARRAY over the corpus via PREFIX
    * DOUBLING (Manber–Myers 1990) — the index behind variable-length
    * exact-substring dedup (Lee et al., arXiv:2107.06499, build suffix
    * arrays over the whole training corpus). Six doubling rounds rank
    * every (doc, pos) suffix by its first 2⁶ = 64 characters (shorter
    * suffixes sort first among equals — the -1 sentinel — which is
    * exactly bounded-substring lexicographic order), so the engine
    * never materializes suffix strings: each round is one equi-join of
    * the rank table against itself shifted by 2ʲ and one
    * [[GlobalRank.orderRank]] re-rank (range partition + parallel local
    * windows — NO single-task corpus sort anywhere). The final
    * canonical sa_pos is [[GlobalRank.rowNumber]] with (rank, doc_id,
    * pos) tie-break, which the oracle mirrors as `row_number() OVER
    * (ORDER BY substr(text, pos+1, 64), doc_id, pos)` — engine-
    * identical by the doubling invariant (rank equality classes after
    * round j = equality of 2ʲ⁺¹-char bounded prefixes).
    *
    * The depth bound is the honest scale dial: rounds ∝ log₂(longest
    * match you care to distinguish), each round a fixed number of
    * shuffles of (doc, pos, rank) triples — the O(N log N) profile of
    * distributed SA construction, linear state per round. Materialized
    * once per (session, dir) ([[ScratchMemo]]): q186 samples it, q187
    * derives duplicate statistics — the build-once/consume-many
    * pipeline shape. */
  private def suffixArray(s: SparkSession, dir: String): DataFrame =
    ScratchMemo("sa", s, dir) {
      suffixArrayOf(t(s, dir, "documents").select(col("doc_id"), col("text")))
    }

  /** The prefix-doubling build itself, parameterized over the doc set
    * (q186/q187 build it on the whole corpus; q194 on the base split;
    * SaAppendSpec on synthetic corpora). */
  /** Peak scratch of one live prefix-doubling round: serialized
    * (doc_id, pos, rank) checkpoint blocks + the round's two
    * range-partition shuffles, ≈12 B per corpus char (calibrated on
    * the measured 300× ENOSPC and the measured 100× run — scaladoc in
    * [[suffixArrayOf]]; pinned by SelectionDeclineSpec). */
  private[graft] def saBuildScratchBytes(nChars: Long): Long = nChars * 12L

  /** Declines when the estimate crosses 80% of free scratch — same
    * headroom rule as [[VectorOps.denseDeclines]]. */
  private[graft] def saBuildDeclines(estBytes: Long, availBytes: Long): Boolean =
    estBytes > availBytes / 10 * 8

  private[graft] def suffixArrayOf(docs: DataFrame): DataFrame = {
    val nonEmpty = docs.filter(length(col("text")) >= 1)
    // suffix cardinality = total chars — one bounded agg over the DOC
    // table (not the suffix rows), handed to every GlobalRank call so
    // the six doubling rounds derive their range-partition counts
    // without a count job each
    val nChars = Option(nonEmpty.agg(sum(length(col("text")))).head().get(0))
      .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
    // Envelope gate (round-13 verdict task 3 — same shape as
    // VectorOps.similarityJoin's dense decline): the build's peak
    // footprint is ONE live doubling round — the corpus-suffix
    // chars/rank frame's checkpoint blocks plus its two GlobalRank
    // shuffles (Ckpt.serRound frees superseded rounds; the 300×
    // sawtooth 61→15→54→0 GB confirmed it, BASELINE.md round-12).
    // Measured calibration: a ~5.4e9-char corpus (300×) exhausts a
    // 61 GB scratch mid-round (≳12 B/char live); 1.8e9 chars (100×)
    // peaks ~22 GB and runs on default conf. Below the bar the build
    // DECLINES with the named numbers instead of dying of ENOSPC an
    // hour in — the single-node limit no conf moves; on a real cluster
    // per-node scratch is corpus/executors and the gate clears itself.
    val est = saBuildScratchBytes(nChars)
    val avail = VectorOps.scratchBytesAvailable(docs.sparkSession)
    System.err.println(f"[suffixArrayOf] nChars=$nChars " +
      f"scratchEst=${est / 1e9}%.1f GB scratchAvail=${avail / 1e9}%.1f GB")
    require(!saBuildDeclines(est, avail),
      f"suffix-array build over $nChars chars needs ~${est / 1e9}%.1f GB of local " +
        f"scratch for one live prefix-doubling round (checkpoint blocks + rank " +
        f"shuffles), but local dirs have ${avail / 1e9}%.1f GB free. Shard the " +
        "corpus (build per-bucket SAs and merge via saMerge), add scratch, or run " +
        "on a cluster where per-node scratch is corpus/executors.")
    val chars = nonEmpty
      .select(col("doc_id"),
        explode(sequence(lit(0L), length(col("text")).cast("long") - 1)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        ascii(expr("substring(text, pos + 1, 1)")).cast("long").as("r"))
    var base = chars
    var baseCkptIds = Set.empty[Int]
    var done = false
    for (j <- 0 until 6 if !done) {
      val step = 1 << j
      // rank of the suffix 2^j positions ahead via lead() over the
      // per-doc window — one shuffle to doc layout instead of the
      // two-sided self-join shuffle (suffixes never cross documents,
      // so the window partition is doc_id, bounded by doc length)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val joined = base.withColumn("r2",
        coalesce(lead(col("r"), step).over(w), lit(-1L)))
      // localCheckpoint: truncate the per-round lineage (6 chained
      // range-shuffles would otherwise re-execute on every action).
      // serRound frees the PREVIOUS round's blocks as soon as this one
      // is materialized — keeping all rounds alive is O(rounds×corpus)
      // storage and filled a 70 GB disk at the 300× rehearsal.
      val (nextBase, ids) = Ckpt.serRound(
        GlobalRank.orderRank(joined, Seq(col("r"), col("r2")), "rn", rows = nChars)
          .select(col("doc_id"), col("pos"), col("rn").as("r")), baseCkptIds)
      base = nextBase
      baseCkptIds = ids
      // Manber–Myers early exit: once every rank is distinct (all
      // equality classes singletons), further doubling cannot reorder
      // anything, so the remaining rounds — two corpus-sized shuffles
      // each — are pure waste. Checked from round 2 on; the check is
      // one partial-agg count job over the just-checkpointed blocks
      // (~1% of a round). The exit is a pure function of the data, so
      // engine parity with the oracle's full 64-char sort is
      // untouched. NOTE the honest envelope: on THIS fixture the dup
      // families repeat ≥64-char spans across docs, so ranks never go
      // fully distinct and all 6 rounds run (100× rehearsal: 1356 s);
      // the exit pays on the post-dedup corpora a production pipeline
      // actually indexes, where suffixes separate in 8–16 chars.
      // ("No refinement this round" would fire here, but is NOT a
      // sound exit for prefix doubling: refinement can pause at one
      // shift and resume at a longer one.)
      if (j >= 2) {
        val agg = base.agg(count(lit(1)).as("n"),
          countDistinct(col("r")).as("d")).head()
        done = agg.getLong(0) == agg.getLong(1)
      }
    }
    GlobalRank.rowNumber(base, Seq(col("r"), col("doc_id"), col("pos")), "sa_pos",
        rows = nChars)
      .select(col("sa_pos"), col("doc_id"), col("pos"))
  }

  /** Base-SA rows per prefix-range bucket for [[saMerge]], derived from
    * the indexed-corpus size (the lshShape/cellCount no-conf contract):
    * 8192 rows per bucket until the bucket COUNT would exceed 2¹⁶, then
    * buckets grow instead — the driver-side per-bucket state (batch
    * counts, prefix offsets) stays bounded by 65 536 entries at any
    * corpus size, the same order as [[GlobalRank.rowNumber]]'s
    * per-partition count collect. */
  private[graft] def saBucketSize(nBase: Long): Long =
    math.max(8192L, (nBase + 65535L) / 65536L)

  /** [[saMerge]]'s regime rule, decided from the per-bucket batch
    * counts it collects anyway: prefer the one-shot global range-rank
    * ([[saMergeGlobal]]) once the rows the bucket-local path would
    * re-rank (touched buckets' base rows + the batch) are no longer a
    * minority of the combined corpus. Below the crossover the bucket
    * path's cost is ∝ batch (the 100× 4-doc append: 5.7 s vs 357.8 s
    * global); above it the bucket path does the global path's work
    * PLUS marker hydration, range assignment and offset stitching —
    * the measured saturation inversion (100× 32-doc batch: 74 s bucket
    * vs 19 s global). θ = ½ splits the two measured regimes. Pure
    * arithmetic on already-collected driver state: zero extra jobs. */
  private[graft] def saPrefersGlobal(touchedBase: Long, nBase: Long,
                                     mChars: Long): Boolean =
    2L * (touchedBase + mChars) >= nBase + mChars

  /** INCREMENTAL SUFFIX-ARRAY APPEND, bucket-local — merge a new doc
    * batch into an existing SA with shuffle/sort cost proportional to
    * the BATCH (and the buckets it lands in), never the indexed corpus
    * (round-8 verdict task 1: the previous one-shot merge re-ranked all
    * N+M suffixes through one corpus-wide range shuffle per append —
    * [[saMergeGlobal]], kept below as the reference implementation and
    * measurement baseline).
    *
    * The persistent index stores only (sa_pos, doc_id, pos); the
    * 64-char comparison bound exists only inside the merge, never in
    * the stored index. The append is four bounded steps:
    *
    *  1. BUCKETING (arithmetic, no data): the base SA is cut into
    *     contiguous rank ranges of [[saBucketSize]] rows — bucket(p) =
    *     (p-1)/size. Each bucket's FIRST suffix is its boundary key,
    *     hydrated by a ≤2¹⁶-row equi-join back to the base texts.
    *  2. ASSIGNMENT (shuffle ∝ batch): boundary markers ∪ batch
    *     suffixes range-partition on the (pfx, doc_id, pos) key —
    *     Spark's RangePartitioner IS the binary search of each batch
    *     suffix against the bucket bounds — and each batch row inherits
    *     the nearest preceding marker's bucket via a per-partition
    *     running `last(ignoreNulls)`; partitions whose markers all sort
    *     later inherit the previous partitions' max marker bucket (one
    *     ≤partition-count collect, the GlobalRank offset device).
    *  3. MERGE (shuffle ∝ touched buckets + batch): ONLY buckets that
    *     received batch suffixes hydrate their base rows' 64-char
    *     bounds and re-rank locally (window per bucket — parallel,
    *     bucket-bounded sorts). Untouched buckets are never joined,
    *     sorted, or shuffled.
    *  4. STITCH (map-only): merged rows get bucket offset + local rank;
    *     untouched base rows get old sa_pos + the count of batch rows
    *     in earlier buckets — pure arithmetic against a broadcast
    *     ≤2¹⁶-row offset table, so the corpus-sized pass is a
    *     projection, not a shuffle. On a cluster with the index stored
    *     bucket-partitioned this is the write-side story too: only
    *     touched buckets' files rewrite.
    *
    * Correct because the doubling invariant makes the rebuilt SA's
    * order exactly bounded-prefix lexicographic, and bucket boundaries
    * are points ON that order: within-bucket merge + exclusive prefix
    * offsets reproduce the global rank (SaAppendSpec proves equality
    * with the full rebuild AND with the one-shot global merge for every
    * batch split, chained appends, and batches straddling bucket
    * boundaries; the q194 oracle re-derives the full-corpus SA, so the
    * gate itself checks append ≡ rebuild).
    *
    * REGIME: past saturation (touched-bucket rows no longer a minority
    * of the combined corpus, [[saPrefersGlobal]]) the merge falls back
    * to [[saMergeGlobal]] automatically — decided from the per-bucket
    * counts step 4a collects anyway, so the caller never picks (the
    * round-9 verdict's last caller-held dial). */
  private[graft] def saMerge(baseSA: DataFrame, baseDocs: DataFrame,
                             newDocs: DataFrame,
                             bucketSizeForTest: Long = -1L): DataFrame = {
    val s = baseSA.sparkSession
    val confParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val newP = newDocs
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L), length(col("text")).cast("long") - 1)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        expr("substring(text, pos + 1, 64)").as("pfx"))
    val mChars = Option(newDocs.filter(length(col("text")) >= 1)
      .agg(sum(length(col("text")))).head().get(0))
      .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
    val nBase = baseSA.count()
    if (nBase == 0L)
      return GlobalRank.rowNumber(newP, Seq(col("pfx"), col("doc_id"), col("pos")),
          "sa_pos", rows = mChars)
        .select(col("sa_pos"), col("doc_id"), col("pos"), lit(1L).as("is_new"))

    // bucketSizeForTest (< derived minimum by design) lets SaAppendSpec
    // drive MANY buckets on a tiny corpus — boundary straddling,
    // untouched-bucket shifts, the prevb handoff — shapes a fixture
    // smaller than one derived bucket could never reach
    val bSize = if (bucketSizeForTest > 0) bucketSizeForTest else saBucketSize(nBase)
    val nb = ((nBase - 1) / bSize + 1).toInt
    val base = baseSA.select(col("sa_pos"), col("doc_id"), col("pos"))
      .withColumn("bucket", ((col("sa_pos") - 1) / bSize).cast("long"))

    // 1. boundary keys: the first base suffix of each bucket (≤ 2¹⁶ rows)
    val markers = base.filter((col("sa_pos") - 1) % bSize === 0)
      .join(baseDocs.select(col("doc_id"), col("text")), "doc_id")
      .select(expr("substring(text, pos + 1, 64)").as("pfx"),
        col("doc_id"), col("pos"), col("bucket").as("mb"), lit(1).as("is_m"))

    // 2. assignment: range shuffle of (markers ∪ batch) only — ∝ batch
    val keyed = markers.unionByName(
      newP.withColumn("mb", lit(null).cast("long")).withColumn("is_m", lit(0)))
    val aParts = GlobalRank.derivedParts(confParts, mChars + nb)
    val ranged = keyed.repartitionByRange(aParts, col("pfx"), col("doc_id"), col("pos"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true) // pin the sampled range bounds (rowNumber's rule)
    val pidMax = ranged.filter(col("is_m") === 1)
      .groupBy("__pid").agg(max("mb").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // exclusive running max: the last marker bucket in partitions < p
    val prevRows = {
      var acc = -1L
      val it = pidMax.iterator.buffered
      (0 until aParts).map { p =>
        while (it.hasNext && it.head._1 < p) acc = math.max(acc, it.next()._2)
        (p, math.max(acc, 0L))
      }
    }
    val prevDf = broadcast(s.createDataFrame(prevRows).toDF("__pid", "prevb"))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(col("pfx"), col("doc_id"), col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val assigned = ranged
      .withColumn("lastm", last(col("mb"), ignoreNulls = true).over(wRun))
      .join(prevDf, Seq("__pid"), "left")
      .filter(col("is_m") === 0)
      .select(col("doc_id"), col("pos"), col("pfx"),
        coalesce(col("lastm"), col("prevb"), lit(0L)).as("bucket"))
      .localCheckpoint(true) // consumed by the count below AND the merge

    // 4a. per-bucket batch counts → exclusive prefix offsets (driver-
    // side state bounded by the 2¹⁶ bucket cap, the rowNumber pattern)
    val batchCnt = assigned.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def baseCnt(b: Long): Long = if (b == nb - 1L) nBase - (nb - 1L) * bSize else bSize

    // AUTO-REGIME: the same collected counts that size the merge also
    // decide it (round-9 verdict: the engine, not the caller, picks the
    // regime). Past saturation the bucket path re-ranks ~the whole
    // corpus anyway, but through per-bucket windows PLUS the marker /
    // assignment / offset machinery — measurably slower than the one
    // global range-rank it was built to avoid (the 100× 32-doc batch:
    // bucket 74 s vs global 19 s). The test hook keeps forcing the
    // bucket path so SaAppendSpec can exercise its machinery on corpora
    // any real batch would saturate.
    val touchedBase = batchCnt.keys.map(baseCnt).sum
    if (bucketSizeForTest <= 0 && saPrefersGlobal(touchedBase, nBase, mChars)) {
      System.err.println(s"[saMerge] regime=global touchedBase=$touchedBase " +
        s"base=$nBase batchChars=$mChars")
      return saMergeGlobal(baseSA, baseDocs, newDocs)
    }

    val offRows = {
      var accTotal = 0L; var accBatch = 0L
      (0L until nb.toLong).map { b =>
        val r = (b, accTotal, accBatch)
        accTotal += baseCnt(b) + batchCnt.getOrElse(b, 0L)
        accBatch += batchCnt.getOrElse(b, 0L)
        r
      }
    }
    val offDf = broadcast(s.createDataFrame(offRows).toDF("bucket", "off", "shift"))
    val touched = broadcast(s.createDataFrame(
      batchCnt.keys.toSeq.sorted.map(Tuple1(_))).toDF("bucket"))

    // 3. merge ONLY touched buckets: hydrate their base rows' bounds,
    // rank locally per bucket (touchedBase + M rows)
    val touchedRows = touchedBase + mChars
    val mParts = GlobalRank.derivedParts(confParts, touchedRows)
    val baseT = base.join(touched, "bucket")
      .join(baseDocs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("bucket"), col("doc_id"), col("pos"),
        expr("substring(text, pos + 1, 64)").as("pfx"), lit(0L).as("is_new"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("pfx"), col("doc_id"), col("pos"))
    val mergedT = baseT
      .unionByName(assigned.withColumn("is_new", lit(1L)))
      .repartition(mParts, col("bucket"))
      .withColumn("lrn", row_number().over(wB))
      .join(offDf, "bucket")
      .select((col("off") + col("lrn")).as("sa_pos"),
        col("doc_id"), col("pos"), col("is_new"))

    // 4b. untouched buckets: pure arithmetic, no join to texts, no sort
    val baseU = base.join(touched, Seq("bucket"), "left_anti")
      .join(offDf, "bucket")
      .select((col("sa_pos") + col("shift")).as("sa_pos"),
        col("doc_id"), col("pos"), lit(0L).as("is_new"))

    mergedT.unionByName(baseU)
  }

  /** The round-8 one-shot merge, retained as [[saMerge]]'s reference
    * implementation (SaAppendSpec proves bucket-merge ≡ global merge)
    * and as the measurement baseline: ranks the FULL (N+M)-row union
    * through one corpus-wide range shuffle via
    * [[GlobalRank.rowNumber]], so its cost scales with the corpus
    * regardless of batch size — the behavior the bucket-local merge
    * exists to beat. */
  private[graft] def saMergeGlobal(baseSA: DataFrame, baseDocs: DataFrame,
                                   newDocs: DataFrame): DataFrame = {
    val oldP = baseSA.join(baseDocs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("pos"),
        expr("substring(text, pos + 1, 64)").as("pfx"), lit(0L).as("is_new"))
    val newP = newDocs
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L), length(col("text")).cast("long") - 1)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        expr("substring(text, pos + 1, 64)").as("pfx"), lit(1L).as("is_new"))
    GlobalRank.rowNumber(oldP.unionByName(newP),
        Seq(col("pfx"), col("doc_id"), col("pos")), "sa_pos")
      .select(col("sa_pos"), col("doc_id"), col("pos"), col("is_new"))
  }

  /** The suffix array itself, deterministically SAMPLED (every 97th
    * rank) so the gate verifies the full construction — a wrong rank
    * anywhere shifts some sampled sa_pos — without dumping N rows.
    * prefix16 rides along as human-readable evidence. */
  val q186_suffix_array = QueryDef(
    "q186_suffix_array",
    (s, dir) => {
      suffixArray(s, dir)
        .filter(col("sa_pos") % 97 === 1)
        .join(t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(col("sa_pos"), col("doc_id"), col("pos"),
          expr("substring(text, pos + 1, 16)").as("pfx16"))
        .orderBy("sa_pos")
    },
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
            sfx AS (
              SELECT doc_id, i.pos, substr(text, i.pos + 1, 64) AS pfx,
                     substr(text, i.pos + 1, 16) AS pfx16
              FROM d, unnest(range(L)) AS i(pos)),
            sa AS (
              SELECT doc_id, pos, pfx16,
                     row_number() OVER (ORDER BY pfx, doc_id, pos) AS sa_pos
              FROM sfx)
            SELECT sa_pos, doc_id, pos, pfx16
            FROM sa WHERE sa_pos % 97 = 1 ORDER BY sa_pos"""))

  /** Per-document LONGEST CROSS-DOCUMENT MATCH from the suffix array:
    * for each SA-adjacent pair from different documents, the LCP of
    * their (64-bounded) prefixes, assigned to both endpoint docs; per
    * doc, the max and the count of distinct positions with a ≥30-char
    * cross-doc match. Adjacent pairs suffice for the per-doc MAX: the
    * best cross-doc pair (a, b) has every SA entry between them
    * sharing ≥ that LCP, and somewhere in that interval doc membership
    * switches — that adjacent cross-doc pair achieves the same LCP.
    * LCP is a 6-step dyadic descent on Spark (chained codegen'd
    * substring equalities — any value < 64 is its binary expansion) and
    * a prefix-equality count in the oracle, both clamped by the bounded
    * prefix lengths (two identical short suffixes share exactly their
    * length). The 64 cap is q186's depth bound: matches longer than 64
    * chars report 64 (45 of 500 docs sit at the cap at sf0.01 —
    * FIXTURES-scale evidence that the corpus's dup families repeat
    * long spans). One equi-join on sa_pos, one broadcast of the doc
    * texts, one per-doc aggregation — SA consumers never sort the
    * corpus again. */
  val q187_sa_dup_lengths = QueryDef(
    "q187_sa_dup_lengths",
    (s, dir) => {
      val txt = broadcast(t(s, dir, "documents").select(col("doc_id"), col("text")))
      val withPfx = suffixArray(s, dir).join(txt, "doc_id")
        .select(col("sa_pos"), col("doc_id"), col("pos"),
          expr("substring(text, pos + 1, 64)").as("pfx"))
      val x = withPfx.select(col("sa_pos"), col("doc_id").as("da"),
        col("pos").as("pa"), col("pfx").as("fa"))
      val y = withPfx.select((col("sa_pos") - 1).as("sa_pos"),
        col("doc_id").as("db"), col("pos").as("pb"), col("pfx").as("fb"))
      var adj = x.join(y, "sa_pos").filter(col("da") =!= col("db"))
        .withColumn("acc", lit(0))
      // the 64-step makes full equality reach 64 (the dyadic steps alone
      // top out at 63); any over-count from comparing empty tails is
      // removed by the length clamp below
      for (stp <- Seq(64, 32, 16, 8, 4, 2, 1))
        adj = adj.withColumn("acc",
          when(expr(s"substring(fa, acc + 1, $stp)") === expr(s"substring(fb, acc + 1, $stp)"),
            col("acc") + stp).otherwise(col("acc")))
      val lcps = adj.withColumn("lcp",
        least(col("acc"), length(col("fa")), length(col("fb"))).cast("long"))
      val assigned = lcps.select(col("da").as("doc_id"), col("pa").as("pos"), col("lcp"))
        .union(lcps.select(col("db").as("doc_id"), col("pb").as("pos"), col("lcp")))
      val perDoc = assigned.groupBy("doc_id")
        .agg(max("lcp").as("mx"),
          countDistinct(when(col("lcp") >= 30, col("pos"))).cast("long").as("np"))
      t(s, dir, "documents").select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("mx"), lit(0L)).as("max_xdoc_lcp"),
          coalesce(col("np"), lit(0L)).as("n_pos30"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
            sfx AS (
              SELECT doc_id, i.pos, substr(text, i.pos + 1, 64) AS pfx
              FROM d, unnest(range(L)) AS i(pos)),
            sa AS (
              SELECT doc_id, pos, pfx,
                     row_number() OVER (ORDER BY pfx, doc_id, pos) AS sa_pos
              FROM sfx),
            adj AS (
              SELECT x.doc_id AS da, x.pos AS pa, y.doc_id AS db, y.pos AS pb,
                     least(CAST(list_sum(list_transform(range(1, 65),
                         i -> CASE WHEN substr(x.pfx, 1, i) = substr(y.pfx, 1, i)
                              THEN 1 ELSE 0 END)) AS BIGINT),
                       length(x.pfx), length(y.pfx)) AS lcp
              FROM sa x JOIN sa y ON y.sa_pos = x.sa_pos + 1
              WHERE x.doc_id <> y.doc_id),
            asg AS (
              SELECT da AS doc_id, pa AS pos, lcp FROM adj
              UNION ALL
              SELECT db AS doc_id, pb AS pos, lcp FROM adj),
            pd AS (
              SELECT doc_id, CAST(max(lcp) AS BIGINT) AS mx,
                     CAST(count(DISTINCT CASE WHEN lcp >= 30 THEN pos END) AS BIGINT) AS np
              FROM asg GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(pd.mx, 0) AS max_xdoc_lcp,
                   coalesce(pd.np, 0) AS n_pos30
            FROM d LEFT JOIN pd ON pd.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  /** The [[saMerge]] append surfaced as a gate query: the corpus is
    * arrival-split by the q161 md5 device (batch = arrival hex 'f',
    * ~1/16 of docs; base = the other 15/16), the base SA is built by
    * prefix doubling ([[suffixArrayOf]], memoized), and the batch's
    * suffixes are merge-ranked against it. Because base ∪ batch is the
    * whole corpus, the merged SA must equal a full rebuild — the
    * oracle below IS the full-corpus suffix array (q186's construction
    * plus the arrival flag), so the correctness gate itself verifies
    * append ≡ rebuild at fixture scale, not just in the unit spec.
    * Output: every 97th merged rank with its doc, position, 16-char
    * prefix, and whether the suffix arrived in the appended batch. */
  val q194_sa_append = QueryDef(
    "q194_sa_append",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("arr"))
      val base = docs.filter(col("arr") =!= "f")
      val batch = docs.filter(col("arr") === "f")
      val baseSA = ScratchMemo("sa-base", s, dir) {
        suffixArrayOf(base.select(col("doc_id"), col("text")))
      }
      saMerge(baseSA, base, batch)
        .filter(col("sa_pos") % 97 === 1)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("sa_pos"), col("doc_id"), col("pos"),
          expr("substring(text, pos + 1, 16)").as("pfx16"), col("is_new"))
        .orderBy("sa_pos")
    },
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS L,
                              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
                                   THEN 1 ELSE 0 END AS is_new
                       FROM documents),
            sfx AS (
              SELECT doc_id, i.pos, substr(text, i.pos + 1, 64) AS pfx,
                     substr(text, i.pos + 1, 16) AS pfx16, is_new
              FROM d, unnest(range(L)) AS i(pos)),
            sa AS (
              SELECT doc_id, pos, pfx16, is_new,
                     row_number() OVER (ORDER BY pfx, doc_id, pos) AS sa_pos
              FROM sfx)
            SELECT sa_pos, doc_id, pos, pfx16, CAST(is_new AS BIGINT) AS is_new
            FROM sa WHERE sa_pos % 97 = 1 ORDER BY sa_pos"""))

  /** The COMPOSED curation pipeline — the selection stages chained the
    * way a production job runs them, with the load-bearing property
    * that stage 2's statistics are computed ON STAGE 1's OUTPUT:
    *
    *  1. near-dup survivorship — keep each q68 cluster's representative
    *     (min doc_id) plus all singletons (the q144 rule over the
    *     memoized pair funnel);
    *  2. substring gate RE-COUNTED AMONG SURVIVORS — the q182 window
    *     pass over the surviving corpus only ([[dupSpanStats]] is
    *     parameterized for exactly this): a window that was "duplicated"
    *     only because family members repeated it stops counting once
    *     the members are gone, so this gate catches cross-family
    *     repetition the survivorship stage cannot;
    *  3. cluster-safe split (the q184 rule) on the kept docs;
    *  4. census per (split, lang) with the mean DSIR log-weight
    *     ([[importanceWeights]], learned on the RAW corpus as the paper
    *     does) — the mix report a curation run hands to the training
    *     scheduler.
    *
    * Every expensive build is shared: the pair funnel and clusters are
    * the q43/q68 memoized machinery, the survivor window pass is linear
    * in surviving tokens, the weights one corpus pass + broadcasts. */
  val q188_selection_pipeline = QueryDef(
    "q188_selection_pipeline",
    (s, dir) => {
      val clusters = DedupOps.q68_dedup_clusters.run(s, dir)
      val docs = t(s, dir, "documents")
      val surv = docs.join(clusters, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .withColumn("ck", coalesce(col("cluster_id"), col("doc_id")))
      val fr = dupSpanStats(surv.select(col("doc_id"), col("text")))
      val kept = surv.join(fr.select(col("doc_id"),
          floor(col("dup_tokens") * lit(1000000L) / col("n_tok"))
            .cast("long").as("dfp")), "doc_id")
        .filter(col("dfp") < 500000)
      val lw = importanceWeights(s, dir).select(col("doc_id"), col("logw_fp"))
      kept.join(lw, Seq("doc_id"), "left")
        .withColumn("h", md5(col("ck").cast("string")))
        .withColumn("bucket",
          (expr(nibH("h", 1)) * 16 + expr(nibH("h", 2))).cast("long"))
        .withColumn("split",
          when(col("bucket") < 205, "train")
            .when(col("bucket") < 230, "val")
            .otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          floor(avg(coalesce(col("logw_fp"), lit(0L)))).cast("long").as("mean_logw_fp"))
        .orderBy("split", "lang")
    },
    Some(s"""WITH RECURSIVE sh AS (
              SELECT DISTINCT doc_id,
                     string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                       || ' ' || string_split(text, ' ')[i+3] AS sh
              FROM documents, unnest(range(len(string_split(text, ' ')) - 2)) AS t(i)
              WHERE len(string_split(text, ' ')) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id),
            jpairs AS (
              SELECT a, b FROM common
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE c / (sa.n + sb.n - c) >= 0.8),
            edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
            reach AS (
              SELECT DISTINCT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst),
            comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
            surv AS (
              SELECT d.doc_id, d.lang, d.n_chars,
                     coalesce(c.cluster_id, d.doc_id) AS ck
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
              WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id),
            sd AS (
              SELECT s.doc_id, string_split(d2.text, ' ') AS ws
              FROM surv s JOIN documents d2 ON d2.doc_id = s.doc_id),
            nt2 AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok FROM sd),
            wins2 AS (
              SELECT doc_id, i.p, array_to_string(ws[i.p + 1:i.p + 8], ' ') AS gk
              FROM sd, unnest(range(len(ws) - 7)) AS i(p)
              WHERE len(ws) >= 8),
            dupk2 AS (SELECT gk FROM wins2 GROUP BY gk HAVING count(*) >= 2),
            dups2 AS (SELECT doc_id, p FROM wins2 WHERE gk IN (SELECT gk FROM dupk2)),
            isl0b AS (
              SELECT doc_id, p,
                     max(p + 8) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM dups2),
            isl1b AS (
              SELECT doc_id, p,
                     sum(CASE WHEN pe IS NULL OR p > pe THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
              FROM isl0b),
            islands2 AS (
              SELECT doc_id, isl, min(p) AS st, max(p) + 8 AS en
              FROM isl1b GROUP BY 1, 2),
            stats2 AS (
              SELECT doc_id, CAST(sum(en - st) AS BIGINT) AS dup_tokens
              FROM islands2 GROUP BY 1),
            gate AS (
              SELECT nt2.doc_id FROM nt2
              LEFT JOIN stats2 ON stats2.doc_id = nt2.doc_id
              WHERE CAST(floor(coalesce(stats2.dup_tokens, 0) * 1000000 / nt2.n_tok) AS BIGINT) < 500000),
            big AS (
              SELECT doc_id, lang,
                     unnest(list_transform(range(len(ws) - 1),
                       i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
              FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
              WHERE len(ws) >= 2),
            bb AS (SELECT doc_id, lang,
                     CAST(${nibSql("bg", 1)} * 16 + ${nibSql("bg", 2)} AS BIGINT) AS bucket
                   FROM big),
            db AS (SELECT doc_id, bucket, count(*) AS cnt FROM bb GROUP BY 1, 2),
            rawc AS (SELECT bucket, count(*) AS cr FROM bb GROUP BY 1),
            tgtc AS (SELECT bucket, count(*) AS ct FROM bb WHERE lang = 'en' GROUP BY 1),
            tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM rawc) AS tr,
                           (SELECT CAST(sum(ct) AS BIGINT) FROM tgtc) AS tt),
            terms AS (
              SELECT r.b AS bucket,
                     CAST(floor((ln(CAST(coalesce(t.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 256 AS DOUBLE))
                       - ln(CAST(coalesce(w.cr, 0) + 1 AS DOUBLE) / CAST(tot.tr + 256 AS DOUBLE))) * 1e6) AS BIGINT) AS term_fp
              FROM range(0, 256) r(b)
              LEFT JOIN rawc w ON w.bucket = r.b
              LEFT JOIN tgtc t ON t.bucket = r.b
              CROSS JOIN tot),
            logw AS (
              SELECT db.doc_id,
                     CAST(sum(db.cnt * terms.term_fp) AS BIGINT) AS logw_fp
              FROM db JOIN terms USING (bucket) GROUP BY 1),
            kept AS (
              SELECT s.doc_id, s.lang, s.n_chars, s.ck
              FROM surv s JOIN gate g ON g.doc_id = s.doc_id),
            assigned AS (
              SELECT kept.*,
                     ${nibSql("CAST(ck AS VARCHAR)", 1)} * 16
                       + ${nibSql("CAST(ck AS VARCHAR)", 2)} AS bucket
              FROM kept)
            SELECT CASE WHEN bucket < 205 THEN 'train'
                        WHEN bucket < 230 THEN 'val'
                        ELSE 'test' END AS split,
                   lang,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars,
                   CAST(floor(avg(coalesce(l.logw_fp, 0))) AS BIGINT) AS mean_logw_fp
            FROM assigned LEFT JOIN logw l ON l.doc_id = assigned.doc_id
            GROUP BY 1, 2 ORDER BY split, lang"""))

  /** TEMPERATURE-SCALED DOMAIN MIXTURE — the data-mixing step every
    * multilingual / multi-domain pretraining corpus goes through
    * (public recipe since multilingual BERT / XLM: sample domains
    * ∝ share^τ, τ < 1, to lift low-resource domains without letting
    * the head domain swamp training). Here τ = 1/2 — deliberately, for
    * engine-exactness: sqrt is IEEE-correctly-rounded in BOTH engines
    * (a general pow(x, 0.7) is not guaranteed bit-identical, and a
    * last-ulp difference under floor() would flip an integer
    * threshold), and every step after the sqrt is integer arithmetic:
    *
    *  - per-domain weight w_d = floor(sqrt(n_d)·10⁶) as BIGINT;
    *  - target count n_target_d = N·w_d div Σw (integer);
    *  - acceptance threshold = min(65536, n_target_d·65536 div n_d);
    *  - a document is RESAMPLED IN iff its 16-bit content address
    *    (four md5 nibbles of doc_id — the q65 device) falls under its
    *    domain's threshold: deterministic on any partitioning, no RNG
    *    state, reproducible across engines and reruns.
    *
    * Domains above their target downsample; domains below keep
    * everything (training-time repetition, not row duplication, covers
    * the upsampling remainder — this query is the selection half).
    *
    * Scale: one bounded aggregation (≤ #domains keys), a ≤20-row
    * broadcast threshold table, one linear accept pass — entirely
    * map-side after the domain census, the same shape at any corpus
    * size. */
  val q192_mixture_temperature = QueryDef(
    "q192_mixture_temperature",
    (s, dir) => {
      val stats = t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .withColumn("w", expr("CAST(floor(sqrt(n_docs) * 1e6) AS BIGINT)"))
      val tot = stats.agg(sum("n_docs").cast("long").as("n_total"),
        sum("w").cast("long").as("w_sum"))
      val th = stats.crossJoin(broadcast(tot))
        .withColumn("n_target", expr("n_total * w div w_sum"))
        .withColumn("thresh", least(lit(65536L), expr("n_target * 65536 div n_docs")))
        .select("lang", "n_docs", "n_target", "thresh")
      val assigned = t(s, dir, "documents")
        .select(col("lang"),
          expr(s"CAST(${nib("CAST(doc_id AS STRING)", 1)} * 4096 + " +
            s"${nib("CAST(doc_id AS STRING)", 2)} * 256 + " +
            s"${nib("CAST(doc_id AS STRING)", 3)} * 16 + " +
            s"${nib("CAST(doc_id AS STRING)", 4)} AS BIGINT)").as("v"))
      assigned.join(broadcast(th), Seq("lang"))
        .groupBy("lang")
        .agg(first("n_docs").as("n_docs"), first("n_target").as("n_target"),
          first("thresh").as("thresh"),
          sum(when(col("v") < col("thresh"), 1L).otherwise(0L))
            .cast("long").as("n_sampled"))
        .orderBy("lang")
    },
    Some(s"""WITH stats AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS w
              FROM documents GROUP BY 1),
            tot AS (
              SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                     CAST(sum(w) AS BIGINT) AS w_sum
              FROM stats),
            th AS (
              SELECT lang, n_docs,
                     n_total * w // w_sum AS n_target,
                     least(65536, (n_total * w // w_sum) * 65536 // n_docs) AS thresh
              FROM stats, tot),
            assigned AS (
              SELECT lang,
                     CAST(${nib("CAST(doc_id AS VARCHAR)", 1)} * 4096 +
                          ${nib("CAST(doc_id AS VARCHAR)", 2)} * 256 +
                          ${nib("CAST(doc_id AS VARCHAR)", 3)} * 16 +
                          ${nib("CAST(doc_id AS VARCHAR)", 4)} AS BIGINT) AS v
              FROM documents)
            SELECT th.lang, th.n_docs, th.n_target, th.thresh,
                   CAST(sum(CASE WHEN a.v < th.thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
            FROM assigned a JOIN th ON a.lang = th.lang
            GROUP BY th.lang, th.n_docs, th.n_target, th.thresh
            ORDER BY th.lang"""))

  /** Per-source sampling weight 1..8 — the fixture stand-in for a
    * configured quality/tier prior (curated≫crawled). Keyed off one
    * md5 nibble of the source name so weights VARY across sources,
    * stay deterministic in both engines, and stay TOTAL over arbitrary
    * source strings (a parsed source index would be an ANSI cast error
    * on any corpus that doesn't follow the fixture's naming — this
    * helper also feeds [[graft.streaming.SketchStream]], which folds
    * whatever stream it is pointed at). */
  private val wsampleTier =
    "1 + (instr('0123456789abcdef', substring(md5(source), 1, 1)) - 1) % 8"

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT, deterministic and
    * mergeable: draw 100 documents with inclusion odds proportional to
    * an integer per-source weight, as one map-only pass + a bottom-k.
    *
    * The device is Efraimidis–Spirakis order sampling with the
    * randomness replaced by content addressing AND the transcendental
    * key u^(1/w) replaced by integer-weight hash replication: document
    * d with weight w gets w 60-bit hash replicas md5(d:j), j<w, and its
    * key is their MINIMUM — P(d has the overall minimum) = w_d/Σw
    * EXACTLY (all replicas are i.i.d. uniform under the hash), and
    * conditioning forward gives precisely the ES
    * without-replacement order. No pow/ln appears anywhere (a
    * last-ulp pow difference between engines could flip a selection at
    * the boundary — the q192 sqrt lesson, hardened further), the whole
    * key is integer arithmetic, and the draw is reproducible on any
    * partitioning, any cluster size, any rerun.
    *
    * Scale shape: the replica minimum is array_min over a generated
    * per-row array — NO shuffle, no explode (w ≤ 8 md5 calls per row,
    * whole-stage codegen); the sample is then orderBy+limit = Spark's
    * TakeOrderedAndProject (map-side partial top-k, never a global
    * sort). The per-doc key is min-mergeable and the sample is
    * bottom-k re-minimizable (the q198/q199 lemma), so partial samples
    * from corpus shards merge exactly — [[graft.streaming.SketchStream]]
    * folds this sample live as its fifth state.
    *
    * Reference scope: the reference's bounded pull (SURVEY §2.1 R10)
    * generalized to weighted corpus subsampling (SURVEY §2.2 selection
    * row); ES sampling per Efraimidis & Spirakis (IPL 2006). */
  /** Sample size of [[q203_weighted_sample]] and the live
    * [[graft.streaming.SketchStream]] fold. */
  private[graft] val WsK = 100

  /** The per-document weighted-sample key rows (doc_id, source, w,
    * hv_min) — map-only (no shuffle, no explode): w ≤ 8 replica hashes
    * generated and min-folded inside one codegen'd expression. */
  private[graft] def wsampleKeysOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        expr(s"CAST($wsampleTier AS BIGINT)").as("w"))
      .withColumn("hv_min", expr(
        """array_min(transform(sequence(0, CAST(w - 1 AS INT)),
           j -> CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)))"""))

  /** Weighted-sample state: the [[WsK]] key rows of minimal
    * (hv_min, doc_id). Bottom-k of a union re-minimizes exactly (the
    * q198/q199 lemma), and `distinct` guards replayed documents (a
    * doc's key row is a pure function of the doc, so a replay is a
    * duplicate row, not a second slot). */
  private[graft] def wsampleMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).distinct()
      .orderBy("hv_min", "doc_id").limit(WsK)
      .select("doc_id", "source", "w", "hv_min")

  val q203_weighted_sample = QueryDef(
    "q203_weighted_sample",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val keyed = wsampleKeysOf(t(s, dir, "documents"))
      keyed.orderBy("hv_min", "doc_id").limit(WsK)
        .withColumn("draw",
          row_number().over(Window.orderBy("hv_min", "doc_id")).cast("long"))
        .select(col("draw"), col("doc_id"), col("source"), col("w"), col("hv_min"))
        .orderBy("draw")
    },
    Some {
      val hv = (0 until 15).map { i =>
        val p = math.pow(16.0, (14 - i).toDouble).toLong
        s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), ${1 + i}, 1)) - 1) * $p"
      }.mkString(" + ")
      s"""WITH docs AS (SELECT doc_id, source,
                               CAST($wsampleTier AS BIGINT) AS w
                        FROM documents),
          reps AS (SELECT doc_id, source, w, unnest(range(0, w)) AS j FROM docs),
          keys_ AS (SELECT doc_id, source, w,
                           CAST(min($hv) AS BIGINT) AS hv_min
                    FROM reps GROUP BY doc_id, source, w),
          pick AS (SELECT * FROM keys_ ORDER BY hv_min, doc_id LIMIT 100)
          SELECT CAST(row_number() OVER (ORDER BY hv_min, doc_id) AS BIGINT) AS draw,
                 doc_id, source, w, hv_min
          FROM pick ORDER BY draw"""
    })

  override def defs: Seq[QueryDef] =
    Seq(q181_semantic_dedup, q182_dup_spans, q183_dsir_importance, q184_cluster_safe_split,
      q185_semdedup_recall_eval, q186_suffix_array, q187_sa_dup_lengths,
      q188_selection_pipeline, q192_mixture_temperature, q194_sa_append,
      q195_semantic_dedup_multiprobe, q196_multiprobe_recall_eval,
      q203_weighted_sample)
}
