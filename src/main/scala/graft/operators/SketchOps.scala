package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Mergeable summary sketches with error evals — the fixed-size-state
  * answers to questions whose exact forms need a corpus-sized shuffle.
  * Four axes: frequency (CMS, q197), set cardinality (KMV, q198),
  * quantiles (bottom-k sample, q199), membership (Bloom, q200).
  *
  * Every sketch here is MERGEABLE: per-partition partial states
  * combine associatively, so at 100 TB each is one map-side-combined
  * aggregation producing kilobytes of state, where the exact answer
  * (full token histogram / distinct-token intersection join / ranked
  * corpus / distinct membership set) shuffles the corpus. The evals follow the repo's measured-approximation rule
  * (q153/q154/q157/q159/q185): every approximate structure ships with
  * its error measured against exact ground truth on the same fixture.
  *
  * Determinism: the hash devices are the repo's standard md5 prefixes
  * (`conv` in Spark, per-nibble `instr` arithmetic in DuckDB — the
  * q44/q45 device), all counting is BIGINT, and the one double division
  * (the KMV estimator) is written with the identical operation order in
  * both engines, so IEEE-754 makes the floored fixed-point results
  * bit-identical.
  */
object SketchOps extends QueryModule {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** The sketch key stream: word 3-gram shingles (the dedup family's
    * unit, q43/q44). Keyed on shingles, not unigrams, deliberately —
    * the fixture's unigram vocabulary is ~31 words per source, which
    * CANNOT exercise either sketch (zero CMS collisions in 4×1024
    * buckets; every KMV sketch unsaturated ⇒ estimator degenerates to
    * exact). Shingle cardinality is 1.1k–10.9k per source across the
    * fixtures: CMS rows collide and KMV saturates k=256, so the evals
    * measure REAL sketch error. Docs under 3 words yield no shingles
    * in both engines (Spark filter / empty DuckDB range). */
  private[graft] def shingleStreamOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      // index-explode + scalar concat instead of a transform(...) lambda:
      // content-identical, but fully whole-stage-codegen'd where the HOF
      // evaluates interpreted and decays 2.4× under the megamorphic-JIT
      // pollution any long bench session accumulates (BASELINE.md q201 study).
      .select(col("source"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
      .select(col("source"), concat(
        element_at(col("ws"), col("i") + 1), lit(" "),
        element_at(col("ws"), col("i") + 2), lit(" "),
        element_at(col("ws"), col("i") + 3)).as("w"))

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shingleStreamOf(t(s, dir, "documents"))

  /** DuckDB mirror of [[shingles]] (1-based list indexing). */
  private val shinglesSql: String =
    """base AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
       sidx AS (SELECT source, ws, unnest(range(1, len(ws) - 1)) AS i FROM base),
       words AS (SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w FROM sidx)"""

  /** CMS shape: 4 rows × 1024 buckets; the bucket columns and the
    * one-pass partial-sketch aggregation, shared by q197 and the live
    * [[graft.streaming.SketchStream]] maintainer.
    *
    * All 4 rows read DISJOINT 3-nibble ranges of ONE md5 — measured 3×
    * faster at the 100× rehearsal than 4 independently salted md5
    * calls per occurrence (the hash, not the aggregation, dominates a
    * map-side-combined sketch pass). CMS needs pairwise-independent
    * rows, which disjoint bit-ranges of one strong hash give. */
  private[graft] val CmsDepth = 4
  private[graft] def cmsBuckets: Seq[org.apache.spark.sql.Column] =
    (0 until CmsDepth).map(r =>
      expr(s"CAST(CAST(conv(substring(md5(w), ${1 + 3 * r}, 3), 16, 10) AS INT) % 1024 AS INT)")
        .as(s"b$r"))

  /** The mergeable CMS state of a shingle stream: (row, bucket, cnt). */
  private[graft] def cmsOf(words: DataFrame): DataFrame =
    words.select((col("w") +: cmsBuckets): _*)
      .select(posexplode(array((0 until CmsDepth).map(r => col(s"b$r")): _*)))
      .toDF("row", "bucket")
      .groupBy("row", "bucket")
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** [[cmsOf]] re-derived from an ALREADY-AGGREGATED (w, c) histogram:
    * a bucket's occurrence count is Σ c over the distinct tokens
    * hashing into it, so `cmsOfCounts(histogram(ws)) = cmsOf(ws)`
    * bit-for-bit (BIGINT sums — SketchSpec pins the equality). Lets an
    * eval that must aggregate exact counts anyway (q197) derive the
    * sketch from the vocab-sized histogram instead of paying a second
    * corpus-wide pass with 4 md5 reads per OCCURRENCE (guide §1.2:
    * remove passes; §2.3: aggregate before you shuffle). [[cmsOf]]
    * stays the production one-pass form the live fold maintains. */
  private[graft] def cmsOfCounts(wc: DataFrame): DataFrame =
    wc.select((col("c") +: cmsBuckets): _*)
      .select(col("c"), posexplode(array((0 until CmsDepth).map(r => col(s"b$r")): _*)))
      .toDF("c", "row", "bucket")
      .groupBy("row", "bucket")
      .agg(sum("c").cast("long").as("cnt"))

  /** CMS merge = bucket-wise addition (the mergeability that makes the
    * sketch a one-aggregation answer at 100 TB). */
  private[graft] def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy("row", "bucket").agg(sum("cnt").cast("long").as("cnt"))

  /** KMV shape: per-source k smallest distinct 60-bit shingle hashes. */
  private[graft] val KmvK = 256
  private[graft] def kmvHashes(sh: DataFrame): DataFrame =
    sh.select(col("source"),
        expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)").as("hv"))
      .distinct()

  /** Keep each source's k minimum hash values. k-min sketches merge by
    * re-minimizing the union: every element of topK(A ∪ B) that comes
    * from A is necessarily within A's own top k, so
    * topK(topK(A) ∪ hashes(B)) = topK(A ∪ B). */
  private[graft] def kmvTopK(hv: DataFrame): DataFrame =
    hv.withColumn("rk", row_number().over(Window.partitionBy("source").orderBy("hv")))
      .filter(col("rk") <= KmvK)
      .select("source", "hv")

  // -------------------------------------------------------------------
  // Quantile sketch: bottom-k hash sample
  // -------------------------------------------------------------------

  /** Quantile-sketch state size (per group). Rank error of a quantile
    * read off a uniform k-sample is σ ≈ √(p(1−p)/k)·n — at k=512 the
    * p50 rank error is ~2.2% of the group, independent of corpus size. */
  private[graft] val QsK = 512

  /** Quantile percentages the sketch answers (the repo's percentile
    * gates — q103/q118/q129/q146 — all sit in this range). */
  private[graft] val QsPs = Seq(25, 50, 75, 90)

  /** The mergeable quantile-sketch state of a `(g, h, rid, v)` row
    * stream: per group `g`, the k rows whose `(h, rid)` is smallest —
    * a DETERMINISTIC uniform row sample (the hash is the randomness,
    * `rid` a unique row key breaking h-ties totally). Same
    * WindowGroupLimit plan shape as [[kmvTopK]]: map-side partial
    * top-k state of k rows per group, never a global per-group sort.
    *
    * Why not KLL/t-digest: their compaction is randomized (KLL coin-
    * flips compactor offsets; t-digest is insertion-order-dependent),
    * so no DuckDB oracle can hash-match them. Bottom-k hash sampling
    * (Cohen & Kaplan, PODC 2007) gives the same O(1/√k) rank-error
    * guarantee with an EXACT mergeability law instead of a
    * distributional one: topK(topK(A) ∪ topK(B)) = topK(A ∪ B) —
    * every element of the union's bottom-k is in its own side's
    * bottom-k (the q198 KMV lemma, applied to rows instead of distinct
    * hashes). */
  private[graft] def qsTopK(rows: DataFrame, k: Int = QsK): DataFrame =
    rows.withColumn("rk",
        row_number().over(Window.partitionBy("g").orderBy("h", "rid")))
      .filter(col("rk") <= k)
      .select("g", "h", "rid", "v")

  /** Quantile-sketch merge = re-minimization over the union (exact, by
    * the bottom-k lemma above). `distinct` guards replayed rows: a row
    * already in the state must not occupy two of the k slots. */
  private[graft] def qsMerge(a: DataFrame, b: DataFrame, k: Int = QsK): DataFrame =
    qsTopK(a.union(b).distinct(), k)

  /** The quantile-sketch row stream of a documents frame — the
    * [[graft.streaming.SketchStream]] instantiation: g = source,
    * v = token count, hashed and identified by doc_id. */
  private[graft] def qsRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("source").as("g"),
      expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"),
      col("doc_id").cast("string").as("rid"),
      size(split(col("text"), " ")).cast("long").as("v"))

  /** Discrete quantile read: for each p ∈ [[QsPs]], the `v` at 1-based
    * rank ⌈p·n/100⌉ of the group ordered by `(v, h, rid)` — pure
    * integer rank arithmetic (`(p·n + 99) div 100`), so Spark and the
    * DuckDB mirror agree bit-for-bit with no float interpolation. */
  private def qsQuantiles(df: DataFrame, out: String): DataFrame = {
    val s = df.sparkSession
    // Rank reads WITHOUT ranking rows: only `v` is emitted, and the v
    // at 1-based rank r under (v, h, rid) order equals the v at rank r
    // under v order (stability within equal v), which is the MINIMAL v
    // whose per-group cumulative count reaches r. So the read is a
    // map-side-combined (g, v) count (the only corpus-wide pass — the
    // sort space collapses from rows to distinct values), a
    // distributed running sum over (g, v) ([[GlobalRank.runningSum]]:
    // range partition + per-partition prefix sums + broadcast offset
    // stitch), and a broadcast 12-row want table picking the value
    // whose count-run covers each wanted rank. The first full-suite
    // 100× bench measured the previous form — a per-group window
    // ranking every ROW through 3 partition-sized sorts — at 76 s;
    // this one never sorts rows at all. Group-count collect bounded by
    // |groups| (the sketch contract), run on the AGGREGATED frame.
    val gv = df.groupBy("g", "v").agg(count(lit(1)).cast("long").as("c"))
      .transform(Ckpt.ser(_)) // consumed by totals AND the running sum
    // ONE collect feeds everything driver-side (round 14, guide §1.2):
    // per-group row totals (n = Σc, the want-rank inputs) AND the
    // distinct-value count (nv) whose sum is gv's cardinality — the
    // runningSum partition derivation previously paid a separate
    // gv.count() job per call (×2 calls per eval query).
    val cnts0 = gv.groupBy("g")
      .agg(sum("c").cast("long").as("n"), count(lit(1)).cast("long").as("nv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val cnts = cnts0.map(t => (t._1, t._2))
    val gvRows = cnts0.map(_._3).sum
    val goffDf = broadcast(s.createDataFrame(
      cnts.map(_._1).zip(cnts.map(_._2).scanLeft(0L)(_ + _).dropRight(1)).toSeq)
      .toDF("g", "goff"))
    val cum = GlobalRank.runningSum(gv, Seq(col("g"), col("v")), col("c"),
        "cumAll", rows = gvRows)
      .join(goffDf, "g")
      .withColumn("cum", col("cumAll") - col("goff"))
    val want = broadcast(s.createDataFrame(
        cnts.flatMap { case (g, n) => QsPs.map(p => (g, n, p)) }.toSeq)
        .toDF("wg", "n", "p")
        .withColumn("want_r", expr("CAST((p * n + 99) DIV 100 AS BIGINT)")))
    cum.join(want, cum("g") === want("wg")
        && want("want_r") > cum("cum") - cum("c") && want("want_r") <= cum("cum"))
      .select(cum("g"), want("p"), col("v").as(out))
  }

  /** [[qsQuantiles]] for a BOUNDED input (the sketch read path): the
    * quantile-sketch state is ≤ k rows per group BY CONTRACT, so the
    * per-group cumulative can be one window partitioned by `g` — a
    * bounded-key shuffle of ≤ k·|groups| rows — and the want-rank table
    * can stay a lazy broadcast join instead of a driver collect. Same
    * integer rank arithmetic as [[qsQuantiles]] (same minimal-v-
    * covering-rank read), ZERO driver jobs — where the generic form
    * pays 2 checkpoints + 2 collects of GlobalRank machinery built for
    * corpus-sized groups (round 14, guide §1.2: the est side of q199
    * spent more on fixed job scheduling than on its ≤1536 rows).
    * SketchSpec's q199 band/exactness tests pin est values unchanged. */
  private def qsQuantilesBounded(df: DataFrame, out: String): DataFrame = {
    val gv = df.groupBy("g", "v").agg(count(lit(1)).cast("long").as("c"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = gv.withColumn("cum", sum("c").over(w))
    val want = gv.groupBy(col("g").as("wg"))
      .agg(sum("c").cast("long").as("n"))
      .select(col("wg"), col("n"),
        explode(array(QsPs.map(p => lit(p)): _*)).as("p"))
      .withColumn("want_r", expr("CAST((p * n + 99) DIV 100 AS BIGINT)"))
    cum.join(broadcast(want), cum("g") === want("wg")
        && want("want_r") > cum("cum") - cum("c") && want("want_r") <= cum("cum"))
      .select(cum("g"), want("p"), col("v").as(out))
  }

  /** q199's row stream: lineitem prices in fixed-point cents per
    * return flag, hashed/identified by the (orderkey, linenumber) PK. */
  private[graft] def qsPriceRows(lineitem: DataFrame): DataFrame =
    lineitem.select(
      col("l_returnflag").as("g"),
      expr("CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), '-', " +
        "CAST(l_linenumber AS STRING))), 1, 15), 16, 10) AS BIGINT)").as("h"),
      concat(col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string")).as("rid"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))

  /** Mergeable quantile sketch (bottom-k hash sample, k=512) over
    * lineitem extended prices per return flag, with its error measured
    * against the exact rank quantile at p ∈ {25, 50, 75, 90}.
    *
    * This is the third sketch next to CMS (frequency, q197) and KMV
    * (set cardinality, q198): the fixed-state answer to the percentile
    * gates that otherwise re-aggregate the corpus (q103/q118/q129/q146
    * all sort-or-percentile over lineitem-sized inputs). The sketch
    * pass is ONE map-side-bounded top-k per group (k rows of state per
    * group per partition — at 100 TB the corpus is scanned once and
    * never sorted); quantile reads then run on ≤ k·|groups| rows. The
    * exact ranked ground truth here is the EVAL's, not the operator's —
    * a production pipeline keeps just the sketch.
    *
    * Values are fixed-point cents (`round(price·100)` as BIGINT): TPC-H
    * prices are cent-valued, so the double is within 1e-9 of an
    * integer and both engines round to the same cent.
    *
    * Reference scope: the reference's event statistics surface
    * generalized to distribution summaries (SURVEY §2.2 sketch row). */
  val q199_quantile_sketch_eval = QueryDef(
    "q199_quantile_sketch_eval",
    (s, dir) => {
      val li = qsPriceRows(t(s, dir, "lineitem"))
      val est = qsQuantilesBounded(qsTopK(li), "v_est")
      val exact = qsQuantiles(li, "v_exact")
      est.join(exact, Seq("g", "p"))
        .select(col("g").as("rf"), col("p"), col("v_est"), col("v_exact"),
          abs(col("v_est") - col("v_exact")).cast("long").as("abs_err"))
        .orderBy("rf", "p")
    },
    Some {
      val rid = "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
      s"""WITH rows_ AS (
            SELECT l_returnflag AS g,
                   ${duckHexPrefix(rid, 15)} AS h,
                   $rid AS rid,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem),
          sk AS (SELECT g, h, rid, v FROM (
                   SELECT *, row_number() OVER (PARTITION BY g ORDER BY h, rid) AS rk
                   FROM rows_) WHERE rk <= $QsK),
          ps AS (SELECT unnest([${QsPs.mkString(", ")}]) AS p),
          skn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM sk GROUP BY g),
          skr AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v, h, rid) AS BIGINT) AS vr FROM sk),
          skw AS (SELECT g, p, (p * n + 99) // 100 AS want_r FROM skn, ps),
          est AS (SELECT r.g, w.p, r.v AS v_est
                  FROM skr r JOIN skw w ON w.g = r.g AND w.want_r = r.vr),
          xn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY g),
          xr AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v, h, rid) AS BIGINT) AS vr FROM rows_),
          xw AS (SELECT g, p, (p * n + 99) // 100 AS want_r FROM xn, ps),
          ex AS (SELECT r.g, w.p, r.v AS v_exact
                 FROM xr r JOIN xw w ON w.g = r.g AND w.want_r = r.vr)
          SELECT e.g AS rf, e.p, e.v_est, x.v_exact,
                 CAST(abs(e.v_est - x.v_exact) AS BIGINT) AS abs_err
          FROM est e JOIN ex x ON x.g = e.g AND x.p = e.p
          ORDER BY rf, e.p"""
    })

  /** DuckDB mirror of Spark's `CAST(conv(substring(md5(x), off, nib), 16,
    * 10) AS BIGINT)`: per-nibble `instr` lookups recombined positionally
    * (char `off` is the most significant nibble). */
  private def duckHexAt(x: String, off: Int, nib: Int): String =
    (0 until nib).map { i =>
      val p = math.pow(16.0, (nib - 1 - i).toDouble).toLong
      s"(instr('0123456789abcdef', substr(md5($x), ${off + i}, 1)) - 1) * $p"
    }.mkString(" + ")

  /** DuckDB mirror of Spark's `CAST(conv(substring(md5(x), 1, nib), 16, 10)
    * AS BIGINT)`: per-nibble `instr` lookups recombined positionally
    * (char 1 is the most significant nibble). */
  private def duckHexPrefix(x: String, nib: Int): String = duckHexAt(x, 1, nib)

  /** Count–min sketch (d=4 rows × w=1024 buckets) over the corpus
    * shingle stream, with its error measured against exact counts for
    * the 200 most frequent shingles.
    *
    * The production sketch is ONE pass ([[cmsOf]], what the live fold
    * maintains): each occurrence votes into 4 row-salted md5 buckets
    * (posexplode → a 4096-key aggregation with map-side combine —
    * partial sketches from every partition merge by addition, which is
    * the whole point of CMS). The estimate for a token is the min over
    * its 4 bucket counts; CMS guarantees est ≥ exact, and the
    * `overcount` column is that bias, reported not hidden. The EVAL
    * must also aggregate exact per-token counts for ground truth, and
    * a bucket's count is a pure re-aggregation of that histogram — so
    * since round 14 the eval derives the sketch from the checkpointed
    * vocab-sized histogram ([[cmsOfCounts]], bit-identical, pinned by
    * SketchSpec) instead of paying a second corpus-wide pass with 4
    * md5 reads per occurrence (guide §1.2). The eval joins the
    * 4096-row sketch BROADCAST against the top-200 tokens (TakeOrdered
    * under a strict total order, not a global sort), so at 100 TB the
    * only corpus-sized stage is the one token scan — a production
    * pipeline keeps just the sketch pass.
    *
    * Reference scope: frequency gating over shingle streams is the
    * reference's event-statistics surface generalized (SURVEY §2.2
    * sketch row); CMS per Cormode & Muthukrishnan (2005). */
  val q197_cms_error_eval = QueryDef(
    "q197_cms_error_eval",
    (s, dir) => {
      val d = CmsDepth
      val words = shingles(s, dir).select("w")
      // ONE corpus pass (round-14, guide §1.2): the eval needs the exact
      // per-token histogram anyway, and the sketch is a pure
      // re-aggregation of it ([[cmsOfCounts]], bit-identical to the
      // production cmsOf pass — SketchSpec). Checkpointed: the
      // vocab-sized histogram feeds both the sketch and the top-200.
      val exact = Ckpt.ser(
        words.groupBy("w").agg(count(lit(1)).cast("long").as("c_exact")))
      val sketch = cmsOfCounts(exact.select(col("w"), col("c_exact").as("c")))
      val top = exact.orderBy(col("c_exact").desc, col("w")).limit(200)
      val probes = top.select((col("w") +: col("c_exact") +: cmsBuckets): _*)
        .select(col("w"), col("c_exact"),
          posexplode(array((0 until d).map(r => col(s"b$r")): _*)))
        .toDF("w", "c_exact", "row", "bucket")
      probes.join(broadcast(sketch), Seq("row", "bucket"))
        .groupBy("w", "c_exact")
        .agg(min("cnt").cast("long").as("c_est"))
        .select(col("w"), col("c_exact"), col("c_est"),
          (col("c_est") - col("c_exact")).cast("long").as("overcount"))
        .orderBy("w")
    },
    Some {
      def b(r: Int) =
        s"""((instr('0123456789abcdef', substr(md5(w), ${1 + 3 * r}, 1)) - 1) * 256
           + (instr('0123456789abcdef', substr(md5(w), ${2 + 3 * r}, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(md5(w), ${3 + 3 * r}, 1)) - 1)) % 1024"""
      def bucketCase =
        s"CASE r ${(0 until 4).map(r => s"WHEN $r THEN ${b(r)}").mkString(" ")} END"
      s"""WITH $shinglesSql,
          occ AS (SELECT w, r, $bucketCase AS bucket
                  FROM words, (SELECT unnest(range(4)) AS r)),
          sk AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY r, bucket),
          exact AS (SELECT w, CAST(count(*) AS BIGINT) AS c_exact FROM words GROUP BY w),
          top AS (SELECT w, c_exact FROM exact ORDER BY c_exact DESC, w LIMIT 200),
          probes AS (SELECT w, c_exact, r, $bucketCase AS bucket
                     FROM top, (SELECT unnest(range(4)) AS r)),
          est AS (SELECT w, c_exact, min(cnt) AS c_est
                  FROM probes p JOIN sk s ON s.r = p.r AND s.bucket = p.bucket
                  GROUP BY w, c_exact)
          SELECT w, c_exact, CAST(c_est AS BIGINT) AS c_est,
                 CAST(c_est - c_exact AS BIGINT) AS overcount
          FROM est ORDER BY w"""
    })

  /** KMV (k-minimum-values) theta sketch over per-source distinct
    * shingles: set-operation cardinality — the distinct-intersection
    * size of every source pair — estimated from 256-value sketches and
    * measured against the exact join.
    *
    * Per source the sketch is the k=256 smallest 60-bit shingle hashes
    * (distinct by hash, per KMV); the estimator is (k−1)·2⁶⁰/θ with θ
    * the kth minimum, falling back to the EXACT count when the sketch
    * is unsaturated (cnt < k ⇒ the sketch IS the set). The union
    * sketch of a pair is the k smallest of the two sketches' union —
    * its kth minimum is the true union's kth minimum (every true value
    * below it is in one of the sketches, since each source supplies its
    * k minima), so the same estimator applies; intersection is
    * inclusion–exclusion, clamped at 0. HLL (q12) answers union-only
    * cardinality; KMV is the sketch that also answers INTERSECTION,
    * which HLL structurally cannot (Beyer et al., SIGMOD 2007).
    *
    * Scale shape: one distinct-aggregation to (source, hash), one
    * per-source top-k (window over the tiny distinct stream — at 100 TB
    * this is TakeOrdered-per-key state of k rows/source), then ALL pair
    * work runs on ≤ k·|sources| broadcast rows — the corpus never joins
    * itself. The exact intersection join here is the eval's ground
    * truth only.
    *
    * DOCUMENTED DEVIATION BOUND (round-14 wave 3, accepted by the
    * round-14 verdict): the "exact" intersection column is computed by
    * self-joining on the 60-bit md5-prefix hash `hv`, not the shingle
    * string — it is exact UNLESS two DISTINCT shingles of a source
    * pair collide in 60 bits. Collision odds are birthday-bounded:
    * ~n²/2⁶¹ per pair for n distinct shingles per source (~1e-7 at the
    * ~50k-shingle fixture vocab; ~5e-3 at a 10⁸-shingle 100 TB vocab,
    * i.e. an expected off-by-one in 1 of ~200 pairs there). The DuckDB
    * oracle computes the same hv-keyed counts, so the gate holds
    * bit-for-bit at every fixture scale, but the column must NOT be
    * consumed as a true exact-set-intersection contract at warehouse
    * scale — any future consumer needing true exactness must join on
    * the string (the pre-round-14 shape, ~1.2× slower here). */
  val q198_kmv_theta_sketch = QueryDef(
    "q198_kmv_theta_sketch",
    (s, dir) => {
      val k = KmvK
      val est = s"CAST(floor(255.0 * 1.152921504606846976e18 / CAST(theta AS DOUBLE) * 1.0e6) AS BIGINT)"
      // Checkpointed (round 14, guide §1.2/§2.3): the distinct
      // (source, hv) HASH stream feeds the KMV top-k AND both sides of
      // the eval's exact-intersection self-join — un-pinned, the
      // shingle explode + distinct ran 3× inside one query (join
      // subtrees do not share common subexpressions). Wave 3 moved the
      // pin from the (source, w) string frame to the (source, hv)
      // 60-bit-hash frame: the materialized blocks and the self-join
      // shuffle carry 16-byte rows instead of ~30-char strings, and the
      // join compares longs (the q43 hashed-join-key device — a
      // spurious/lost intersection needs a 60-bit collision between two
      // of a source's distinct shingles, ~1e-7 odds at full-vocab
      // scale; the string-keyed DuckDB oracle hash-gates the counts at
      // every fixture scale). md5 still runs per DISTINCT token, not
      // per occurrence (the q197 ordering).
      val hv = Ckpt.ser(kmvHashes(shingles(s, dir).distinct()))
      val kmv = kmvTopK(hv).cache()
      val per = kmv.groupBy("source")
        .agg(count(lit(1)).cast("long").as("cnt"), max("hv").as("theta"))
        .withColumn("est_fp",
          when(col("cnt") < k, col("cnt") * 1000000L).otherwise(expr(est)))
        .select("source", "est_fp")
      val srcs = kmv.select("source").distinct()
      val pairs = srcs.select(col("source").as("s1"))
        .join(srcs.select(col("source").as("s2")), col("s1") < col("s2"))
      val uni = broadcast(pairs)
        .join(kmv, col("source") === col("s1") || col("source") === col("s2"))
        .select("s1", "s2", "hv").distinct()
      val estu = uni
        .withColumn("rk", row_number().over(Window.partitionBy("s1", "s2").orderBy("hv")))
        .filter(col("rk") <= k)
        .groupBy("s1", "s2")
        .agg(count(lit(1)).cast("long").as("cnt"), max("hv").as("theta"))
        .withColumn("est_u",
          when(col("cnt") < k, col("cnt") * 1000000L).otherwise(expr(est)))
        .select("s1", "s2", "est_u")
      val exact = hv.select(col("source").as("s1"), col("hv"))
        .join(hv.select(col("source").as("s2"), col("hv")), Seq("hv"))
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(count(lit(1)).cast("long").as("n_exact"))
      estu
        .join(broadcast(per.withColumnRenamed("source", "s1").withColumnRenamed("est_fp", "ea")), Seq("s1"))
        .join(broadcast(per.withColumnRenamed("source", "s2").withColumnRenamed("est_fp", "eb")), Seq("s2"))
        .join(exact, Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"),
          greatest(lit(0L), col("ea") + col("eb") - col("est_u")).cast("long").as("est_inter_fp"),
          coalesce(col("n_exact"), lit(0L)).cast("long").as("n_exact"))
        .withColumn("abs_err_fp",
          abs(col("est_inter_fp") - col("n_exact") * 1000000L).cast("long"))
        .orderBy("s1", "s2")
    },
    Some(s"""WITH $shinglesSql,
          tok AS (SELECT DISTINCT source, w FROM words),
          hv AS (SELECT DISTINCT source, ${duckHexPrefix("w", 15)} AS hv FROM tok),
          kmv AS (SELECT source, hv FROM (
                    SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
                    FROM hv) WHERE rk <= 256),
          per AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt, max(hv) AS theta
                  FROM kmv GROUP BY source),
          pere AS (SELECT source,
                     CASE WHEN cnt < 256 THEN cnt * 1000000
                          ELSE CAST(floor(255.0 * 1.152921504606846976e18 / CAST(theta AS DOUBLE) * 1.0e6) AS BIGINT)
                     END AS est_fp
                   FROM per),
          pairs AS (SELECT x.source AS s1, y.source AS s2
                    FROM per x JOIN per y ON x.source < y.source),
          uni AS (SELECT DISTINCT p.s1, p.s2, k.hv
                  FROM pairs p JOIN kmv k ON k.source = p.s1 OR k.source = p.s2),
          uk AS (SELECT s1, s2, hv FROM (
                   SELECT s1, s2, hv, row_number() OVER (PARTITION BY s1, s2 ORDER BY hv) AS rk
                   FROM uni) WHERE rk <= 256),
          peru AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS cnt, max(hv) AS theta
                   FROM uk GROUP BY s1, s2),
          estu AS (SELECT s1, s2,
                     CASE WHEN cnt < 256 THEN cnt * 1000000
                          ELSE CAST(floor(255.0 * 1.152921504606846976e18 / CAST(theta AS DOUBLE) * 1.0e6) AS BIGINT)
                     END AS est_u
                   FROM peru),
          ex AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS n_exact
                 FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
                 GROUP BY 1, 2)
          SELECT e.s1, e.s2,
                 CAST(greatest(0, pa.est_fp + pb.est_fp - e.est_u) AS BIGINT) AS est_inter_fp,
                 CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
                 CAST(abs(greatest(0, pa.est_fp + pb.est_fp - e.est_u)
                          - coalesce(ex.n_exact, 0) * 1000000) AS BIGINT) AS abs_err_fp
          FROM estu e
          JOIN pere pa ON pa.source = e.s1
          JOIN pere pb ON pb.source = e.s2
          LEFT JOIN ex ON ex.s1 = e.s1 AND ex.s2 = e.s2
          ORDER BY e.s1, e.s2"""))

  // -------------------------------------------------------------------
  // Bloom membership sketch (packed bitmap, derived width)
  // -------------------------------------------------------------------

  /** Bloom hash count. j=4 matches the optimal (m/n)·ln2 for the
    * derived m/n = 8 bits/key below (8·ln2 ≈ 5.5; 4 keeps every
    * position inside one md5 and is within 1.2× of the optimum's FPR). */
  private[graft] val BloomJ = 4

  /** Bloom width: the smallest power of two ≥ 8·n keys, clamped to
    * [2¹⁰, 2²⁴] — PURE integer derivation (no log2 float call) so the
    * DuckDB mirror (a min over a 15-row powers relation) is exact.
    * Power-of-two m keeps `% m` unbiased over the uniform 24-bit md5
    * ranges below (m divides 2²⁴). At the 2²⁴ cap the bitmap is 2 MiB —
    * past that a production filter shards by key prefix (the filter is
    * mergeable, so shards are just more filters). */
  private[graft] def bloomBits(n: Long): Long =
    (10 to 24).map(1L << _).find(_ >= 8L * math.max(n, 1L)).getOrElse(1L << 24)

  /** The j=4 bit positions of key column `w`: DISJOINT 6-nibble (24-bit)
    * ranges of ONE md5, mod m — the q197 one-hash device (pairwise
    * independence from disjoint bit ranges of a strong hash; one md5
    * call per key, not four). */
  private[graft] def bloomPosCols(m: Long): Seq[org.apache.spark.sql.Column] =
    (0 until BloomJ).map(r =>
      expr(s"CAST(conv(substring(md5(w), ${1 + 6 * r}, 6), 16, 10) AS BIGINT) % $m")
        .as(s"p$r"))

  /** Key → (widx, mask) bit-coordinate rows: 32-bit words so the mask
    * shift stays ≤ 31 (DuckDB range-checks BIGINT left shifts; a 63-bit
    * shift would error there while Spark wraps — 32-bit words make the
    * packed form portable to the oracle at 2× the word count, which is
    * size-irrelevant). */
  private def bloomCoords(keys: DataFrame, m: Long): DataFrame =
    keys.select((col("w") +: bloomPosCols(m)): _*)
      .select(col("w"),
        explode(array((0 until BloomJ).map(r => col(s"p$r")): _*)).as("pos"))
      .select(col("w"), expr("pos DIV 32").as("widx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))

  /** The mergeable Bloom state of a key stream: (widx, bits) packed
    * words — ONE map-side-combined `bit_or` aggregation over ≤ m/32
    * keys (the sketch is m BITS — 32 KiB at the sf0.1-derived m — where
    * the exact membership set is the corpus's distinct keys). */
  private[graft] def bloomOf(keys: DataFrame, m: Long): DataFrame =
    bloomCoords(keys, m)
      .groupBy("widx").agg(expr("bit_or(mask)").as("bits"))

  /** Bloom merge = word-wise OR (associative/commutative/idempotent —
    * the replay-safest merge law of the four sketches: a re-folded
    * batch cannot change the state at all). */
  private[graft] def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy("widx").agg(expr("bit_or(bits)").as("bits"))

  /** Membership probe: a key passes iff ALL j of its positions are set.
    * The sketch side is broadcast (≤ m/32 words ≤ 512k rows at the cap);
    * the probe stream is never shuffled. */
  private[graft] def bloomProbe(keys: DataFrame, sketch: DataFrame, m: Long): DataFrame =
    bloomCoords(keys, m)
      .join(broadcast(sketch), Seq("widx"), "left")
      .withColumn("hit",
        when(expr("coalesce(bits, CAST(0 AS BIGINT)) & mask") =!= 0L, 1L).otherwise(0L))
      .groupBy("w").agg((sum("hit") === BloomJ).as("pass"))

  /** Bloom membership sketch over the build half's distinct shingles,
    * probed with the held-out half: zero false negatives asserted IN
    * the result (the q197 est≥exact device — gate on the law, not
    * trust), false-positive rate measured against exact set difference,
    * and compared to the load-factor prediction (ones/m)^j.
    *
    * This is the fourth sketch axis: membership (Bloom 1970), next to
    * frequency (CMS, q197), set cardinality (KMV, q198) and quantiles
    * (bottom-k, q199). The 100 TB use is the decontamination gate
    * (q70) and the bloom semi-join prefilter (q83) with a TRANSPORTABLE,
    * mergeable filter: per-partition partial bitmaps OR together
    * map-side, the published state is m bits, and probing is a
    * broadcast hash join against ≤ m/32 packed words — the corpus on
    * the probe side is scanned once and never shuffled. The exact
    * anti-join here is the EVAL's ground truth; a production pipeline
    * keeps just the filter.
    *
    * The build/probe split is md5-parity of doc_id (first hex nibble
    * < '8'), so both halves and the split itself are deterministic in
    * both engines. All reported numbers are integers or fixed-point
    * (the one double — the load-factor power — is an identical
    * left-associated product of one division in both engines).
    *
    * Reference scope: the reference's subject-membership gating
    * (SURVEY §2.1 R3) generalized to approximate set membership
    * (SURVEY §2.2 sketch row). */
  val q200_bloom_filter_eval = QueryDef(
    "q200_bloom_filter_eval",
    (s, dir) => {
      // index-explode + scalar concat, not a transform(...) lambda —
      // the [[shingleStreamOf]] codegen device (HOFs evaluate on the
      // interpreted Expression path and decay 2.4× under the
      // megamorphic-JIT pollution of a long bench session, BASELINE.md q201 study)
      val sh = t(s, dir, "documents")
        .select(expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) < '8'").as("bs"),
          split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("bs"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
        .select(col("bs"), concat(
          element_at(col("ws"), col("i") + 1), lit(" "),
          element_at(col("ws"), col("i") + 2), lit(" "),
          element_at(col("ws"), col("i") + 3)).as("w"))
      val build = Ckpt.ser(sh.filter(col("bs")).select("w").distinct())
      val neg = sh.filter(!col("bs")).select("w").distinct()
        .join(build, Seq("w"), "left_anti")
      val n = build.count()
      val m = bloomBits(n)
      val sk = Ckpt.ser(bloomOf(build, m))
      val ones = sk.agg(sum(expr("bit_count(bits)")).cast("long").as("ones"))
      val fn = bloomProbe(build, sk, m)
        .agg(sum(when(!col("pass"), 1L).otherwise(0L)).cast("long").as("fn_cnt"))
      val fp = bloomProbe(neg, sk, m)
        .agg(count(lit(1)).cast("long").as("probes_neg"),
          sum(when(col("pass"), 1L).otherwise(0L)).cast("long").as("fp_cnt"))
      val r = s"(CAST(ones AS DOUBLE) / $m)"
      ones.crossJoin(fn).crossJoin(fp)
        .select(
          lit(n).cast("long").as("n_build"),
          lit(m).cast("long").as("m_bits"),
          col("ones"), col("fn_cnt"), col("probes_neg"), col("fp_cnt"),
          expr("fp_cnt * 1000000 DIV probes_neg").cast("long").as("fpr_fp"),
          expr(s"CAST(floor($r * $r * $r * $r * 1.0e6) AS BIGINT)").as("fpr_pred_fp"))
        .orderBy("n_build")
    },
    Some {
      val rr = "(SELECT unnest(range(4)) AS r)"
      def posCase(src: String) =
        s"CASE r ${(0 until BloomJ).map(r =>
          s"WHEN $r THEN (${duckHexAt(src, 1 + 6 * r, 6)}) % m").mkString(" ")} END"
      s"""WITH halves AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS bs,
                                 string_split(text, ' ') AS ws
                          FROM documents),
          sidx AS (SELECT bs, ws, unnest(range(1, len(ws) - 1)) AS i FROM halves),
          words AS (SELECT bs, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w FROM sidx),
          build AS (SELECT DISTINCT w FROM words WHERE bs),
          neg AS (SELECT DISTINCT w FROM words WHERE NOT bs
                  EXCEPT SELECT w FROM build),
          nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM build),
          mm AS (SELECT coalesce(
                   (SELECT min(1::BIGINT << u) FROM range(10, 25) t(u), nb
                    WHERE (1::BIGINT << u) >= 8 * n),
                   1::BIGINT << 24) AS m FROM nb),
          occ AS (SELECT ${posCase("w")} AS pos FROM build, $rr, mm),
          sk AS (SELECT pos // 32 AS widx,
                        bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
                 FROM occ GROUP BY 1),
          bp AS (SELECT w, ${posCase("w")} AS pos FROM build, $rr, mm),
          bh AS (SELECT w, CASE WHEN coalesce(bits, 0) & (1::BIGINT << CAST(pos % 32 AS INT)) <> 0
                                THEN 1 ELSE 0 END AS hit
                 FROM bp LEFT JOIN sk ON sk.widx = bp.pos // 32),
          fn AS (SELECT CAST(sum(CASE WHEN s <> 4 THEN 1 ELSE 0 END) AS BIGINT) AS fn_cnt
                 FROM (SELECT w, sum(hit) AS s FROM bh GROUP BY w)),
          np_ AS (SELECT w, ${posCase("w")} AS pos FROM neg, $rr, mm),
          nh AS (SELECT w, CASE WHEN coalesce(bits, 0) & (1::BIGINT << CAST(pos % 32 AS INT)) <> 0
                                THEN 1 ELSE 0 END AS hit
                 FROM np_ LEFT JOIN sk ON sk.widx = np_.pos // 32),
          fp AS (SELECT CAST(count(*) AS BIGINT) AS probes_neg,
                        CAST(sum(CASE WHEN s = 4 THEN 1 ELSE 0 END) AS BIGINT) AS fp_cnt
                 FROM (SELECT w, sum(hit) AS s FROM nh GROUP BY w)),
          ons AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS ones FROM sk)
          SELECT n AS n_build, m AS m_bits, ones, fn_cnt, probes_neg, fp_cnt,
                 CAST(fp_cnt * 1000000 // probes_neg AS BIGINT) AS fpr_fp,
                 CAST(floor((CAST(ones AS DOUBLE) / m) * (CAST(ones AS DOUBLE) / m)
                      * (CAST(ones AS DOUBLE) / m) * (CAST(ones AS DOUBLE) / m)
                      * 1.0e6) AS BIGINT) AS fpr_pred_fp
          FROM nb, mm, ons, fn, fp
          ORDER BY n_build"""
    })

  // -------------------------------------------------------------------
  // Misra–Gries heavy-hitters sketch (canonical binary merge tree)
  // -------------------------------------------------------------------

  /** MG capacity. At k=64 the level-0 reduction is REAL on the fixture
    * (per-doc distinct mixed n-grams ≈ 150 > k) and the final sketch is
    * informative (top unigram counts ≈ 960 exceed the ≈ 575 deduction
    * at sf0.01 — measured, not assumed). */
  private[graft] val MgK = 64

  /** One MG reduction: per group, subtract the (k+1)-th largest counter
    * (ties broken by token — a total order, so both engines pick the
    * same δ) from every counter and keep the positive ones. At most k
    * entries survive (only counters strictly above δ can — a survivor
    * has c > δ = c₍ₖ₊₁₎, hence rank ≤ k, so pre-filtering to rank
    * ≤ k+1 loses nothing and lets Catalyst's InferWindowGroupLimit
    * prune to k+1 rows per group MAP-SIDE, before the window shuffle —
    * at level 0 that is the difference between shuffling every per-doc
    * histogram (~150 rows/doc on the fixture) and shuffling 65). The δ
    * window then reuses the rank window's partitioning: no second
    * exchange. */
  private[graft] def mgReduce(st: DataFrame): DataFrame = {
    val byC = Window.partitionBy("gid").orderBy(col("c").desc, col("w"))
    st.withColumn("rn", row_number().over(byC))
      .filter(col("rn") <= MgK + 1)
      .withColumn("delta",
        max(when(col("rn") === MgK + 1, col("c")).otherwise(lit(0L)))
          .over(Window.partitionBy("gid")))
      .filter(col("c") > col("delta"))
      .select(col("gid"), col("w"), (col("c") - col("delta")).cast("long").as("c"))
  }

  /** Canonical-tree fan-in. 256-ary, not binary: an F-ary round is
    * "combine F sketches, reduce once" — still exactly the mergeable-
    * summaries operation (the (N−M)/(k+1) bound is tree-independent),
    * but the tree is 3 levels deep for any fixture (doc_id < 256³ ≈
    * 16.7M) instead of 21 at 100×, and the tree's cost is its BOTTOM
    * level, paid once instead of re-shuffled through log₂ rounds:
    * measured 98 → 16 s warm at 100× against the binary tree. */
  private[graft] val MgF = 256

  /** One canonical merge round: group gid↦gid/F, add counters, reduce.
    * A group with missing members merges with ∅ (identity), so sparse
    * gids need no special casing, and a round applied to an already-
    * collapsed single group is an exact no-op (δ = 0). */
  private[graft] def mgMergeRound(st: DataFrame): DataFrame =
    mgReduce(st.groupBy(expr(s"gid DIV $MgF").as("gid"), col("w"))
      .agg(sum("c").cast("long").as("c")))

  /** The mixed n-gram stream (unigrams ∪ word-3-gram shingles) of a
    * documents frame: (doc_id, w). This is the BPE-adjacent vocabulary
    * candidate stream — multi-granularity token counts — and the one
    * fixture stream where heavy hitters actually exist (unigram counts
    * ≈ 960 over a 43k-token distinct space; shingles alone are flat,
    * max count 8 at sf0.01). */
  private[graft] def mgStreamOf(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val uni = ws.select(col("doc_id"), explode(col("ws")).as("w"))
    // explode the INDEX range and build each shingle with scalar
    // element_at/concat — content-identical to the former
    // `transform(sequence, i -> …)` lambda, but every expression here
    // whole-stage-codegens, where a higher-order function evaluates on
    // the interpreted path and pays the megamorphic-JIT tax measured in
    // BASELINE.md's q201 study (2.4× once any other generated plan has run).
    val sh = ws.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
      .select(col("doc_id"), concat(
        element_at(col("ws"), col("i") + 1), lit(" "),
        element_at(col("ws"), col("i") + 2), lit(" "),
        element_at(col("ws"), col("i") + 3)).as("w"))
    uni.union(sh)
  }

  /** Level-0 MG summaries, MAP-ONLY: a document's MG sketch is a pure
    * function of its own row, so each doc's mixed n-gram histogram and
    * its k-bounded reduction are computed inside array expressions —
    * sort the doc's tokens, run-length the sorted array into (w, c)
    * structs, order by (c desc, w), subtract the (k+1)-th count —
    * emitting ≤ k rows per doc with ZERO shuffle, where the
    * groupBy/window equivalent (what [[mgReduce]] does for MERGE
    * rounds, where groups genuinely span partitions) pays two
    * corpus-scale exchanges of the per-doc histograms. Bit-identical
    * to `mgReduce(occ.groupBy(doc_id, w).count)` — SketchSpec pins the
    * equality on the fixture. */
  private[graft] def mgLevel0Of(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("gid"), split(col("text"), " ").as("ws"))
      .select(col("gid"), expr(
        """array_sort(concat(ws,
             CASE WHEN size(ws) >= 3
                  THEN transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))
                  ELSE CAST(array() AS ARRAY<STRING>) END))""").as("st"))
      .select(col("gid"), col("st"), expr(
        "filter(sequence(0, size(st)-1), i -> i = size(st)-1 OR st[i] != st[i+1])").as("ends"))
      .select(col("gid"), expr(
        """transform(sequence(0, size(ends)-1), k -> struct(
             st[ends[k]] AS w,
             CAST(ends[k] - (CASE WHEN k = 0 THEN -1 ELSE ends[k-1] END) AS BIGINT) AS c))""").as("hist"))
      .select(col("gid"), expr(
        """array_sort(hist, (l, r) ->
             CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1
                  WHEN l.w < r.w THEN -1 WHEN l.w > r.w THEN 1 ELSE 0 END)""").as("hs"))
      .select(col("gid"), col("hs"), expr(
        s"CASE WHEN size(hs) >= ${MgK + 1} THEN hs[$MgK].c ELSE CAST(0 AS BIGINT) END").as("delta"))
      .select(col("gid"), explode(expr(
        "transform(filter(hs, x -> x.c > delta), x -> struct(x.w AS w, x.c - delta AS c))")).as("e"))
      .select(col("gid"), col("e.w").as("w"), col("e.c").as("c"))

  /** Misra–Gries heavy-hitters sketch (k=64) over the mixed n-gram
    * stream, evaluated against exact counts for the top 20 tokens.
    *
    * MG is the DETERMINISTIC frequency-top-k summary: k counters, and
    * after ANY sequence of merges every token satisfies
    * est ≤ exact ≤ est + (N − M)/(k+1) (N = stream length, M = the
    * final counters' mass — Agarwal, Cormode, Huang, Phillips, Wei, Yi:
    * "Mergeable Summaries", PODS 2012). CMS (q197) answers point
    * frequency with overcount; MG answers WHICH tokens are heavy with
    * undercount and O(k) state — the two are the classic complementary
    * pair.
    *
    * The engine computes the summary over a CANONICAL 256-ary merge
    * tree so the oracle can reproduce it bit-for-bit (MG counter values
    * — unlike the error bound — depend on the merge tree, so a
    * hash-matched oracle needs a pinned tree): level 0 is each
    * document's own histogram reduced to MG_k (map-only — a doc's
    * histogram needs no cross-doc data, see [[mgLevel0Of]]), and round
    * r merges gid↦gid/[[MgF]] until one group remains —
    * ⌈log₂₅₆ maxdoc⌉ ≤ 3 rounds at any fixture scale, each a
    * map-side-combinable sum + a k-bounded reduction over ≤ k·D
    * surviving rows — at 100 TB the corpus is read once (level 0) and
    * every later round shuffles a frame that SHRINKS by the fan-in.
    * The arbitrary-tree merge law (what a production pipeline uses —
    * partials merged in arrival order) is SketchSpec's property check;
    * the live fold deliberately stays out of [[graft.streaming.SketchStream]]
    * because a fold tree differs from the canonical tree and would not
    * hash-match a rebuild (documented divergence, law-gated instead).
    *
    * Reference scope: the reference's event-statistics surface
    * (SURVEY §2.2 sketch row) — frequency gating with bounded state. */
  val q201_mg_heavy_hitters = QueryDef(
    "q201_mg_heavy_hitters",
    (s, dir) => {
      // occ (the mixed n-gram stream) is the repo's largest
      // intermediate (O(corpus tokens)) and is NEVER materialized —
      // caching it serialized was measured 4.5× SLOWER warm at 10×
      // (storage-memory pressure + 18 eager checkpoint jobs). Since
      // round-14 wave 3 it is also only EXPLODED once: its single
      // consumer is the per-doc histogram aggregation s0 below.
      // widen: the level-0 histogram sort and the exact-count explode
      // are ~all of q201's cost and both are map-side over the raw doc
      // scan — on single-file rehearsal fixtures that scan is 2-4 fat
      // tasks (see Tables.widen), which serialized 13.6 s of CPU on 2
      // of 32 cores at 100× AND made the entry the suite's most
      // interference-sensitive (in-suite 34.5 s vs 16.1 s isolated,
      // round-10 verdict task 3).
      val docs = graft.sources.Tables.widen(t(s, dir, "documents"))
      // ONE bounded job feeds the oracle's merge-round guard AND the s0
      // regime pick below (was max-only; the count rides along free).
      val stats = docs.agg(max("doc_id"), count(lit(1))).collect().head
      val maxGid = stats.getLong(0)
      val nDocs = stats.getLong(1)
      val occ = mgStreamOf(docs)
      // Level 0 via the CODEGEN'D histogram reduction, not the map-only
      // array-expression form ([[mgLevel0Of]], bit-identical — SketchSpec
      // pins the equality). The HOF form evaluates on the interpreted
      // Expression path, and BASELINE.md's q201 study measured that path 2.4×
      // slower (8.5 → 20 s at 100×) once ANY other generated plan has
      // run in the JVM — megamorphic call-site pollution, the actual
      // mechanism behind round-10's "in-suite 34.5 s vs isolated
      // 16.1 s" — while this whole-stage-codegen form measured 8.5 s
      // young and polluted alike (its hot loop lives inside one
      // generated method the JIT compiles standalone). The price is
      // two skinny exchanges bounded by the per-doc histogram
      // (map-side combine + InferWindowGroupLimit prune to k+1 rows
      // per doc before the window shuffle — see [[mgReduce]]), which
      // scales linearly and horizontally at 100 TB, unlike interpreted
      // per-row CPU.
      // s0 (per-doc histograms, ≤ ~150 rows/doc on the fixture — three
      // orders below the occurrence stream) is the LAST corpus-shaped
      // explode: checkpointed once, it feeds BOTH the MG tree (via
      // mgReduce) and the exact vocab histogram, which is a pure
      // re-aggregation of it (Σ_doc per-doc counts ≡ per-token counts,
      // exact BIGINT — SketchSpec pins the equality). Round 14 wave 3:
      // previously `exact` re-ran the full mixed-n-gram explode a
      // second time (guide §1.2 remove passes / §2.3 aggregate before
      // you shuffle).
      // SCALE-AWARE (round 15, VERDICT item 3): the checkpoint trades
      // ONE explode pass for materializing ~150·|docs| rows, and the
      // round-14 100× bench measured that trade INVERTING with corpus
      // size — 10× (50k docs, s0 ≈ 7.5M rows) won 21.7 → 19.3 s warm,
      // 100× (500k docs, s0 ≈ 75M rows) lost the win entirely (13.6 →
      // 21.9 raw on a 1.64×-slower host, ~1.0 normalized): past memory
      // scale the serialized blocks evict to disk and the write+read
      // of the histogram costs what the saved explode saved. Below 2¹⁷
      // docs (s0 ≲ 20M rows — comfortably inside the measured-win
      // band) s0 materializes once; above, the two consumers each run
      // their own explode+aggregation — two corpus passes, zero
      // materialized state, the r14-wave-1 shape that beat r13's three
      // passes at every scale. Values are bit-identical either way
      // (same plan semantics, checkpoint or not).
      val s0Plan = occ
        .groupBy(col("doc_id").as("gid"), col("w"))
        .agg(count(lit(1)).cast("long").as("c"))
      val s0 = if (nDocs < 131072L) Ckpt.ser(s0Plan) else s0Plan
      val lvl0 = mgReduce(s0)
      // The oracle unrolls exactly 3 merge rounds (covers doc_id <
      // 256³); past that the engine would run a 4th round the oracle's
      // r3 does not, silently diverging. Fail loudly at the boundary.
      require(maxGid < 16777216L,
        s"q201 oracle unrolls 3 merge rounds (doc_id < 256^3); got max doc_id $maxGid")
      val rounds = {
        var g = maxGid; var r = 0
        while (g > 0 || r == 0) { g /= MgF; r += 1 }
        r
      }
      // The round count is predetermined (no mid-loop action), so the
      // whole merge tree is ONE lazy plan evaluated once; only the
      // final ≤k-row sketch is checkpointed (it is consumed twice).
      var st = lvl0
      (1 to rounds).foreach { _ => st = mgMergeRound(st) }
      st = Ckpt.ser(st)
      // exact checkpointed (round 14, guide §1.2): the vocab-sized
      // histogram feeds the top-20 AND the stream-length total
      // (N = Σ c_exact ≡ count(occ)) — previously `tot` re-ran a THIRD
      // full explode pass over the n-gram stream just to count it, and
      // since wave 3 `exact` itself re-aggregates the checkpointed
      // per-doc histogram s0 instead of paying a SECOND explode.
      val exact = Ckpt.ser(
        s0.groupBy("w").agg(sum("c").cast("long").as("c_exact")))
      val top = exact.orderBy(col("c_exact").desc, col("w")).limit(20)
      val tot = exact.agg(sum("c_exact").cast("long").as("n"))
      val mass = st.agg(coalesce(sum("c"), lit(0L)).cast("long").as("m"))
      top.join(broadcast(st.select(col("w"), col("c").as("c_est"))), Seq("w"), "left")
        .crossJoin(tot).crossJoin(mass)
        .select(col("w"), col("c_exact"),
          coalesce(col("c_est"), lit(0L)).cast("long").as("c_est"),
          (col("c_exact") - coalesce(col("c_est"), lit(0L))).cast("long").as("undercount"),
          expr(s"CAST((n - m) DIV ${MgK + 1} AS BIGINT)").as("mg_bound"))
        .orderBy("w")
    },
    Some {
      val reduce = (out: String, in: String) =>
        s"""$out AS (SELECT gid, w, c - delta AS c FROM (
              SELECT gid, w, c,
                     max(CASE WHEN rn = ${MgK + 1} THEN c ELSE CAST(0 AS BIGINT) END)
                       OVER (PARTITION BY gid) AS delta
              FROM (SELECT gid, w, c,
                           row_number() OVER (PARTITION BY gid ORDER BY c DESC, w) AS rn
                    FROM $in)) WHERE c - delta > 0)"""
      val round = (k: Int) =>
        s"""m$k AS (SELECT gid // $MgF AS gid, w, CAST(sum(c) AS BIGINT) AS c
                    FROM r${k - 1} GROUP BY 1, 2),
            ${reduce(s"r$k", s"m$k")}"""
      // 3 unrolled 256-ary rounds cover doc_id < 256³ ≈ 16.7M; extra
      // rounds are exact no-ops (a lone gid-0 group merged with ∅ and
      // re-reduced with δ=0), so one static oracle serves every
      // fixture scale.
      val R = 3
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          uni AS (SELECT doc_id, unnest(ws) AS w FROM base),
          sidx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
                   FROM base WHERE len(ws) >= 3),
          sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w FROM sidx),
          occ AS (SELECT * FROM uni UNION ALL SELECT * FROM sh),
          s0 AS (SELECT doc_id AS gid, w, CAST(count(*) AS BIGINT) AS c
                 FROM occ GROUP BY 1, 2),
          ${reduce("r0", "s0")},
          ${(1 to R).map(round).mkString(",\n          ")},
          exact AS (SELECT w, CAST(count(*) AS BIGINT) AS c_exact FROM occ GROUP BY w),
          top AS (SELECT w, c_exact FROM exact ORDER BY c_exact DESC, w LIMIT 20),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM occ),
          mass AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS m FROM r$R)
          SELECT t.w, t.c_exact,
                 CAST(coalesce(f.c, 0) AS BIGINT) AS c_est,
                 CAST(t.c_exact - coalesce(f.c, 0) AS BIGINT) AS undercount,
                 CAST((n - m) // ${MgK + 1} AS BIGINT) AS mg_bound
          FROM top t LEFT JOIN r$R f ON f.w = t.w, tot, mass
          ORDER BY t.w"""
    })

  def defs: Seq[QueryDef] =
    Seq(q197_cms_error_eval, q198_kmv_theta_sketch, q199_quantile_sketch_eval,
      q200_bloom_filter_eval, q201_mg_heavy_hitters)
}
