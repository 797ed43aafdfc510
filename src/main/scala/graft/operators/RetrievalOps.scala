package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Corpus-level retrieval / language-model analytics over `documents` —
  * the scoring side of a training-data pipeline (the reference's storage
  * events carry the corpus; these are the "which documents do we keep /
  * surface" operators layered on top, per the builder mandate).
  *
  * Scale shapes: every operator is explode → partial-agg → one shuffle
  * on a bounded key space (tokens / bigrams / langs), then a bounded
  * join back to per-doc rows. Nothing is quadratic in the corpus; the
  * only global sort orders the FINAL bounded output (top-k or one row
  * per doc). All floating-point accumulation routes through the
  * fixed-point BIGINT pattern (floor(x·10^k) summed as integers) so a
  * 1000-executor plan hash-matches the single-threaded oracle.
  */
object RetrievalOps extends QueryModule {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** BM25 (k1 = 1.2, b = 0.75) top-20 for a fixed 3-term query.
    *
    * Classic search scoring: idf = ln(1 + (N − df + ½)/(df + ½)),
    * tf saturation k1, length normalization b against avgdl. The term
    * filter is applied BEFORE the per-(doc, term) aggregation, so the
    * expensive path only ever touches rows for the 3 query terms; dl and
    * the corpus stats are one linear pass each. Per-doc score =
    * Σ_terms floor(contrib·10⁶) summed as BIGINT (≤ 3 addends, but the
    * fixed-point sum keeps it associativity-free like the rest). */
  val q85_bm25 = QueryDef(
    "q85_bm25",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").cast("long").as("sum_dl"))
      val tf = toks.filter(col("token").isin("join", "scan", "vector"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(countDistinct("doc_id").as("df"))
      tf.join(df, "token").join(dl, "doc_id").crossJoin(stats)
        .withColumn("c_fp",
          floor(log(lit(1.0)
              + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
                / (col("df").cast("double") + lit(0.5)))
            * (col("tf").cast("double") * lit(2.2))
            / (col("tf").cast("double") + lit(1.2) * (lit(0.25)
                + lit(0.75) * (col("dl").cast("double") * col("n_docs").cast("double")
                  / col("sum_dl").cast("double"))))
            * lit(1e6)).cast("long"))
        .groupBy("doc_id").agg(sum("c_fp").cast("long").as("bm25_fp"))
        .orderBy(col("bm25_fp").desc, col("doc_id"))
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                   WHERE token IN ('join','scan','vector') GROUP BY 1, 2),
            df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
            contrib AS (
              SELECT tf.doc_id,
                CAST(floor(ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                       / (CAST(df.df AS DOUBLE) + 0.5))
                  * (CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25
                      + 0.75 * (CAST(dl.dl AS DOUBLE) * CAST(stats.n_docs AS DOUBLE)
                        / CAST(stats.sum_dl AS DOUBLE))))
                  * 1e6) AS BIGINT) AS c_fp
              FROM tf JOIN df USING(token) JOIN dl USING(doc_id) CROSS JOIN stats)
            SELECT doc_id, CAST(sum(c_fp) AS BIGINT) AS bm25_fp
            FROM contrib GROUP BY doc_id
            ORDER BY bm25_fp DESC, doc_id LIMIT 20"""))

  /** Deterministic STRATIFIED SAMPLE: 30 docs per language, chosen by
    * rank of md5(doc_id) within the stratum — content-addressed like
    * q65's split, so the sample is reproducible across engines, runs and
    * cluster sizes (no RNG state). One window per stratum; at corpus
    * scale the per-stratum rank is a bounded-key shuffle, and only
    * sampled rows survive. */
  val q86_sample_stratified = QueryDef(
    "q86_sample_stratified",
    (s, dir) => {
      val w = Window.partitionBy("lang").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), rank().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 30)
        .orderBy("lang", "rk", "doc_id")
    },
    Some("""SELECT doc_id, lang, rk FROM (
              SELECT doc_id, lang,
                     CAST(rank() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
              FROM documents)
            WHERE rk <= 30 ORDER BY lang, rk, doc_id"""))

  /** Bigram language-model surprisal gate (the conditional-probability
    * step up from q84's unigram NLL): P(w₂|w₁) is the corpus MLE
    * C(w₁w₂)/C(w₁·), per-doc NLL accumulates floor(ln P·10⁶) as BIGINT,
    * and the keep gate compares mean NLL against 3.4 nats/bigram (the
    * corpus median at both fixture scales, so both classes appear).
    * Every observed bigram has positive probability by construction, so
    * no smoothing term is needed for the gate to be total. */
  val q87_bigram_lm = QueryDef(
    "q87_bigram_lm",
    (s, dir) => {
      val ws = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      // index-explode + scalar concat, not a transform(...) lambda —
      // the SketchOps.shingleStreamOf codegen device (BASELINE.md q201 study:
      // HOFs evaluate interpreted, 2.4× decay under megamorphic JIT)
      val big = ws.select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 2)).as("i"))
        .select(col("doc_id"), concat(
          element_at(col("ws"), col("i") + 1), lit(" "),
          element_at(col("ws"), col("i") + 2)).as("bg"))
      val bgc = big.groupBy("bg").agg(count(lit(1)).as("cb"))
      val uc = bgc.groupBy(split(col("bg"), " ").getItem(0).as("w1"))
        .agg(sum("cb").cast("long").as("cu"))
      big.join(bgc, "bg")
        .join(uc, split(col("bg"), " ").getItem(0) === col("w1"))
        .withColumn("lp_fp",
          floor(log(col("cb").cast("double") / col("cu").cast("double")) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_big"), (-sum("lp_fp")).cast("long").as("nll_fp"))
        .withColumn("keep", col("nll_fp") < col("n_big") * 3400000L)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
            big AS (SELECT doc_id,
                      unnest(list_transform(range(len(ws)-1), i -> ws[i+1] || ' ' || ws[i+2])) AS bg
                    FROM w WHERE len(ws) >= 2),
            bgc AS (SELECT bg, count(*) AS cb FROM big GROUP BY bg),
            uc AS (SELECT string_split(bg,' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cu
                   FROM bgc GROUP BY 1),
            lp AS (SELECT b.doc_id,
                     CAST(floor(ln(CAST(c.cb AS DOUBLE)/CAST(u.cu AS DOUBLE))*1e6) AS BIGINT) AS lp_fp
                   FROM big b JOIN bgc c USING(bg)
                   JOIN uc u ON string_split(b.bg,' ')[1] = u.w1)
            SELECT doc_id, count(*) AS n_big,
                   CAST(-sum(lp_fp) AS BIGINT) AS nll_fp,
                   CAST(-sum(lp_fp) AS BIGINT) < count(*) * 3400000 AS keep
            FROM lp GROUP BY doc_id ORDER BY doc_id"""))

  /** Zipf's-law fit of the token rank–frequency curve: least-squares
    * slope/intercept of ln(freq) on ln(rank) over the top-500 tokens.
    * The regression moments are fixed-point BIGINT sums (exact, order
    * free); the closed-form slope divides the two exactly-computed
    * moments in DOUBLE (identical operands ⇒ identical IEEE results),
    * rounded to 6 dp for the 1-ulp ln() safety margin (q81's rule).
    * A healthy natural corpus fits slope ≈ −1; this synthetic word salad
    * is near-uniform (slope ≈ 0) — exactly what the diagnostic flags. */
  val q92_zipf_fit = QueryDef(
    "q92_zipf_fit",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
      // top-500 FIRST via orderBy+limit (Spark plans TakeOrdered — a
      // distributed per-partition top-k + merge), THEN rank the bounded
      // 500 rows. The former global row_number pushed the ENTIRE vocab
      // through one single-partition sort window — the classic
      // 100 TB-unsafe shape (found by the round-7 WindowExec audit).
      val ranked = tf
        .orderBy(col("tf").desc, col("token"))
        .limit(500)
        .select(col("tf"), row_number().over(
          Window.orderBy(col("tf").desc, col("token"))).as("rk"))
        .select(
          floor(log(col("rk").cast("double")) * 1e6).cast("long").as("x"),
          floor(log(col("tf").cast("double")) * 1e6).cast("long").as("y"))
      ranked
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(
          col("n").cast("long").as("n_tokens"),
          round((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
            / (col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 6).as("slope"),
          round((col("sy").cast("double") / 1e6
              - ((col("n").cast("double") * col("sxy").cast("double")
                  - col("sx").cast("double") * col("sy").cast("double"))
                / (col("n").cast("double") * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double")))
                * (col("sx").cast("double") / 1e6))
            / col("n").cast("double"), 6).as("intercept"))
    },
    Some("""WITH tf AS (
              SELECT token, count(*) AS tf
              FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
              GROUP BY token),
            ranked AS (
              SELECT CAST(floor(ln(CAST(rk AS DOUBLE))*1e6) AS BIGINT) AS x,
                     CAST(floor(ln(CAST(tf AS DOUBLE))*1e6) AS BIGINT) AS y
              FROM (SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS rk FROM tf)
              WHERE rk <= 500),
            m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
                  FROM ranked)
            SELECT CAST(n AS BIGINT) AS n_tokens,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
                   round((CAST(sy AS DOUBLE) / 1e6
                       - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                         * (CAST(sx AS DOUBLE) / 1e6))
                     / CAST(n AS DOUBLE), 6) AS intercept
            FROM m"""))

  /** Skip-bigram co-occurrence PMI (word2vec-style window ±2): pairs
    * form ARRAY-SIDE per document (two linear transforms over the token
    * array — never a positional self-join, which would be O(doclen²)
    * rows per doc), then one bounded-key aggregation per pair and a
    * broadcast join back to the unigram counts. PMI =
    * ln(c_ab·N / (c_a·c_b)) on doubles derived from exact BIGINT counts
    * with identical operation order in both engines, floored to
    * fixed-point. Support floor c_ab ≥ 20 keeps the output the
    * high-signal head.
    *
    * N (total skip-gram count) comes from per-doc ARITHMETIC —
    * Σ(2·len−3) on the token-array lengths — never from re-running the
    * pair explode as a second aggregation subtree (the original form's
    * hidden 2× cost: `pairs.agg(sum(c_ab))` recomputes the whole
    * explode+shuffle because Spark does not share subtrees across
    * actions in one plan).
    *
    * Negative result, measured before settling on this shape: a
    * heavy-hitter two-pass (count 8-byte xxhash64 keys first, re-count
    * exact strings only for hashes ≥ the support floor) prunes NOTHING
    * here — this corpus's vocabulary is tiny, so 907 of 931 distinct
    * pairs are heavy and cover 99.93% of the 526k sf0.1 occurrences,
    * while the bounded pair cardinality already collapses map-side in
    * the single-pass form. The two-pass paid a third explode for a
    * 0.07% shuffle reduction. Keep the single pass; the two-pass is
    * the right shape only when the pair distribution has a long unique
    * tail (real natural-language corpora at high support floors). */
  val q105_cooccur_pmi = QueryDef(
    "q105_cooccur_pmi",
    (s, dir) => {
      // ≥3 tokens so both skip-distances exist (Spark's sequence() turns
      // DESCENDING when start > stop — an empty range must never occur)
      val docs = t(s, dir, "documents")
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
      // ONE index-explode over both skip distances, fully codegen'd
      // (the shingleStreamOf device; the former form built two
      // transform(...) lambda arrays per row on the interpreted path):
      // k ∈ [1, 2n−3] encodes skip-1 pairs at k ≤ n−1 and skip-2 pairs
      // at k > n−1 (j = k−n+1) — same multiset, n−1 + n−2 rows per doc.
      val pairs = docs
        .select(col("ws"), size(col("ws")).as("n"),
          explode(sequence(lit(1), size(col("ws")) * 2 - 3)).as("k"))
        .select(expr(
          """concat_ws(' ',
               element_at(ws, CASE WHEN k <= n - 1 THEN k ELSE k - n + 1 END),
               element_at(ws, CASE WHEN k <= n - 1 THEN k + 1 ELSE k - n + 3 END))""")
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).cast("long").as("c_ab"))
        .withColumn("w1", expr("split(pair, ' ')[0]"))
        .withColumn("w2", expr("split(pair, ' ')[1]"))
      // ScratchMemo: TWO consumers (the w1 and w2 joins) — without a
      // materialization each join recomputes the full token
      // explode+aggregate (Spark plans the subtree per join;
      // ReuseExchange does not fire across the differently-aliased
      // broadcasts). The memo holds the bounded vocabulary table, not
      // the corpus, and is keyed per (session, fixture dir) with the
      // shared scratch lifecycle — the earlier localCheckpoint(true)
      // pinned RDD blocks that clearCache() never freed, so repeated
      // q105 invocations in one session accreted storage (round-7
      // advice item 1).
      val uni = ScratchMemo("pmi-uni", s, dir) {
        docs.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).cast("long").as("c"))
      }
      val n = docs.agg(sum(size(col("ws")).cast("long") * 2 - 3).cast("long").as("n_pairs"))
      pairs.filter(col("c_ab") >= 20)
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
        .crossJoin(n)
        .withColumn("pmi_fp",
          floor(log(col("c_ab").cast("double") * col("n_pairs").cast("double")
            / (col("c_a").cast("double") * col("c_b").cast("double"))) * lit(1e6))
            .cast("long"))
        .select(col("pair"), col("c_ab"), col("pmi_fp"))
        .orderBy(col("pmi_fp").desc, col("pair"))
        .limit(30)
    },
    Some("""WITH docs AS (SELECT string_split(text, ' ') AS ws FROM documents
                          WHERE len(string_split(text, ' ')) >= 3),
            p1 AS (SELECT ws[i] || ' ' || ws[i + 1] AS pair
                   FROM docs, unnest(range(1, len(ws))) AS t(i)),
            p2 AS (SELECT ws[i] || ' ' || ws[i + 2] AS pair
                   FROM docs, unnest(range(1, len(ws) - 1)) AS t(i)),
            pairs AS (SELECT pair, CAST(count(*) AS BIGINT) AS c_ab
                      FROM (SELECT pair FROM p1 UNION ALL SELECT pair FROM p2)
                      GROUP BY pair),
            uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                    FROM (SELECT unnest(ws) AS w FROM docs) GROUP BY w),
            n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_pairs FROM pairs)
            SELECT pair, c_ab,
                   CAST(floor(ln(CAST(c_ab AS DOUBLE) * CAST(n_pairs AS DOUBLE)
                     / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_fp
            FROM pairs
            JOIN uni a ON a.w = string_split(pair, ' ')[1]
            JOIN uni b ON b.w = string_split(pair, ' ')[2]
            CROSS JOIN n
            WHERE c_ab >= 20
            ORDER BY pmi_fp DESC, pair LIMIT 30"""))

  override val defs: Seq[QueryDef] = Seq(
    q85_bm25, q86_sample_stratified, q87_bigram_lm, q92_zipf_fit,
    q105_cooccur_pmi)
}
