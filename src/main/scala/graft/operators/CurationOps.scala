package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Corpus-curation operators — the remaining filters every large-scale
  * training-data pipeline runs between raw crawl and training shards:
  * benchmark decontamination, PII scrubbing, repetition-based quality
  * gating (the Gopher/C4 family of rules), and domain-mix resampling.
  *
  * Shapes chosen for 100 TB:
  *  - decontamination is an INVERTED-INDEX equi-join on n-gram keys
  *    (never corpus × benchmark), the same pattern as q43;
  *  - scrubbing and mix assignment are map-only single passes;
  *  - repetition metrics use explode → two-level partial aggregation
  *    (per (doc, gram), then per doc) instead of per-row O(n²) array
  *    loops, so skewy long documents still parallelize.
  */
object CurationOps extends QueryModule {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Benchmark decontamination: flag training docs sharing any word
    * 5-gram with a held-out eval set (here: every 50th doc stands in
    * for the benchmark). Both sides shingle once, dedupe per doc, and
    * meet in an equi-join on the 64-bit gram key — work is proportional
    * to true overlap, not to |corpus| × |benchmark|. The join key is
    * xxhash64 (8-byte shuffle rows); the oracle joins the raw grams —
    * identical counts absent 64-bit collisions (none in the fixtures). */
  val q70_decontaminate = QueryDef(
    "q70_decontaminate",
    (s, dir) => {
      // index-explode + scalar hash, not a transform(...) lambda — the
      // SketchOps.shingleStreamOf codegen device (BASELINE.md q201 study)
      val grams = t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 5)
        .select(col("doc_id"), col("words"),
          explode(sequence(lit(0), size(col("words")) - 5)).as("i"))
        .select(col("doc_id"), expr(
          "xxhash64(concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]))")
          .as("g"))
        .distinct()
      val bench = grams.filter(col("doc_id") % 50 === 0)
        .select(col("g"), col("doc_id").as("bench_id"))
      // the benchmark side is bounded BY CONSTRUCTION (eval suites stay
      // eval-suite-sized at any corpus scale), so broadcast it — the
      // corpus grams then never shuffle on g (post-distinct stats are
      // unknown to the planner, which otherwise sort-merges both sides)
      grams.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_grams_shared"),
          countDistinct(col("bench_id")).as("n_bench_hits"))
        .orderBy("doc_id")
    },
    Some("""WITH grams AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(len(string_split(text, ' ')) - 4),
                       i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                            || ' ' || string_split(text, ' ')[i+3] || ' ' || string_split(text, ' ')[i+4]
                            || ' ' || string_split(text, ' ')[i+5])) AS g
              FROM documents WHERE len(string_split(text, ' ')) >= 5),
            bench AS (SELECT g, doc_id AS bench_id FROM grams WHERE doc_id % 50 = 0)
            SELECT c.doc_id,
                   count(DISTINCT c.g) AS n_grams_shared,
                   count(DISTINCT b.bench_id) AS n_bench_hits
            FROM grams c JOIN bench b ON c.g = b.g
            WHERE c.doc_id % 50 <> 0
            GROUP BY c.doc_id ORDER BY c.doc_id"""))

  /** PII scrubbing: token-level denylist replacement plus regex
    * redaction of email-shaped and long-digit-run spans, with per-doc
    * counts and a content hash of the scrubbed text so the oracle
    * verifies the EXACT rewritten bytes, not just the counts. The
    * corpus is synthetic word salad, so the email/digit patterns
    * exercise the zero-match path and the denylist the real-match path;
    * the plan is a map-only scan either way. */
  val q71_pii_scrub = QueryDef(
    "q71_pii_scrub",
    (s, dir) => {
      val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+"
      val digitPat = "[0-9][0-9][0-9]+"
      t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .withColumn("scrub", regexp_replace(regexp_replace(
          expr("concat_ws(' ', transform(words, w -> CASE WHEN w = 'customer' THEN '<ID>' ELSE w END))"),
          emailPat, "<EMAIL>"), digitPat, "<NUM>"))
        .select(col("doc_id"),
          expr("CAST(size(filter(words, w -> w = 'customer')) AS BIGINT)").as("n_deny"),
          expr(s"CAST(size(regexp_extract_all(text, '$emailPat', 0)) AS BIGINT)").as("n_email"),
          expr(s"CAST(size(regexp_extract_all(text, '$digitPat', 0)) AS BIGINT)").as("n_digit"),
          md5(col("scrub")).as("scrub_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '), w -> w = 'customer')) AS BIGINT) AS n_deny,
            CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+')) AS BIGINT) AS n_email,
            CAST(len(regexp_extract_all(text, '[0-9][0-9][0-9]+')) AS BIGINT) AS n_digit,
            md5(regexp_replace(regexp_replace(
              array_to_string(list_transform(string_split(text, ' '),
                w -> CASE WHEN w = 'customer' THEN '<ID>' ELSE w END), ' '),
              '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+', '<EMAIL>', 'g'),
              '[0-9][0-9][0-9]+', '<NUM>', 'g')) AS scrub_md5
            FROM documents ORDER BY doc_id"""))

  /** Repetition-based quality gate (the Gopher rules' 2-gram family):
    * fraction of 2-grams that are duplicates and the top 2-gram's share,
    * with a keep flag at fixed thresholds. Aggregates per (doc, gram)
    * first — partial map-side combine — then per doc: no per-row O(n²)
    * array scan, so a pathological 1 GB document still parallelizes. */
  val q72_quality_repetition = QueryDef(
    "q72_quality_repetition",
    (s, dir) => {
      // index-explode + scalar concat_ws (the shingleStreamOf codegen
      // device, BASELINE.md q201 study)
      val grams = t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 2)
        .select(col("doc_id"), col("words"),
          explode(sequence(lit(0), size(col("words")) - 2)).as("i"))
        .select(col("doc_id"),
          expr("concat_ws(' ', words[i], words[i+1])").as("gram"))
      grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").cast("long").as("n_2g"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).cast("long").as("n_dup_2g"),
          (max("cnt").cast("double") / sum("cnt").cast("double")).as("top_frac"),
          (sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).cast("double")
            / sum("cnt").cast("double")).as("dup_frac"))
        .withColumn("keep", col("top_frac") <= 0.2 && col("dup_frac") <= 0.3)
        .orderBy("doc_id")
    },
    Some("""WITH g AS (
              SELECT doc_id,
                     unnest(list_transform(range(len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS gram
              FROM documents WHERE len(string_split(text, ' ')) >= 2),
            c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_2g,
                   CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_2g,
                   CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac,
                   CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                     / CAST(sum(cnt) AS DOUBLE) AS dup_frac,
                   (CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) <= 0.2
                     AND CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                       / CAST(sum(cnt) AS DOUBLE) <= 0.3) AS keep
            FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** Domain-mix resampling: downsample each source tier to a target
    * weight (full / half / quarter) with the same content-addressed
    * md5-bucket trick as q65 under a distinct salt — the assignment is
    * reproducible per document on any engine, any partitioning, any
    * corpus subset, and composes with q65's split without correlation
    * (different salt ⇒ independent buckets). Map-only + tiny agg. */
  val q73_domain_mix = QueryDef(
    "q73_domain_mix",
    (s, dir) => t(s, dir, "documents")
      .withColumn("h", md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("bucket",
        (expr("instr('0123456789abcdef', substring(h, 1, 1)) - 1") * 16
          + expr("instr('0123456789abcdef', substring(h, 2, 1)) - 1")).cast("long"))
      .withColumn("thresh",
        when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 256L)
          .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 128L)
          .otherwise(64L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("thresh"), 1L).otherwise(0L)).cast("long").as("n_kept"))
      .withColumn("kept_frac", col("n_kept").cast("double") / col("n_docs").cast("double"))
      .orderBy("source"),
    Some("""WITH assigned AS (
              SELECT source,
                     (instr('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                       + (instr('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket,
                     CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4') THEN 256
                          WHEN source IN ('src5', 'src6', 'src7', 'src8', 'src9') THEN 128
                          ELSE 64 END AS thresh
              FROM documents)
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN bucket < thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN bucket < thresh THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS kept_frac
            FROM assigned GROUP BY source ORDER BY source"""))

  /** GPT-style sequence packing: concatenate each shard's documents in
    * a deterministic order and chunk the token stream every B tokens —
    * the packing step that turns a cleaned corpus into fixed-length
    * training sequences. Per (shard, sequence): how many documents
    * overlap it and its token count (B everywhere but each shard's
    * tail). Packing is a running sum, which is inherently sequential —
    * so it runs per SHARD (content-addressed md5 shard, the unit a real
    * pipeline packs independently): the window's partition key makes the
    * cumulative sum parallel across shards and the global-sort
    * bottleneck never appears. A document straddling a boundary fans
    * out to each sequence it overlaps via an index range explode. */
  val q74_sequence_pack = QueryDef(
    "q74_sequence_pack",
    (s, dir) => {
      val B = 256
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("shard", (expr(
          "instr('0123456789abcdef', substring(md5(concat('pack:', CAST(doc_id AS STRING))), 1, 1)) - 1")
          % 8).cast("long"))
        .withColumn("cum", sum("n_tok").over(w))
        .withColumn("tok_start", col("cum") - col("n_tok"))
        .select(col("shard"), col("tok_start"), col("cum"),
          explode(expr(s"sequence(CAST(floor(tok_start / $B.0) AS BIGINT), " +
            s"CAST(floor((cum - 1) / $B.0) AS BIGINT))")).as("seq_id"))
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("cum"), (col("seq_id") + 1) * B)
            - greatest(col("tok_start"), col("seq_id") * B)).cast("long").as("n_tokens"))
        .orderBy("shard", "seq_id")
    },
    Some("""WITH d AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                     CAST((instr('0123456789abcdef', substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS BIGINT) AS shard
              FROM documents),
            c AS (
              SELECT shard, n_tok,
                     sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM d),
            spans AS (
              SELECT shard, cum - n_tok AS tok_start, cum,
                     unnest(range(CAST(floor((cum - n_tok) / 256.0) AS BIGINT),
                                  CAST(floor((cum - 1) / 256.0) AS BIGINT) + 1)) AS seq_id
              FROM c)
            SELECT shard, seq_id,
                   count(*) AS n_docs,
                   CAST(sum(least(cum, (seq_id + 1) * 256) - greatest(tok_start, seq_id * 256)) AS BIGINT) AS n_tokens
            FROM spans GROUP BY 1, 2 ORDER BY shard, seq_id"""))

  /** Distributed batch model inference, linear-scorer form: every doc
    * scores against FIXED published weights (a distilled quality
    * classifier's linear head) over cheap lexical features, gated at
    * the decision boundary. No transcendentals — the sigmoid is
    * monotone, so gating on z > 0 is gating on p > 0.5, and the score
    * ships as fixed-point z rather than an exp() whose last ulp can
    * differ between libm implementations. The shape of classifier-based
    * corpus filtering at 100 TB: embarrassingly parallel projection,
    * zero shuffles before the final order. */
  val q111_model_gate = QueryDef(
    "q111_model_gate",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          expr("size(split(text, ' '))").cast("long").as("n_tok"), col("n_chars"))
        .withColumn("mean_wlen",
          col("n_chars").cast("double") / col("n_tok").cast("double"))
        .withColumn("z_fp",
          floor((lit(0.8) * col("mean_wlen")
            - lit(0.002) * col("n_tok").cast("double") - lit(3.0)) * lit(1e6)).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("z_fp"),
          (col("z_fp") > 0).as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
              SELECT doc_id, lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                     n_chars
              FROM documents)
            SELECT doc_id, lang, n_tok,
                   CAST(floor((0.8 * (CAST(n_chars AS DOUBLE) / CAST(n_tok AS DOUBLE))
                     - 0.002 * CAST(n_tok AS DOUBLE) - 3.0) * 1e6) AS BIGINT) AS z_fp,
                   CAST(floor((0.8 * (CAST(n_chars AS DOUBLE) / CAST(n_tok AS DOUBLE))
                     - 0.002 * CAST(n_tok AS DOUBLE) - 3.0) * 1e6) AS BIGINT) > 0 AS keep
            FROM f ORDER BY doc_id"""))

  /** Boilerplate-SPAN dedup (the C4/RefinedWeb line-level rule, at the
    * granularity this corpus affords): chunk each document into DISJOINT
    * 3-word spans (the fixture text has no newlines — spans stand in
    * for lines), count each span's document frequency across the
    * corpus, and per document report how much of it is boilerplate
    * (spans appearing in ≥ 3 documents), a keep flag, and the md5 of
    * the text REWRITTEN with boilerplate spans removed — the oracle
    * checks the exact cleaned bytes, not just counts.
    *
    * This is the cross-document complement of q72's within-document
    * repetition gate and differs from q43's near-dup shingles: spans
    * are disjoint (each token counted once), the frequency is corpus-
    * global, and the output is a REWRITE decision per span.
    *
    * Scale: the span table is linear in corpus tokens; the frequency
    * aggregate and the span⋈frequency join both key on the span text
    * (production would key on xxhash64 of it — 8-byte shuffle rows —
    * exactly like q70; the oracle joins raw text, so this form does
    * too). Map-side combine applies on both aggregations; the rewrite
    * is a per-doc sorted collect of its own spans, bounded by document
    * length, never by corpus size. */
  val q178_span_boilerplate = QueryDef(
    "q178_span_boilerplate",
    (s, dir) => {
      // index-explode + scalar concat_ws (the shingleStreamOf codegen
      // device, BASELINE.md q201 study); the exploded index IS posexplode's pos
      val segs = t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), col("words"),
          explode(sequence(lit(0), expr("size(words) div 3 - 1"))).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr("concat_ws(' ', words[3*pos], words[3*pos+1], words[3*pos+2])").as("seg"))
      val freq = segs.select("doc_id", "seg").distinct()
        .groupBy("seg").agg(count(lit(1)).cast("long").as("df"))
      segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("long").as("n_seg"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).cast("long").as("n_bp"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN df < 3 THEN struct(pos, seg) END)), x -> x.seg)"),
            " ")).as("clean_md5"))
        .withColumn("bp_ratio_fp", expr("n_bp * 1000000 div n_seg"))
        .withColumn("keep", col("bp_ratio_fp") < 300000)
        .select("doc_id", "n_seg", "n_bp", "bp_ratio_fp", "keep", "clean_md5")
        .orderBy("doc_id")
    },
    Some("""WITH doc AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents
              WHERE len(string_split(text, ' ')) >= 3),
            segs AS (
              SELECT doc_id, u.pos AS pos, u.seg AS seg
              FROM (SELECT doc_id, unnest(list_transform(range(len(ws) // 3),
                      i -> struct_pack(pos := i,
                        seg := ws[3*i+1] || ' ' || ws[3*i+2] || ' ' || ws[3*i+3]))) AS u
                    FROM doc)),
            freq AS (
              SELECT seg, CAST(count(*) AS BIGINT) AS df
              FROM (SELECT DISTINCT doc_id, seg FROM segs) GROUP BY seg),
            per_doc AS (
              SELECT s.doc_id,
                     CAST(count(*) AS BIGINT) AS n_seg,
                     CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bp,
                     md5(coalesce(string_agg(s.seg, ' ' ORDER BY s.pos)
                       FILTER (WHERE df < 3), '')) AS clean_md5
              FROM segs s JOIN freq f ON s.seg = f.seg
              GROUP BY s.doc_id)
            SELECT doc_id, n_seg, n_bp,
                   n_bp * 1000000 // n_seg AS bp_ratio_fp,
                   (n_bp * 1000000 // n_seg) < 300000 AS keep,
                   clean_md5
            FROM per_doc ORDER BY doc_id"""))

  override val defs: Seq[QueryDef] = Seq(
    q70_decontaminate, q71_pii_scrub, q72_quality_repetition, q73_domain_mix,
    q74_sequence_pack, q111_model_gate, q178_span_boilerplate)
}
