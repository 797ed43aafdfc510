package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication family over `documents` (SURVEY.md §2.2 LLM-pipeline +
  * the builder mandate): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design, since dedup is THE quadratic trap at 100 TB:
  *  - exact: one hash-groupBy — linear, one shuffle on the digest.
  *  - n-gram Jaccard: pairs are generated ONLY for docs sharing a
  *    shingle (inverted-index join), never all-pairs.
  *  - MinHash+LSH: linear signature pass, then candidate pairs only
  *    within LSH band buckets — the standard sub-quadratic path; the
  *    Jaccard verify runs on candidates only.
  *  - SimHash: linear signature pass; the pairwise hamming check here
  *    is all-pairs for oracle verifiability, but the signature is the
  *    60-bit banding key you'd bucket on at scale.
  *
  * Everything hashes via md5 (same algorithm in Spark and DuckDB), so
  * signatures — and therefore candidate sets — are engine-identical.
  */
object DedupOps extends QueryModule {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Candidate-pair rows per aggregation task for q132's corpus-derived
    * sizing: 2²² ≈ 4.2M pairs/task is the largest per-task load the
    * 300×/100× stage profiles measured spill-free (see the q132
    * scaladoc). */
  private val PairRowsPerPartition: Long = 1L << 22

  /** Distinct 3-word shingles per doc — the shared pass of the whole
    * text near-dup family, MATERIALIZED once per (session, sf dir) as
    * scratch parquet ([[ScratchMemo]]): q43/q44/q132/q147/q154/q157,
    * the SharedSig builder, and q58's pipeline (via
    * [[sharedShingles]]) all consumed identical explode output, each
    * re-running the split+transform+explode (~0.3–0.5 s each at sf0.1).
    * One build now feeds them all — the round-5 verdict's shared-
    * shingle item; the bench-comparability consequence (whichever
    * family query runs first pays the one-time build) is documented in
    * BASELINE.md. Deterministic content (pure string ops on the
    * fixture), so sharing cannot change any oracle result. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    ScratchMemo("shingles", s, dir) {
      t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(0, size(words) - 3)," +
            " i -> concat_ws(' ', words[i], words[i+1], words[i+2])))")).as("sh"))
    }

  /** The shared shingle table for sibling modules (PipelineOps q58). */
  private[operators] def sharedShingles(s: SparkSession, dir: String): DataFrame =
    shingles(s, dir)

  /** Hashed [[shingles]] (cached) with the doc's distinct-shingle COUNT
    * attached by joining the sizes aggregate back on — a hash aggregate
    * plus one planner-chosen join (broadcast at test scale, shuffle at
    * corpus scale). Not size() on the pre-explode array (duplicates the
    * array construction — 1.7× colder) and not a window count (adds a
    * per-partition sort). The count rides every exploded row so the
    * pair join can apply the set-similarity SIZE FILTER early:
    * J(a,b) ≥ 0.8 forces min(na,nb) ≥ 0.8·max(na,nb), a necessary
    * condition that prunes candidate pairs BEFORE the per-pair
    * aggregation (the classic length filter of set-similarity joins;
    * exact, so the result set — and the oracle — are unchanged).
    *
    * Its own second-level [[ScratchMemo]] (round 7): the hash + size
    * aggregate + join-back ran again on EVERY consumer execution
    * because the `.cache()` here did not survive Verify/Bench's
    * clearCache() hygiene. Materialized once, its three consumers
    * (q43/q132/q147) start from a parquet read of (doc_id, sh, n). */
  private def shinglesHashedN(s: SparkSession, dir: String): DataFrame =
    ScratchMemo("shingles_n", s, dir) {
      val base = shingles(s, dir)
        .select(col("doc_id"), xxhash64(col("sh")).as("sh")).cache()
      base.join(base.groupBy("doc_id").agg(count(lit(1)).as("n")), "doc_id")
    }

  private val shinglesSql =
    """sh AS (
         SELECT DISTINCT doc_id,
                string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
                  || ' ' || string_split(text, ' ')[i+3] AS sh
         FROM documents, unnest(range(len(string_split(text, ' ')) - 2)) AS t(i)
         WHERE len(string_split(text, ' ')) >= 3)"""

  val q42_dedup_exact_stats = QueryDef(
    "q42_dedup_exact_stats",
    (s, dir) => t(s, dir, "documents")
      .agg(count(lit(1)).as("n_total"),
        countDistinct(md5(lower(trim(col("text"))))).as("n_unique"),
        countDistinct(col("lang")).as("n_langs")),
    Some("""SELECT count(*) AS n_total,
            count(DISTINCT md5(lower(trim(text)))) AS n_unique,
            count(DISTINCT lang) AS n_langs
            FROM documents"""))

  /** Near-dup detection via n-gram (3-shingle) Jaccard ≥ 0.8, candidate
    * pairs from an inverted-index self-join on shingles.
    *
    * The join key is xxhash64(shingle), not the shingle string: fixed
    * 8-byte keys shuffle/compare ~2× faster than ~25-char strings
    * (measured 2.5s → 2.0s warm at sf0.1). xxhash64 is deterministic, so
    * the result is reproducible; a spurious candidate would need a
    * 64-bit collision between two of the corpus's distinct shingles
    * (~1e-9 at 260k shingles) — and candidates are still verified by the
    * exact Jaccard threshold downstream. Output columns are unchanged. */
  val q43_dedup_ngram_jaccard = QueryDef(
    "q43_dedup_ngram_jaccard",
    (s, dir) => {
      val sh = shinglesHashedN(s, dir)
      val a = sh.select(col("doc_id").as("a"), col("n").as("na"), col("sh"))
      val b = sh.select(col("doc_id").as("b"), col("n").as("nb"), col("sh"))
      // size filter (5·min ≥ 4·max ⟺ ratio ≥ 0.8, exact in integers)
      // prunes pairs BEFORE the per-pair aggregation; carrying na/nb as
      // grouping keys also removes the two post-agg sizes joins.
      val common = a.join(b, Seq("sh"))
        .filter(col("a") < col("b")
          && col("na") * 5 >= col("nb") * 4 && col("nb") * 5 >= col("na") * 4)
        .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("c"))
      common
        .withColumn("jac", col("c") / (col("na") + col("nb") - col("c")))
        .filter(col("jac") >= 0.8)
        .select(col("a"), col("b"), col("jac"))
        .orderBy("a", "b")
    },
    Some(s"""WITH $shinglesSql,
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id)
            SELECT a, b, c / (sa.n + sb.n - c) AS jac
            FROM common
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE c / (sa.n + sb.n - c) >= 0.8
            ORDER BY a, b"""))

  /** The q43 near-dup pair set materialized ONCE per (session, sf dir):
    * scratch-parquet, memoized, so the funnel's consumers (q68
    * clustering, q94 graph stats, q144 survivorship) share one
    * materialization instead of each re-running the shingle + inverted-
    * index-join + Jaccard-verify pipeline — the round-4 verdict's "q94
    * recomputes the q43 funnel" fix. Parquet rather than .cache()
    * because Verify/Bench clearCache() between queries (cache hygiene);
    * a file materialization survives that and is exactly what a
    * composed 100 TB pipeline does with this intermediate. Invalidation
    * is per (session identity, dir) via [[ScratchMemo]] (no session
    * pinning, shutdown-hook cleanup): a fresh session — each driver
    * run — re-materializes; within a run the pair set is immutable.
    * q43 itself still computes the full funnel (it IS the measured
    * operator); consumers read the ~|pairs| result, preserving their
    * oracle semantics unchanged. */
  private object SharedPairs {
    // full q43 output (a, b, jac): the score rides along for free
    // and lets score-consuming evals (q154) skip the funnel too
    def apply(s: SparkSession, dir: String): DataFrame =
      ScratchMemo("pairs", s, dir) { q43_dedup_ngram_jaccard.run(s, dir) }
  }

  /** q44's 8-window MinHash signature table, materialized once per
    * (session, sf dir) — same scratch-parquet design as [[SharedPairs]].
    * The eval consumers (q154 estimate error, q157 band precision) read
    * it instead of each re-running the shingle + double-md5 signature
    * pass; q44 itself still computes the full pass (it is the measured
    * operator). */
  private object SharedSig {
    def apply(s: SparkSession, dir: String): DataFrame =
      ScratchMemo("sig", s, dir) {
        val hashed = shingles(s, dir)
          .withColumn("h2", concat(md5(col("sh")), md5(concat(lit("1"), col("sh")))))
        val sigCols = (0 to 7).map(i =>
          min(substring(col("h2"), i * 8 + 1, 8)).as(s"m$i"))
        hashed.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      }
  }

  /** MinHash (8 signatures) + LSH banding (4 bands × 2 rows): emits
    * candidate pairs that share any band. Sub-quadratic: only
    * bucket-mates ever meet.
    *
    * The 8 hash functions are the 8 NON-OVERLAPPING 32-bit (8-hex)
    * windows of md5(sh) || md5('1' || sh) — two digest passes, not
    * eight. Disjoint bit-ranges of independent digests are independent
    * uniform hashes, which is load-bearing at scale: round 2 used
    * OVERLAPPING stride-4 windows of one digest, so a single low-digest
    * shingle shared by many docs could win all 8 mins at once and weld
    * those docs into one all-band clique — a quadratic hot bucket at
    * 100× corpus. With independent windows a shingle that is minimal
    * under hash i is not preferentially minimal under hash j, so band
    * keys decorrelate (pinned by BandedLshSpec's hot-shingle fixture). */
  val q44_dedup_minhash_lsh = QueryDef(
    "q44_dedup_minhash_lsh",
    (s, dir) => {
      val hashed = shingles(s, dir)
        .withColumn("h2", concat(md5(col("sh")), md5(concat(lit("1"), col("sh")))))
      val sigCols = (0 to 7).map(i =>
        min(substring(col("h2"), i * 8 + 1, 8)).as(s"m$i"))
      val sig = hashed.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      // cache: both sides of the bucket join scan the banded signatures —
      // without it the shingle+md5 signature pass runs twice.
      val bands = sig.select(col("doc_id"), posexplode(array(
        concat(col("m0"), col("m1")), concat(col("m2"), col("m3")),
        concat(col("m4"), col("m5")), concat(col("m6"), col("m7")))))
        .toDF("doc_id", "band", "key")
        .cache()
      val l = bands.select(col("band"), col("key"), col("doc_id").as("a"))
      val r = bands.select(col("band"), col("key"), col("doc_id").as("b"))
      l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
        .select("a", "b").distinct()
        .orderBy("a", "b")
    },
    Some(s"""WITH $shinglesSql,
            hashed AS (
              SELECT doc_id, md5(sh) || md5('1' || sh) AS h2 FROM sh),
            sig AS (
              SELECT doc_id,
                min(substr(h2,  1, 8)) AS m0,
                min(substr(h2,  9, 8)) AS m1,
                min(substr(h2, 17, 8)) AS m2,
                min(substr(h2, 25, 8)) AS m3,
                min(substr(h2, 33, 8)) AS m4,
                min(substr(h2, 41, 8)) AS m5,
                min(substr(h2, 49, 8)) AS m6,
                min(substr(h2, 57, 8)) AS m7
              FROM hashed GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band, m0 || m1 AS key FROM sig UNION ALL
              SELECT doc_id, 1 AS band, m2 || m3 AS key FROM sig UNION ALL
              SELECT doc_id, 2 AS band, m4 || m5 AS key FROM sig UNION ALL
              SELECT doc_id, 3 AS band, m6 || m7 AS key FROM sig)
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
            ORDER BY a, b"""))

  /** SimHash: 60-bit signature (15 md5 nibbles × 4 bits), majority vote
    * over word hashes, packed into a BIGINT; near-dups = pairs with
    * hamming distance ≤ 4 (true near-dups sit at mean 3.4 on this corpus;
    * random pairs only appear from distance 5 up).
    *
    * Candidate generation is EXACT banded LSH, not all-pairs: the 60-bit
    * signature splits into 5 bands × 12 bits, and by pigeonhole any pair
    * with hamming ≤ 4 has ≤ 4 differing bits touching ≤ 4 bands — at
    * least one band matches exactly. So an equi-join on (band, key)
    * finds every qualifying pair (zero false negatives), the hamming
    * filter then discards band-collision noise, and the quadratic
    * all-pairs comparison disappears — this is the plan that survives a
    * 100×-corpus scale-up. The DuckDB oracle keeps the all-pairs form,
    * which pins the exactness claim query-wide. */
  /** MINHASH SIGNATURE-QUALITY evaluation: for every verified near-dup
    * pair (the q43 exact-Jaccard ≥ 0.8 set), compare the 8-permutation
    * MinHash ESTIMATE (agreeing signature components / 8 — q44's exact
    * signature construction) against the exact Jaccard. E[est] = J per
    * the MinHash property; with 8 perms the per-pair deviation is
    * σ = √(J(1−J)/8) ≈ 0.13 at J ≈ 0.85, and this operator is how a
    * pipeline MEASURES that before choosing signature length (the
    * q44 scaladoc's independence argument, now verifiable in data).
    * All outputs are integer fixed-point; the estimate is a ratio of
    * small ints and the exact side floors the same IEEE double both
    * engines compute. Cost: the q43 funnel + one signature aggregation
    * joined on the (tiny) verified pair set — linear. */
  val q154_minhash_estimate = QueryDef(
    "q154_minhash_estimate",
    (s, dir) => {
      val sig = SharedSig(s, dir)
      val pairs = SharedPairs(s, dir) // a, b, jac (exact — the full q43 output)
      val sa = sig.select(col("doc_id").as("a") +: (0 to 7).map(i => col(s"m$i").as(s"a$i")): _*)
      val sb = sig.select(col("doc_id").as("b") +: (0 to 7).map(i => col(s"m$i").as(s"b$i")): _*)
      val agree = (0 to 7).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
      pairs.join(sa, "a").join(sb, "b")
        .withColumn("n_agree", agree)
        .select(col("a"), col("b"), col("n_agree"),
          expr("n_agree * 1000000 div 8").as("est_fp"),
          expr("CAST(floor(jac * 1000000) AS BIGINT)").as("jac_fp"))
        .withColumn("abs_err_fp", abs(col("est_fp") - col("jac_fp")))
        .orderBy("a", "b")
    },
    Some(s"""WITH $shinglesSql,
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id),
            pairs AS (
              SELECT a, b, c / (sa.n + sb.n - c) AS jac
              FROM common
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE c / (sa.n + sb.n - c) >= 0.8),
            hashed AS (
              SELECT doc_id, md5(sh) || md5('1' || sh) AS h2 FROM sh),
            sig AS (
              SELECT doc_id,
                ${(0 to 7).map(i => s"min(substr(h2, ${i * 8 + 1}, 8)) AS m$i").mkString(",\n                ")}
              FROM hashed GROUP BY doc_id)
            SELECT a, b,
                   CAST(${(0 to 7).map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_agree,
                   CAST((${(0 to 7).map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")}) * 1000000 // 8 AS BIGINT) AS est_fp,
                   CAST(floor(jac * 1000000) AS BIGINT) AS jac_fp,
                   abs(CAST((${(0 to 7).map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ")}) * 1000000 // 8 AS BIGINT)
                       - CAST(floor(jac * 1000000) AS BIGINT)) AS abs_err_fp
            FROM pairs
            JOIN sig x ON x.doc_id = a
            JOIN sig y ON y.doc_id = b
            ORDER BY a, b"""))

  val q45_dedup_simhash = QueryDef(
    "q45_dedup_simhash",
    (s, dir) => {
      // One md5 per word, parsed ONCE into a 60-bit long (`conv` of the
      // 15-hex prefix); the 60 bit-votes are conditional aggregates over
      // that single column — no 60-way row explosion, one aggregation.
      // Bit b reads the same nibble/bit as the round-2 per-nibble form
      // (hex char b/4, bit b%4 — char 1 is the MOST significant nibble
      // of the conv value, hence the (14 - b/4) shift), so signature
      // values — and the oracle — are unchanged. vs 15 substring+instr
      // columns this shrinks the generated code ~10×: the old stage blew
      // past the JIT's huge-method limit and ran interpreted until C2
      // caught up (23.6s cold, 0.9s hot at sf0.1).
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)").as("whv"))
      val voteCols = (0 until 60).map { bit =>
        val shift = (14 - bit / 4) * 4 + bit % 4
        sum(expr(s"CAST(shiftright(whv, $shift) & 1 AS INT) * 2 - 1")).as(s"v$bit")
      }
      val votes = words.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      val packed = (0 until 60).map(bit =>
        expr(s"CASE WHEN v$bit > 0 THEN CAST(${1L << bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
        .reduce(_ + _)
      // cache: both join sides read the signature table — without it the
      // whole word-explode + 60-vote aggregation runs twice.
      val simhash = votes.select(col("doc_id"), packed.as("simhash")).cache()
      val bands = simhash.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 5).map(bd =>
          expr(s"CAST(shiftright(simhash, ${bd * 12}) & 4095 AS INT)")): _*)))
        .toDF("doc_id", "simhash", "band", "key")
      val l = bands.select(col("band"), col("key"), col("doc_id").as("a"), col("simhash").as("ha"))
      val r = bands.select(col("band"), col("key"), col("doc_id").as("b"), col("simhash").as("hb"))
      l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
        .select("a", "b", "ha", "hb").distinct() // a pair can share >1 band
        .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
        .filter(col("hamming") <= 4)
        .select("a", "b", "hamming")
        .orderBy("a", "b")
    },
    Some("""WITH words AS (
              SELECT doc_id, md5(w) AS wh
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
            bits AS (
              SELECT doc_id, bitidx,
                     CASE WHEN sum((((instr('0123456789abcdef',
                            substr(wh, CAST(bitidx // 4 AS INT) + 1, 1)) - 1)
                            >> CAST(bitidx % 4 AS INT)) & 1) * 2 - 1) > 0
                          THEN 1 ELSE 0 END AS bit
              FROM words, unnest(range(60)) AS t(bitidx)
              GROUP BY doc_id, bitidx),
            sig AS (
              SELECT doc_id,
                     CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(bitidx AS INT))) AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id)
            SELECT l.doc_id AS a, r.doc_id AS b,
                   CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
            FROM sig l JOIN sig r ON l.doc_id < r.doc_id
            WHERE bit_count(xor(l.simhash, r.simhash)) <= 4
            ORDER BY a, b"""))

  /** Transitive near-dup CLUSTERS: connected components over the q43
    * Jaccard pair graph — A~B and B~C put A, C in one cluster even
    * when A~C itself misses the threshold, which pairwise "drop the
    * higher id" (q58's step 2) cannot express. One row per clustered
    * doc with its component representative (min doc_id) — scalar-only
    * output, totally ordered.
    *
    * Shape at scale: below the driver threshold the reduced edge list
    * collapses to one in-process union-find; above it, alternating
    * large-star/small-star contraction
    * ([[GraphOps.connectedComponentsWithRounds]]) labels components in
    * O(log² n) edge-shuffle rounds INDEPENDENT of component diameter.
    * The converged fixpoint (min-id labels) is unique regardless of
    * execution order — the DuckDB oracle reaches the same one through a
    * recursive CTE. */
  /** q68's hybrid component labeling (the switch GraphFrames' connected
    * components makes): the DISTRIBUTED heavy lifting — shingling,
    * inverted-index candidate join, Jaccard verify — has already
    * reduced the graph to near-dup edges. Below `smallGraphEdges` the
    * labeling is cheaper as one in-process union-find than as N
    * distributed rounds (each round = 2 jobs); above it, star
    * contraction ([[GraphOps.connectedComponents]], q202's operator)
    * takes over — O(log² n) rounds regardless of component DIAMETER,
    * where the min-label Pregel loop it replaced paid O(diameter)
    * rounds. The default threshold is MEASURED, not estimated
    * (BASELINE.md, "q68 driver union-find: measured, then rebuilt":
    * chains-of-5 at exactly the 5M symmetrized-edge gate): the
    * primitive union-find ([[DriverCc.label]]) peaks at +1.08 GB driver heap (158 MB
    * retained) and labels in 10.4 s where star contraction on the same
    * graph takes 24.9 s — the boxed Row/Map version it replaced peaked
    * at +3.66 GB and 49.2 s, i.e. was BEYOND its crossover. A 100 TB
    * corpus whose dup graph exceeds the gate stays fully distributed.
    * Both branches converge to the
    * SAME unique fixpoint (every clustered doc labeled with its
    * component minimum) — DedupSpec forces the distributed branch on
    * the fixture and asserts equality. */
  /** Test hook: the memoized q43/q68 verified pair set (CcSpec forces
    * [[clusterLabels]]' distributed branch on it). */
  private[graft] def fixturePairs(s: SparkSession, dir: String): DataFrame =
    SharedPairs(s, dir).select("a", "b")

  /** Driver-side connected components over a primitive edge list.
    * Zero boxing: an open-addressing table (linear probing, load
    * ≤ 0.67) maps node ids to dense indices; parent pointers are ints;
    * `minId(root)` carries the component minimum so the final label is
    * the same unique fixpoint as the distributed branch. Worst-case
    * footprint at the q68 threshold (2.5M pairs, every edge two fresh
    * nodes = 5M nodes): edges 40 MB + table 96+32 MB + ids/minId
    * 80 MB + parents 20 MB ≈ 270 MB — measured end-to-end in
    * BASELINE.md, "q68 driver union-find: measured, then rebuilt". */
  private[graft] object DriverCc {
    def label(ea: Array[Long], eb: Array[Long]): (Array[Long], Array[Long]) = {
      val m = ea.length
      val maxNodes = math.max(2, 2 * m)
      var slots = 16
      while (slots < maxNodes * 3L / 2L) slots <<= 1
      val mask = slots - 1
      val keys = new Array[Long](slots)
      val vals = new Array[Int](slots); java.util.Arrays.fill(vals, -1)
      val ids = new Array[Long](maxNodes)
      val minId = new Array[Long](maxNodes)
      val parent = new Array[Int](maxNodes)
      var nNodes = 0
      def idx(k: Long): Int = {
        var h = k * -7046029254386353131L; h ^= (h >>> 32)
        var p = (h & mask).toInt
        while (vals(p) != -1 && keys(p) != k) p = (p + 1) & mask
        if (vals(p) == -1) {
          keys(p) = k; vals(p) = nNodes
          ids(nNodes) = k; minId(nNodes) = k; parent(nNodes) = nNodes
          nNodes += 1
        }
        vals(p)
      }
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      var i = 0
      while (i < m) {
        val ra = find(idx(ea(i))); val rb = find(idx(eb(i)))
        if (ra != rb) {
          // attach the root with the LARGER component-min under the
          // smaller — roots always carry their component minimum, the
          // invariant the old boxed version kept via min/max root ids
          if (minId(ra) <= minId(rb)) parent(rb) = ra
          else parent(ra) = rb
        }
        i += 1
      }
      val labels = new Array[Long](nNodes)
      var j = 0
      while (j < nNodes) { labels(j) = minId(find(j)); j += 1 }
      (java.util.Arrays.copyOf(ids, nNodes), labels)
    }
  }

  private[graft] def clusterLabels(s: SparkSession, pairs0: DataFrame,
                                   smallGraphEdges: Long = 5000000L): DataFrame = {
    // Cache the PAIR frame both branches actually consume (the old gate
    // cached a symmetrized frame only to count it — the symmetrized
    // count is exactly 2× the pair count), and unpersist it before
    // returning: the small branch collects what it needs here, and the
    // distributed branch's labels derive from star contraction's own
    // eager checkpoints ([[Ckpt.ser]] truncates lineage), so neither
    // result retains the cache. Union-find needs each pair ONCE —
    // collecting pairs instead of symmetrized edges also halves the
    // driver rows at the threshold.
    val pairs = pairs0.cache()
    try {
      val cnt = pairs.count()
      if (2L * cnt <= smallGraphEdges) {
        // Primitive-array union-find (round-10 verdict task 7): the
        // boxed Row/Map version peaked far above its 80 MB raw-bytes
        // estimate (BASELINE.md, q68 driver union-find); this one holds the
        // edge list in two long arrays (filled from toLocalIterator —
        // one partition of Rows resident at a time, not all 2.5M), an
        // open-addressing long→dense-index table, and int parent
        // pointers. Same unique fixpoint: every node labeled with its
        // component MINIMUM id.
        // Bound the gate to what DriverCc's Int-sized open-addressing
        // table provably supports: maxNodes = 2*cnt, and the slots
        // doubling loop needs a positive power-of-two ≥ maxNodes*1.5 —
        // at cnt ≥ 2^29 that exceeds 2^30 (the largest power-of-two
        // Int) and `slots <<= 1` would wrap negative. 2^28 pairs keeps
        // slots ≤ 2^30 with headroom; the default gate is 2.5M.
        require(cnt < (1L << 28), s"driver union-find gate passed $cnt pairs")
        val m = cnt.toInt
        val ea = new Array[Long](m); val eb = new Array[Long](m)
        val it = pairs.toLocalIterator(); var i = 0
        while (it.hasNext) {
          val r = it.next(); ea(i) = r.getLong(0); eb(i) = r.getLong(1); i += 1
        }
        require(i == m, s"pair count changed under collect: $i != $m")
        val (ids, labels) = DriverCc.label(ea, eb)
        val rows = Array.tabulate(ids.length)(j => (ids(j), labels(j)))
        s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq,
            math.max(1, rows.length / 500000)))
          .toDF("doc_id", "cluster_id").orderBy("doc_id")
      } else {
        GraphOps.connectedComponents(pairs)
          .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
          .orderBy("doc_id")
      }
    } finally pairs.unpersist()
  }

  val q68_dedup_clusters = QueryDef(
    "q68_dedup_clusters",
    (s, dir) => {
      // the q43 funnel's result via the shared materialization (same
      // pair set: identical size filter + Jaccard ≥ 0.8 verify)
      clusterLabels(s, SharedPairs(s, dir).select("a", "b"))
    },
    Some(s"""WITH RECURSIVE $shinglesSql,
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
              SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst)
            SELECT src AS doc_id, min(dst) AS cluster_id
            FROM reach GROUP BY src ORDER BY doc_id"""))

  /** Duplicate-graph diagnostics: node/edge/triangle counts over the q43
    * near-dup pair graph — the health report a dedup pipeline emits
    * before destructive dropping (triangle density says whether clusters
    * are cliquey true-dup groups or suspicious hub chains).
    *
    * Triangle counting is the textbook distributed shape: with edges
    * oriented a < b, each triangle x<y<z is found exactly once by the
    * two-hop join e1(x,y)⋈e2(y,z)⋈e3(x,z) — two equi-joins on the
    * ALREADY-THRESHOLDED edge list, which is tiny relative to the corpus
    * (the quadratic work happened inside q43's inverted-index+verify
    * funnel, never here). */
  val q94_dup_graph_stats = QueryDef(
    "q94_dup_graph_stats",
    (s, dir) => {
      // shared materialization (clearCache()-proof) — the edge list
      // feeds four scans (nodes, edges, both sides of the triangle join)
      val pairs = SharedPairs(s, dir).select("a", "b")
      val nodes = pairs.select(explode(array(col("a"), col("b"))).as("d"))
        .distinct().agg(count(lit(1)).cast("long").as("n_nodes"))
      val edges = pairs.agg(count(lit(1)).cast("long").as("n_edges"))
      val tris = pairs.select(col("a").as("x"), col("b").as("y"))
        .join(pairs.select(col("a").as("y"), col("b").as("z")), "y")
        .join(pairs.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
        .agg(count(lit(1)).cast("long").as("n_triangles"))
      nodes.crossJoin(edges).crossJoin(tris)
    },
    Some(s"""WITH $shinglesSql,
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY x.doc_id, y.doc_id),
            pairs AS (
              SELECT a, b FROM common
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE c / (sa.n + sb.n - c) >= 0.8)
            SELECT
              (SELECT CAST(count(DISTINCT d) AS BIGINT)
               FROM (SELECT a AS d FROM pairs UNION ALL SELECT b AS d FROM pairs)) AS n_nodes,
              (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
              (SELECT CAST(count(*) AS BIGINT)
               FROM pairs e1 JOIN pairs e2 ON e2.a = e1.b
               JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles"""))

  /** DIRECTED near-subset detection via Jaccard CONTAINMENT
    * C(a→b) = |A∩B| / |A| ≥ 0.9 — catches "a is contained in b" (quote
    * inclusion, page-in-site duplication) that symmetric Jaccard misses
    * when |B| ≫ |A|. Same inverted-index equi-join as q43 (never
    * all-pairs); the size prefilter is the containment analogue of the
    * set-similarity length filter: c ≤ nb and c ≥ 0.9·na force
    * nb·10 ≥ na·9, pruning pairs BEFORE the per-pair aggregation
    * without changing the result. The score is a ratio of the same two
    * BIGINTs in both engines. */
  val q132_jaccard_containment = QueryDef(
    "q132_jaccard_containment",
    (s, dir) => {
      // |A∩B| is symmetric, so aggregate each UNORDERED pair once
      // (x < y — half the join output and half the agg input of the
      // directed a ≠ b form; the partial agg is nearly pass-through
      // here because containment, unlike q43's symmetric Jaccard, has
      // no tight size filter — the small→big direction always
      // qualifies) and emit the two directions from the aggregated row
      // with one generator. The directed form's nb·10 ≥ na·9 prefilter
      // is implied by c·10 ≥ na·9 (c ≤ nb) and vanishes. Measured at
      // the 10× rehearsal: ~2.3 s vs 3.7 s for the directed form.
      //
      // Two alternatives were built and MEASURED SLOWER (round 7), kept
      // here as negative results: (a) PPJoin-style rarest-first prefix
      // indexing (index the n − ceil(0.9n) + 1 rarest shingles per
      // source doc; 17× candidate reduction at sf0.1) verified via
      // per-doc shingle sets — 0.9 s at sf0.1 but 5–8 s at 10×, where
      // attaching the sets ships ~1.4 GB of arrays through the shuffle;
      // (b) the same prefix candidates as a bloom sketch pruning this
      // join map-side (q83 machinery) — the extra bloom-build pass and
      // 4 MB-sketch merges cost more than the agg they save at every
      // scale tried. On duplication-heavy corpora (the 10× fixture is
      // one by construction) candidate pairs are mostly REAL, so
      // candidate pruning cannot beat simply halving the exact path.
      //
      // The round-6 verdict asked whether SharedPairs (the q43
      // jac ≥ 0.8 set) could seed this the way q144/q161 consume it: it
      // cannot — containment's point is the |B| ≫ |A| regime where
      // jac ≈ na/nb falls far below 0.8 (a fully contained small doc in
      // a 10× page scores jac ≈ 0.1), so the q43 set is NOT a superset
      // of containment candidates.
      // Pair-aggregation SIZING (round-12 verdict task 3): containment
      // has no tight size prefilter (unlike q43's 5·min ≥ 4·max), so
      // the candidate-pair working set is the FULL Σ_sh C(cnt,2) — at
      // 300× (3.8×10⁸ pairs, 1.2×10⁷/task over the conf-default 32
      // partitions) it crossed the execution-memory share: 54.8 GB +
      // 39.7 GB measured agg spill, ZERO at 100× (1.27×10⁸ pairs,
      // 4.0×10⁶/task). The partition count is therefore DERIVED FROM
      // THE CORPUS: Σ C(cnt,2) computed EXACTLY by one aggregation
      // over the memoized shingle table (itself memoized per
      // (session, fixture) — a 1-row parquet after the first run),
      // with target 2²² ≈ 4.2×10⁶ pairs/task — the largest per-task
      // load measured spill-free. The resized plan (join inputs
      // repartitioned by sh, the aggregation's exchange widened to
      // pairParts) only replaces the original when the derived count
      // EXCEEDS the conf floor: the restructuring trades the
      // map-side partial agg for a raw-pair exchange plus an extra sh
      // exchange, which buys nothing at scales the floor already
      // handles spill-free (force-resized 100× sampled 24–27 s vs
      // 12.6 s floor-gated in-session — the spread is host-steal-
      // bounded, the direction is consistent). Round-13 re-measure at
      // 300× (the hard evidence, stage metrics not wall): spill
      // 94.5 GB → ZERO across every stage at 182 derived partitions,
      // warm 59.5 → 58.2 s, tail segment exponent +1.42 → +0.69
      // (BASELINE.md round-13). Results are partition-count-
      // invariant; the oracle is untouched.
      val confParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val shBase = shinglesHashedN(s, dir) // doc_id, sh (xxhash64), n
      val estRow = ScratchMemo("q132_pair_est", s, dir) {
        shBase.groupBy("sh").agg(count(lit(1)).as("cnt"))
          .agg(sum((col("cnt") * (col("cnt") - 1) / 2).cast("long")).as("p"))
      }.first()
      val estPairs = if (estRow.isNullAt(0)) 0L else estRow.getLong(0)
      val pairParts = math.max(confParts,
        math.min((estPairs + PairRowsPerPartition - 1) / PairRowsPerPartition, 20000L).toInt)
      val sized = pairParts > confParts
      val sh = if (sized) shBase.repartition(pairParts, col("sh")) else shBase
      val x = sh.select(col("doc_id").as("x"), col("n").as("nx"), col("sh"))
      val y = sh.select(col("doc_id").as("y"), col("n").as("ny"), col("sh"))
      val candidates = x.join(y, Seq("sh")).filter(col("x") < col("y"))
      (if (sized)
         candidates.repartition(pairParts, col("x"), col("y"), col("nx"), col("ny"))
       else candidates)
        .groupBy("x", "y", "nx", "ny").agg(count(lit(1)).as("c"))
        .select(explode(array(
          struct(col("x").as("a"), col("y").as("b"), col("c"), col("nx").as("na")),
          struct(col("y").as("a"), col("x").as("b"), col("c"), col("ny").as("na"))))
          .as("r"))
        .select(col("r.a").as("a"), col("r.b").as("b"), col("r.c").as("c"),
          col("r.na").as("na"))
        .filter(col("c") * 10 >= col("na") * 9)
        .select(col("a"), col("b"), col("c").cast("long").as("c"),
          col("na").cast("long").as("na"),
          (col("c") / col("na")).as("containment"))
        .orderBy("a", "b")
    },
    Some(s"""WITH $shinglesSql,
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
              GROUP BY 1, 2)
            SELECT a, b, CAST(c AS BIGINT) AS c, CAST(sa.n AS BIGINT) AS na,
                   c / sa.n AS containment
            FROM common JOIN sizes sa ON sa.doc_id = a
            WHERE c * 10 >= sa.n * 9
            ORDER BY a, b"""))

  /** QUALITY-based survivorship over the q43 near-dup pairs: the keeper
    * is the doc with the higher chars-per-token score (min-id only
    * breaks exact ties) — the survivor policy real curation uses
    * instead of "keep the smallest id". The integer fixed-point score
    * joins onto the (already sub-quadratic) pair set; per pair the
    * decision is pure integer comparison. */
  val q144_dedup_survivor = QueryDef(
    "q144_dedup_survivor",
    (s, dir) => {
      val pairs = SharedPairs(s, dir).select("a", "b")
      val scores = t(s, dir, "documents")
        .select(col("doc_id"), expr("n_chars * 1000 div size(split(text, ' '))").as("score"))
      pairs
        .join(scores.select(col("doc_id").as("a"), col("score").as("sa")), "a")
        .join(scores.select(col("doc_id").as("b"), col("score").as("sb")), "b")
        .withColumn("keeper", when(col("sa") > col("sb"), col("a"))
          .when(col("sb") > col("sa"), col("b"))
          .otherwise(least(col("a"), col("b"))))
        .withColumn("dropped",
          when(col("keeper") === col("a"), col("b")).otherwise(col("a")))
        .select(col("a"), col("b"), col("sa"), col("sb"), col("keeper"), col("dropped"))
        .orderBy("a", "b")
    },
    Some(s"""WITH $shinglesSql,
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
            scores AS (
              SELECT doc_id,
                     CAST(n_chars * 1000 // len(string_split(text, ' ')) AS BIGINT) AS score
              FROM documents),
            scored AS (
              SELECT a, b, x.score AS sa, y.score AS sb,
                     CASE WHEN x.score > y.score THEN a
                          WHEN y.score > x.score THEN b
                          ELSE least(a, b) END AS keeper
              FROM pairs
              JOIN scores x ON x.doc_id = a
              JOIN scores y ON y.doc_id = b)
            SELECT a, b, sa, sb, keeper,
                   CASE WHEN keeper = a THEN b ELSE a END AS dropped
            FROM scored ORDER BY a, b"""))

  /** IDF-WEIGHTED Jaccard near-dup detection: shingles weighted by
    * floor(ln(N/df)·10⁶) so boilerplate shared by half the corpus
    * barely counts while rare shingles dominate — the similarity the
    * plain q43 Jaccard approximates badly on template-heavy corpora.
    * Same inverted-index join; the gate J_w ≥ 0.5 evaluates as the
    * pure-integer `3·wints ≥ wa+wb` (no float threshold), and the
    * weighted length prefilter `2·min(wa,wb) ≥ max(wa,wb)` is its
    * exact necessary condition, pruning pairs before the per-pair
    * aggregation. The only float is the ln inside the floor — the
    * same fixed-point-ln contract q84/q87 pin.
    *
    * The weighted shingle table (df → idf → per-doc totals, all
    * deterministic per fixture) is a scratch memo like shingles_n
    * (round 7): each run previously re-ran the df aggregate, the idf
    * join, and the totals join before touching the pair join. */
  private def shinglesWeighted(s: SparkSession, dir: String): DataFrame =
    ScratchMemo("shingles_w", s, dir) {
      val sh = shingles(s, dir).select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      val nd = sh.agg(countDistinct("doc_id").as("nd"))
      val w = df.crossJoin(nd).select(col("sh"),
        floor(log(col("nd").cast("double") / col("df").cast("double")) * lit(1e6))
          .cast("long").as("idf"))
      val shw = sh.join(w, "sh")
      val totals = shw.groupBy("doc_id").agg(sum("idf").cast("long").as("wt"))
      shw.join(totals, "doc_id") // doc_id, sh, idf, wt
    }

  val q147_weighted_jaccard = QueryDef(
    "q147_weighted_jaccard",
    (s, dir) => {
      val shw = shinglesWeighted(s, dir)
      val a = shw
        .select(col("doc_id").as("a"), col("sh"), col("idf"), col("wt").as("wa"))
      val b = shw
        .select(col("doc_id").as("b"), col("sh"), col("wt").as("wb"))
      a.join(b, Seq("sh"))
        .filter(col("a") < col("b")
          && col("wa") * 2 >= col("wb") && col("wb") * 2 >= col("wa"))
        .groupBy("a", "b", "wa", "wb").agg(sum("idf").cast("long").as("wints"))
        .filter(col("wints") * 3 >= col("wa") + col("wb"))
        .select(col("a"), col("b"), col("wints"), col("wa"), col("wb"),
          (col("wints").cast("double") / (col("wa") + col("wb") - col("wints"))).as("wjac"))
        .orderBy("a", "b")
    },
    Some(s"""WITH $shinglesSql,
            df AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY sh),
            nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM sh),
            w AS (SELECT sh,
                    CAST(floor(ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6) AS BIGINT) AS idf
                  FROM df CROSS JOIN nd),
            shw AS (SELECT doc_id, s.sh, idf FROM sh s JOIN w USING (sh)),
            totals AS (SELECT doc_id, CAST(sum(idf) AS BIGINT) AS wt
                       FROM shw GROUP BY doc_id),
            pairs AS (
              SELECT x.doc_id AS a, y.doc_id AS b, CAST(sum(x.idf) AS BIGINT) AS wints
              FROM shw x JOIN shw y ON x.sh = y.sh AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
            SELECT a, b, wints, ta.wt AS wa, tb.wt AS wb,
                   CAST(wints AS DOUBLE) / (ta.wt + tb.wt - wints) AS wjac
            FROM pairs
            JOIN totals ta ON ta.doc_id = a
            JOIN totals tb ON tb.doc_id = b
            WHERE wints * 3 >= ta.wt + tb.wt
            ORDER BY a, b"""))

  /** LSH PRECISION evaluation — the cost-side complement of q153's
    * recall: per band of the q44 MinHash index, what fraction of the
    * candidate pairs it generates survive the exact Jaccard ≥ 0.8
    * verify? Low per-band precision means the funnel pays many exact
    * verifications per true pair — the number that decides band
    * width/count before a 100 TB run (precision·cost vs recall is THE
    * LSH tuning trade, and this measures both ends on real data).
    * Candidate common-shingle counts come from the same inverted-index
    * equi-join as q43 (left join: band collisions between docs sharing
    * no shingle score c = 0); precision is an integer fixed-point
    * ratio. */
  val q157_lsh_precision = QueryDef(
    "q157_lsh_precision",
    (s, dir) => {
      val sig = SharedSig(s, dir)
      val bands = sig.select(col("doc_id"), posexplode(array(
        concat(col("m0"), col("m1")), concat(col("m2"), col("m3")),
        concat(col("m4"), col("m5")), concat(col("m6"), col("m7")))))
        .toDF("doc_id", "band", "key")
      val l = bands.select(col("band"), col("key"), col("doc_id").as("a"))
      val r = bands.select(col("band"), col("key"), col("doc_id").as("b"))
      val cands = l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
        .select("band", "a", "b").distinct()
      val sh = shinglesHashedN(s, dir)
      val common = sh.select(col("doc_id").as("a"), col("n").as("na"), col("sh"))
        .join(sh.select(col("doc_id").as("b"), col("n").as("nb"), col("sh")), Seq("sh"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("c"))
        .withColumn("isTrue",
          (col("c") / (col("na") + col("nb") - col("c")) >= 0.8).cast("long"))
        .select("a", "b", "isTrue")
      cands.join(common, Seq("a", "b"), "left")
        .withColumn("t", coalesce(col("isTrue"), lit(0L)))
        .groupBy("band")
        .agg(count(lit(1)).cast("long").as("n_cands"),
          sum("t").cast("long").as("n_true"))
        .withColumn("prec_fp", expr("n_true * 1000000 div n_cands"))
        .select(col("band").cast("long").as("band"),
          col("n_cands"), col("n_true"), col("prec_fp"))
        .orderBy("band")
    },
    Some(s"""WITH $shinglesSql,
            hashed AS (
              SELECT doc_id, md5(sh) || md5('1' || sh) AS h2 FROM sh),
            sig AS (
              SELECT doc_id,
                ${(0 to 7).map(i => s"min(substr(h2, ${i * 8 + 1}, 8)) AS m$i").mkString(",\n                ")}
              FROM hashed GROUP BY doc_id),
            bands AS (
              ${(0 to 3).map(i =>
                s"SELECT doc_id, $i AS band, m${2 * i} || m${2 * i + 1} AS key FROM sig")
                .mkString("\n              UNION ALL\n              ")}),
            cands AS (
              SELECT DISTINCT l.band, l.doc_id AS a, r.doc_id AS b
              FROM bands l JOIN bands r
                ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT x.doc_id AS a, y.doc_id AS b,
                     CASE WHEN count(*) / (min(sa.n) + min(sb.n) - count(*)) >= 0.8
                          THEN 1 ELSE 0 END AS isTrue
              FROM sh x
              JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
              JOIN sizes sa ON sa.doc_id = x.doc_id
              JOIN sizes sb ON sb.doc_id = y.doc_id
              GROUP BY x.doc_id, y.doc_id)
            SELECT CAST(cands.band AS BIGINT) AS band,
                   CAST(count(*) AS BIGINT) AS n_cands,
                   CAST(sum(COALESCE(isTrue, 0)) AS BIGINT) AS n_true,
                   CAST(sum(COALESCE(isTrue, 0)) * 1000000 // count(*) AS BIGINT) AS prec_fp
            FROM cands LEFT JOIN common USING (a, b)
            GROUP BY 1 ORDER BY band"""))

  /** INCREMENTAL (arrival-ordered) dedup — the batch twin of how a
    * 100 TB pipeline actually runs near-dup: the index is APPENDED as
    * documents arrive, never rebuilt, and each arriving document is
    * checked against the PRIOR corpus only. Arrival order is the md5 of
    * the doc id (the q150 arrival-hash device — deterministic, uniform,
    * mirrored exactly by DuckDB's md5); every arrival is appended to
    * the matching index, and a document is a dup — excluded from the
    * KEPT corpus — iff some EARLIER-arriving document is a verified q43
    * near-dup partner (exact Jaccard ≥ 0.8, the index-structure-
    * agnostic pair set). Unlike q144's id-keyed survivorship, the kept
    * set here is ORDER-dependent — the streaming semantic (each doc is
    * judged against index state at its arrival) — which is exactly what
    * IncrementalDedupSpec pins: per-micro-batch index appends reproduce
    * this query for EVERY batch split. Output: per arrival shard (first
    * hex char, 16 contiguous arrival segments — batch-boundary-free),
    * arrivals, dups, kept docs, dup rate.
    * Cost: the memoized [[SharedPairs]] (~|pairs|) + one linear pass
    * over doc ids — the direction decision is a per-pair comparison,
    * no new quadratic stage. */
  val q161_incremental_dedup = QueryDef(
    "q161_incremental_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("m"))
      val pa = d.select(col("doc_id").as("a"), col("m").as("ma"))
      val pb = d.select(col("doc_id").as("b"), col("m").as("mb"))
      val flagged = SharedPairs(s, dir).select("a", "b")
        .join(pa, "a").join(pb, "b")
        .select(when(col("ma") < col("mb")
            || (col("ma") === col("mb") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("doc_id"))
        .distinct()
        .withColumn("isdup", lit(1L))
      d.withColumn("batch", substring(col("m"), 1, 1))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy("batch")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(coalesce(col("isdup"), lit(0L))).cast("long").as("n_dup"))
        .withColumn("n_kept", col("n_docs") - col("n_dup"))
        .withColumn("dup_fp", expr("n_dup * 1000000 div n_docs"))
        .orderBy("batch")
    },
    Some(s"""WITH $shinglesSql,
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
            d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
            flagged AS (
              SELECT DISTINCT CASE WHEN da.m < db.m
                                     OR (da.m = db.m AND p.a < p.b)
                                   THEN p.b ELSE p.a END AS doc_id
              FROM pairs p
              JOIN d da ON da.doc_id = p.a
              JOIN d db ON db.doc_id = p.b)
            SELECT substr(m, 1, 1) AS batch,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(f.doc_id) AS BIGINT) AS n_dup,
                   CAST(count(*) - count(f.doc_id) AS BIGINT) AS n_kept,
                   CAST(count(f.doc_id) * 1000000 // count(*) AS BIGINT) AS dup_fp
            FROM d LEFT JOIN flagged f USING (doc_id)
            GROUP BY 1 ORDER BY batch"""))

  override val defs: Seq[QueryDef] = Seq(
    q42_dedup_exact_stats, q43_dedup_ngram_jaccard, q44_dedup_minhash_lsh,
    q45_dedup_simhash, q68_dedup_clusters, q94_dup_graph_stats,
    q132_jaccard_containment, q144_dedup_survivor, q147_weighted_jaccard,
    q154_minhash_estimate, q157_lsh_precision, q161_incremental_dedup)
}
