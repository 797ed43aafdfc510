package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics expressed as join/aggregate rounds — the
  * same shape the transitive-closure labeling in
  * [[DedupOps.q68_dedup_clusters]] uses, applied to ranking. Each
  * PageRank round is: join ranks to edges on src (one shuffle on the
  * edge key), scale by weight/out-degree, re-aggregate by dst. At
  * 100 TB the edge list is the big table and this is exactly
  * Pregel-on-Spark; nothing is driver-side except the fixed iteration
  * count.
  *
  * Determinism: ranks live as fixed-point BIGINT (10^12 = 1.0). Each
  * edge contribution floors a double product — bit-identical operand
  * order in both engines — and the per-dst reduction then sums exact
  * integers, so a 1000-executor aggregation tree matches the oracle's
  * single-threaded sum.
  */
object GraphOps extends QueryModule {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** The weighted trade adjacency: customer-nation → supplier-nation,
    * w = lineitem count. The 4-way fact join collapses to ≤ |nations|²
    * rows — the bounded graph every operator here iterates on. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).cast("long").as("w"))

  private val edgesSql: String =
    """SELECT c_nationkey AS src, s_nationkey AS dst, CAST(count(*) AS BIGINT) AS w
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey
       GROUP BY 1, 2"""

  /** 3 weighted-PageRank rounds (damping 0.85) over the trade graph:
    * nodes = nations, edges customer-nation → supplier-nation weighted
    * by lineitem count. The edge aggregation collapses the 100 TB fact
    * join to a bounded adjacency (≤ 625 rows here), cached for the
    * rounds; dangling mass is dropped identically in both engines (the
    * nation fan-out covers every node via the left join, so sinks decay
    * toward the teleport floor 0.15/N). */
  val q99_pagerank = QueryDef(
    "q99_pagerank",
    (s, dir) => {
      val edges = tradeEdges(s, dir).cache()
      val outw = edges.groupBy("src").agg(sum("w").cast("long").as("ow"))
      val ew = edges.join(outw, "src")
      val nodes = t(s, dir, "nation").select(col("n_nationkey").as("id"))
      val r0 = nodes.withColumn("r", lit(40000000000L)) // 10^12 / 25
      val r3 = (1 to 3).foldLeft(r0) { (rk, _) =>
        val contrib = ew.join(rk.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"),
            floor(col("r").cast("double") * lit(0.85) * col("w").cast("double")
              / col("ow").cast("double")).cast("long").as("c"))
          .groupBy("id").agg(sum("c").cast("long").as("m"))
        nodes.join(contrib, Seq("id"), "left")
          .select(col("id"), (lit(6000000000L) + coalesce(col("m"), lit(0L))).as("r"))
      }
      r3.select(col("id").as("nation_id"), col("r").as("pr_fp")).orderBy("nation_id")
    },
    Some {
      val round = (k: Int) =>
        s"""r$k AS (
              SELECT n.id, CAST(6000000000 + coalesce(s.m, 0) AS BIGINT) AS r
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS id,
                       CAST(sum(CAST(floor(CAST(r.r AS DOUBLE) * 0.85 * CAST(e.w AS DOUBLE)
                         / CAST(o.ow AS DOUBLE)) AS BIGINT)) AS BIGINT) AS m
                FROM edges e JOIN r${k - 1} r ON r.id = e.src JOIN outw o ON o.src = e.src
                GROUP BY e.dst) s ON s.id = n.id)"""
      s"""WITH edges AS ($edgesSql),
          outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
          nodes AS (SELECT n_nationkey AS id FROM nation),
          r0 AS (SELECT id, CAST(40000000000 AS BIGINT) AS r FROM nodes),
          ${round(1)},
          ${round(2)},
          ${round(3)}
          SELECT id AS nation_id, r AS pr_fp FROM r3 ORDER BY nation_id"""
    })

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii: "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the
    * O(log² n)-round labeling that replaces min-label propagation's
    * O(diameter) rounds. q68's Pregel loop is fine for shallow near-dup
    * clusters; on a 100 TB dup graph with chain-shaped components
    * (boilerplate templates stitched through intermediate revisions)
    * the diameter IS the problem, and each saved round is a full
    * edge-shuffle saved.
    *
    * Each round is two grouped aggregations over the CURRENT edge set
    * (shuffle key = node, map-side-combinable min), nothing
    * driver-side except the two-number convergence probe; lineage is
    * truncated per round ([[Ckpt.ser]]). The fixpoint is the star graph
    * rooted at each component's minimum node — unique regardless of
    * execution order, so the result is deterministic and
    * oracle-matchable.
    *
    * Returns (labels, rounds): labels = one row per node that appears
    * in an edge, `(node, comp)` with comp = min node id of its
    * component (roots labeled with themselves).
    */
  private[graft] def connectedComponentsWithRounds(
      edges0: DataFrame, maxRounds: Int = 60): (DataFrame, Int) = {
    val sym0 = edges0.select(col("a"), col("b"))
      .union(edges0.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")).distinct()

    // large-star: every neighbor ABOVE u re-attaches to the minimum of
    // u's closed neighborhood. Keeps high nodes hanging off ever-lower
    // parents without growing the edge count past 2m.
    //
    // DUPLICATE-TOLERANT (round 14, guide §2.4): no trailing distinct.
    // min() is insensitive to repeated rows and the join only fans
    // duplicates through, so duplicate edges in `sym` yield duplicate
    // output rows — which [[smallStar]]'s one terminal distinct removes.
    // The per-round EDGE SET sequence (and hence the fixpoint labels
    // and round count) is bit-identical to the 3-distinct-per-round
    // form; the physical plan drops two corpus-scale exchanges per
    // contraction round (CcSpec pins label equality with union-find).
    def largeStar(sym: DataFrame): DataFrame = {
      val m = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("mn"))
      sym.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("mn").as("b"))
        .filter(col("a") =!= col("b"))
    }

    // small-star: u and every neighbor BELOW u collapse onto the
    // minimum of that set — the halving step that gives the log bound.
    // Every row of [[largeStar]]'s output already has b < a (mn ≤ old a
    // < old b), so the below-filter passes everything and the ONE
    // distinct here is the round's only dedup — sufficient, because
    // both aggregations above it are min()s.
    def smallStar(sym: DataFrame): DataFrame = {
      val below = sym.filter(col("b") < col("a"))
      val m = below.groupBy("a").agg(min("b").as("mn"))
      val moved = below.join(m, "a").filter(col("b") =!= col("mn"))
        .select(col("b").as("a"), col("mn").as("b"))
      moved.union(m.select(col("a"), col("mn").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }

    val (cur0, ids0) = Ckpt.serRound(sym0, Set.empty)
    var cur = cur0
    var curIds = ids0
    var curProbe = probe(cur)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      // serRound: free the previous round's checkpoint blocks once this
      // round is materialized — a contraction that leaves every round
      // persisted holds O(rounds × edges) storage (the SA-build leak the
      // 300× rehearsal found, same shape here).
      // symmetrize WITHOUT a distinct (guide §2.4: a distinct on data
      // that is already unique): smallStar emits only b < a rows, so
      // cur ∪ swap(cur) is duplicate-free from round 2 on; round 1's
      // already-symmetric sym0 doubles every row, which the duplicate-
      // tolerant largeStar/smallStar pair absorbs (one terminal
      // distinct per round instead of three).
      val (next, nextIds) = Ckpt.serRound(smallStar(largeStar(
        cur.union(cur.select(col("b").as("a"), col("a").as("b"))))), curIds)
      curIds = nextIds
      // Convergence probe: compare successive small-star outputs by
      // (count, order-free hash) — two longs, one job, no driver-side
      // edge list.
      val np = probe(next)
      done = np == curProbe
      cur = next
      curProbe = np
      rounds += 1
    }
    // The O(log² n) bound makes 60 rounds generous for any graph this
    // engine can hold; exhausting them means a real bug (the labeling
    // below would be silently non-star, i.e. WRONG components), so
    // fail loudly instead of returning it.
    require(done,
      s"star contraction did not converge in $maxRounds rounds — " +
        s"non-star labeling would be incorrect downstream")
    val roots = cur.select(col("b").as("node")).distinct()
      .join(cur.select(col("a").as("node")).distinct(), Seq("node"), "left_anti")
    val labels = cur.select(col("a").as("node"), col("b").as("comp"))
      .union(roots.select(col("node"), col("node").as("comp")))
    (labels, rounds)
  }

  /** (edge count, order-independent edge hash) of an edge frame — the
    * convergence probe's two longs. The hash is a bit_xor fold of
    * per-edge xxhash64: order-free, overflow-free under ANSI (a SUM of
    * 2⁶³-scale hashes overflows), and collision-sound here because the
    * probed frames are `distinct()` edge SETS. */
  private def probe(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)).cast("long"),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).cast("long"))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Star-contraction connected components over node-pair edges —
    * labels only, for callers ([[DedupOps.q68_dedup_clusters]]'s
    * distributed branch) that don't need the round count. */
  private[graft] def connectedComponents(edges0: DataFrame): DataFrame =
    connectedComponentsWithRounds(edges0)._1

  /** Connected components of the rare-shingle co-occurrence graph:
    * docs are linked when they share a 3-gram shingle with corpus
    * document-frequency EXACTLY 2 (each such shingle is one edge:
    * its min-doc to its max-doc), thinned to 1/16 of shingle-hash
    * space so the graph has mixed component sizes (at sf0.01: 269
    * edges / 319 docs / 59 components, largest 159). Transitive
    * rare-overlap clusters are the provenance groups near-dup
    * pipelines quarantine together — and precisely the graph shape
    * (chains through intermediate revisions, NOT dense cliques) where
    * min-label propagation pays O(diameter) rounds and star
    * contraction pays O(log²).
    *
    * Edge construction is one distinct-shingle aggregation (df, min,
    * max per shingle — map-side combinable); the CC loop then runs on
    * the edge set alone. Output: every clustered doc with its
    * component representative (min doc_id) and the component size.
    *
    * Reference scope: the reference's resource-hierarchy grouping
    * (SURVEY §2.1 R2) generalized to transitive closure over derived
    * document relations; algorithm per Kiveris et al. (SoCC 2014). */
  /** q202's edge derivation: docs linked by a shared df=2 shingle,
    * thinned to 1/16 of shingle-hash space. The thinning depends on w
    * ALONE, so it runs BEFORE the (doc_id, w) distinct — a 16× cut of
    * the only corpus-scale shuffle in the query (measured 26 → 13.5 s
    * warm at 100×); df is per-shingle, so thinning shingles first
    * cannot change any kept shingle's df. Shared with the `cc_fold`
    * bench row, which folds this edge set through
    * [[graft.streaming.CcStream]]. */
  private[graft] def rareShingleEdges(docs: DataFrame): DataFrame = {
    // index-explode + scalar concat, not a transform(...) lambda — the
    // SketchOps.shingleStreamOf codegen device (HOFs evaluate on the
    // interpreted Expression path and decay 2.4× under megamorphic-JIT
    // pollution, BASELINE.md q201 study); content-identical shingle stream.
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
      .select(col("doc_id"), concat(
        element_at(col("ws"), col("i") + 1), lit(" "),
        element_at(col("ws"), col("i") + 2), lit(" "),
        element_at(col("ws"), col("i") + 3)).as("w"))
      .filter(expr("(instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1) % 16") === 0)
      .distinct()
    sh.groupBy("w")
      .agg(count(lit(1)).cast("long").as("df"),
        min("doc_id").as("a"), max("doc_id").as("b"))
      .filter(col("df") === 2 && col("a") < col("b"))
      .select("a", "b").distinct()
  }

  val q202_cc_components = QueryDef(
    "q202_cc_components",
    (s, dir) => {
      val edges = rareShingleEdges(t(s, dir, "documents"))
      val labels = connectedComponents(edges)
      val sizes = labels.groupBy("comp").agg(count(lit(1)).cast("long").as("csize"))
      labels.join(sizes, "comp")
        .select(col("node").as("doc_id"), col("comp").as("cluster_id"), col("csize"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            sidx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
                     FROM base WHERE len(ws) >= 3),
            sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w FROM sidx),
            dfq AS (SELECT w, count(*) AS df, min(doc_id) AS a, max(doc_id) AS b
                    FROM sh GROUP BY w),
            e0 AS (SELECT DISTINCT a, b FROM dfq
                   WHERE df = 2 AND a < b
                     AND (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) % 16 = 0),
            edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
            reach AS (
              SELECT DISTINCT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON e.a = r.dst),
            lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
            sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize FROM lab GROUP BY cluster_id)
            SELECT l.doc_id, l.cluster_id, s.csize
            FROM lab l JOIN sz s ON s.cluster_id = l.cluster_id
            ORDER BY l.doc_id"""))

  /** 2-hop reachability profile: for each source nation, the number of
    * distinct nations reachable in exactly two trade hops and the total
    * 2-path weight Σ w₁·w₂. One self-join of the bounded adjacency on
    * the mid vertex — the multi-hop traversal shape (edges⋈edges on the
    * shared vertex, re-aggregate), which at 100 TB is the standard
    * distributed triangle/path-counting join, partition key = mid. */
  val q109_graph_2hop = QueryDef(
    "q109_graph_2hop",
    (s, dir) => {
      val edges = tradeEdges(s, dir).cache()
      val e1 = edges.select(col("src"), col("dst").as("mid"), col("w").as("w1"))
      val e2 = edges.select(col("src").as("mid"), col("dst"), col("w").as("w2"))
      e1.join(e2, "mid")
        .groupBy("src")
        .agg(countDistinct("dst").cast("long").as("n_2hop"),
          sum(col("w1") * col("w2")).cast("long").as("paths_w"))
        .orderBy("src")
    },
    Some(s"""WITH edges AS ($edgesSql)
            SELECT e1.src AS src,
                   CAST(count(DISTINCT e2.dst) AS BIGINT) AS n_2hop,
                   CAST(sum(e1.w * e2.w) AS BIGINT) AS paths_w
            FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
            GROUP BY e1.src ORDER BY src"""))

  def defs: Seq[QueryDef] =
    Seq(q99_pagerank, q109_graph_2hop, q202_cc_components)
}
