package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.operators._

/** Dumps formatted physical plans of representative queries to
  * EXPLAINS.md — the reviewable evidence behind PlanSpec's assertions.
  * Run: sbt "runMain graft.tools.ExplainDump" */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/root/repo/EXPLAINS.md"
    val spark = ToolConf.session("4")
    val picks = Seq(
      ("q02_filter_pred — predicate pushdown into the parquet scan", Relational.q02_filter_pred),
      ("q03_join_star — broadcast dimensions, shuffle facts", Relational.q03_join_star),
      ("q10_agg_tpch_q1 — partial→final hash aggregation", Relational.q10_agg_tpch_q1),
      ("q21_topk_per_group — single hash exchange for windowed top-k", Relational.q21_topk_per_group),
      ("q47_vector_threshold — LSH-bucket candidate funnel + native DotProductFF verify, no BNLJ", VectorOps.q47_vector_threshold),
      ("q149_wildcard_match — wildcard rlike stays residual; fan-out subjects feed three filters", StreamingBatch.q149_wildcard_match),
      ("q152_ssjoin_replay — stream-stream left-outer replay: equi key carries the shuffle, interval is residual", StreamingBatch.q152_ssjoin_replay),
      ("q48_vector_ann_lsh — bucket-equi ANN search join", VectorOps.q48_vector_ann_lsh),
      ("q44_dedup_minhash_lsh — signature pass + band-bucket join", DedupOps.q44_dedup_minhash_lsh),
      ("q45_dedup_simhash — exact banded-LSH candidates, no all-pairs stage", DedupOps.q45_dedup_simhash),
      ("q64_agg_regression — exact decimal moments, partial→final aggregation", Relational.q64_agg_regression),
      ("q70_decontaminate — inverted-index n-gram equi-join, never corpus×benchmark", CurationOps.q70_decontaminate),
      ("q74_sequence_pack — per-shard parallel prefix sum, no global sort", CurationOps.q74_sequence_pack),
      ("q66_join_asof_tolerance — range-pruned as-of argmax, left semantics", Relational.q66_join_asof_tolerance),
      ("q95_interval_join — day-bucket equi-join replacing the BETWEEN nested loop", TemporalOps.q95_interval_join),
      ("q113_topk_pruned — custom PartialTopKPerKeyExec ahead of the window exchange", Relational.q113_topk_pruned),
      ("q114_tpch_q5 — 6-way join ordering: filters below joins, broadcast dimension chain", Relational.q114_tpch_q5),
      ("q99_pagerank — cached bounded adjacency reused across rank rounds", GraphOps.q99_pagerank),
      ("q104_centroid_outliers — bounded-key (label, dim) centroid join-back", VectorOps.q104_centroid_outliers),
      ("q121_doc_chunk — chunking as a pure generator: no exchange before presentation", CorpusOps.q121_doc_chunk),
      ("q127_tpch_q18 — HAVING semi-aggregate runs before the joins", WarehouseOps.q127_tpch_q18),
      ("q130_tpch_q7 — both ends of the self-aliased nation pair broadcast", WarehouseOps.q130_tpch_q7),
      ("q131_pq_codes — per-block broadcast codebook products, fused native slice-L2", VectorOps.q131_pq_codes),
      ("q138_topk_tokens_pruned — custom PartialTopKPerKeyExec on the (lang, token) TF table", TextOps.q138_topk_tokens_pruned),
      ("q140_tpch_q6 — every predicate in PushedFilters, no join, partial agg", WarehouseOps.q140_tpch_q6),
      ("q141_tpch_q19 — equi key factored out of the disjunctive predicate", WarehouseOps.q141_tpch_q19),
      ("q147_weighted_jaccard — IDF weighting rides the inverted-index join unchanged", DedupOps.q147_weighted_jaccard),
      ("q157_lsh_precision — band equi-join candidates left-join the exact verify", DedupOps.q157_lsh_precision),
      ("q150_watermark_replay — batch twin of the watermark: one ordered scan by construction (scaladoc'd per-partition alternative)", StreamingBatch.q150_watermark_replay),
      ("q153_ann_recall — exact-over-probes ground truth broadcast against the bucket index", VectorOps.q153_ann_recall),
      ("q154_minhash_estimate — signature aggregation joined onto the materialized verified pair set", DedupOps.q154_minhash_estimate),
      ("q155_token_budget — linear decile aggregation, partial before the shuffle", CorpusOps.q155_token_budget),
      ("q156_power_iteration — matvec as native dots + posexplode partial aggregation", VectorOps.q156_power_iteration),
      ("q158_dense_threshold — blocked exact X·Xᵀ: tile-grid join over packed blocks, typed per-partition multiply", VectorOps.q158_dense_threshold),
      ("q159_lsh_recall_eval — derived-funnel recall vs exact ground truth, bounded eval join", VectorOps.q159_lsh_recall_eval),
      ("q160_kmeanspp_seed — k-means|| oversampling: per-pass broadcast candidates + linear scans, integer-exact Bernoulli draws", VectorOps.q160_kmeanspp_seed),
      ("q161_incremental_dedup — arrival-ordered dup flags over the memoized pair set, linear id passes", DedupOps.q161_incremental_dedup),
      ("q162_ivf_kpp_recall — IVF seeding eval: broadcast-seed assignment/probes vs exact-over-probes ground truth", VectorOps.q162_ivf_kpp_recall),
      ("q165_tpch_q4 — EXISTS as left-semi with a non-equi residual beside the key", TpchOps.q165_tpch_q4),
      ("q166_tpch_q8 — nation joined in two roles; market filter below the join stack", TpchOps.q166_tpch_q8),
      ("q175_tpch_q21 — double-correlated EXISTS/NOT-EXISTS decorrelated to one per-order aggregate", TpchOps.q175_tpch_q21),
      ("q177_tpch_q2 — per-part argmin via derived-min join on the bounded aggregate", TpchOps.q177_tpch_q2),
      ("q181_semantic_dedup — map-only cell argmax, broadcast centroid stats, cell-keyed pairwise", SelectionOps.q181_semantic_dedup),
      ("q182_dup_spans — inverted-index window join; islands/coverage windows partitioned by doc_id", SelectionOps.q182_dup_spans),
      ("q183_dsir_importance — broadcast 256-bucket term table + TakeOrdered Gumbel top-k", SelectionOps.q183_dsir_importance),
      ("q184_cluster_safe_split — memoized dup clusters re-keying the content-addressed split", SelectionOps.q184_cluster_safe_split),
      ("q185_semdedup_recall_eval — exact dense ground truth joined to cell assignments on vec_id", SelectionOps.q185_semdedup_recall_eval),
      ("q186_suffix_array — sampled read of the memoized prefix-doubling SA build", SelectionOps.q186_suffix_array),
      ("q187_sa_dup_lengths — SA-adjacent equi-join + dyadic LCP descent, per-doc aggregation", SelectionOps.q187_sa_dup_lengths),
      ("q188_selection_pipeline — composed survivorship → survivor-corpus recount → split → census", SelectionOps.q188_selection_pipeline),
      ("q189_pq_adc_recall — ADC as a broadcast-LUT equi-join over the linear codes scan; exact-over-probes ground truth", VectorOps.q189_pq_adc_recall),
      ("q190_compaction_binpack — per-date bounded windows planning greedy cumulative-sum bins", LayoutOps.q190_compaction_binpack),
      ("q191_adc_rerank_funnel — ADC shortlist (codes scan) → keyed float fetch for Q·50 exact reranks", VectorOps.q191_adc_rerank_funnel),
      ("q193_bpe_encode — broadcast learned vocab, map-only greedy longest-match fold", TextOps.q193_bpe_encode),
      ("q194_sa_append — bucket-local merge: markers∪batch range shuffle, touched-bucket windows, broadcast offset stitch", SelectionOps.q194_sa_append),
      ("q195_semantic_dedup_multiprobe — top-2 probe via one broadcast centroid array, cell-keyed pairwise over probes", SelectionOps.q195_semantic_dedup_multiprobe),
      ("q196_multiprobe_recall_eval — exact ground truth joined to top-2 assignments, bounded eval join", SelectionOps.q196_multiprobe_recall_eval),
      ("q197_cms_error_eval — one-pass 4×1024 mergeable sketch agg; top-200 probes broadcast-joined to the 4096-row sketch", SketchOps.q197_cms_error_eval),
      ("q198_kmv_theta_sketch — per-source k-min window on the distinct hash stream; all pair math on broadcast sketch rows", SketchOps.q198_kmv_theta_sketch),
      ("q199_quantile_sketch_eval — per-group bottom-k hash sample (WindowGroupLimit), rank reads on ≤ k·|groups| rows", SketchOps.q199_quantile_sketch_eval),
      ("q200_bloom_filter_eval — one map-side-combined bit_or pass to ≤ m/32 packed words; probes broadcast-join the filter", SketchOps.q200_bloom_filter_eval),
      ("q201_mg_heavy_hitters — WindowGroupLimit prunes each merge group to k+1 rows map-side; one lazy merge-tree plan, no corpus cache", SketchOps.q201_mg_heavy_hitters),
      ("q202_cc_components — star-contraction rounds: per-round grouped min + edge re-key, lineage truncated, no driver edge list", GraphOps.q202_cc_components),
      ("q203_weighted_sample — map-only replicated-hash keys (no explode, no shuffle) into TakeOrderedAndProject bottom-k", SelectionOps.q203_weighted_sample),
      ("q204_subject_union — multi-hierarchy union: matcher explode + once-per-message dedup before the per-group count", StreamingBatch.q204_subject_union))
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans (generated by graft.tools.ExplainDump)\n\n")
    sb.append(s"Input: `$dir`. These plans back the contracts asserted in " +
      "`src/test/scala/graft/PlanSpec.scala`.\n")
    sb.append(
      """
## TopKPerKey adoption audit (round 5, measured at sf0.1 and the 10× sf1 rehearsal)

Candidates were every top-k-shaped query without the custom prune:

- **q20 (global sort+limit)** — Spark plans `TakeOrderedAndProject`:
  per-partition top-15 heaps merged on the driver, exchange input
  already bounded at k·|partitions|. A per-KEY prune has no key to act
  on; nothing to adopt.
- **q21 (window row_number ≤ 3)** — Spark 4's `InsertWindowGroupLimit`
  plants partial+final `WindowGroupLimit` around the exchange, the same
  bounding TopKPerKey would add. Measured: sf0.1 q21 0.38 s vs q113
  (explicit prune variant of the same query) 0.47 s — the extra
  operator costs more than it saves; sf1 (10×) q21 1.29 s vs q113
  0.83 s — the prune wins 1.6× once per-key tails are long enough.
  Decision: q21 stays on the built-in path (it IS the declared
  window-idiom row); q113 remains the adoption vehicle, and
  `TopKPerKey.prune` is the documented choice when per-key tails grow
  past ~10× the oracle scale. No blind adoption.
- **q139 (TPC-H Q10 top-20)** — the limit orders by `revenue`, a
  POST-AGGREGATION column; a pre-join/pre-agg prune on any row-level
  column would change results. Provably not applicable; the plan's
  `TakeOrderedAndProject` runs on the customer-bounded aggregate, which
  is already small.
""")
    picks.foreach { case (title, q) =>
      val plan = q.run(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $title\n\n```\n$plan```\n")
    }
    sb.append(deliveryAppendix(spark))
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }

  /** The multiplexed delivery micro-batch plan — not a `queries()`
    * entry, so dumped here from a representative in-memory batch:
    * (1) the equi-join match (event subjects explode into candidate keys
    * via Subjects.matchKeysCol; broadcast hash join on key equality,
    * zero residual matching) with a multi-hierarchy group registered,
    * so the dedup arm shows; (2) the bucketed write's input in the
    * common all-single-matcher case — the plan of the ONE job whose
    * `collect()` feeds the driver-side bucket write. */
  private def deliveryAppendix(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import graft.core._
    import graft.streaming.FanOut
    implicit val enc: org.apache.spark.sql.Encoder[Event] =
      org.apache.spark.sql.Encoders.product[Event]
    val events = spark.createDataset(Seq(
      Event("OBJECT", "ALL", "o1", "p1", "c1", "so1", Seq("g1"), new java.sql.Timestamp(0L), 1L),
      Event("COLLECTION", "ALL", "c1", "p1", "", "", Seq.empty, new java.sql.Timestamp(0L), 2L)))
    val batch = FanOut.explodeSubjects(events.toDF())
    val proj = StreamGroup("g-proj", "PROJECT", "p1", "ALL", true, "UPDATES.STORAGE._.p1.>")
    val multi = StreamGroup("g-col", "COLLECTION", "c1", "ALL", true,
      "UPDATES.STORAGE._.p1._.c1.>", Seq("UPDATES.STORAGE._.p2._.c1.>"))
    def matched(groups: Seq[StreamGroup]) = {
      val subs = spark.createDataFrame(
        groups.flatMap(g => g.filterSubjects.map(fs => (g.id, fs, g.eventType))))
        .toDF("id", "joinKey", "subEventType")
      val depths = groups.flatMap(_.filterSubjects)
        .flatMap(Subjects.subtreeDepth).distinct.sorted
      val joined = batch
        .select(col("subject"), col("resourceId"), col("eventType"),
          col("eventId"), col("spos"))
        .withColumn("joinKey", explode(Subjects.matchKeysCol(col("subject"), depths)))
        .join(broadcast(subs), "joinKey")
        .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
      val deduped =
        if (groups.exists(_.filterSubjects.size > 1)) joined.dropDuplicates("id", "eventId", "spos")
        else joined
      (deduped.select(col("id").as("groupId"), col("subject"), col("resourceId"),
        FanOut.seqCol.as("seq")), depths)
    }
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val (joined, depths) = matched(Seq(proj, multi))
    val writeInput = matched(Seq(proj))._1
      .withColumn("chunkId", concat(col("groupId"), lit("-0")))
      .select(col("groupId"), col("chunkId"), col("subject"), col("resourceId"), col("seq"))
    s"""
## APPENDIX — multiplexed delivery micro-batch plan

The delivery body is not a `queries()` entry; these plans are built
from a representative in-memory batch.

### Subject match: candidate-key explode → broadcast hash EQUI-join

One multi-hierarchy group is registered, so the dedup arm is active.
Each event subject yields |distinct subtree depths|+1 candidate keys
(here depths=${depths.mkString("[", ",", "]")}); the join is pure key
equality — no matchesCol residual, so per-row cost is independent of
the number of registered groups (BASELINE.md round-14).

```
${plan(joined)}```

### Bucketed write input: scan → explode → broadcast join, one collect

With single-matcher groups only (the common case) there is no dedup
and no shuffle exchange: this plan is the ONE job of the trigger (plus
the broadcast of the subscription frame). Its `collect()` hands the
matched rows to the driver, which groups and counts them per group and
writes one parquet file per non-empty bucket
(`DeliveryTable.writeBucketed`) — no repartition, sort, task-side writer
or commit protocol.

```
${plan(writeInput)}```
"""
  }
}
