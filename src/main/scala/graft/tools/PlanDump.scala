package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans of the headline queries to
  * PLANS.md. Usage: runMain graft.tools.PlanDump [sfDir] [outFile] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("ERROR")

    val entries: Seq[(String, String)] = Seq(
      "q_tpch_q21" ->
        """TPC-H Q21 shape (the hardest decorrelation in the suite). What to
          |look for: ONE `LeftSemi` and ONE `LeftAnti` hash join on the
          |order key, each with the supplier-inequality as a join residual —
          |no BroadcastNestedLoop, no aggregate-based decorrelation; the
          |late-lines relation feeds both the probe and the anti side.""".stripMargin,
      "q_tpch_q2" ->
        """TPC-H Q2 shape. What to look for: both selective dim filters
          |(part class, supplier region) applied via BroadcastHashJoin ON
          |THE FACT SCAN before the pair aggregate, so only the brand
          |slice's lineitems are aggregated; the per-part MIN joins back as
          |a broadcast, not a shuffle.""".stripMargin,
      "q_pagerank" ->
        """Iterative weighted PageRank. What to look for: the fact-scale
          |edge build appears ONCE (materialized leaf); each of the 5
          |iterations is a BroadcastHashJoin of the 25-row rank table
          |against the edge leaf plus one small aggregate — no repeated
          |parquet scans, no growing lineage.""".stripMargin,
      "q_agg_pricing" ->
        """TPC-H-Q1 shape. What to look for: `PushedFilters` carries the
          |shipdate predicate into the parquet scan; `ReadSchema` holds only
          |the 7 referenced columns; partial→final `HashAggregate` pair with
          |no exchange between scan and partial (map-side combine);
          |everything inside one WholeStageCodegen span up to the 6-row
          |shuffle.""".stripMargin,
      "q_join_multi" ->
        """Multi-dim star join. What to look for: every dimension side is a
          |`BroadcastHashJoin` (no SortMergeJoin anywhere); the fact table
          |is scanned once and never shuffled for the joins.""".stripMargin,
      "q_dedup_ngram_jaccard" ->
        """Inverted-index near-dup join. What to look for: both shingle
          |sides fan out via a doc_id-keyed Exchange; the Window count (the
          |Jaccard denominator) runs on that same partitioning with no
          |extra exchange; the pair join keys on xxhash64(shingle) longs;
          |the (id_a, id_b) aggregate reuses the join-side partitioning —
          |no exchange between join and aggregate.""".stripMargin,
      "q_topk_per_group" ->
        """Custom operator path. What to look for: `TopKPerGroupExec`
          |(custom Strategy) with its partial per-partition heap BEFORE the
          |exchange — the shuffle carries at most k rows per group per
          |partition, not the whole input.""".stripMargin,
      "q_vocab_topk" ->
        """Corpus vocabulary. What to look for: partial+final HashAggregate
          |around the word exchange (the shuffle is vocabulary-sized, not
          |corpus-sized) and `TakeOrderedAndProject` — a bounded heap, not
          |a global sort.""".stripMargin,
      "q_percentiles" ->
        """Exact quantiles without value buffers. What to look for: ONE
          |`Exchange ... REPARTITION_BY_COL` on (group, value-bucket)
          |feeds the histogram HashAggregate AND the cumulative window
          |(local Sort, no second exchange of histogram rows); per-bucket
          |offsets arrive as a BroadcastHashJoin; no `percentile()` buffer
          |holding raw values exists anywhere in the plan.""".stripMargin,
      "q_tfidf_topk" ->
        """Corpus tf-idf. What to look for: the doc-frequency side
          |reduces map-side to vocabulary cardinality and BROADCASTS back
          |onto the (doc, term) relation — no term-keyed Exchange of the
          |big side anywhere; the per-doc rank window reuses the doc_id
          |fan partitioning (Sort without Exchange).""".stripMargin,
      "q_bucketed_join" ->
        """Bucketed layout. What to look for: both scans read bucketed
          |tables (`Bucketed: true`, 16 buckets) and feed the join with NO
          |Exchange and no Sort below it — the shuffle was paid once at
          |write time.""".stripMargin,
      "q_salted_agg" ->
        """Skew mitigation. What to look for: two aggregate stages — the
          |first keyed on (key, salt) spreads a hot key over 16 reducers,
          |the second merges partials; both run partial→final.""".stripMargin,
      "q_bm25_topk" ->
        """BM25 ranking. What to look for: the same single-exchange layout
          |as q_tfidf_topk — doc-length join is doc_id-keyed (reuses the
          |fan partitioning), doc-frequency and corpus-stats sides reduce
          |then BROADCAST; the integer-rational saturation/idf arithmetic
          |is plain projected expressions inside WholeStageCodegen, and
          |the rank window sorts without an exchange.""".stripMargin,
      "q_bloom_prefilter_join" ->
        """Runtime row filtering, explicit form. What to look for: the
          |native `might_contain(...)` probe sits in `DataFilters` ON the
          |probe-side parquet scan inside WholeStageCodegen (no UDF) —
          |fact rows that cannot join are dropped at scan time, before
          |the exchange; the dim side is the BroadcastHashJoin build as
          |usual.""".stripMargin,
      "q_dedup_jaccard_capped" ->
        """DF-capped exact Jaccard. What to look for: the heavy-shingle
          |set reduces through a partial→final aggregate to a tiny
          |relation and comes back as a BROADCAST left-anti join (map-side
          |filter); the kept-shingle count window runs on the doc_id fan
          |partitioning with no extra exchange; the pair join is unchanged
          |from q_dedup_ngram_jaccard.""".stripMargin,
      "q_tpch_q17" ->
        """Correlated scalar subquery, decorrelated. What to look for: the
          |brand filter broadcasts into the lineitem scan (PushedFilters
          |EqualTo(p_brand..) on the part side, BroadcastHashJoin on the
          |fact); the per-part average is a partial→final aggregate joined
          |back on l_partkey — no nested-loop, no cartesian
          |anywhere.""".stripMargin,
      "q_kmeans" ->
        """Packed k-means (final-iteration lineage). What to look for: the
          |centroid update aggregates PACKED arrays through the VecSum
          |ObjectHashAggregate (partial_vecsum below the exchange, map-side
          |combine) — no posexplode of the vector relation anywhere; the
          |assignment side meets the centroids as a BroadcastNestedLoop of
          |a k-row relation (k arrays per vector, not k×dim rows); the
          |vector leaf is the materialized RDD scan, appearing once per
          |iteration half.""".stripMargin,
      "q_substring_dedup" ->
        """Verbatim-window overlap signal. What to look for: ONE parquet
          |scan and ONE Generate (gram explode) in the whole plan — the
          |per-gram doc count is a partitionBy(h) Window over the
          |(h, doc_id) partial→final aggregate, NOT a self-join (which
          |would recompute the scan+explode lineage on the build side);
          |h is corpus-cardinality, so the Window sort is fully
          |partitioned, never single-task.""".stripMargin,
      "q_dedup_lsh_keep" ->
        """The 100 TB dedup chain end-to-end (now hash-oracled via the
          |portable sketch family). The candidate generation (equi-join on
          |(band_id, band key) — never all-pairs) and the
          |candidate-restricted exact-Jaccard verify run INSIDE the
          |components computation, whose per-round frontiers materialize
          |as RDDs (the iterative-CC doctrine — bounded lineage), so the
          |visible plan is the chain's LAST stage. What to look for
          |there: the drop-set aggregate reads the materialized label
          |leaf (Scan ExistingRDD — no re-execution of the band/verify
          |lineage), and the final anti-join's build side is the
          |planner's choice (no broadcast hint — the drop set is
          |O(duplicates) and would OOM the driver at high dup
          |rates).""".stripMargin,
      "q_dedup_incremental" ->
        """Incremental dedup SERVE path. What to look for: the band-probe
          |join's left side scans the PERSISTED bucketed index table
          |(graft_idx_mhband_*) — no re-shingling of the base corpus
          |anywhere in the plan; only the arriving shard's lineage carries
          |the explode/minhash stages; the exact-Jaccard verify reads the
          |documents scan through a LeftSemi against candidate ids, so
          |verify cost is O(candidates), not O(corpus).""".stripMargin,
      "q_ann_ivf_quant" ->
        """Quantized ANN serve. What to look for: the postings scan is the
          |persisted cell-partitioned code table
          |(graft_idx_ivfsq_code_post_*) with the probed cell ids as a
          |LITERAL PartitionFilters IN-list (static directory pruning);
          |the integer code-distance shortlist (rank cr <= 10) sits
          |between that scan and the full-precision embeddings join, so
          |true vectors are read only for 10 candidates per
          |query.""".stripMargin,
      "q_contamination_serve" ->
        """Exact-membership serve behind the SHARDED bloom family. What to
          |look for: graft_bloom_family_might_contain sits as a Filter on
          |the SHARD's shingle lineage (never on the index side — the
          |expression's deterministic=false fence keeps
          |InferFiltersFromConstraints from copying it across the join
          |equality), and exactly one scan of the persisted
          |graft_idx_bench_ngrams_* table feeds the exact inner join;
          |per-doc totals are computed from the shard alone (size() over
          |the un-exploded shingle array — no second index
          |touch).""".stripMargin,
      "q_contamination_distributed" ->
        """Exact-membership serve with PER-TASK shard-local bloom
          |residency (no merged family anywhere — the 1000-executor
          |form). What to look for: one Exchange hashpartitioning on
          |pmod(hash(h), shards) feeding a MapPartitions (each task
          |OR-merges and probes only the shards its partition hosts,
          |read from the side-files), then the exact inner join against
          |the one persisted graft_idx_bench_ngrams_* scan; per-doc
          |totals still from the shard alone. The extra 16-byte-row
          |shuffle is the price of shipping ZERO family bytes with the
          |plan.""".stripMargin,
      "q_contamination_point" ->
        """Adaptive small-arrival dispatch, point branch. What to look
          |for: the pinned bloom survivors enter as a Scan ExistingRDD
          |leaf (localCheckpoint — evaluated once, the A/B
          |double-billing lesson); the probe reads the RANGE-SORTED
          |secondary layout (graft_idx_bench_ngrams_srt_*) under an
          |In/INSET filter of the collected survivor keys pushed to the
          |parquet scan; the bucketed index never streams through a
          |join. A big arrival takes q_contamination_serve's plan
          |instead — the switch is plan-asserted both ways in
          |PlanSpec.""".stripMargin,
      "q_dedup_index_rewrite" ->
        """Serve AFTER the tombstone-applying major rewrite. What to look
          |for: the band-probe join's earlier side scans the REWRITTEN
          |generation (graft_idx_mhbandrw_g2_*) directly — no tombstone
          |anti-join anywhere in the plan (physical removal happened at
          |maintenance time), no re-shingling of the base corpus, and the
          |same candidate-restricted exact-Jaccard verify shape as the
          |incremental serve.""".stripMargin,
    )

    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated by graft.tools.PlanDump)\n\n")
    sb.append(s"Source: `$sfDir`, ${spark.sparkContext.master}. Plans are the static\n")
    sb.append("pre-execution shapes (AdaptiveSparkPlan wraps them; AQE\n")
    sb.append("re-plans exchanges at runtime but the broadcast/pushdown/\n")
    sb.append("partial-agg decisions shown are decided here).\n")
    entries.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out (${entries.size} plans)")
    spark.stop()
  }
}
