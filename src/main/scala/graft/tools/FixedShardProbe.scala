package graft.tools

/** Fixed-shard serve-exponent probe (BASELINE campaign, r11 verdict
  * item 5): the registered serve fixtures model the arriving shard as
  * 10 % OF the corpus, so their measured decade exponents fold fixture
  * growth (shard 10× per decade) into the chain's. This probe runs the
  * same three serve chains with a CONSTANT-size shard (source id < cap,
  * the ×1 fixture's own shard) against each scale's persisted index —
  * the exponent it measures is the chain's: index probe + verify, which
  * for a bucketed, partition-pruned index should be ~flat in corpus
  * size (expect e ≲ 0.3).
  *
  * Usage: runMain graft.tools.FixedShardProbe <sfDir> [docCap] [vecCap] [reps]
  * Defaults: docCap 5000 (= sf0.1 documents n), vecCap 2000 (= sf0.1
  * embeddings n) — so at ×1 the fixed shard IS the registered shard.
  */
object FixedShardProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val docCap = if (args.length > 1) args(1).toLong else 5000L
    val vecCap = if (args.length > 2) args(2).toLong else 2000L
    val reps = if (args.length > 3) args(3).toInt else 3
    // the point-lookup A/B needs the survivor IN-list pushed as
    // per-value parquet predicates; past the default threshold (10)
    // Spark degrades IN pushdown to a [min, max] range, which for
    // uniform hash keys prunes nothing
    val spark = graft.Session.build(extra =
      Map("spark.sql.parquet.pushdown.inFilterThreshold" -> "200000"))
    spark.sparkContext.setLogLevel("ERROR")

    // ROUTED-RESIDENCY measurement first: the family memo upgrades in
    // place, so this must run before any whole-family load (the fpp
    // probe below, the whole-residency serve chains) fills every slot —
    // the loaded/total ratio is the r15 arrival-sized-residency claim
    if (!sys.env.contains("SPARK_GRAFT_FSP_ONLY")) {
      val (loaded, shards, bytes) =
        graft.operators.Training.contamRoutedFamilyStats(spark, sfDir, 50L)
      println(f"[fixedshard] bloom_routed_residency arrival=50docs " +
        f"loaded_shards=$loaded/$shards loaded_bytes=$bytes")
    }

    val chains = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "dedup_incremental_fixed" ->
        (() => graft.operators.Dedup
          .dedupIncrementalFixedShard(spark, sfDir, docCap)),
      "contamination_serve_fixed" ->
        (() => graft.operators.Training
          .contaminationServeFixedShard(spark, sfDir, docCap)),
      "semantic_incremental_fixed" ->
        (() => graft.operators.Similarity
          .semanticDedupIncrementalFixedShard(spark, sfDir, vecCap)),
      // r12 verdict item 6: the capped serve through the APPEND LANE —
      // confirms the companion's population deltas stay shard-sized
      "semantic_capped_append_fixed" ->
        (() => graft.operators.Similarity
          .semanticDedupCappedAppendFixedShard(spark, sfDir, vecCap)),
      // r13 verdict item 6: capped serve + tombstone netting — the
      // netting legs must stay shard/tombstone-sized, never corpus
      "semantic_capped_retract_fixed" ->
        (() => graft.operators.Similarity
          .semanticDedupCappedRetractFixedShard(spark, sfDir, vecCap)),
      // r13 verdict item 5 A/B: exact-membership serve, bucketed-join
      // form vs key-sorted secondary layout + pushed IN point lookups,
      // at a SMALL arrival (50 docs) — the lookup path's precondition
      // is an arrival-bounded survivor set
      "contamination_join_small" ->
        (() => graft.operators.Training
          .contaminationServeFixedShard(spark, sfDir, 50L)),
      "contamination_point_small" ->
        (() => graft.operators.Training
          .contaminationServePointLookup(spark, sfDir, 50L)),
      // r14 verdict item 2: the WIRED dispatch at the A/B's arrival —
      // its overhead (doc-count gate + survivor count) rides on top of
      // whichever branch wins
      "contamination_adaptive_small" ->
        (() => graft.operators.Training
          .contaminationAdaptiveFixedShard(spark, sfDir, 50L)),
      // r14 verdict item 1: the serve with ARRIVAL-ROUTED family
      // residency vs the whole-family form above (same arrival)
      "contamination_routed_fixed" ->
        (() => graft.operators.Training
          .contaminationServeRoutedFixedShard(spark, sfDir, docCap)),
      // the per-task shard-local form (no merged family anywhere) —
      // residency evidence printed after the chains
      "contamination_distrib_fixed" ->
        (() => graft.operators.Training
          .contaminationDistributedFixedShard(spark, sfDir, docCap)),
      // r14 verdict item 6: serve exponents against REWRITTEN
      // generations (the rewrite itself amortizes build-once; its
      // one-time cost shows up in the first `rows=` construction)
      "dedup_rewrite_fixed" ->
        (() => graft.operators.Dedup
          .dedupIndexRewriteFixedShard(spark, sfDir, docCap)),
      "semantic_rewrite_fixed" ->
        (() => graft.operators.Similarity
          .semanticDedupRewriteFixedShard(spark, sfDir, vecCap)),
      // constant 5-query arrival by construction — serves the rewritten
      // cell-partitioned generation with static pruning
      "ann_rewrite_serve" ->
        (() => graft.operators.Similarity.annIvfRewrite(spark, sfDir)))

    // SPARK_GRAFT_FSP_ONLY=a,b narrows the chain list (focused iteration)
    val fspOnly = sys.env.get("SPARK_GRAFT_FSP_ONLY").map(_.split(",").toSet)
    for ((label, mk) <- chains
         if fspOnly.forall(_.contains(label))) {
      def run(): Double = {
        graft.Session.release(spark)
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rows = mk().count() // also builds index snapshots if absent
      val times = (1 to reps).map(_ => run())
      println(f"[fixedshard] $label%-28s rows=$rows%-7d " +
        times.map(t => f"$t%7.2f").mkString(" "))
    }

    // r13 verdict item 1 done-criterion: the sharded bloom family's
    // measured fpp at this corpus scale (random longs over 2^64 are
    // non-members w.p. ~1, so the hit rate IS the fpp)
    if (fspOnly.isEmpty) {
    val (_, fam) = graft.operators.Training.contamIndexAndBloom(spark, sfDir)
    val rnd = new java.util.Random(7)
    val nProbe = 200000
    var hits = 0
    var i = 0
    while (i < nProbe) {
      if (fam.mightContainLong(rnd.nextLong())) hits += 1
      i += 1
    }
    println(f"[fixedshard] bloom_family shards=${fam.shards} " +
      f"bytes=${fam.loadedBytes} " +
      f"fpp=${hits.toDouble / nProbe}%.4f")

    // DISTRIBUTED-RESIDENCY evidence (r14 verdict item 1): per-task
    // deserialized bloom bytes of the shard-local probe — max is what
    // any one executor holds at a time; the whole-family bytes above
    // are what the merged form ships to EVERY executor
    {
      val acc = spark.sparkContext.collectionAccumulator[java.lang.Long](
        "graft.bloom.taskResidentBytes")
      graft.operators.Training
        .contaminationDistributedFixedShard(spark, sfDir, docCap, Some(acc))
        .write.format("noop").mode("overwrite").save()
      val per = acc.value.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
      println(f"[fixedshard] bloom_distributed_residency tasks=${per.length} " +
        f"max_task_bytes=${if (per.isEmpty) 0L else per.max} " +
        f"sum_task_bytes=${per.sum}")
    }
    }
    spark.stop()
  }
}
