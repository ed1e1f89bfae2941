package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.catalyst.plans.{logical => logical}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}

/** The "scale-killer sweep" as a regression lock instead of a manual
  * audit, over the executed plan of EVERY registered query (built once,
  * shared by each ban below).
  *
  * Ban 1 — unbounded cross products:
  *
  *  - CARTESIAN (non-broadcast cross product) allowed ONLY for q42/q48 —
  *    the deliberately bounded brute-force oracle baselines for their
  *    LSH twins (input capped by a doc_id predicate, stated in their
  *    scaladoc). Everything else, including the BNLJ-whitelisted
  *    queries, fails on a CartesianProduct — so if a broadcast hint is
  *    ever dropped and the planner falls back to a shuffled cross
  *    product, the sweep still catches it.
  *  - BROADCAST nested-loop allowed additionally for q44/q49/q70/q99/
  *    q183 (tiny probe/centroid/LUT side broadcast against the streamed
  *    corpus),
  *    q66/q71/q83/q104/q109/q110 (a broadcast ONE-ROW aggregate attached
  *    to bounded rows — the scalar-subquery shape; q71's is the N-total
  *    exactness guard) and q75 (k = 8 broadcast centroids per
  *    k-means assignment pass — the MLlib dataflow). The broadcast
  *    itself bounds these: the build side must fit in the driver/
  *    executor broadcast limit or the job fails loudly.
  *
  * Ban 2 — unpartitioned windows over unbounded frames: a
  * `Window.orderBy(...)` with no partition spec moves EVERY input row to
  * one task (Spark's own WindowExec warning) — correct at sf0.1, fatal at
  * 100 TB when the frame grows with the data (the class that made q59's
  * vocab rank and q166's bucket cumsum `weak` in round 6). An executed
  * WindowExec/WindowGroupLimitExec with an empty partition spec is
  * allowed only when the frame provably cannot grow with the corpus:
  *
  *  - STRUCTURAL: the window orders by Dist's `__pid` column — the
  *    globalRowNumber/globalCumSum offsets frame, ≤ numParts rows by
  *    construction; or a limit node (GlobalLimit/TakeOrderedAndProject)
  *    bounds the window's own subtree (q59's top-50 rank).
  *  - DECLARED: the query appears in `boundedCensusWindows` with the
  *    documented cardinality bound of its aggregated census frame
  *    (≤ |days|, ≤ |langs|, ≤ 64 spectrum buckets, …) — frames keyed on
  *    a DOMAIN-bounded attribute, not on corpus volume.
  *
  * Anything else that starts planning one of these nodes is a regression
  * (a join key was lost, a broadcast hint dropped, a filter stopped
  * pushing, a census key became corpus-keyed) — caught at sf0.001 cost. */
class PlanHygieneSpec extends SparkSpec {

  private val cartesianBaselines = Set("q42_ngram_jaccard_topk", "q48_cosine_neardup")
  private val broadcastLoopAllowed = cartesianBaselines ++ Set(
    "q44_cosine_topk", "q49_ann_ivf_topk", "q59_vocab_coverage",
    "q70_int8_ann_topk", "q183_pq_ann", // 8 broadcast probe-LUT maps × streamed codes
    // q194 composes q44+q70+q183 (their broadcast-probe scans); q192
    // attaches the broadcast ONE-ROW centroid to the streamed corpus
    "q194_quant_recall_audit", "q192_centroid_selection",

    "q66_tfidf_terms", "q71_heavy_hitters", "q75_kmeans", "q83_quality_audit",
    "q99_rrf_fusion", "q104_pmi_pairs", "q109_mixture_plan",
    "q110_triangle_count", "q115_equidepth_histogram", "q116_cluster_top_terms",
    "q117_spend_deciles", "q120_file_merge_oracle", "q121_file_dedup_oracle",
    "q124_exact_stratified_sample", "q133_index_maintenance",
    "q134_embedding_outliers", "q137_bm25_retrieval", "q139_ann_recall_audit",
    "q142_quality_calibration", "q144_token_budget_selection",
    "q150_theta_overlap", "q153_cusum_drift", "q158_benford_audit",
    "q162_distribution_drift", "q165_conversion_survival",
    "q167_session_depth",
    // q175: the one-row grand total attaches to the |sources|-row frame
    // (never the corpus-sized join) before broadcasting
    "q175_source_divergence",
    // q184: the one-row global n_unlinked audit attaches to the
    // |segments|-row census frame
    "q184_pseudonymize",
    // q191: the one-row doc-count total attaches to the tier cut
    // (q117's spendDeciles shape)
    "q191_perplexity_buckets",
    // q201: the one-row doc-count total attaches to the decile cut
    // (the same q117 shape)
    "q201_crawl_drift")

  /** Queries whose unpartitioned windows run over a DOMAIN-bounded
    * aggregated census frame (value = the bound, stated for the audit
    * trail). Keys here are attributes whose cardinality is fixed by the
    * domain — calendar days, languages, digit/bucket alphabets — never
    * by corpus volume. */
  private val boundedCensusWindows: Map[String, String] = Map(
    "q101_concurrency_sweep" -> "calendar-bounded hourly grid (8,760 rows/yr)",
    "q124_exact_stratified_sample" -> "Hare allocation over the <=|langs| strata frame",
    "q130_shard_balance" -> "serpentine rank over the <=|sources|x|langs| strata frame",
    "q153_cusum_drift" -> "CUSUM prefix frames over the <=365-rows/yr daily aggregate",
    "q165_conversion_survival" -> "running sum over the <=|days| offset census",
    "q168_burst_census" -> "census total over <=|distinct peak values| rows",
    "q171_temperature_mixture" -> "apportionment over the <=|langs| frame",
    "q173_gap_spectrum" -> "shares over the <=64-row log2 bucket spectrum",
    "q177_source_concentration" -> "Gini rank over the <=|sources| mass frame",
    "q188_dsir_selection" -> "grand totals over the <=4096-row hashed-bucket frame",
    "q191_perplexity_buckets" -> "LM grand total over the <=4096-row hashed-bucket frame",
    "q193_epoch_mixture" -> "greedy budget cut over the 4*|sources| increment frame",
    "q200_cluster_size_census" -> "shares over the <=64-row log2 size spectrum")

  // name -> every node in the executed plan (AQE-unwrapped, subqueries
  // included), built ONCE and shared by both sweeps below.
  private lazy val planNodes: Seq[(String, Seq[SparkPlan])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> allPlanNodes(executedPlanOf(fn(spark, sfDir)))
    }

  test("no registered query plans an unbounded cross product") {
    val offenders = planNodes.flatMap { case (name, nodes) =>
      nodes.collect {
        case _: CartesianProductExec if !cartesianBaselines(name) =>
          s"$name: CartesianProduct"
        case _: BroadcastNestedLoopJoinExec if !broadcastLoopAllowed(name) =>
          s"$name: BroadcastNestedLoopJoin"
      }.distinct
    }
    assert(offenders.isEmpty,
      s"unbounded join shapes appeared outside the whitelist:\n${offenders.mkString("\n")}")
  }

  private def boundedByConstruction(w: SparkPlan): Boolean = {
    val (partitionSpec, orderSpec) = w match {
      case e: WindowExec => (e.partitionSpec, e.orderSpec)
      case e: WindowGroupLimitExec => (e.partitionSpec, e.orderSpec)
      case _ => return true
    }
    partitionSpec.nonEmpty ||
      // Dist.globalRowNumber/globalCumSum offsets frame: numParts rows.
      orderSpec.exists(_.references.exists(_.name == "__pid")) ||
      // a limit below the window bounds its input outright (q59 top-50).
      allPlanNodes(w).exists {
        case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
        case _ => false
      }
  }

  /** Ban 3 — corpus-growing broadcast build sides (the q218 r10 finding,
    * closed as a CLASS): an explicit `broadcast()` HINT forces the build
    * side to every executor regardless of size — correct at sf0.1, an
    * OOM (or the 8 GB broadcast hard cap) at 100 TB if the hinted frame
    * grows with the corpus. The sweep checks HINTED sides only, on the
    * optimized LOGICAL plan: a stats-chosen broadcast (AQE/auto
    * threshold) self-corrects at scale — at 100 TB the same query plans
    * a sort-merge join because the stats exceed the threshold — so at
    * sf0.001, where everything fits under 10 MB, the physical plan is
    * full of broadcasts that prove nothing. The hint is the builder's
    * own size CLAIM, and the claim is what must be bounded:
    *
    *  - STRUCTURAL: the hinted subtree contains an Aggregate (a grouped
    *    census/argmax/offsets frame — note a corpus-keyed aggregate
    *    still passes, which is why the near-dup rep attaches dropped
    *    their hints entirely rather than lean on this allowance), a
    *    Limit, a literal fixture (LocalRelation), or only DOMAIN-FIXED
    *    table scans (region: 5 rows, nation: 25 at every TPC-H SF).
    *  - DECLARED: the query appears in [[boundedBroadcasts]] with the
    *    documented bound of its structurally-opaque hinted side —
    *    almost always a durableCkpt'd frame (LogicalRDD, lineage cut)
    *    whose bound lives upstream of the checkpoint: an ingest BATCH,
    *    a ≤K-row probe/centroid frame, a landed aggregate.
    *
    * A new violation means a corpus-derived frame grew a broadcast hint
    * (or a checkpoint severed the aggregate that witnessed a bound
    * without a declaration) — caught at sf0.001 cost. */
  private val boundedBroadcasts: Map[String, String] = Map(
    // --- ingest batches: the hinted side is the INCOMING batch (the
    // doc_id%10 slice plays it in the fixture) — bounded by the ingest
    // contract (work ∝ batch), not by plan structure; both scaladocs
    // document the SMJ degradation path when a batch outgrows broadcast.
    "q68_incremental_dedup" -> "the ingest batch (sigs/band keys/texts), work-in-batch contract",
    "q87_bucketed_incremental_dedup" -> "batch band keys (|batch| x Bands rows) + batch payload (|batch| rows) + O(batch x bucket multiplicity) candidate pairs + <=|candidates| match keys",
    "q178_containment_ingest" -> "the ingest batch shingle sets",
    "q233_incremental_ingest" -> "batch canon/digest/band/prefix probes + batch-bounded survivor sets (IngestSpec plan-asserts the corpus side)",
    // --- fixed probe/query frames: a literal id predicate bounds them
    "q44_cosine_topk" -> "<=8-row probe frame (vec_id < 8)",
    "q46_ann_lsh_topk" -> "<=8-row probe frame (vec_id < 8)",
    "q70_int8_ann_topk" -> "<=8-row probe frame (vec_id < 8)",
    "q99_rrf_fusion" -> "<=5-row probe frame (doc_id < 5)",
    "q139_ann_recall_audit" -> "<=8-row probe frame (vec_id < 8)",
    "q194_quant_recall_audit" -> "<=8-row probe frames + the m x 256 PQ codebook (ckpt)",
    // --- small model/state frames whose bound a checkpoint hides
    "q133_index_maintenance" -> "<=K-row centroid frame (ckpt)",
    "q183_pq_ann" -> "m x 256 PQ codebook/LUT (ckpt)",
    "q71_heavy_hitters" -> "one-row SpaceSaving sketch state (ckpt)",
    "q71b_heavy_hitters_adaptive" -> "<=k-row candidate explode of the one-row sketch state (ckpt)",
    "q83_quality_audit" -> "one-row audit census (ckpt)",
    "q172_incremental_backfill" -> "affected-days frame, <=|days| (ckpt)",
    // --- change/request batches (the CDC/takedown feed contract; q128's
    // scaladoc documents the bucketed SMJ degradation when one outgrows
    // a broadcast)
    "q127_takedown_propagation" -> "takedown request batch (notice-list contract)",
    "q128_cdc_merge_apply" -> "CDC touched-key batch (feed contract, SMJ degradation documented)",
    "q181_snapshot_diff" -> "diff change-class batch (same CDC feed contract)",
    // --- file-workflow oracles: one row per landed workflow FILE
    "q120_file_merge_oracle" -> "per-file stats of the merged output (1 file)",
    "q121_file_dedup_oracle" -> "per-file stats of the deduped output (1 file)",
    // --- q206: per-slice offsets frame, #slices = ceil(bytes/64 MB)
    // slim rows; recordsNumbered's scaladoc routes crawl-scale readers
    // to records()'s composite identity instead of the global ordinal
    "q206_warc_records" -> "per-slice offsets frame (bytes/sliceBudget slim rows, fixture-oracle path)")

  private def boundedLogical(side: logical.LogicalPlan): Boolean = {
    val nodes = side.collect { case n => n }
    // runtime-measured bound (Dist.sizedBroadcast): a hinted side whose
    // LogicalRDD leaves were ALL measured under the helper's bounds at
    // hint time is bounded by MEASUREMENT — the r11-mandated replacement
    // for hand-declared bounds on checkpointed frames. The approval
    // vouches for the RDD's measured CARDINALITY, so only derivations
    // that cannot expand it inherit the bound: every node between the
    // hint and the measured leaves must be row-preserving-or-reducing
    // (r12 ADVICE — an explode(members)/join built over an approved RDD
    // used to pass without ever being measured; the per-call-site
    // by-construction argument holds only for the frame sizedBroadcast
    // itself hinted). Fails closed: an unlisted node kind (Generate,
    // Join, Union, Expand, anything new) breaks the inheritance and the
    // side must justify itself some other way.
    val rdds = nodes.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    val approvedIds = graft.Dist.approvedRdds(spark.sparkContext)
    val nonExpanding = nodes.forall {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: logical.Project | _: logical.Filter | _: logical.SubqueryAlias |
           _: logical.Sort | _: logical.GlobalLimit | _: logical.LocalLimit |
           _: logical.Aggregate | _: logical.Window | _: logical.Deduplicate |
           _: logical.Distinct | _: logical.Repartition |
           _: logical.RepartitionByExpression | _: logical.ResolvedHint => true
      case _ => false
    }
    val measured = rdds.nonEmpty && rdds.forall(approvedIds) && nonExpanding
    measured || nodes.exists {
      case _: logical.Aggregate => true
      case _: logical.GlobalLimit | _: logical.LocalLimit => true
      case _: logical.LocalRelation | _: logical.OneRowRelation => true
      case _ => false
    } || {
      val rels = nodes.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      val opaque = nodes.exists {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _ => false
      }
      !opaque && rels.nonEmpty && rels.forall(_.relation match {
        case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          val paths = f.location.rootPaths.map(_.toString)
          paths.nonEmpty && paths.forall(p =>
            p.endsWith("region.parquet") || p.endsWith("nation.parquet"))
        case _ => false
      })
    }
  }

  /** Broadcast-hinted join sides of the optimized logical plan
    * (subqueries included). */
  private def hintedSides(df: org.apache.spark.sql.DataFrame): Seq[logical.LogicalPlan] = {
    val plan = df.queryExecution.optimizedPlan
    (plan +: plan.subqueriesAll).flatMap(_.collect {
      case j: logical.Join =>
        def wants(h: Option[logical.HintInfo]) =
          h.exists(_.strategy.contains(logical.BROADCAST))
        (if (wants(j.hint.leftHint)) Seq(j.left) else Nil) ++
          (if (wants(j.hint.rightHint)) Seq(j.right) else Nil)
    }.flatten)
  }

  test("no broadcast hint claims a corpus-growing build side") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        if (boundedBroadcasts.contains(name)) Nil
        else hintedSides(fn(spark, sfDir)).collect {
          case side if !boundedLogical(side) =>
            s"$name: broadcast hint over ${side.nodeName}"
        }.distinct
    }
    assert(offenders.isEmpty,
      s"unbounded broadcast hints outside the whitelist:\n${offenders.mkString("\n")}")
  }

  test("no unpartitioned window runs over a corpus-growing frame") {
    val offenders = planNodes.flatMap { case (name, nodes) =>
      if (boundedCensusWindows.contains(name)) Nil
      else nodes.collect {
        case w: WindowExec if !boundedByConstruction(w) =>
          s"$name: unpartitioned WindowExec over ${w.child.nodeName}"
        case w: WindowGroupLimitExec if !boundedByConstruction(w) =>
          s"$name: unpartitioned WindowGroupLimitExec over ${w.child.nodeName}"
      }.distinct
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside the bounded whitelist:\n${offenders.mkString("\n")}")
  }
}
