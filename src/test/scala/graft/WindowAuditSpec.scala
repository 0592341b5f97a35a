package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Repo-wide scale audit: an UNPARTITIONED WindowExec moves its whole
  * input to one partition — the canonical 100×-scale-killer (this is
  * how q241/q242's vocabulary-sized rank windows were caught in round
  * 10, by hand). This sweep mechanizes the grep: EVERY registered
  * query's physical plan is collected, every WindowExec with an empty
  * partitionSpec must be on the documented whitelist below, and every
  * whitelist entry must still be exercised (no stale exemptions).
  *
  * Queries whose registered function runs a streaming drain (or a
  * batch sink write) are NOT invoked — that would re-run multi-batch
  * drains per audit — but they are NOT skipped either: their
  * post-drain read-backs (`QuerySpec.readBack`) are planned
  * against a footer-only stub parquet of the registered sink schema,
  * so the audit covers ALL registered queries' batch plans. The key-set
  * equality assertion below means a new drain can neither dodge the
  * audit nor forget to register its read-back.
  *
  * The whitelist is strictly for METADATA-SCALE frames — inputs whose
  * cardinality is bounded by a constant of the computation (a k-row
  * top-k list, a ≤101-point score histogram, a ≤1024-row block table),
  * not by the data volume. A window over anything corpus-, vocab-,
  * entity- or event-cardinality must use the blocked prefix-sum shape
  * (`OlapOps.globalRankAsc`) or a broadcast triangular join
  * (`TextAnalysis.zipfBands`) instead.
  */
class WindowAuditSpec extends SparkSpec {

  /** Queries whose registered function DRAINS a structured stream (or
    * replays staged waves / writes a batch sink) when invoked. Audited
    * through their registered read-backs instead of by invocation. */
  private val streamingDrains = Set(
    "q218_stream_dedup", "q229_stream_join", "q238_stream_packing",
    "q243_late_audit", "q244_session_window", "q246_milestones",
    "q250_idle_close", "q251_stream_left_join", "q252_join_then_window",
    "q253_stream_upsert", "q254_stream_funnel", "q255_stream_actives",
    "q256_update_mode", "q257_complete_topk", "q145_stream_monitor",
    "q258_stream_static", "q259_bounded_dedup", "q265_stream_cdc",
    "q271_type_runs", "q273_join_eviction", "q274_leftjoin_eviction",
    "q275_ttl_cache", "q276_cdc_consumer", "q277_fulljoin_eviction",
    "q278_session_eviction", "q279_chained_eviction",
    "q280_cdc_compaction", "q281_rocksdb_chained", "q282_event_ttl",
    "q283_time_travel", "q284_live_compaction", "q285_retention_k",
    "q286_rocksdb_session", "q287_consumer_retention",
    "q288_grouped_ivm", "q291_streaming_ivm",
    // not stream drains, but their registered functions also execute
    // pipelines on invocation: q149 drains the parquet file sink,
    // q170 writes the partitioned sink it then reads back, q263
    // eagerly writes its materialized base table before the merge
    "q149_ingest_sessions", "q170_sink_roundtrip",
    "q263_incremental_agg",
    // q289 eagerly stages waves and runs the three-merge chain; q290
    // eagerly writes its clustered table + index and probes it; the
    // audit plans their read-backs over stubbed snapshots instead
    "q289_evolve_merge", "q290_point_lookup", "q292_index_refresh",
    "q293_table_history")

  /** query name -> (substring of the window's orderSpec identifying
    * it, why the frame is metadata-scale). An entry must match at
    * least one audited window or the audit fails as stale. */
  private val whitelist: Map[String, Seq[(String, String)]] = Map(
    // (the blocked-prefix-sum family — q79/q85/q102/q115/q124/q131/
    // q139/q163 — used to rank its block table under a single-
    // partition window and live here; OlapOps.blockOffsets replaced
    // that with the broadcast triangular self-join, so those plans now
    // contain NO unpartitioned WindowExec at all)
    // largest-remainder apportionment ranks the STRATA table
    // (languages / sources — a mix config, dozens of rows)
    "q104_budget_alloc" -> Seq(("rem_num", "per-language strata table")),
    "q236_quota_manifest" -> Seq(("rem_num", "per-source strata table")),
    // grand-total / running windows over already-collapsed bounded
    // frames: contingency cells, nation dims, histogram bins,
    // event-type digests, quantization buckets
    "q105_chi_square" -> Seq(("", "5x5 segment x priority contingency table")),
    "q117_parent_share" -> Seq(("", "25-row nation aggregate table")),
    "q118_histogram_cdf" -> Seq(("", "equi-width bin table (tens of rows)")),
    "q125_freshness" -> Seq(("", "per-event-type digest (bounded types)")),
    "q206_emd_drift" -> Seq(("bucket", "quantization bucket table")),
    // sketch-estimator medians rank the r≈16 replica estimates
    "q154_join_size" -> Seq(("est_f2", "r-row AGMS replica table")),
    "q155_join_size_2rel" -> Seq(("est_join", "r-row AGMS replica table")),
    // model-eval curves rank the QUANTIZED score histogram (≤101
    // rows after the groupBy(score) collapse), not raw predictions
    "q184_auc" -> Seq(("score", "quantized score histogram")),
    "q185_roc_curve" -> Seq(("score", "quantized score histogram"),
      ("", "grand-total over the score histogram")),
    "q186_pr_curve" -> Seq(("score", "quantized score histogram"),
      ("", "grand-total over the score histogram")),
    "q187_avg_precision" -> Seq(("score", "quantized score histogram")),
    // RRF fuses the three ANN families' ≤k-row candidate lists
    "q219_rank_fusion" -> Seq(("score DESC", "≤k-row top-k lists per family")),
    // vocab rank applies AFTER limit(vocabSize) — a config constant
    "q68_vocab" -> Seq(("cnt DESC", "limit(vocabSize)-bounded term table")))

  private val readBacks = SparkEntry.specs
    .flatMap(q => q.readBack.map(q.name -> _)).toMap

  private def windows(plan: SparkPlan): Seq[WindowExec] = plan.collect {
    case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
    case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
  }.flatten

  /** The frame the audit plans for `name`: the registered function for
    * batch queries; the registered READ-BACK over a footer-only stub
    * parquet of the sink schema for drains (planning only — the stub
    * scan has the real sink's schema and operators, no drain runs). */
  private def auditFrame(name: String): DataFrame =
    readBacks.get(name) match {
      case Some((schema, readBack)) =>
        val stub = tmpDir(s"audit_$name")
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema)
          .write.mode("overwrite").parquet(stub)
        readBack(spark, stub)
      case None => SparkEntry.queries(name)(spark, sf0001)
    }

  test("drain read-back registry exactly covers the non-invoked set") {
    assert(readBacks.keySet == streamingDrains,
      "registered read-backs and the drain set must stay in lockstep — " +
        s"missing read-backs: ${streamingDrains -- readBacks.keySet}, " +
        s"unexpected read-backs: ${readBacks.keySet -- streamingDrains}")
    assert(streamingDrains.subsetOf(SparkEntry.queries.keySet),
      "every drain name must be a registered query")
  }

  test("no registered query plans an unwhitelisted single-partition window") {
    val hits = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        windows(auditFrame(name).queryExecution.executedPlan)
          .foreach { w =>
            hits += ((name, w.orderSpec.map(_.sql).mkString(", ")))
          }
      } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName} ${e.getMessage}"
      }
    }
    assert(errors.isEmpty, s"plans failed to build:\n${errors.mkString("\n")}")
    val violations = hits.filterNot { case (name, order) =>
      whitelist.get(name).exists(_.exists { case (frag, _) =>
        order.contains(frag)
      })
    }
    assert(violations.isEmpty,
      "single-partition WindowExec outside the metadata-scale whitelist " +
        "(fix with the blocked prefix-sum shape of OlapOps.globalRankAsc " +
        "or a broadcast triangular join, or document the bounded frame " +
        "here):\n" +
        violations.map { case (n, o) => s"  $n: orderBy[$o]" }.mkString("\n"))
    // stale-exemption check: every whitelist entry must still match
    val stale = whitelist.toSeq.flatMap { case (name, entries) =>
      entries.collect {
        case (frag, why) if !hits.exists { case (n, o) =>
          n == name && o.contains(frag) } => s"$name/$frag ($why)"
      }
    }
    assert(stale.isEmpty,
      s"whitelist entries no longer exercised — remove:\n${stale.mkString("\n")}")
  }

  test("q241/q242 plan NO single-partition window at all (round-10 fix pin)") {
    import graft.operators.TextAnalysis
    assert(windows(TextAnalysis.zipfQuery(spark, sf0001)
      .queryExecution.executedPlan).isEmpty,
      "zipfBands must stay free of unpartitioned windows")
    assert(windows(TextAnalysis.heapsQuery(spark, sf0001)
      .queryExecution.executedPlan).isEmpty,
      "heapsGrowth must stay free of unpartitioned windows")
  }
}
