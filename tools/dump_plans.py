"""Regenerate PLANS.md: formatted physical plans for representative
queries at sf0.1 — the evidence artifacts behind SCALING.md's claims."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_etl_pipeline_spark.session import get_spark
import __spark_entry__ as e

PICKS = {
    "q6_revenue_filter": "full predicate pushdown + column pruning + one partial/final agg",
    "q5_region_revenue": "broadcast dimension chain; only fact joins shuffle",
    "orderby_limit_top_orders": "global top-k as TakeOrderedAndProject (no full sort)",
    "window_topk_orders_per_customer": "per-group top-k: single hash partition + in-partition sort",
    "dedup_minhash_lsh": "keyed shuffles only (shingle/doc/band); no cross join anywhere",
    "ref_transform_full": "entire reference pipeline in pipelined codegen stages",
    "q21_waiting_suppliers": "exists/not-exists pair as window exprs: ONE scan of lineitem+orders, one shuffle on orderkey",
    "txt_winnow_fingerprint": "whole sketch in one narrow scan: no exchange anywhere before the output sort",
    "txt_contamination": "benchmark shingle table broadcast-hash-probed by exploded corpus shingles; only doc_id-keyed count shuffles",
    "sim_quantize_int8": "64-row scale aggregate broadcast; quantization is a narrow zip_with over each vector",
    "txt_pack_sequences": "one window exchange on the stratum key, reused by the downstream groupBy (no second shuffle)",
    "txt_rare_token_ratio": "top-V vocab via TakeOrderedAndProject, scored back as a broadcast hash probe (no token-keyed corpus shuffle)",
    "txt_bloom_contamination": "128-word Bloom filter + audit list as 1-row broadcasts; corpus probe stays a narrow scan",
    "ev_scd2_users": "lag/run-sum windows, per-run agg and valid_to stitch share ONE user_id exchange",
    "ev_zorder_layout": "user-rank dictionary broadcast onto the fact scan; only the file_id agg shuffles",
    "dedup_ngram_spans": "positional 5-gram table shuffles only on the 60-bit gram HASH (8-byte keys, not gram strings: count-distinct + dup-mark join) and then doc_id; no broadcast of the data-sized dup set",
    "txt_dsir_weights": "64-bucket weight table derived in-plan (window over 64 rows) and broadcast back; scoring is a map-side hash probe + one doc_id agg + TakeOrdered",
    "sim_kmeans_lloyd": "unrolled Lloyd rounds: per-iteration centroid tables stay K-row broadcasts; assignment is a map-side argmin over the broadcast array, never a per-dim join",
    "txt_triangle_count": "degree-ordered wedge join over the persisted dup-pair edges; closure probe is an equi-join on the (lo, hi) pair key — no triangle enumeration cross join",
    "ev_overlap_incident_sessions": "both interval sides exploded onto the time-bucket grid and equi-joined on the bucket key; true overlap is a residual predicate, distinct de-dupes multi-bucket hits",
    "bm25_topk": "corpus probe of the <=15-term panel is a broadcast hash join; dl/avgdl/N arrive as 1-row broadcasts; per-query top-k pushes into WindowGroupLimit",
    "inverted_index": "(term, doc) tf counts with map-side partial agg, per-term posting assembly, top-terms via TakeOrderedAndProject",
    "weighted_sample": "A-ES keys are a narrow map over the scan; the reservoir is TakeOrderedAndProject — no corpus shuffle at all",
    "skip_bloom_stats": "explode to 3 bit positions + two keyed aggs; output is one metadata row per file",
    "txt_mixture_manifest": "per-stratum agg + 1-row total broadcast; the realized draw broadcasts thresholds back onto the scan (no lang-keyed corpus shuffle)",
    "txt_gopher_repetition": "ONE tagged explode for all three gram sizes; (doc,n,gram) count collapses map-side; per-(doc,n) max rides the same key",
    "sim_rp_recall": "JL projection as 16 constant-array folds in the scan stage; query panel broadcast; per-query top-k windowed",
    "txt_char_entropy": "char-position explode pruned to doc_id+text; (doc,char) count collapses each alphabet map-side",
    "txt_kl_drift": "token-keyed join of two pre-aggregated count tables; totals broadcast; lang rollup is L-row",
    "dedup_components": "large-star/small-star contraction: per-round keyed aggs + joins over a SHRINKING checkpointed edge set; convergence is two metadata-sized counts",
    # round 6
    "dedup_ngram_jaccard": "single-shuffle pair stage: shingle-keyed collect_list + in-partition 2-combination expansion (the r6 rewrite — the shingle frame crosses the wire ONCE); jaccard join over pre-aggregated sizes",
    "ev_cuped": "one user-keyed conditional-sum agg + 1-row integer moment rollup; no join anywhere",
    "ev_attribution": "as-of latest-prior-touch via one purchase-keyed window; 1-row total broadcast for shares",
    "ev_conversion_windows": "two user-keyed aggs joined PRE-aggregated (never event x event); day rollup",
    "train_shard_manifest": "narrow (seed,epoch,key) md5 map + one 8-key agg; output metadata-sized",
    # round 8 registrations
    "ev_gap_fill": "ONE (type, hour) data agg with map-side collapse; grid + interpolation windows run over span-sized frames",
    "agg_rfm_segments": "3N melt -> repartitionByRange -> pid-keyed row_number + broadcast offsets (global_row_number); NTILE as pure (rank, N) arithmetic; no un-partitioned window",
    "txt_domain_split": "narrow md5-ppm map + split-keyed agg bounded by the domain universe; ppm share window over <= 3 rows",
    "ev_hll_overlap": "one pass to per-type sketches; pair algebra over |types|^2 register blobs (the bounded broadcast class)",
    # round 9 registrations
    "dq_expectations": "7 constraints fused into one conditional-agg scan per table + two anti-joins; every output exact-integer",
    "agg_basket_lift": "distinct-first dedup, single-shuffle bounded basket pair expansion, keyed support joins, TakeOrdered head",
    "train_curriculum_order": "global_row_number range shuffle (2nd surface) + persisted barrier read by both branches; shard rollup keyed",
    "search_hybrid_rrf": "shared _bm25_per_doc posting shuffle + 5-query-vector broadcast dense scan; integer-ppm fusion over candidate-sized frames",
    # round 11 registrations
    "train_token_budget_pack": "global_prefix_sum range shuffle (rank AND running sum in ONE pid-keyed WindowExec) + broadcast offsets; lang rollup over the budget-bounded selection",
    "dq_profile_drift": "1-row bounds broadcast + ONE conditional-agg pass for both halves' 7 metrics; stack() unpivot over a 1-row frame; decimal-space drift saturation (no 64-bit quotient conversion can wrap)",
    "ev_seasonal_residuals": "hour-keyed agg with map-side collapse; complete grid exploded from a 1-row bounds broadcast; (dow,hod) slot stats joined on a 168-row key",
    # round 12 registrations
    "dq_k_anonymity": "two keyed aggs over one pruned 3-column customer scan; no join, no window — class counting never keys a window by the QI tuple",
    "agg_ols_trend": "one orders->customer equi-join, 25-group decimal moment agg, pure arithmetic on the bounded frame, broadcast nation names",
    "txt_boilerplate_lines": "line explode -> (line,doc) agg -> line_key document-frequency AGG (never a window on the by-definition-heavy line keys) -> keyed join-back -> source rollup",
    "mm_phash_dedup": "scan-stage Column hashing; ONE h-keyed agg collapses identical hashes to clusters BEFORE the 3x20-bit band equi-join over distinct hashes; exact popcount verify on candidates only",
    # round-12-built r13 bank (st_dedup_lsh_index is streaming — its
    # batch-visible plan is the memory-sink rollup; the stateless
    # signature stage is pinned by the batch-equivalence test instead)
    "train_attention_pack": "global_prefix_sum offsets (5th surface) + ONE bounded span explode (output-sized) + seq-keyed manifest agg",
    "dq_embedding_drift": "one posexplode (constant 64x) into one dim-keyed agg with map-side combine; 64 rows after the scan, no join, no window",
    # r14 bank, built in the r12 continuation session
    # (st_embedding_drift is streaming — its batch-visible plan is the
    # 64-row profile join downstream of the sink; the shared-expression
    # equivalence is pinned by the replay-equals-batch test instead)
    "train_binpack_shelves": "band CASE ladder in the scan; global_row_number range shuffle (6th surface) over (band, doc_id); <=13-row band offsets broadcast back off the persisted barrier; shelf-keyed manifest agg — never a band-partitioned window",
    "dq_snapshot_diff": "two narrow hash reductions (32-byte digests, not bodies) into ONE doc_id-keyed full-outer equi-join; source rollup collapses map-side to the source universe; decimal-staged churn ppm",
    # r15 bank (same session)
    "ev_mad_outliers": "exact order statistics without a |types|-key window: TWO global_row_number range shuffles (values, then decimal-clamped deviations), per-type offsets/median/MAD as broadcast joins, one scoring agg off the second barrier",
    "sim_knn_graph": "bucket-keyed candidate equi-self-join (never corpus x corpus) + bit-identical fixed-point cosine on candidates only + node-keyed top-K window (corpus-sized keys: parallel) + left join keeps isolated nodes",
    "mm_bytes_shard_pack": "global_prefix_sum over blob bytes (one range shuffle) + closed-form start-offset shard id + shard-keyed manifest agg; no generator, no data-sized window",
    # r16 bank (same session — compositions of verified primitives)
    "sim_knn_components": "the kNN edge stage + ONE edge-keyed left-semi mutuality join + star-contraction components (imported connected_components) + corpus left join for singleton survivors",
    "train_eval_decontam_report": "shingle explode -> DISTINCT (split,key) tables map-side -> 60-bit-key overlap joins -> <=3-cell rollup onto the literal pair frame; no window, no cross join",
    "ev_changepoint_cusum": "one hour-keyed count agg on the stream; grid/running-sum/ranking over the SPAN-sized grid (the gap_fill class); TakeOrdered head + two 1-row scalar broadcasts",
}

def main():
    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = ["# PLANS — captured physical plans (sf0.1, AQE on)", "",
           "Generated evidence for SCALING.md claims: run `python tools/dump_plans.py`",
           "to regenerate. Key things to look for are noted per query.", ""]
    for name, why in PICKS.items():
        plan = qs[name](spark, sf)._jdf.queryExecution().explainString(mode)
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan.strip()}\n```\n")

    # Partition-pruning evidence: date-partitioned events layout, one-day
    # read. Look for PartitionFilters carrying the event_date predicate —
    # directory-level pruning, the 100 TB time-series layout.
    import tempfile
    from simple_etl_pipeline_spark.operators.partitioning import (
        explain_formatted, read_events_day, write_events_by_date)
    from simple_etl_pipeline_spark.schemas import load_table
    from pyspark.sql import functions as F
    part_dir = os.path.join(tempfile.gettempdir(), "spark_graft_plans_events_by_date")
    write_events_by_date(spark, sf, part_dir)
    day = str(load_table(spark, sf, "events")
              .select(F.to_date("ts").alias("d")).groupBy("d").count()
              .orderBy(F.desc("count")).first()["d"])
    pruned = read_events_day(spark, part_dir, day)
    n_all = len(spark.read.parquet(part_dir).inputFiles())
    # runtime file count: input_file_name() reflects pruning, inputFiles() doesn't
    n_day = pruned.select(F.input_file_name()).distinct().count()
    out.append(
        f"## events_partition_pruning (event_date={day})\n\n"
        f"*date-partitioned events layout: the day predicate lands in "
        f"PartitionFilters (directory pruning) — scan reads {n_day} of "
        f"{n_all} files*\n\n```\n{explain_formatted(pruned).strip()}\n```\n"
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    open(os.path.join(root, "PLANS.md"), "w").write("\n".join(out))

if __name__ == "__main__":
    main()
