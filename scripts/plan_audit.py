#!/usr/bin/env python
"""Physical-plan audit: dump `.explain('formatted')` for the headline
queries plus the merge epoch into PLANS.md, annotated with what the plan
MUST show (broadcasts, partial aggregation, pushed filters, reused
exchanges) so a reviewer can diff the intent against the plan.

Usage: python scripts/plan_audit.py [sf_dir]
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# query -> the load-bearing physical properties a reviewer should verify
EXPECT = {
    "cdc_engine_final_state": (
        "NOTE: the merges execute while the query builds, so this plan is "
        "the final-state READ only: a column-pruned typed scan of the "
        "bucketed table files + tombstone filter, single codegen stage. "
        "The merge epoch's jobs (the pre-pass, the map-side partial max_by "
        "shuffle, one shuffle per join input, the bucket-aligned write with "
        "no third shuffle) are pinned by "
        "tests/test_merge_strategies.py::test_full_fan_out_epoch_runs_six_spark_jobs"
    ),
    "lww_latest_event": (
        "partial_max_by -> Exchange hashpartitioning(doc_id) -> final agg; "
        "no window, no Python"
    ),
    "dedup_minhash_lsh": (
        "pre-explode repartition; ONE md5 per shingle; banded equi-join "
        "(never a cross/theta join); exact-Jaccard verify bounded to "
        "candidates"
    ),
    "dedup_incremental_minhash": (
        "batch band table BROADCAST into the corpus-band join (corpus side "
        "never shuffles); left-semi prune of the corpus re-shingle"
    ),
    "ann_brute_force": (
        "broadcast of the query set; JVM-side cosine; map-side pandas "
        "top-k BEFORE the exchange (bounded window input)"
    ),
    "ann_ivf": (
        "broadcast centroids both passes; one exchange on cid; rerank "
        "bounded by probed lists"
    ),
    "sequence_pack_tokens": (
        "window cumsum + sequence explode + per-chunk ordered flatten, all "
        "JVM; one exchange per grouping"
    ),
    "tpch_q1": "scan with PushedFilters + partial agg before the exchange",
    "top_orders_by_revenue": "TakeOrderedAndProject, not a global sort",
    "multimodal_decode": (
        "two MapInPandas stages (synthesize, decode) with NO exchange "
        "between them — the decode is partition-local on the synthesized "
        "batch; a shuffle here would move raw media bytes"
    ),
    "ann_ivf_sampled": (
        "same shape as ann_ivf with the Lloyd-step scans FILTERED by the "
        "md5-sample predicate (training reads less data; the inverted-list "
        "assignment still scans the full corpus once)"
    ),
    "ann_index_state": (
        "NOTE: train/apply epochs execute while the query builds; this "
        "plan is the SERVE path — broadcast probes joined against a "
        "parquet scan of ONLY the probed cids' bucket files (the scan's "
        "file list is pruned off the manifest before the plan exists, so "
        "look at the file count, not a filter)"
    ),
    "cdc_point_lookup": (
        "NOTE: the two merges execute while the query builds; this plan is "
        "the SERVE path — a LocalTableScan of a LocalRelation: the files "
        "were bucket- AND range-pruned off the manifest and read on the "
        "driver with Arrow (key IN (...) pushed into that read) before the "
        "plan exists, so no scan appears and collecting the rows runs no "
        "Spark job"
    ),
    "cdc_zone_map_scan": (
        "NOTE: the merges + compaction execute while the query builds; "
        "this plan is the zone-map SERVE path — a parquet scan whose file "
        "list was pruned against the manifest's per-file final_value "
        "min/max BEFORE the plan exists (count the files), with the "
        "residual range predicate pushed into the surviving scan "
        "(PushedFilters shows the >= / <= pair)"
    ),
    "cdc_index_lookup": (
        "NOTE: the two merges + postings appends execute while the query "
        "builds; this plan is the index SERVE path — a parquet scan of "
        "ONLY the value's hash bucket's postings files (file list pruned "
        "off the manifest before the plan exists — count the files), a "
        "pushed value = ... filter, then ONE window reduce over the "
        "surviving postings (per-value LWW + tombstone drop). The base "
        "table is never scanned"
    ),
    "cdc_delete_where": (
        "NOTE: the merges + the DML commit execute while the query builds; "
        "this plan is the final-state READ. The DML's pinned properties "
        "(probe filter pushed into the candidate scan, ONLY matching files "
        "rewritten, carried files by reference) are pinned by "
        "tests/test_row_dml.py::test_matched_files_only_rewrite"
    ),
    "partial_update_resolve": (
        "NOTE: the three epochs execute while the query builds; this plan "
        "is the final-state READ. The epoch reduce's pinned property "
        "(verified by tests/test_plan_properties.py): the boundary-segment "
        "window AND both max_by aggregate phases share ONE Exchange "
        "hashpartitioning(doc_id) + its sort — partial resolution costs "
        "the same single shuffle as the plain LWW reduce; the residual "
        "table fill is a pruned lookup (or one equi-join), never O(table) "
        "driver work"
    ),
    "dedup_state_flags": (
        "NOTE: the two state epochs execute while the query builds; this "
        "plan is the flags-TABLE read only — a pruned parquet scan of the "
        "bucketed flags files. The epoch dataflow (broadcast batch bands "
        "vs bucketed corpus state, left-semi verify prune) is "
        "dedup_incremental_minhash's pinned plan plus three ledgered "
        "appends (tests/test_dedup_ingest.py)"
    ),
    "token_vocab": (
        "explode -> partial_count -> ONE Exchange -> final count -> "
        "TakeOrderedAndProject (heaps, never a global sort); pinned by "
        "tests/test_plan_properties.py"
    ),
    "chunk_documents": (
        "map-only: row-local sequence explode, ZERO Exchanges; pinned by "
        "tests/test_plan_properties.py"
    ),
}


def main() -> None:
    from data_hub_ejp_xml_pipeline_spark.queries import QUERIES
    from data_hub_ejp_xml_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    out = ["# PLANS — physical-plan audit (generated by scripts/plan_audit.py)",
           "",
           f"Source: `{SF_DIR}`. For each headline query: the properties the",
           "plan MUST exhibit, then `explain('formatted')` verbatim. Regenerate",
           "after any operator change; diffs here are plan regressions.", ""]
    for name, expectation in EXPECT.items():
        fn, _ = QUERIES[name]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # NUL bytes (the dedup side-tag literal) would make the file
        # read as binary — render them visibly
        plan_text = buf.getvalue().rstrip().replace("\x00", "\\x00")
        out += [f"## {name}", "", f"**Must show:** {expectation}", "",
                "```", plan_text, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md with {len(EXPECT)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
