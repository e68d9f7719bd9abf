#!/usr/bin/env python3
"""Generate docs/MAP.md: one line per SURVEY.md §2 component (A1-A37,
B1-B8) linking operator -> query id(s) -> implementation file:line ->
spec, with every anchor RESOLVED AT HEAD (the script greps for the
symbol / query registration and fails loudly if one is missing), so the
map cannot silently rot the way hand-copied line numbers do.

Run from the repo root:  python3 tools/gen_map.py
"""
import re
import sys
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
Q = "src/main/scala/graft/ops/Queries.scala"


def line_of(relpath: str, pattern: str) -> str:
    p = ROOT / relpath
    rx = re.compile(pattern)
    for i, line in enumerate(p.read_text().splitlines(), 1):
        if rx.search(line):
            return f"`{relpath}:{i}`"
    sys.exit(f"gen_map: no match for {pattern!r} in {relpath}")


def qline(name: str) -> str:
    return line_of(Q, r'Q\("' + name + r'"')


def qcell(*names: str) -> str:
    return ", ".join(f"`{n}`" for n in names)


def spec(*names: str) -> str:
    import glob
    cells = []
    for n in names:
        hits = glob.glob(str(ROOT / "src/test/scala/graft" / "**" / f"{n}.scala"),
                         recursive=True)
        if not hits:
            sys.exit(f"gen_map: spec {n} not found")
        cells.append(f"`{n}`")
    return ", ".join(cells)


# (op, operator, query-id cell, impl anchor(s), spec cell)
TR = "src/main/scala/graft/repo/TableRepo.scala"
ROWS = [
    ("A1", "single-file scan", qcell("q_scan"), qline("q_scan"), spec("QueriesSpec")),
    ("A2", "full-table union scan", qcell("q_scan_union"),
     line_of(TR, r"def getFullDf"), spec("TableRepoSpec")),
    ("A3", "partition-pruned scan", qcell("q_partition_prune", "q_partition_prune_keep"),
     qline("q_partition_prune"), spec("PrunedReadSpec")),
    ("A4", "group-col re-materialization (drop + keep)", "inside `q_partition_prune*`",
     line_of(TR, r"grpHelpers"), spec("TableRepoSpec")),
    ("A5", "append (`extend`, exact-identity staged)", qcell("q_append"),
     line_of(TR, r"def extend\(df"), spec("ExactlyOnceAppendSpec", "TableRepoSpec")),
    ("A6", "size-bounded append + compaction", qcell("q_sized_append", "q_compact"),
     line_of(TR, r"def compact\("), spec("TableRepoSpec", "GuardedRewriteSpec")),
    ("A7", "md5 hash bucketing", qcell("q_hash_bucket"),
     line_of("src/main/scala/graft/repo/HashBucket.scala", r"case class Md5ModExpr"),
     spec("HashBucketSpec")),
    ("A8", "grouped write", "inside `q_scan_union`",
     line_of(TR, r"w = w\.partitionBy\(layoutCols"), spec("TableRepoSpec")),
    ("A9", "keyed upsert (+bucketed/pruned variants)",
     qcell("q_upsert", "q_upsert_pruned", "q_upsert_bucketed", "q_upsert_pruned_grouped"),
     line_of(TR, r"def replaceRecords\(") + ", " + line_of(TR, r"def replaceRecordsPruned\("),
     spec("TableRepoSpec", "FilePrunedUpsertSpec")),
    ("A10", "scoped upsert (`by_groups`)", qcell("q_upsert_scoped"),
     line_of(TR, r"def replaceRecords\("), spec("TableRepoSpec")),
    ("A11", "input key-dedup keep-first", qcell("q_dedup_first"),
     qline("q_dedup_first"), spec("QueriesSpec")),
    ("A12", "partition overwrite (`replaceGroups`, land-then-retire)",
     qcell("q_partition_overwrite"),
     line_of(TR, r"def replaceGroups") + ", " + line_of(TR, r"def landThenRetire"),
     spec("TableRepoSpec", "LandThenRetireSpec")),
    ("A13", "full overwrite (snapshot-versioned)", "ScalaTest-covered (write op)",
     line_of(TR, r"def replaceAll") + ", " + line_of(TR, r"def commitNewVersionOnce"),
     spec("SnapshotVersionSpec", "MultiProcessSpec", "WeakStoreSpec")),
    ("A14", "purge", "ScalaTest-covered (write op)",
     line_of(TR, r"def purge\("), spec("TableRepoSpec")),
    ("A15", "schema harmonization", qcell("q_schema_harmonize"),
     line_of(TR, r"def harmonize"), spec("SchemaSpec")),
    ("A16", "schema evolution + backfill rewrite", qcell("q_schema_evolve"),
     qline("q_schema_evolve"), spec("SchemaSpec")),
    ("A17", "schema pinning", "ScalaTest-covered",
     line_of(TR, r"def pinnedSchema"), spec("SchemaSpec")),
    ("A18", "parallel batch ingest", qcell("q_parallel_ingest"),
     line_of(TR, r"def batchExtend"), spec("ConcurrentWriteSpec")),
    ("A19", "grouped map", qcell("q_grouped_map"),
     line_of(TR, r"def mapGroups"), spec("TableRepoSpec")),
    ("A20", "per-group count", qcell("q_group_count"), qline("q_group_count"),
     spec("QueriesSpec")),
    ("A21", "buffered record writer", qcell("q_buffered_ingest"),
     line_of("src/main/scala/graft/repo/Writers.scala", r"class RecordWriter"),
     spec("WritersSpec")),
    ("A22", "fixed-column record writer", "ScalaTest-covered",
     line_of("src/main/scala/graft/repo/Writers.scala", r"FixedRecordWriter|def project"),
     spec("WritersSpec")),
    ("A23", "buffered DataFrame writer", "ScalaTest-covered",
     line_of("src/main/scala/graft/repo/Writers.scala", r"class DfBatchWriter"),
     spec("WritersSpec")),
    ("A24", "replacing writers", "ScalaTest-covered",
     line_of(TR, r"def replacingRecordWriter"), spec("WritersSpec")),
    ("A25", "JSON/object shredding", qcell("q_json_shred"),
     line_of("src/main/scala/graft/ingest/ObjIngestor.scala", r"def shred"),
     spec("ObjIngestorSpec")),
    ("A26", "custom table metadata (sidecar + footer KV)", "ScalaTest-covered",
     line_of("src/main/scala/graft/repo/ParquetMeta.scala", r"object ParquetMeta|def embed"),
     spec("ParquetMetaSpec")),
    ("A27", "environments", qcell("q_env_switch"),
     line_of(TR, r"def envCtx"), spec("TableRepoSpec")),
    ("A28", "metadata-only count", qcell("q_count"), qline("q_count"), spec("QueriesSpec")),
    ("A29", "per-file iteration / census", qcell("q_file_census"),
     qline("q_file_census"), spec("QueriesSpec")),
    ("A30", "group-by mean", qcell("q_pricing_summary"), qline("q_pricing_summary"),
     spec("QueriesSpec")),
    ("A31", "multi-col sort", qcell("q_sort"), qline("q_sort"), spec("QueriesSpec")),
    ("A32", "filter / null predicates", qcell("q_filter_nulls"), qline("q_filter_nulls"),
     spec("QueriesSpec")),
    ("A33", "semi-join", qcell("q_semi_join"), qline("q_semi_join"), spec("QueriesSpec")),
    ("A34", "anti-join", qcell("q_anti_join"), qline("q_anti_join"), spec("QueriesSpec")),
    ("A35", "union all", "inside `q_scan_union`", line_of(TR, r"def getFullDf"),
     spec("TableRepoSpec")),
    ("A36", "limit", qcell("q_limit"), qline("q_limit"), spec("QueriesSpec")),
    ("A37", "projection", "throughout (harmonize/select paths)",
     line_of(TR, r"def harmonize"), spec("SchemaSpec")),
    ("B1", "exact dedup (+ incremental persisted-index, footer-pruned)",
     qcell("q_dedup_exact", "q_incr_dedup_exact", "q_incr_dedup_pruned"),
     line_of(TR, r"def readWhereIn"), spec("IncrExactSpec", "PrunedReadSpec")),
    ("B2", "near-dup (prefix-filter/PPJoin, MinHash-LSH, SimHash, incremental, streaming)",
     qcell("q_near_dup", "q_ngram_jaccard", "q_lsh_near_dup", "q_lsh_verified",
           "q_minhash", "q_simhash", "q_incr_dedup", "q_incr_dedup_lsh_pruned"),
     line_of("src/main/scala/graft/ops/SetSimJoin.scala", r"def jaccardPairs"),
     spec("SetSimJoinSpec", "IncrDedupSpec", "StreamIncrNearDupSpec")),
    ("B3", "top-k cosine + trained IVF + manifest-pinned serving + SRP ANN + quantization",
     qcell("q_topk_cosine", "q_ivf_train", "q_ivf_probe", "q_ivf_probe_repo",
           "q_ivf_index_probe", "q_ann_srp", "q_ann_srp_probe", "q_ann_ivf", "q_sq_quantize"),
     line_of("src/main/scala/graft/ops/Ivf.scala", r"def train") + ", " +
     line_of("src/main/scala/graft/ops/IvfIndex.scala", r"def probe"),
     spec("IvfIndexSpec", "IvfRepoSpec", "WeakStoreSpec")),
    ("B4", "text analysis + quality screens + packing",
     qcell("q_text_stats", "q_lang_id", "q_quality_score", "q_token_count",
           "q_fingerprint", "q_repetition", "q_pii_screen", "q_filter_funnel",
           "q_mix_quota", "q_strip_dup_spans", "q_winnow", "q_chunk_docs",
           "q_pack_sequences"),
     line_of("src/main/scala/graft/functions/TextFns.scala", r"object TextFns"),
     spec("SetOpsSpec", "TextPiiSpec")),
    ("B5", "tumbling/sliding event windows", qcell("q_event_window", "q_event_window_fn",
                                                   "q_sliding_window"),
     qline("q_event_window"), spec("EventWindowsSpec")),
    ("B6", "sessionization (batch + native + streaming)",
     qcell("q_sessionize", "q_session_window"),
     line_of("src/main/scala/graft/streaming/Sessionize.scala", r"object Sessionize"),
     spec("SessionizeSpec")),
    ("B7", "multimodal join (+ real image/audio/MJPEG decode)",
     qcell("q_multimodal_join", "q_multimodal_meta"),
     line_of("src/main/scala/graft/multimodal/Multimodal.scala", r"object Multimodal"),
     spec("MultimodalSpec")),
    ("B8", "top-n per group", qcell("q_topn_group"), qline("q_topn_group"),
     spec("QueriesSpec")),
]

HEADER = """# Component map — SURVEY.md §2 in one hop

One line per SURVEY §2 component: which query exercises it at the
oracle gate (`CORRECTNESS_r*.json`), where the implementation lives,
and which ScalaTest spec drives its contract. "ScalaTest-covered"
marks write-path/side-effect components whose verification is a spec,
not an oracled query (the driver's gate only hashes read results).
GENERATED by `tools/gen_map.py`, which resolves every `file:line`
anchor at HEAD and fails if a symbol or query registration is gone —
regenerate after moving code. Query ids anchor at their registration
in `ops/Queries.scala`; each `Q(...)` there carries both the Spark
plan and its DuckDB oracle SQL.

| op | component | oracle queries | implementation | spec |
|---|---|---|---|---|
"""


def main() -> None:
    out = [HEADER]
    for op, name, queries, impl, specs in ROWS:
        out.append(f"| {op} | {name} | {queries} | {impl} | {specs} |\n")
    (ROOT / "docs/MAP.md").write_text("".join(out))
    print(f"wrote docs/MAP.md ({len(ROWS)} components)")


if __name__ == "__main__":
    main()
