"""Per-layer metrics of the traced run: name, unit, and which end-to-end
metric on which workload each should move. Layer names are graft's module
names plus Spark's `catalyst` (planner) and `exec` (scheduler, executors).
All counts and times are per traced pass; ratios and peaks are over the
whole traced run.
"""

SERVER_METHODS = ["find", "groupAggregate", "lookupJoin", "unwoundRead",
                  "sampleKeys", "collStats", "splitVector", "chunkRanges",
                  "bulkWrite", "createIndex"]
STORE_MODES = ["insert", "upsert", "update", "replace", "sharded_insert"]
SELF_SPANS = ["pass", "op", "build", "plan", "execute", "server"]


def _server_moves(method):
    if method == "bulkWrite":
        return "pass_s, cpu_s on collection_read (store ops) and collection_write"
    if method in ("sampleKeys", "collStats", "splitVector", "chunkRanges"):
        return "pass_s on collection_read (split planning)"
    if method == "createIndex":
        return "pass_s on collection_write (ensure_index writes)"
    return "pass_s, heap_peak_mb on collection_read (server evaluators)"


# (name, unit, what it should move)
PER_LAYER = [
    ("operators.build_ms", "ms", "op_p50_ms, pass_s on catalog_sf01"),
    ("operators.build_jobs", "count", "op_p50_ms, pass_s on catalog_sf01"),
    ("catalyst.analysis_ms", "ms", "op_p50_ms on catalog_sf01; pass_s on collection_read"),
    ("catalyst.optimizer_ms", "ms", "op_p50_ms on catalog_sf01; pass_s on collection_read"),
    ("catalyst.planning_ms", "ms", "op_p50_ms on catalog_sf01; pass_s on collection_read"),
    ("plan.scan_nodes", "count", "cpu_s on catalog_sf01, corpus_scale; pass_s on collection_read"),
    ("plan.exchanges", "count", "cpu_s on catalog_sf01, corpus_scale; pass_s on collection_read"),
    ("plan.input_partitions", "count", "cpu_s on catalog_sf01, corpus_scale; pass_s on collection_read"),
    ("plan.pushed_filters", "count", "pass_s, cpu_s on collection_read"),
    ("exec.jobs", "count", "op_p50_ms on catalog_sf01"),
    ("exec.stages", "count", "op_p50_ms on catalog_sf01"),
    ("exec.tasks", "count", "op_p50_ms on catalog_sf01"),
    ("exec.failed_tasks", "count", "op_p50_ms on catalog_sf01"),
    ("exec.core_idle_ratio", "ratio", "op_p50_ms on catalog_sf01"),
    ("exec.cpu_ms", "ms", "cpu_s, pass_s on catalog_sf01, corpus_scale"),
    ("exec.gc_ms", "ms", "cpu_s, heap_peak_mb on catalog_sf01, corpus_scale"),
    ("exec.shuffle_write_bytes", "bytes", "cpu_s, pass_s on catalog_sf01, corpus_scale"),
    ("exec.shuffle_read_bytes", "bytes", "cpu_s, pass_s on catalog_sf01, corpus_scale"),
    ("exec.spill_bytes", "bytes", "cpu_s, pass_s, heap_peak_mb on catalog_sf01, corpus_scale"),
    ("exec.peak_exec_mem_mb", "MB", "heap_peak_mb on catalog_sf01, corpus_scale"),
    ("source.rows_out", "count", "pass_s on collection_read"),
    ("source.kept_ratio", "ratio", "pass_s on collection_read"),
    ("source.residual_drop_ratio", "ratio", "pass_s on collection_read"),
] + [
    (f"server.{m}.{k}", u, _server_moves(m))
    for m in SERVER_METHODS for k, u in (("calls", "count"), ("busy_ms", "ms"), ("docs", "count"))
] + [
    ("server.clients_created", "count", "pass_s on collection_read, collection_write"),
    ("server.bulkWrite.models_per_call", "count", "pass_s, cpu_s on collection_read, collection_write"),
] + [
    (f"store.docs_per_s.{m}", "1/s",
     "pass_s on collection_read (insert only) and collection_write") for m in STORE_MODES
] + [
    ("store.bytes_on_disk", "bytes", "stored_bytes_per_doc_byte on collection_read, collection_write"),
    ("store.write_jobs", "count", "pass_s on collection_read, collection_write"),
] + [
    (f"self_ms.{s}", "ms", "pass_s on every workload (where a pass's time goes)")
    for s in SELF_SPANS
] + [
    ("trace.overhead_ratio", "ratio", "none: traced pass_s / untraced pass_s"),
]

UNITS = {name: unit for name, unit, _ in PER_LAYER}

# every other per-layer metric is better when lower
HIGHER_IS_BETTER = {"server.bulkWrite.models_per_call"} | {
    f"store.docs_per_s.{m}" for m in STORE_MODES}


def better(name):
    return "higher" if name in HIGHER_IS_BETTER else "lower"


def unit(name):
    return UNITS[name]
