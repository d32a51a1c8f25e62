"""Workload names and the metric catalog of the benchmark.

BENCHMARK.json at the repository root lists the same names; the
benchmark's tests check that the two agree.
"""

WORKLOADS = ("pipeline-backfill", "queries-sf0.01")
# Not in BENCHMARK.json: at the seed an operation of it fails (see
# `archives.MONTHLY`), and a benchmarked workload must not fail.
UNLISTED_WORKLOADS = ("pipeline-monthly",)

# One registered query per read-side operator family that fits the run
# budget: Citibike parity, text (TF-IDF over VocabJoin), MinHash-LSH
# dedup and streaming.
QUERIES = (
    "q01_linegraph", "q131_tfidf_keywords", "q23_dedup_minhash_lsh",
    "q105_streaming_sessionize_drain",
)


def _e2e(name, unit, better, bound):
    return {"name": name, "unit": unit, "better": better, "bound": bound}


# Bounds: on a shared 4-core host the run-to-run spreads of these metrics
# reach 0.08 (pipeline) to 0.2 (query mix) when neighbours load the host,
# so every metric gets 0.25, the largest a bound may be.
END_TO_END = [
    _e2e("setup_s", "s", "lower", 0.25),
    _e2e("wall_s", "s", "lower", 0.25),
    _e2e("op_geomean_s", "s", "lower", 0.25),
    _e2e("input_rows_per_s", "rows/s", "higher", 0.25),
    _e2e("peak_rss_mb", "MB", "lower", 0.25),
]

_PIPELINE_LAYERS = [
    ("ingest.list_s", "s"), ("ingest.parse_s", "s"),
    ("ingest.parse_tasks", "count"), ("ingest.parse_cpu_s", "s"),
    ("ingest.input_bytes", "bytes"),
    ("quality.import_s", "s"), ("quality.import_cpu_s", "s"),
    ("tablestore.fact_write_s", "s"), ("tablestore.fact_bytes", "bytes"),
    ("tablestore.fact_files", "count"), ("tablestore.table_bytes", "bytes"),
    ("tablestore.stored_bytes_per_input_byte", "ratio"),
] + [("builders.%s_%s" % (b, m), u)
     for b in ("linegraph", "heatmap", "tripsmap", "dockmap")
     for m, u in (("s", "s"), ("jobs", "count"))] + [
    ("builders.shuffle_bytes", "bytes"),
    ("manifest.check_s", "s"), ("manifest.write_s", "s"),
    ("manifest.loads", "count"), ("manifest.useful_ratio", "ratio"),
]

_QUERY_LAYERS = [("q.%s.%s" % (q, m), u) for q in QUERIES for m, u in (
    ("build_s", "s"), ("action_s", "s"), ("build_jobs", "count"),
    ("plan_s", "s"), ("shuffle_bytes", "bytes"))]

_RUNTIME_LAYERS = [
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.cpu_busy_frac", "ratio"), ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"), ("trace.overhead_s", "s"),
    ("ops.failed_frac", "ratio"),
]

_HIGHER = {"ingest.parse_tasks", "manifest.useful_ratio", "spark.cpu_busy_frac"}

PER_LAYER = [{"name": n, "unit": u,
              "better": "higher" if n in _HIGHER else "lower"}
             for n, u in _PIPELINE_LAYERS + _QUERY_LAYERS + _RUNTIME_LAYERS]


def per_layer_values(trace):
    """Every per-layer metric from a traced unit's measurements; a layer
    the workload does not call reads 0."""
    return {m["name"]: float(trace.get(m["name"], 0.0)) for m in PER_LAYER}
