"""Per-layer metrics of the traced run, and what each should move.

BENCHMARK.json lists every metric by name, unit and direction; this
module adds, for each per-layer metric, the end-to-end metrics and
workloads a change to that layer should move (the last field of each
``PER_LAYER`` entry). A layer that a workload does not reach reports 0
on it: doc_api runs no Spark, and the Spark workloads' kernel figures
come from running the per-document kernel in the driver over a seeded
sample of the same pages.

Span times (``*_s``) and counters of Spark spans are per operation: per
pass on crawl_batch, per increment on entity_increments. Kernel times
are per 1,000 documents; work counts are totals over the profiled
documents and repeat exactly for a seed.
"""

from __future__ import annotations

KERNEL = "op_p50_ms on doc_api; docs_per_s, cpu_s_per_kdoc on crawl_batch"
CRAWL = "docs_per_s on crawl_batch"
FOLD = "op_p50_ms on entity_increments"
CANON = f"{CRAWL} (a small share); {FOLD}"

SPARK_SPAN_MOVES = {
    "checkpoints.run_kg_job": CRAWL,
    "checkpoints.write_triples_sink": f"{CRAWL}; {FOLD}",
    "checkpoints.update_canonical_tables": CANON,
    "triples.triple_support": CRAWL,
    "graph.entity_degrees": CRAWL,
    "graph.pagerank": CRAWL,
    "canonicalize.canonicalize_mentions": CANON,
    "canonicalize.lsh_candidate_pairs": CANON,
    "canonicalize.connected_components": CANON,
    "canonicalize.merge_canonicalize": FOLD,
}

# name, unit, better, what it should move
PER_LAYER = [
    # CPU of the whole process tree over the timed phase; too dependent
    # on co-tenants' load on a small shared host to carry a bound
    ("cpu_s_per_kdoc", "s", "lower",
     "none: the cost view of docs_per_s, on every workload"),
    ("segmenter.ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("tokenizer.ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("tagger.ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("ner.classify_ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("ner.chunk_ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("annotate.self_ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("triples.ms_per_kdoc", "ms/kdoc", "lower", KERNEL),
    ("segmenter.sentences", "count", "higher", "none: work count"),
    ("tokenizer.tokens", "count", "higher", "none: work count"),
    ("ner.entities", "count", "higher", "none: work count"),
    ("triples.triples", "count", "higher", "none: work count"),
    ("ner.memo_entries", "count", "lower",
     "peak_rss_mb, docs_per_s on doc_api"),
    ("segmenter.memo_entries", "count", "lower",
     "peak_rss_mb, docs_per_s on doc_api"),
    ("triples.kernel_task_s", "s", "lower",
     "docs_per_s, cpu_s_per_kdoc on crawl_batch"),
    ("triples.kernel_task_cpu_s", "s", "lower",
     "docs_per_s, cpu_s_per_kdoc on crawl_batch"),
    ("triples.py_rows_in", "count", "lower", "docs_per_s on crawl_batch"),
    ("triples.py_bytes_in", "B", "lower",
     "docs_per_s, cpu_s_per_kdoc on crawl_batch"),
    ("triples.py_bytes_out", "B", "lower",
     "docs_per_s, cpu_s_per_kdoc on crawl_batch"),
    ("checkpoints.post_write_s", "s", "lower", CRAWL),
    ("checkpoints.update_canonical_tables.self_s", "s", "lower", CANON),
    ("canonicalize.forms", "count", "lower", CANON),
    ("canonicalize.components", "count", "lower", CANON),
    ("canonicalize.pairs", "count", "lower", CANON),
    ("canonicalize.new_forms", "count", "higher", FOLD),
    ("canonicalize.vocab_forms", "count", "lower", FOLD),
    ("checkpoints.canon_triples_rewritten", "count", "lower", FOLD),
    ("checkpoints.rows_written_per_new_form", "rows/form", "lower", FOLD),
    ("checkpoints.useful_write_ratio", "ratio", "higher", FOLD),
    ("trace.overhead_docs_per_s", "1/s", "higher",
     "none: traced minus untraced docs_per_s"),
]
for _span, _moves in SPARK_SPAN_MOVES.items():
    if _span != "checkpoints.update_canonical_tables":
        PER_LAYER.append((f"{_span}_s", "s", "lower", _moves))
    for _c, _unit in (("jobs", "count"), ("stages", "count"),
                      ("tasks", "count"), ("shuffle_write_bytes", "B"),
                      ("gc_s", "s"), ("sched_wait_s", "s")):
        PER_LAYER.append((f"{_span}.{_c}", _unit, "lower", _moves))

UNITS = {name: unit for name, unit, _, _ in PER_LAYER}
