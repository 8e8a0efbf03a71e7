"""Metric catalogue: names, units, direction and, for every layer
metric, the layer it measures and the end-to-end metric and workload
it should move (``flat`` names workloads where it should not).

Every workload prints every end-to-end metric and every PER_LAYER
metric, so both lists hold only figures that every workload measures.
Layer figures that only one workload exercises (the crawl's round
sections, snapshot storage and per-label Spark stages; the corpus's
per-query times) are DETAIL: they print in the report line of a traced
run, under the same catalogue.  BENCHMARK.json lists END_TO_END and
PER_LAYER; ``test_perfbench`` keeps the two in step.
"""

from __future__ import annotations

WORKLOADS = ("crawl_deep", "corpus")

#: name -> (unit, better, bound, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "session start plus untimed warm-up"),
    "pass_s": ("s", "lower", 0.25,
               "crawl_deep: init, 2 rounds and the resume; corpus: every "
               "query once (median over passes)"),
    "op_s.p50": ("s", "lower", 0.25,
                 "median closed-loop operation: a committed crawl round, "
                 "or one corpus query"),
    "items_per_s": ("1/s", "higher", 0.25,
                    "crawl_deep: URLs fetched+extracted per second of crawl "
                    "wall, init included; corpus: documents through the "
                    "extract_* queries per second of their summed wall"),
}

#: the end-to-end figures users quote, printed by name and unit in the
#: report line of every run: name -> (unit, workloads)
REPORTED = {
    "setup_s": ("s", WORKLOADS),
    "crawl_urls_per_s": ("1/s", ("crawl_deep",)),
    "init_s": ("s", ("crawl_deep",)),
    "round_s.p50": ("s", ("crawl_deep",)),
    "compact_round_s": ("s", ("crawl_deep",)),
    "resume_s": ("s", ("crawl_deep",)),
    "corpus_pass_s": ("s", ("corpus",)),
    "extract_docs_per_s": ("1/s", ("corpus",)),
    "dedup_s": ("s", ("corpus",)),
    "ann_s": ("s", ("corpus",)),
    "peak_rss_mb": ("MB", WORKLOADS),
    "failed_frac": ("ratio", WORKLOADS),
}

STORAGE_TABLES = (
    "frontier", "seen", "fetch_log", "docs", "host_state", "robots", "bloom",
)

#: job labels the engine sets (``write <table> r<N>``, ``write_small
#: <table> r<N>``, ``fetch+extract stats r<N>``), round number dropped
STAGE_LABELS = (
    "fetch_extract_stats", "write_frontier", "write_seen", "write_docs",
    "write_fetch_log", "write_bloom", "write_small_host_state",
    "write_small_robots", "unlabelled",
)
STAGE_FIELDS = {
    "run_s": "s", "cpu_s": "s", "shuffle_read_b": "B",
    "shuffle_write_b": "B", "spill_b": "B", "task_s.max": "s",
}

#: the corpus query set: bench.py's PIPELINE_QUERIES plus the other
#: extract_* queries of __spark_entry__.queries()
CORPUS_QUERIES = (
    "extract_spans", "dedup_minhash", "dedup_exact", "dedup_simhash",
    "dedup_winnow", "quality_gopher", "repetition_topgram",
    "decontamination", "text_stats", "ann_bruteforce", "ann_lsh", "ann_ivf",
    "embedding_neardup", "topk_lineitem", "seen_antijoin_bloom",
    "url_canonicalize", "extract_links", "extract_title_attr",
    "extract_texts_pos", "extract_nested_depth", "extract_serial",
    "extract_html",
)
DEDUP_QUERIES = ("dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_winnow")
ANN_QUERIES = ("ann_bruteforce", "ann_lsh", "ann_ivf", "embedding_neardup")

_DEEP = [("op_s.p50", "crawl_deep"), ("pass_s", "crawl_deep")]
_DEEP_ITEMS = [("items_per_s", "crawl_deep")]
_CORPUS = [("pass_s", "corpus")]
_SETUP = [("setup_s", "crawl_deep"), ("setup_s", "corpus")]
_BOTH = WORKLOADS
_CRAWL_ONLY = ("crawl_deep",)
_CORPUS_ONLY = ("corpus",)


def _layers() -> dict:
    """name -> (unit, better, layer, moves, flat, measured_on)"""
    m: dict = {}

    def add(name, unit, better, layer, moves=(), flat=(), on=_BOTH):
        m[name] = (unit, better, layer, list(moves), list(flat), tuple(on))

    add("session.start_s", "s", "lower", "sources.session", _SETUP)
    # peak proportional set size of the driver, the JVM and the Python
    # workers combined.  Not gated: the JVM grows its heap in steps, so
    # the peak is bimodal run to run (IQR/median 0.24 over ten corpus
    # runs, against the 0.25 cap on a bound)
    add("peak_rss_mb", "MB", "lower", "driver+JVM+Python workers")
    add("session.warmup_s", "s", "lower", "sources.session", _SETUP)
    # regime evidence: explains a noisy run, moves nothing
    add("calib_jvm_s", "s", "lower", "host")
    add("host.busy_pct", "%", "lower", "host")
    add("host.steal_pct", "%", "lower", "host")
    for wl in ("crawl", "corpus"):
        add(f"tokenizer.us_per_doc.{wl}", "us", "lower", "core.tokenizer",
            [("items_per_s", "corpus")], ["crawl_deep"])
        add(f"extract.us_per_doc.{wl}", "us", "lower",
            "core+operators.extract", [("items_per_s", "corpus")],
            ["crawl_deep"])
    for name, unit, better in (
        ("fetch_extract_s", "s", "lower"), ("robots_s", "s", "lower"),
        ("commit_s", "s", "lower"),
    ):
        add(f"frontier.{name}", unit, better, "plans.frontier", _DEEP,
            ["corpus"], _CRAWL_ONLY)
    add("frontier.seen_dedup_s", "s", "lower", "plans.frontier",
        _DEEP_ITEMS + _DEEP, ["corpus"], _CRAWL_ONLY)
    add("frontier.fetched", "count", "higher", "plans.frontier", on=_CRAWL_ONLY)
    add("frontier.discovered_new", "count", "higher", "plans.frontier",
        on=_CRAWL_ONLY)
    add("frontier.new_per_fetched", "ratio", "higher", "plans.frontier",
        on=_CRAWL_ONLY)
    add("frontier.robots_cache_misses", "count", "lower", "plans.frontier",
        on=_CRAWL_ONLY)
    add("frontier.bloom_rebuilds", "count", "lower", "plans.frontier",
        on=_CRAWL_ONLY)
    add("frontier.fetch_partitions", "count", "higher", "plans.frontier",
        _DEEP, ["corpus"], _CRAWL_ONLY)
    for name, unit, better in (
        ("bloom.build_keys_per_s", "1/s", "higher"),
        ("bloom.probe_keys_per_s", "1/s", "higher"),
        ("bloom.suspect_frac", "ratio", "lower"),
        ("seen.antijoin_rows_per_s", "1/s", "higher"),
    ):
        add(name, unit, better, "operators.seen", _DEEP + _DEEP_ITEMS,
            ["corpus"])
    add("topk.rows_per_s", "1/s", "higher", "operators.topk",
        _DEEP + _DEEP_ITEMS, ["corpus"])
    for t in STORAGE_TABLES:
        add(f"storage.write_s.{t}", "s", "lower", "plans.storage", _DEEP,
            ["corpus"], _CRAWL_ONLY)
        add(f"storage.bytes.{t}", "B", "lower", "plans.storage",
            on=_CRAWL_ONLY)
    add("storage.bytes_per_url", "B", "lower", "plans.storage", on=_CRAWL_ONLY)
    add("storage.read_s", "s", "lower", "plans.storage", _DEEP, ["corpus"],
        _CRAWL_ONLY)
    for label in STAGE_LABELS:
        for field, unit in STAGE_FIELDS.items():
            add(f"stage.{label}.{field}", unit, "lower", "spark stages",
                _DEEP + _DEEP_ITEMS, ["corpus"], _CRAWL_ONLY)
    # every Spark task of the measured passes, whatever its label
    for field, unit in STAGE_FIELDS.items():
        # nothing spills at these sizes on either workload: a figure that
        # reads 0 on every run stays in the per-label detail only
        on = _CRAWL_ONLY if field == "spill_b" else _BOTH
        add(f"spark.{field}", unit, "lower", "spark stages",
            _DEEP + _DEEP_ITEMS + _CORPUS, on=on)
    add("spark.tasks", "count", "lower", "spark stages", _DEEP + _CORPUS)
    add("crawl.init_s", "s", "lower", "plans.frontier+plans.storage",
        [("pass_s", "crawl_deep")], ["corpus"], _CRAWL_ONLY)
    add("crawl.compact_round_s", "s", "lower", "operators.seen+plans.storage",
        [("pass_s", "crawl_deep")], ["corpus"], _CRAWL_ONLY)
    add("crawl.resume_s", "s", "lower", "plans.storage",
        [("pass_s", "crawl_deep")], ["corpus"], _CRAWL_ONLY)
    for q in CORPUS_QUERIES:
        layer = (
            "operators.dedup" if q.startswith("dedup")
            else "operators.similarity" if q in ANN_QUERIES
            else "operators.extract" if q.startswith("extract")
            else "operators.quality" if q in (
                "quality_gopher", "repetition_topgram", "decontamination",
                "text_stats")
            else "operators"
        )
        add(f"query_s.{q}", "s", "lower", layer, _CORPUS, ["crawl_deep"],
            _CORPUS_ONLY)
    add("corpus.dedup_s", "s", "lower", "operators.dedup", _CORPUS,
        ["crawl_deep"], _CORPUS_ONLY)
    add("corpus.ann_s", "s", "lower", "operators.similarity", _CORPUS,
        ["crawl_deep"], _CORPUS_ONLY)
    # the traced run's own pass: its ratio to the untraced pass_s
    # median is the tracing overhead
    add("trace.pass_s", "s", "lower", "tracing")
    return m


LAYERS = _layers()
#: printed by every traced run (the driver-facing list)
PER_LAYER = {k: v for k, v in LAYERS.items() if v[5] == _BOTH}
#: printed in the report line of the workload that measures it
DETAIL = {k: v for k, v in LAYERS.items() if v[5] != _BOTH}


def units(trace: bool) -> dict[str, str]:
    if trace:
        return {k: v[0] for k, v in PER_LAYER.items()}
    return {k: v[0] for k, v in END_TO_END.items()}


def describe() -> dict:
    """The catalogue as JSON-ready data (``run.py --describe``)."""
    return {
        "reported": {
            k: {"unit": u, "workloads": list(on)} for k, (u, on) in REPORTED.items()
        },
        "end_to_end": {
            k: {"unit": u, "better": b, "bound": bound, "meaning": meaning}
            for k, (u, b, bound, meaning) in END_TO_END.items()
        },
        "layers": {
            k: {"unit": u, "better": b, "layer": layer,
                "moves": [{"metric": e, "workload": w} for e, w in moves],
                "flat_on": flat, "measured_on": list(on),
                "in": "per_layer" if k in PER_LAYER else "report"}
            for k, (u, b, layer, moves, flat, on) in LAYERS.items()
        },
    }
