"""Benchmark of the crawl engine and the corpus pipeline at local[nproc].

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --describe

Each workload is a closed loop: the driver runs one crawl round or one
query at a time and starts the next when it has finished.  A run
starts one Spark session, warms it up untimed, then repeats whole
passes of the workload until ``--seconds`` have passed (at least one
pass), checking every output against its reference.

Stdout carries two JSON lines.  The first is the full report: every
figure under its own name (crawl_urls_per_s, round_s.p50,
compact_round_s, ...), the substrate, the regime evidence and the
layer detail.  The last is the result: ``correct``, ``attempted``,
``failed`` and, with ``--trace 0``, the end-to-end metrics or, with
``--trace 1``, the per-layer metrics (see perfbench/metrics.py for
what each should move).  A traced run also enables a Spark event log,
times the snapshot storage and writes its spans to
``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness, metrics  # noqa: E402
from perfbench.harness import median  # noqa: E402


class Run:
    """State of one benchmark run: substrate, spans, figures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.substrate = harness.Substrate(f"{workload}-s{seed}")
        self.tracer = harness.Tracer(trace)
        self.layer = {name: 0.0 for name in metrics.LAYERS}
        self.window: tuple[float, float] | None = None
        self.e2e: dict[str, float] = {}
        self.figures: dict[str, float] = {}  # metrics.REPORTED
        self.report: dict = {
            "workload": workload, "seed": seed, "trace": trace,
            "substrate": self.substrate.record(),
        }
        self.reference: dict | None = None
        self.attempted = 0
        self.failed = 0

    # -- phases shared by every workload --------------------------------

    @contextlib.contextmanager
    def session(self, warm_up, module, *args):
        """Session start plus untimed warm-up; stops the session, the
        JVM and its workers on the way out.

        ``module.reference(*args)`` (the expected outputs) is computed
        in a child interpreter while the JVM starts and is waited for
        before the warm-up, so it overlaps no Spark work."""
        child = harness.prefetch_reference(module.__name__, *args)
        try:
            t0 = time.perf_counter()
            with self.tracer.span("session.start", trace="setup"):
                spark = harness.start_spark(
                    self.substrate, f"perfbench-{self.workload}", self.trace
                )
            start_s = time.perf_counter() - t0
        finally:
            t1 = time.perf_counter()
            child.wait()
        try:
            self.report["reference_wait_s"] = time.perf_counter() - t1
            self.reference = module.reference(*args)  # cached by the child
            t1 = time.perf_counter()
            with self.tracer.span("session.warmup", trace="setup"):
                warm_up(spark)
            warmup_s = time.perf_counter() - t1
            self.layer["session.start_s"] = start_s
            self.layer["session.warmup_s"] = warmup_s
            self.e2e["setup_s"] = start_s + warmup_s
            worker_root = harness.worker_package_path(spark)
            if Path(worker_root) != harness.ROOT:
                raise RuntimeError(
                    f"Python workers import scalpel_ts_spark from {worker_root}, "
                    f"not from the checkout {harness.ROOT}"
                )
            self.report["substrate"]["worker_imports_from"] = worker_root
            yield spark
        finally:
            harness.stop_spark(spark)
        if self.trace:
            self.fold_event_log()

    def measure(self, spark, one_pass) -> list:
        """Repeat ``one_pass`` until the run's seconds are spent, with
        the regime evidence around it."""
        cpu0 = harness.cpu_sample()
        passes = []
        start = time.time()
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.seconds:
            with self.tracer.span("pass", trace=f"pass{len(passes)}"):
                passes.append(one_pass(len(passes)))
        self.window = (start, time.time())
        self.report["passes_run"] = len(passes)
        host = harness.host_pct(cpu0, harness.cpu_sample())
        calib = harness.calib_jvm(spark)
        self.layer.update(host)
        self.layer["calib_jvm_s"] = calib
        self.report["regime"] = {"calib_jvm_s": calib, **host}
        return passes

    def micro(self, spark) -> None:
        from perfbench import micro

        with self.tracer.span("micro", trace="micro"):
            self.layer.update(micro.python_operators(self.seed))
            self.layer.update(micro.spark_operators(spark, self.seed))

    def fold_event_log(self) -> None:
        """Spark task metrics of the measured passes, per engine job
        label and in total; every job becomes a span."""
        from perfbench import eventlog

        stages, jobs = eventlog.fold_dir(self.substrate.eventlog, self.window)
        n = self.report.get("passes_run", 1)
        for field in metrics.STAGE_FIELDS:
            for label in metrics.STAGE_LABELS:
                value = stages.get(label, {}).get(field, 0.0)
                self.layer[f"stage.{label}.{field}"] = value if field == "task_s.max" else value / n
        totals = eventlog.total(stages)
        for field in [*metrics.STAGE_FIELDS, "tasks"]:
            value = totals[field]
            self.layer[f"spark.{field}"] = value if field == "task_s.max" else value / n
        self.report["stages"] = stages
        extra = sorted(set(stages) - set(metrics.STAGE_LABELS))
        if extra:
            self.report["stages_not_in_catalogue"] = extra
        # the innermost span running when the job was submitted owns it
        owners = sorted(
            (s for s in self.tracer.spans if s["name"] != "pass"),
            key=lambda s: s["start"], reverse=True,
        )
        for job in jobs:
            parent = next(
                (s for s in owners if s["start"] <= job["start"] <= s["end"]), None
            )
            self.tracer.add(f"spark.job.{job['label']}", job["start"], job["end"],
                            parent, description=job["description"])

    def finish(self, peak_rss_mb: float) -> str:
        self.layer["peak_rss_mb"] = peak_rss_mb
        self.figures.update({
            "setup_s": self.e2e["setup_s"], "peak_rss_mb": peak_rss_mb,
            "failed_frac": self.failed / max(1, self.attempted),
        })
        self.report["metrics"] = {
            k: {"value": self.figures[k], "unit": unit}
            for k, (unit, on) in metrics.REPORTED.items() if self.workload in on
        }
        if self.trace:
            spans = harness.STATE / "spans" / f"{self.workload}-seed{self.seed}.jsonl"
            self.tracer.write(spans)
            self.report["spans"] = str(spans)
            self.report["layers"] = {
                k: {"value": self.layer[k], "unit": v[0]}
                for k, v in metrics.DETAIL.items() if self.workload in v[5]
            }
            chosen = {k: self.layer[k] for k in metrics.PER_LAYER}
        else:
            chosen = self.e2e
        print(json.dumps({"report": self.report}, default=float))
        return harness.result_line(
            self.failed == 0, self.attempted, self.failed, chosen,
            metrics.units(self.trace),
        )


# --- crawl_deep ----------------------------------------------------------------


def run_crawl_deep(run: Run) -> None:
    from perfbench import crawl

    snaps = run.substrate.snapshots
    acc = crawl.new_storage_acc() if run.trace else None
    with run.session(lambda s: crawl.warm_up(s, snaps / "warm"), crawl, run.seed) as spark:
        ref = run.reference

        def one_pass(i):
            try:
                return crawl.crawl_pass(spark, snaps / f"deep{i}", run.seed, ref,
                                        run.tracer, acc)
            except Exception:
                traceback.print_exc()
                return None

        passes = run.measure(spark, one_pass)
        if run.trace:
            run.micro(spark)
    run.report["inputs"] = {
        **crawl.CONFIG, "seeded_rows": crawl.n_seeds(),
        "page_base": crawl.page_base(run.seed), "urls_per_pass": ref["fetched"],
    }

    run.attempted = crawl.ROUNDS * len(passes)
    ok = [p for p in passes if p is not None]
    run.failed = crawl.ROUNDS * (len(passes) - len(ok)) + sum(
        len(p["failed_rounds"]) for p in ok
    )
    if not ok:
        raise RuntimeError("no crawl pass completed")
    rounds = [m for p in ok for m in p["rounds"]]
    walls = [p["wall_s"] for p in ok]
    urls_per_s = sum(p["fetched"] for p in ok) / sum(walls)
    run.e2e.update({
        "pass_s": median(walls),
        "op_s.p50": median([m["wall_s"] for m in rounds]),
        "items_per_s": urls_per_s,
    })
    n = len(ok)
    sections = {k: sum(m["sections"].get(k, 0.0) for m in rounds) / n
                for k in ("fetch_extract", "robots", "seen_dedup", "commit")}
    fetched = sum(m["fetched"] for m in rounds) / n
    new = sum(m["discovered_new"] for m in rounds) / n
    run.layer.update({
        **{f"frontier.{k}_s": v for k, v in sections.items()},
        "frontier.fetched": fetched,
        "frontier.discovered_new": new,
        "frontier.new_per_fetched": new / max(1.0, fetched),
        "frontier.robots_cache_misses": sum(m["robots_cache_misses"] for m in rounds) / n,
        "frontier.bloom_rebuilds": sum(p["bloom_rebuilds"] for p in ok) / n,
        "frontier.fetch_partitions": median([len(m["lineage"]) for m in rounds]),
        "crawl.init_s": median([p["init_s"] for p in ok]),
        "crawl.compact_round_s": median([p["compact_round_s"] for p in ok]),
        "crawl.resume_s": median([p["resume_s"] for p in ok]),
        "trace.pass_s": run.e2e["pass_s"] if run.trace else 0.0,
    })
    if acc is not None:
        for t in metrics.STORAGE_TABLES:
            run.layer[f"storage.write_s.{t}"] = acc["write_s"][t] / n
            run.layer[f"storage.bytes.{t}"] = acc["bytes"][t] / n
        run.layer["storage.bytes_per_url"] = sum(acc["bytes"].values()) / n / max(1.0, fetched)
        run.layer["storage.read_s"] = acc["read_s"] / n
    run.figures.update({
        "crawl_urls_per_s": urls_per_s,
        "init_s": run.layer["crawl.init_s"],
        "round_s.p50": run.e2e["op_s.p50"],
        "compact_round_s": run.layer["crawl.compact_round_s"],
        "resume_s": run.layer["crawl.resume_s"],
    })
    run.report.update({
        "passes": [
            {
                "wall_s": p["wall_s"], "init_s": p["init_s"],
                "failed_rounds": p["failed_rounds"],
                "rounds": [
                    {k: m[k] for k in ("round", "wall_s", "fetched", "discovered_new",
                                       "robots_cache_misses", "sections")}
                    | {"fetch_partitions": len(m["lineage"]),
                       "bloom_rebuilt": m.get("bloom_rebuilt", False)}
                    for m in p["rounds"]
                ],
            }
            for p in ok
        ],
    })


# --- corpus --------------------------------------------------------------------


def run_corpus(run: Run) -> None:
    from perfbench import corpus

    data = run.substrate.data
    slice_dir = run.substrate.work / "slice"
    slice_dir.mkdir()
    t0 = time.perf_counter()
    sizes = corpus.write_tables(run.seed, data)
    corpus.write_slice(data, slice_dir)
    run.report["inputs"] = {"rows": sizes, "slice_docs": corpus.SLICE_DOCS,
                            "generate_s": time.perf_counter() - t0}
    order = corpus.query_order(run.seed)
    warm: dict[str, str] = {}
    warm_failures: list[str] = []

    def warm_up(spark):
        # every query once, nproc at a time: their first-use costs
        # (codegen, JIT, Python worker start) overlap, so the warm-up
        # takes ~24 s instead of ~39 s on 4 cores and leaves the
        # sequential passes just as warm
        with ThreadPoolExecutor(max_workers=harness.cores()) as pool:
            futures = {
                name: pool.submit(corpus.run_query, spark, name, data) for name in order
            }
            for name, future in futures.items():
                try:
                    _, warm[name] = future.result()
                except Exception:
                    traceback.print_exc()
                    continue
                if name in run.reference["full"] and warm[name] != run.reference["full"][name]:
                    warm_failures.append(name)

    with run.session(warm_up, corpus, run.seed, str(data), str(slice_dir)) as spark:
        ref = run.reference
        oracle = ref["full"]

        def one_pass(i):
            times, bad = {}, []
            for name in order:
                with run.tracer.span("query", trace=f"q:{name}#{i}", query=name):
                    try:
                        wall, digest = corpus.run_query(spark, name, data)
                    except Exception:
                        traceback.print_exc()
                        bad.append(name)
                        continue
                times[name] = wall
                if digest != oracle.get(name, warm.get(name)):
                    bad.append(name)
            return times, bad

        passes = run.measure(spark, one_pass)
        # the pairwise queries against their oracle, on the slice
        slice_bad = []
        for name in corpus.PAIRWISE_ORACLES:
            try:
                _, digest = corpus.run_query(spark, name, slice_dir)
            except Exception:
                traceback.print_exc()
                digest = None
            if digest != ref["slice"][name]:
                slice_bad.append(name)
        if run.trace:
            run.micro(spark)
    run.report["warm_mismatches"] = warm_failures
    run.report["slice_mismatches"] = slice_bad

    run.attempted = len(order) * len(passes) + len(corpus.PAIRWISE_ORACLES)
    run.failed = sum(len(bad) for _, bad in passes) + len(slice_bad)
    extract = [q for q in metrics.CORPUS_QUERIES if q.startswith("extract_")]
    per_query = {
        q: median([t[q] for t, _ in passes if q in t]) for q in metrics.CORPUS_QUERIES
    }
    extract_wall = sum(t[q] for t, _ in passes for q in extract if q in t)
    extract_docs = sum(1 for t, _ in passes for q in extract if q in t) * corpus.N_DOCS
    pass_walls = [sum(t.values()) for t, _ in passes]
    run.e2e.update({
        "pass_s": median(pass_walls),
        "op_s.p50": median([w for t, _ in passes for w in t.values()]),
        "items_per_s": extract_docs / extract_wall if extract_wall else 0.0,
    })
    dedup_s = sum(per_query[q] for q in metrics.DEDUP_QUERIES)
    ann_s = sum(per_query[q] for q in metrics.ANN_QUERIES)
    run.layer.update({f"query_s.{q}": v for q, v in per_query.items()})
    run.layer.update({
        "corpus.dedup_s": dedup_s, "corpus.ann_s": ann_s,
        "trace.pass_s": run.e2e["pass_s"] if run.trace else 0.0,
    })
    run.figures.update({
        "corpus_pass_s": run.e2e["pass_s"],
        "extract_docs_per_s": run.e2e["items_per_s"],
        "dedup_s": dedup_s,
        "ann_s": ann_s,
    })
    run.report.update({
        "query_order": order,
        "query_s": per_query,
        "failed_queries": sorted({q for _, bad in passes for q in bad}),
    })


WORKLOADS = {"crawl_deep": run_crawl_deep, "corpus": run_corpus}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true",
                    help="print the metric catalogue and exit")
    args = ap.parse_args(argv)
    try:
        harness.check_program()
    except harness.ProgramMissing as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    if args.describe:
        print(json.dumps(metrics.describe(), indent=1))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with harness.MemorySampler() as rss:
            WORKLOADS[args.workload](run)
        line = run.finish(rss.peak_mb)
    finally:
        run.substrate.close()
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
