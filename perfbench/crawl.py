"""``crawl_deep``: per-round cost that grows with crawl state.

An 82k-row frontier/seen set is seeded through ``CrawlEngine.init_df``
from a seed-derived page range (200 hosts x 410 pages).  Each round
fetches 16 URLs per host (3,200 per round), so extraction is small and
a round's cost is selection over the whole frontier, the seen
anti-join and the frontier rewrite.  The fetch-derived partition count
comes out as 2, so the 82k-row selection runs on 2 tasks (the
selection partition cliff of ``plans/frontier.py``).

One pass: init, round 1, resume from the snapshots, round 2 (compacts
seen; the seen set crosses the bloom sizing threshold here, so the
bloom is rebuilt).  The ordered fetch log of every round and the
final seen set must equal ``plans.simulator.simulate_crawl`` for the
same seeds and config.
"""

from __future__ import annotations

import hashlib
import random
import time
from collections import defaultdict
from pathlib import Path

from perfbench.harness import cached, rows_digest, source_digest

N_HOSTS = 200
#: 82k seeded rows.  The bloom is sized at init for 4x the seed count
#: with no discovery headroom (``bloom_presize_keys=0``), which gives
#: the 2^17-bit floor per bucket, enough for ~105k keys: with ~15k new
#: URLs a round, round 2 is the first whose seen set crosses that, so
#: the compaction round also rebuilds the bloom
PAGES_PER_HOST = 410
CAP = REFILL = 16
ROUNDS = 2
COMPACT_EVERY = 2
RESUME_AFTER = 1
PAGE_SPACE = 100_000  # synthetic page ids per host

CONFIG = {
    "n_hosts": N_HOSTS, "pages_per_host": PAGES_PER_HOST, "cap": CAP,
    "refill": REFILL, "rounds": ROUNDS, "compact_every": COMPACT_EVERY,
    "resume_after": RESUME_AFTER,
}


def page_base(seed: int) -> int:
    return random.Random(seed).randrange(PAGE_SPACE - PAGES_PER_HOST)


def n_seeds() -> int:
    return N_HOSTS * PAGES_PER_HOST


def seed_urls(base: int) -> list[str]:
    from scalpel_ts_spark.sources.synthetic import make_url

    return [make_url(i % N_HOSTS, base + i // N_HOSTS) for i in range(n_seeds())]


def seeds_df(spark, base: int):
    """The same URLs as :func:`seed_urls`, generated in Spark (the
    program sees only these URLs)."""
    from pyspark.sql import functions as F

    return spark.range(n_seeds()).select(
        F.concat(
            F.lit("http://h"),
            (F.col("id") % N_HOSTS).cast("string"),
            F.lit(".test/p/"),
            (F.expr(f"id div {N_HOSTS}") + F.lit(base)).cast("string"),
        ).alias("url")
    )


# --- reference digests -------------------------------------------------------


LOG_COLUMNS = ("round", "priority", "seq", "url", "n_links")


def log_digests(rows) -> dict[int, str]:
    """Fetch-log rows (LOG_COLUMNS) -> digest per round."""
    by_round = defaultdict(list)
    for row in rows:
        by_round[int(row[0])].append(tuple(row))
    return {r: rows_digest(LOG_COLUMNS, v) for r, v in sorted(by_round.items())}


def seen_digest(urls) -> list[int]:
    """Order-insensitive digest of a URL set: count and two sums of
    32-bit md5 slices (the same arithmetic as :func:`seen_digest_df`)."""
    n = s1 = s2 = 0
    for url in urls:
        h = hashlib.md5(url.encode()).hexdigest()
        n += 1
        s1 += int(h[:8], 16)
        s2 += int(h[8:16], 16)
    return [n, s1, s2]


def seen_digest_df(df) -> list[int]:
    from pyspark.sql import functions as F

    def part(start):
        return F.sum(
            F.conv(F.substring(F.md5(F.col("url")), start, 8), 16, 10).cast("long")
        )

    row = df.agg(F.count(F.lit(1)), part(1), part(9)).collect()[0]
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def reference(seed: int) -> dict:
    """Simulator digests for ``seed`` (computed outside the timed
    region, cached per seed, config and program source)."""

    def simulate() -> dict:
        from scalpel_ts_spark.plans.simulator import simulate_crawl

        st = simulate_crawl(
            seed_urls(page_base(seed)), ROUNDS, cap=CAP, refill=REFILL,
            n_hosts=N_HOSTS,
        )
        log = log_digests(tuple(e[c] for c in LOG_COLUMNS) for e in st.fetch_log)
        return {
            "log": {str(r): d for r, d in log.items()},
            "seen": seen_digest(st.seen),
            "fetched": len(st.fetch_log),
        }

    return cached("crawl_deep", [CONFIG, seed, source_digest(Path(__file__))], simulate)


# --- storage timing seam -----------------------------------------------------


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def timed_storage_class():
    from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage

    class TimedStorage(ParquetSnapshotStorage):
        """Parquet snapshots, timing every call from outside.  Write
        spans include the lazy upstream compute of the written frame."""

        def __init__(self, spark, workdir, acc: dict, tracer):
            super().__init__(spark, workdir)
            self.acc = acc
            self.tracer = tracer
            self.parent = None  # the round span; set by the crawl loop

        def _timed_write(self, write, df, table, rnd):
            t0, c0 = time.time(), time.perf_counter()
            write(df, table, rnd)
            dt = time.perf_counter() - c0
            self.acc["write_s"][table] += dt
            self.acc["bytes"][table] += _dir_bytes(Path(self._path(table, rnd)))
            self.tracer.add(f"storage.write.{table}", t0, t0 + dt, self.parent)

        def write(self, df, table, rnd):
            self._timed_write(super().write, df, table, rnd)

        def write_small(self, df, table, rnd):
            self._timed_write(super().write_small, df, table, rnd)

        def read(self, table, rnd):
            c0 = time.perf_counter()
            try:
                return super().read(table, rnd)
            finally:
                self.acc["read_s"] += time.perf_counter() - c0

        def read_union(self, table, rounds):
            c0 = time.perf_counter()
            try:
                return super().read_union(table, rounds)
            finally:
                self.acc["read_s"] += time.perf_counter() - c0

    return TimedStorage


def new_storage_acc() -> dict:
    return {"write_s": defaultdict(float), "bytes": defaultdict(int), "read_s": 0.0}


# --- the workload ------------------------------------------------------------


def warm_up(spark, workdir: Path) -> None:
    """A tiny crawl through every path a pass takes: init_df, a
    compacting round, resume."""
    from pyspark.sql import functions as F

    from scalpel_ts_spark.plans.frontier import CrawlEngine

    eng = CrawlEngine(spark, str(workdir), n_hosts=5, cap=8, refill=4, compact_every=1)
    eng.init_df(
        spark.range(15).select(
            F.concat(
                F.lit("http://h"), (F.col("id") % 5).cast("string"),
                F.lit(".test/p/"), F.expr("id div 5").cast("string"),
            ).alias("url")
        )
    )
    eng.run_round()
    CrawlEngine.resume(spark, str(workdir)).seen().count()


def crawl_pass(spark, workdir: Path, seed: int, ref: dict, tracer,
               storage_acc: dict | None) -> dict:
    """One closed-loop crawl: each round starts when the previous one
    has committed.  Returns timings, engine counters and the rounds
    whose output mismatched the reference."""
    from scalpel_ts_spark.plans.frontier import CrawlEngine

    storage_cls = timed_storage_class() if storage_acc is not None else None

    def storage():
        if storage_cls is None:
            return None
        return storage_cls(spark, str(workdir), storage_acc, tracer)

    kw = dict(
        n_hosts=N_HOSTS, cap=CAP, refill=REFILL, compact_every=COMPACT_EVERY,
        bloom_presize_keys=0, write_docs=True,
    )
    out = {"rounds": [], "failed_rounds": [], "bloom_rebuilds": 0}
    t0 = time.perf_counter()
    with tracer.span("crawl.init", trace="init") as sp:
        store = storage()
        if store is not None:
            store.parent = sp
        eng = CrawlEngine(spark, str(workdir), storage=store, **kw)
        eng.init_df(seeds_df(spark, page_base(seed)))
    out["init_s"] = time.perf_counter() - t0
    for r in range(1, ROUNDS + 1):
        resumed_at = None
        if r == RESUME_AFTER + 1:
            resumed_at = time.perf_counter()
            with tracer.span("crawl.resume", trace=f"r{r}"):
                store = storage()
                eng = CrawlEngine.resume(spark, str(workdir), storage=store)
        with tracer.span("crawl.round", trace=f"r{r}", round=r) as sp:
            if store is not None:
                store.parent = sp
            bits = (eng.manifest.get("bloom_bits"), eng.bloom_buckets)
            c0 = time.perf_counter()
            m = eng.run_round()
            m["wall_s"] = time.perf_counter() - c0
        if m.get("stopped") or not m.get("committed", True):
            raise RuntimeError(f"round {r} did not commit: {m}")
        if (eng.manifest.get("bloom_bits"), eng.bloom_buckets) != bits:
            out["bloom_rebuilds"] += 1
            m["bloom_rebuilt"] = True
        if resumed_at is not None:
            out["resume_s"] = time.perf_counter() - resumed_at
        out["rounds"].append(m)
    out["wall_s"] = time.perf_counter() - t0

    # correctness, outside the timed region
    rows = eng.fetch_log().select(*LOG_COLUMNS).collect()
    got = {str(k): v for k, v in log_digests(rows).items()}
    for i, m in enumerate(out["rounds"]):
        key = str(i)  # fetch-log rounds are 0-based
        if got.get(key) != ref["log"].get(key):
            out["failed_rounds"].append(m["round"])
    if seen_digest_df(eng.seen()) != ref["seen"] and ROUNDS not in out["failed_rounds"]:
        out["failed_rounds"].append(ROUNDS)
    out["fetched"] = sum(m["fetched"] for m in out["rounds"])
    out["compact_round_s"] = out["rounds"][COMPACT_EVERY - 1]["wall_s"]
    return out
