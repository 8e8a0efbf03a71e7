"""Operator microbenchmarks through the public functions.

Inputs come from the workload seed.  Python-level operators
(``parse``, ``crawl_extract_tokens``, ``SpanExtractor``) run
single-threaded in the driver; Spark operators (``build_bloom``,
``bloom_prefilter``/``new_urls``, ``topk_per_group``) run on a cached
input, so the timed job is the operator, not the input scan.  Each
figure is the median of three timed reps after one warm rep.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench import corpus, crawl

DOC_SAMPLE = 400
BLOOM_KEYS = 1_000_000
PROBE_KEYS = 500_000
TRUE_SEEN_FRAC = 0.5  # of probed keys, for bloom.suspect_frac
BLOOM_BUCKETS = 32
BLOOM_BITS = 1 << 19  # ~16 bits per key at BLOOM_KEYS over 32 buckets
REPS = 3


def _median_time(fn, reps: int = REPS) -> float:
    fn()  # warm
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def crawl_docs(seed: int) -> list[tuple[str, str]]:
    """(url, html) pages of the crawl_deep synthetic web."""
    from scalpel_ts_spark.sources.synthetic import html_for_url, make_url

    rng = random.Random(seed)
    urls = [
        make_url(rng.randrange(crawl.N_HOSTS), rng.randrange(crawl.PAGE_SPACE))
        for _ in range(DOC_SAMPLE)
    ]
    return [(u, html_for_url(u, crawl.N_HOSTS)) for u in urls]


def corpus_docs(seed: int) -> list[str]:
    """The pages ``extract_spans`` builds from the generated documents."""
    d = corpus.documents(seed)
    rows = random.Random(seed).sample(range(corpus.N_DOCS), DOC_SAMPLE)
    return [
        corpus.doc_html(int(d["doc_id"][i]), d["text"][i], d["source"][i],
                        int(d["n_chars"][i]))
        for i in rows
    ]


def python_operators(seed: int) -> dict[str, float]:
    from scalpel_ts_spark.core.scraper import scrape
    from scalpel_ts_spark.core.tokenizer import parse
    from scalpel_ts_spark.operators.extract import SpanExtractor, crawl_extract_tokens

    out = {}
    pages = {
        "crawl": [html for _, html in crawl_docs(seed)],
        "corpus": corpus_docs(seed),
    }
    extractor = SpanExtractor()
    for wl, docs in pages.items():
        tokens = [parse(doc) for doc in docs]
        out[f"tokenizer.us_per_doc.{wl}"] = 1e6 / len(docs) * _median_time(
            lambda docs=docs: [parse(doc) for doc in docs]
        )
        if wl == "crawl":
            run = lambda tokens=tokens: [crawl_extract_tokens(t) for t in tokens]  # noqa: E731
        else:
            run = lambda tokens=tokens: [scrape(extractor, t) for t in tokens]  # noqa: E731
        out[f"extract.us_per_doc.{wl}"] = 1e6 / len(docs) * _median_time(run)
    return out


def spark_operators(spark, seed: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    from scalpel_ts_spark.operators.seen import bloom_prefilter, build_bloom, new_urls
    from scalpel_ts_spark.operators.topk import topk_per_group

    def keys(n, offset):
        return spark.range(offset, offset + n).select(
            F.xxhash64(F.col("id"), F.lit(seed)).alias("url_hash")
        )

    caches = []

    def cached(df):
        df = df.persist()
        df.count()
        caches.append(df)
        return df

    try:
        seen = cached(keys(BLOOM_KEYS, 0))
        n_seen = int(PROBE_KEYS * TRUE_SEEN_FRAC)
        # half the probes are seen keys, half are keys never inserted
        probes = cached(
            keys(n_seen, 0).unionByName(keys(PROBE_KEYS - n_seen, 10 * BLOOM_KEYS))
        )
        out = {}
        build = lambda: build_bloom(  # noqa: E731
            seen, n_buckets=BLOOM_BUCKETS, bits_per_bucket=BLOOM_BITS
        ).collect()
        out["bloom.build_keys_per_s"] = BLOOM_KEYS / _median_time(build)
        blooms = cached(
            build_bloom(seen, n_buckets=BLOOM_BUCKETS, bits_per_bucket=BLOOM_BITS)
        )
        tagged = bloom_prefilter(probes, blooms, n_buckets=BLOOM_BUCKETS)
        out["bloom.probe_keys_per_s"] = PROBE_KEYS / _median_time(tagged.count)
        suspects = tagged.filter(F.col("maybe_seen") == 1).count()
        out["bloom.suspect_frac"] = suspects / PROBE_KEYS

        def antijoin() -> int:
            # new_urls persists its tagged frame; drop it after every
            # rep so each rep pays the probe and the anti-join again
            held: list = []
            try:
                return new_urls(
                    probes, seen, blooms, persisted_out=held, dedup=True,
                    n_buckets=BLOOM_BUCKETS,
                ).count()
            finally:
                for df in held:
                    df.unpersist()

        n_new = antijoin()
        if n_new != PROBE_KEYS - n_seen:
            raise RuntimeError(f"new_urls returned {n_new} rows, want {PROBE_KEYS - n_seen}")
        out["seen.antijoin_rows_per_s"] = PROBE_KEYS / _median_time(antijoin)

        # a frontier shaped like crawl_deep's: N_HOSTS hosts, per-host
        # token column, (priority, seq) order
        frontier = cached(
            spark.range(crawl.n_seeds()).select(
                (F.col("id") % crawl.N_HOSTS).alias("host_id"),
                (F.col("id") % 3).cast("int").alias("priority"),
                F.xxhash64(F.col("id"), F.lit(seed)).alias("seq"),
                F.col("id").alias("url_hash"),
                F.lit(crawl.CAP).alias("tokens"),
            )
        )
        picked = topk_per_group(
            frontier, group_cols=["host_id"],
            order_cols=[F.col("priority"), F.col("seq")], k=F.col("tokens"),
            prune_k=crawl.CAP, single_phase=True,
        )
        n_picked = picked.count()
        if n_picked != crawl.N_HOSTS * crawl.CAP:
            raise RuntimeError(f"topk_per_group kept {n_picked} rows")
        out["topk.rows_per_s"] = crawl.n_seeds() / _median_time(picked.count)
        return out
    finally:
        for df in caches:
            df.unpersist()
