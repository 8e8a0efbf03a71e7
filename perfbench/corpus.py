"""``corpus``: the training-data pipeline queries, no crawl state.

Tables shaped like the sf0.01 test data are generated from the seed:
500 documents (random word text over a 30-word vocabulary, 10-100
words; 5% near-duplicates, a few exact duplicates), 500 unit 64-d
embeddings, 60k lineitem, 15k orders and 1.5k customer rows.  (At the
sf0.1 shape a warm pass takes ~29 s and the cold warm-up ~58 s on 4
cores, more than one run can spend.)
The query set is bench.py's 16 PIPELINE_QUERIES plus the six other
``extract_*`` queries, run in a seed-shuffled interleaved order.
Every result must equal its DuckDB ``oracle_sql()`` mirror, except
where the mirror compares all document pairs (see
``PAIRWISE_ORACLES``); a query without a usable mirror must equal its
own warm-rep result.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

import numpy as np

from perfbench.harness import cached, rows_digest, source_digest
from perfbench.metrics import CORPUS_QUERIES

N_DOCS = 500
N_EMB, EMB_DIM = 500, 64
N_LINEITEM, N_ORDERS, N_CUSTOMER, N_SUPP = 60_000, 15_000, 1_500, 100

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
TABLES = ("documents", "embeddings", "lineitem", "orders", "customer")


def documents(seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(N_DOCS):
        roll = rng.random()
        if i > 20 and roll < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 20 and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=n)))
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(seed: int, out: Path) -> dict[str, int]:
    """Generate every table the corpus queries read; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vec = rng.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    day = np.datetime64("1992-01-01", "us")
    span_days = 365 * 10

    def dates(n):
        return day + rng.integers(span_days, size=n) * np.timedelta64(1, "D")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    def pick(options, n):
        return np.array(options)[rng.integers(len(options), size=n)]

    tables = {
        "documents": pa.table(documents(seed)),
        "embeddings": pa.table({
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": rng.integers(10, size=N_EMB).astype(np.int32),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(N_ORDERS, size=N_LINEITEM),
            "l_partkey": rng.integers(20_000, size=N_LINEITEM),
            "l_suppkey": rng.integers(N_SUPP, size=N_LINEITEM),
            "l_linenumber": rng.integers(1, 8, size=N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=N_LINEITEM).astype(np.float64),
            "l_extendedprice": money(900, 105_000, N_LINEITEM),
            "l_discount": rng.integers(0, 11, size=N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, size=N_LINEITEM) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": pick(["O", "F"], N_LINEITEM),
            "l_shipdate": dates(N_LINEITEM),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(N_CUSTOMER, size=N_ORDERS),
            "o_orderstatus": pick(["O", "F", "P"], N_ORDERS),
            "o_totalprice": money(800, 500_000, N_ORDERS),
            "o_orderdate": dates(N_ORDERS),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                N_ORDERS,
            ),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(25, size=N_CUSTOMER).astype(np.int32),
            "c_acctbal": money(-999, 9_999, N_CUSTOMER),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                N_CUSTOMER,
            ),
        }),
    }
    for name, tbl in tables.items():
        # one row group per file, like the sf test data
        pq.write_table(tbl, out / f"{name}.parquet", row_group_size=len(tbl))
    return {name: len(tbl) for name, tbl in tables.items()}


def query_order(seed: int) -> list[str]:
    order = list(CORPUS_QUERIES)
    random.Random(seed).shuffle(order)
    return order


#: oracles that compare all document pairs: O(n^2) in DuckDB (~13 and
#: ~20 s at 500 documents on 4 cores), so they are checked on the first
#: SLICE_DOCS documents instead; at full size these two queries must
#: equal their own warm-rep result
PAIRWISE_ORACLES = ("dedup_minhash", "dedup_winnow")
SLICE_DOCS = 100


def write_slice(data: Path, out: Path) -> None:
    import pyarrow.parquet as pq

    docs = pq.read_table(data / "documents.parquet").slice(0, SLICE_DOCS)
    pq.write_table(docs, out / "documents.parquet", row_group_size=SLICE_DOCS)


def _oracle_digests(data: Path, names) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    # one thread: this runs beside the JVM start
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in TABLES:
            path = data / f"{t}.parquet"
            if path.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            if name in oracles:
                rel = con.execute(oracles[name])
                out[name] = rows_digest([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def reference(seed: int, data: str, slice_dir: str) -> dict:
    """DuckDB oracle digests: ``full`` for every query with a linear
    oracle on the full tables, ``slice`` for the pairwise ones.
    Cached per seed, generator, oracle SQL and DuckDB version."""
    import duckdb

    def compute() -> dict:
        linear = [q for q in CORPUS_QUERIES if q not in PAIRWISE_ORACLES]
        return {
            "full": _oracle_digests(Path(data), linear),
            "slice": _oracle_digests(Path(slice_dir), PAIRWISE_ORACLES),
        }

    key = [seed, duckdb.__version__, source_digest(Path(__file__))]
    return cached("corpus", key, compute)


def run_query(spark, name: str, data: Path) -> tuple[float, str]:
    """One closed-loop op: build and fully collect one query's result.
    Returns (wall seconds, result digest)."""
    import __spark_entry__ as E

    t0 = time.perf_counter()
    df = E.queries()[name](spark, str(data))
    rows = df.collect()
    wall = time.perf_counter() - t0
    return wall, rows_digest(df.columns, rows)


def doc_html(doc_id: int, text: str, source: str, n_chars: int) -> str:
    """The page ``extract_spans`` builds from a documents row."""
    img = f'<img src="media://doc/{doc_id}" />' if n_chars % 3 == 0 else ""
    return (
        f"<html><head><title>doc {doc_id}</title></head><body><h1>{source}</h1>"
        f"{img}<p>{text}</p></body></html>"
    )
