"""Workload ``analytics``: the 14 headline queries over seeded tables.

The tables are the benchmark's input, not the engine's work: they are
written once per run from the seed, untimed, so ``setup_s`` of this
workload is the session start alone. They are shaped like the
repository's ``sf0.1`` test data, scaled by the workload size (0.25 by
default: 150k lineitem rows, 25k events, 1,250 documents, 500 64-d unit
embeddings, 3,750 customers; 25 nations and 5 regions at any size). One
file and one row group per table, as there.

Each query is warmed by one full run that collects its result
(``toPandas``; ``count()`` would prune a9's windows and leave its JIT cost
in the timed run). Timed noop-sink passes then run all queries, in a
seed-chosen order, until ``--seconds`` have passed (at least
``MIN_PASSES``). After them, untimed, every collected warm-up result is
checked against its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import force, median
from perfbench.spans import SpanRecorder

# bench.HEADLINE, copied so that editing bench.py cannot change the
# benchmark or the per-layer metric names in BENCHMARK.json
HEADLINE = [
    "a7_pricing_summary", "j1_region_stats", "a9_degree_metrics",
    "a11_salted_hot_agg", "j6_two_hop_match", "w3_cumsum_batches",
    "s1_chunk_documents", "p3_trigram_triples", "kg_predicate_counts",
    "d3_minhash_signatures", "d4_lsh_buckets", "d5_simhash",
    "v1_cosine_topk", "g5_connected_components",
]
TABLES = ["region", "nation", "customer", "lineitem", "events", "documents",
          "embeddings"]
MIN_PASSES = 1

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()


def _sizes(scale: float) -> dict[str, int]:
    return {"customer": int(15000 * scale), "lineitem": int(600000 * scale),
            "orders": int(150000 * scale), "parts": int(20000 * scale),
            "events": int(100000 * scale), "documents": int(5000 * scale),
            "embeddings": int(2000 * scale)}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def generate_tables(data_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write the headline queries' tables under ``data_dir`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n = _sizes(scale)
    os.makedirs(data_dir, exist_ok=True)
    p = lambda t: os.path.join(data_dir, f"{t}.parquet")  # noqa: E731

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), p("region"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), p("nation"))

    nc = n["customer"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, nc)]),
    }), p("customer"))

    nl = n["lineitem"]
    day0 = np.datetime64("1995-01-01", "us")
    shipdays = rng.integers(1, 2500, nl).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["parts"], nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(day0 + shipdays.astype("timedelta64[us]")),
    }), p("lineitem"))

    ne = n["events"]
    ts0 = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts0 + offs),
        "user_id": pa.array(rng.integers(0, 1500, ne, dtype=np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), p("events"))

    nd = n["documents"]
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                      int(rng.integers(8, 96)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, len(langs), nd)]),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), p("documents"))

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    }), p("embeddings"))


def duck(data_dir: str, work: str):
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql(f"SET temp_directory = '{os.path.join(work, 'duck')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def run(spark, work: str, seed: int, seconds: float, scale: float,
        rec: SpanRecorder, corrupt: frozenset[str] = frozenset()) -> dict:
    """Warm (and collect) each query, time passes, then check the collected
    results. ``corrupt`` names queries whose collected result is damaged
    before its check (negative controls for the tests)."""
    from deep_reason_spark.oracle_check import compare
    from deep_reason_spark.queries import ORACLES, QUERIES

    data_dir = os.path.join(work, "tables")
    with rec.span("tables") as s_tab:
        generate_tables(data_dir, seed, scale)
    # warm-up: one full run per query; collecting it (not count(), which
    # prunes a9's windows) compiles the same operators as the timed noop run
    results = {}
    for name in HEADLINE:
        with rec.span(f"warm.{name}"):
            results[name] = QUERIES[name](spark, data_dir).toPandas()

    order = list(HEADLINE)
    times: dict[str, list[float]] = {q: [] for q in HEADLINE}
    suites: list[float] = []
    rnd = random.Random(seed)
    t_start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_start < seconds:
        rnd.shuffle(order)
        suite = 0.0
        for name in order:
            with rec.span(f"q.{name}#{passes}") as s:
                force(QUERIES[name](spark, data_dir))
            times[name].append(s.wall_s)
            suite += s.wall_s
        suites.append(suite)
        passes += 1

    problems: dict[str, list[str]] = {}
    with rec.span("check"):
        con = duck(data_dir, work)
        for name in HEADLINE:
            sdf = results[name]
            if name in corrupt:
                sdf = sdf.iloc[1:]
            problems[name] = compare(sdf, con.sql(ORACLES[name]).df())
        con.close()

    per_query = {q: median(v) for q, v in times.items()}
    failed = {q: p for q, p in problems.items() if p}
    # a query whose result fails its check fails every timed run of it
    return {
        # the tables are the benchmark's input, so no set-up time of its own
        "work_s": median(suites), "prep_s": 0.0,
        "attempted": passes * len(HEADLINE), "failed": passes * len(failed),
        "failed_checks": failed,
        "info": {"suite_s": median(suites),
                 "query_p50_s": median(per_query.values()),
                 "passes": passes, "pass_suites_s": suites,
                 "per_query_s": per_query, "tables_s": s_tab.wall_s,
                 "sizes": {"scale": scale, **_sizes(scale)}},
    }
