"""``query_mix``: read-only registered queries, each collected to pandas.

Set-up writes a seeded TPC-H-shaped table set (the schema and value
domains of the repository's test fixtures, about 60k lineitem rows) with
numpy and pyarrow, so no Spark job and no file outside the run's own
directory is involved. An iteration runs every query of ``QUERIES`` once,
in an order drawn from the seed, and collects each result; after the
iteration's timing, every result is compared with its DuckDB oracle by
``tools/check_correctness.py``'s ``compare``. One untimed iteration
runs first.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np

# query -> module that owns its operator (the span it is timed under)
QUERIES = {
    "q01_pricing_summary": "operators",
    "q_pit_join": "operators",
    "q_event_paths": "operators",
    "q_val_psi_drift": "validation",
    "q_ext_simhash": "textops",
}
TABLES = "region nation customer supplier part orders lineitem events documents".split()
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500}
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join data query column filter group vector stream small "
    "big order customer"
).split()


def _day(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _pick(rng, choices, n, p=None):
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)]


def generate(out_dir: str, seed: int) -> None:
    """Write the nine tables as ``<out_dir>/<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    r = ROWS
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    nat = lambda n: rng.integers(0, 25, n).astype(np.int32)  # noqa: E731
    docs_words = [rng.choice(WORDS, rng.integers(8, 90)) for _ in range(r["documents"])]
    texts = [" ".join(w) for w in docs_words]
    ev_gaps = rng.exponential(259.0, r["events"])
    cols = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(r["customer"]),
                     "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
                     "c_nationkey": nat(r["customer"]),
                     "c_acctbal": money(-999.99, 9999.99, r["customer"]),
                     "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], r["customer"])},
        "supplier": {"s_suppkey": np.arange(r["supplier"]),
                     "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
                     "s_nationkey": nat(r["supplier"]),
                     "s_acctbal": money(-999.99, 9999.99, r["supplier"])},
        "part": {"p_partkey": np.arange(r["part"]),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     _pick(rng, "red blue green small large shiny matte dark".split(), r["part"]),
                     _pick(rng, "ring widget bolt gear nut spring valve pipe".split(), r["part"]))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, r["part"])],
                 "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                       "STANDARD"], r["part"]),
                 "p_size": rng.integers(1, 51, r["part"]).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (np.arange(r["part"]) % 1000) / 10.0, 2)},
        "orders": {"o_orderkey": np.arange(r["orders"]),
                   "o_custkey": rng.integers(0, r["customer"], r["orders"]),
                   "o_orderstatus": _pick(rng, ["F", "O", "P"], r["orders"]),
                   "o_totalprice": money(1000.0, 500000.0, r["orders"]),
                   "o_orderdate": _day(rng, r["orders"], "1995-01-01", "2001-08-01"),
                   "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], r["orders"])},
        "lineitem": {"l_orderkey": rng.integers(0, r["orders"], r["lineitem"]),
                     "l_partkey": rng.integers(0, r["part"], r["lineitem"]),
                     "l_suppkey": rng.integers(0, r["supplier"], r["lineitem"]),
                     "l_linenumber": rng.integers(1, 8, r["lineitem"]).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, r["lineitem"]).astype(np.float64),
                     "l_extendedprice": money(900.0, 105000.0, r["lineitem"]),
                     "l_discount": rng.integers(0, 11, r["lineitem"]) / 100.0,
                     "l_tax": rng.integers(0, 9, r["lineitem"]) / 100.0,
                     "l_returnflag": _pick(rng, ["A", "N", "R"], r["lineitem"]),
                     "l_linestatus": _pick(rng, ["F", "O"], r["lineitem"]),
                     "l_shipdate": _day(rng, r["lineitem"], "1995-01-02", "2001-11-04")},
        "events": {"event_id": np.arange(r["events"]),
                   "ts": (np.datetime64("2024-01-01T00:00:00", "us")
                          + np.cumsum(ev_gaps * 1e6).astype("timedelta64[us]")),
                   "user_id": rng.integers(0, 150, r["events"]),
                   "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"],
                                       r["events"]),
                   "value": money(0.01, 490.02, r["events"]),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, r["events"])]},
        "documents": {"doc_id": np.arange(r["documents"]),
                      "text": texts,
                      "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], r["documents"],
                                    p=[0.44, 0.14, 0.14, 0.14, 0.14]),
                      "source": [f"src{i % 20}" for i in range(r["documents"])],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(pa.table(cols[name]), os.path.join(out_dir, f"{name}.parquet"))


class QueryMix:
    name = "query_mix"
    # one untimed pass: a query's first run in a JVM is mostly code
    # generation and class loading, and swings by seconds between runs
    warmup_iterations = 1
    # a set-up is a session restart and a numpy write, under a second
    # but swinging by half of it; the median of five repeats within 0.1
    setups = 5

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.size = {"lineitem_rows": ROWS["lineitem"], "queries": len(QUERIES)}
        self.expected = None

    def setup(self, rec, k: int) -> None:
        root = os.path.join(self.work, f"tables{k}")
        with rec.span("setup.datagen"):
            generate(root, self.seed)
        if k:
            shutil.rmtree(os.path.join(self.work, f"tables{k - 1}"), ignore_errors=True)
        self.data = root

    def prepare(self, rec) -> None:
        import __spark_entry__

        registered = __spark_entry__.queries()
        self.fns = {q: registered[q] for q in QUERIES}
        self.oracles = {q: __spark_entry__.oracle_sql()[q] for q in QUERIES}
        self.order = list(QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def iteration(self, rec, i: int, root: str) -> dict:
        """Run every query once, collecting its result to pandas."""
        from spans import plan_probe

        results = {}
        for q in self.order:
            with rec.span(f"{QUERIES[q]}.query", query=q) as s:
                try:
                    df = self.fns[q](rec.spark, self.data)
                    if rec.trace:
                        s["plan_ms"], s["probe_ms"] = plan_probe(df)
                    results[q] = df.toPandas()
                except Exception as exc:  # a query that raises is a failed operation
                    results[q] = exc
        return results

    def check(self, out: dict) -> list[str]:
        """Compare every query's result with its DuckDB oracle, which
        runs once per run."""
        from check_correctness import compare

        if self.expected is None:
            import duckdb

            with duckdb.connect() as con:
                for t in TABLES:
                    path = os.path.join(self.data, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                self.expected = {q: con.execute(sql).df() for q, sql in self.oracles.items()}
        problems = []
        for q, got in out.items():
            found = (
                [f"{type(got).__name__}: {got}"] if isinstance(got, Exception)
                else compare(q, got, self.expected[q])
            )
            if found:
                problems.append(f"{q}: " + "; ".join(found))
        return problems

    def layer_extras(self, out: dict) -> dict:
        return {}

