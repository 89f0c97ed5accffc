"""The `batch` workload's two parts, `relational` and `neardup`: registry
queries over the fixed tables in ``perfbench/data`` (the sf0.01 star
schema of ``TESTDATA.md``, seed 42, copied verbatim).

One operation is one query: the query function builds its plan (the
"build" layer, which may launch jobs of its own) and ``toArrow()`` runs
it. Each result is checked against the registry's DuckDB oracle: live
where the oracle is cheap, and against a committed digest of the
oracle's canonical output where it is not (``make_digests.py``
recomputes those digests from DuckDB).
"""

from __future__ import annotations

import json
import os

from checks import canon, check_digest, compare_canon

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")

RELATIONAL = [
    "filter_predicates",
    "q5_local_supplier",
    "pivot_sum_segments",
    "rollup_region_nation",
    "sessionize",
    "asof_last_purchase",
    "scd2_status_timeline",
]

NEARDUP = [
    "dedup_then_jaccard",
    "fuzzy_pairs_editdist",
    "semdedup_survivors",
]

#: oracles too slow to run live on every run; checked against digests
DIGESTED = ("dedup_then_jaccard", "fuzzy_pairs_editdist")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duckdb_connection(data_dir: str = DATA_DIR):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_canon(con, sql: str):
    return canon(con.sql(sql).arrow())


class RegistryWorkload:
    def __init__(self, spark, names: list[str], tracer, oracle_sql: dict, queries: dict):
        self.spark, self.tracer = spark, tracer
        self.ops = list(names)
        self.fns = {n: queries[n] for n in names}
        with open(DIGESTS) as fh:
            digests = json.load(fh)
        con = duckdb_connection()
        self.want = {}
        for n in names:
            if n in DIGESTED:
                self.want[n] = ("digest", digests[n]["sha256"], digests[n]["rows"])
            else:
                self.want[n] = ("rows", oracle_canon(con, oracle_sql[n]))
        con.close()

    def run(self, name: str, traced: bool):
        """Build and execute one query; returns (seconds, result, layer
        numbers). Spans: the query function, the action, the Catalyst
        phases (read after the action)."""
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup("build", name)
        with self.tracer.span(name + ".build", "build") as b:
            df = self.fns[name](self.spark, DATA_DIR)
        if traced:
            sc.setJobGroup("exec", name)
        with self.tracer.span(name + ".exec", "exec") as x:
            table = df.toArrow()
        layer = {"build_s": b.seconds, "exec_s": x.seconds}
        if traced:
            from sparkstats import catalyst_ms

            phases = catalyst_ms(df)
            for phase, ms in phases.items():
                self.tracer.add(f"{name}.{phase}", "catalyst", x.start, x.start + ms / 1000, x.idx)
                layer[phase + "_ms"] = ms
        return b.seconds + x.seconds, table, layer

    def check(self, name: str, table) -> str | None:
        got = canon(table)
        want = self.want[name]
        if want[0] == "digest":
            return check_digest(got, want[1], want[2])
        return compare_canon(got, want[1])
