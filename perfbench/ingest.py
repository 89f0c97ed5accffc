"""The `ingest` part of the `files` workload: a mixed-type CSV generated from the seed, read with
``sources.csv.read_csv`` type inference, scanned, written back with
``write_csv`` and ``write_json`` and re-read with ``read_json``.

Each of the five steps is one operation; a pass runs them in order and
each pass starts from a fresh ``read_csv``. The checks compare against
the generator's own arrays and declared types, and count written lines
with plain Python, never through the engine.
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np

from checks import check_close, check_equal, check_types, first_failure

N_ROWS = 5_000
STEPS = ["read_csv", "scan_csv", "write_csv", "write_json", "read_json"]
EPOCH = datetime.date(1970, 1, 1)

#: column -> the Spark type read_csv must infer for it
TYPES = {
    "qty": "int",       # ints with NA / N/A nulls
    "price": "double",
    "flag": "boolean",
    "day": "date",
    "big": "bigint",    # beyond the int range
    "name": "string",
    "score": "double",  # doubles with empty-cell nulls
    "code": "int",
}


def generate(seed: int) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """column -> (values, valid mask)."""
    rng = np.random.default_rng(seed)
    n = N_ROWS

    def valid(p_null):
        return rng.random(n) >= p_null

    cols = {
        "qty": (rng.integers(-5_000, 5_000, n), valid(0.05)),
        "price": (rng.integers(1, 10_000_000, n) / 100.0, valid(0.0)),
        "flag": (rng.random(n) < 0.4, valid(0.02)),
        "day": (rng.integers(18_000, 21_000, n), valid(0.0)),
        "big": (rng.integers(3_000_000_000, 9_000_000_000, n), valid(0.0)),
        "name": (rng.integers(0, 5_000, n), valid(0.01)),
        "score": (rng.integers(0, 1_000_000, n) / 1000.0, valid(0.1)),
        "code": (rng.integers(0, 1_000, n), valid(0.0)),
    }
    return cols


def _cell(col: str, v, ok: bool, i: int) -> str:
    if not ok:
        if col == "qty":
            return ("NA", "N/A")[i % 2]
        return ""
    if col == "flag":
        return "true" if v else "false"
    if col == "day":
        return (EPOCH + datetime.timedelta(days=int(v))).isoformat()
    if col == "name":
        return f"name {int(v)}"
    if col in ("price", "score"):
        return repr(float(v))
    return str(int(v))


def write_csv_file(cols: dict, path: str) -> None:
    names = list(TYPES)
    with open(path, "w") as fh:
        fh.write(",".join(names) + "\n")
        for i in range(N_ROWS):
            fh.write(",".join(_cell(c, cols[c][0][i], cols[c][1][i], i) for c in names) + "\n")


def truth(cols: dict) -> dict[str, tuple[int, float]]:
    """column -> (non-null count, sum) as numpy computes them; dates sum
    as epoch days, booleans as the count of true, strings as 0."""
    out = {}
    for c, (v, ok) in cols.items():
        s = 0.0 if c == "name" else float(np.sum(v[ok].astype(np.float64)))
        out[c] = (int(ok.sum()), s)
    return out


def _as_number(v) -> float:
    if isinstance(v, datetime.date):
        return float((v - EPOCH).days)
    if isinstance(v, str):
        return float((datetime.date.fromisoformat(v) - EPOCH).days)
    return float(v)


def column_totals(table) -> dict[str, tuple[int, float]]:
    """The same (non-null count, sum) read off an Arrow table."""
    out = {}
    for c in TYPES:
        vals = [v for v in table.column(c).to_pylist() if v is not None] if c in table.column_names else []
        s = 0.0 if c == "name" else float(sum(_as_number(v) for v in vals))
        out[c] = (len(vals), s)
    return out


def check_totals(table, want: dict, n_rows: int) -> str | None:
    got = column_totals(table)
    return first_failure(
        check_equal("rows", table.num_rows, n_rows),
        *(check_equal(f"{c} non-null", got[c][0], want[c][0]) for c in want),
        *(check_close(f"{c} sum", got[c][1], want[c][1]) for c in want),
    )


def count_lines(directory: str, suffix: str, header: bool) -> int:
    """Data lines in the part files Spark wrote, counted in Python."""
    n = 0
    for f in os.listdir(directory):
        if f.startswith("part-") and f.endswith(suffix):
            with open(os.path.join(directory, f), "rb") as fh:
                lines = sum(1 for _ in fh)
            n += lines - (1 if header and lines else 0)
    return n


def dir_bytes(directory: str) -> int:
    return sum(os.path.getsize(os.path.join(directory, f)) for f in os.listdir(directory))


class IngestWorkload:
    def __init__(self, spark, workdir: str, seed: int, tracer, traced: bool):
        self.spark, self.workdir, self.tracer = spark, workdir, tracer
        self.cols = generate(seed)
        self.csv = os.path.join(workdir, "input.csv")
        write_csv_file(self.cols, self.csv)
        self.want = truth(self.cols)
        self.ops = list(STEPS)
        self.df = None
        self.layer_times: dict[str, float] = {}
        if traced:
            self._wrap_sources()

    def _wrap_sources(self) -> None:
        """Time the head read and the inference pass inside read_csv, and
        tag the inference jobs, by wrapping the module's functions."""
        from dataframe_kotlin_spark.sources import csv as kcsv

        sc = self.spark.sparkContext
        times = self.layer_times

        def timed(name, fn, group=None):
            def wrapper(*a, **kw):
                if group:
                    sc.setJobGroup(group, name)
                try:
                    with self.tracer.span(name, "sources") as sp:
                        out = fn(*a, **kw)
                finally:
                    if group:
                        sc.setJobGroup("sources", "read_csv")
                times[name] = times.get(name, 0.0) + sp.seconds
                return out
            return wrapper

        kcsv._read_head_lines = timed("head", kcsv._read_head_lines)
        kcsv.infer_column_types = timed("infer", kcsv.infer_column_types, group="infer")

    def out_dir(self, kind: str) -> str:
        return os.path.join(self.workdir, "out_" + kind)

    def run(self, step: str, traced: bool):
        """Run one step; returns (seconds, result, layer numbers)."""
        from dataframe_kotlin_spark.sources import csv as kcsv
        from dataframe_kotlin_spark.sources import json as kjson

        if traced:
            self.spark.sparkContext.setJobGroup("sources", step)
        self.layer_times.clear()
        with self.tracer.span(step, "sources") as sp:
            if step == "read_csv":
                self.df = kcsv.read_csv(self.spark, self.csv)
                result = self.df
            elif step == "scan_csv":
                result = self.df.toArrow()
            elif step == "write_csv":
                kcsv.write_csv(self.df, self.out_dir("csv"))
                result = None
            elif step == "write_json":
                kjson.write_json(self.df, self.out_dir("json"))
                result = None
            else:
                result = kjson.read_json(self.spark, self.out_dir("json"), multi_line=False).toArrow()
        layer = {f"{k}_s": v for k, v in self.layer_times.items()}
        if step.startswith("write_"):
            layer["written_mb"] = dir_bytes(self.out_dir(step[6:])) / (1 << 20)
        return sp.seconds, result, layer

    def check(self, step: str, result) -> str | None:
        if step == "read_csv":
            return check_types(dict(result.dtypes), TYPES)
        if step in ("scan_csv", "read_json"):
            return check_totals(result, self.want, N_ROWS)
        if step == "write_csv":
            return check_equal("csv lines", count_lines(self.out_dir("csv"), ".csv", True), N_ROWS)
        return check_equal("json lines", count_lines(self.out_dir("json"), ".json", False), N_ROWS)

    def end_pass(self) -> None:
        for kind in ("csv", "json"):
            shutil.rmtree(self.out_dir(kind), ignore_errors=True)
