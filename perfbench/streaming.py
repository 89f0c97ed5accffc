"""The `streaming` part of the `files` workload: three jobs of
``streaming/stream_jobs.py`` drained with ``availableNow`` over an event
stream generated from the seed: a tumbling window,
``sessionize_stateful`` and ``run_upsert_sink``.

The stream is split into files by event-time range, with rows shuffled
only inside a file. The windowed jobs take every file in one data batch
(then a no-data batch advances the watermark and closes windows); the
upsert sink takes one file per batch, in event-time order, so later
batches merge into the target. Either way no event is ever behind a
watermark and none is dropped as late. The truths are computed
with numpy over the generated arrays, never through the engine.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

import numpy as np

from checks import check_equal, compare_keyed, first_failure

N_EVENTS = 6_000
N_USERS = 60
N_FILES = 2
SPAN_S = 24 * 3600
EVENT_TYPES = np.array(["click", "view", "buy", "scroll"])
BASE_US = int(datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000

TUMBLE_S, TUMBLE_WM_S = 300, 600
SESSION_GAP_S, SESSION_WM_S = 600, 1800


def generate(seed: int) -> dict[str, np.ndarray]:
    """Events with unique µs timestamps, sorted by time."""
    rng = np.random.default_rng(seed)
    ts = BASE_US + np.sort(rng.choice(SPAN_S * 1_000_000, N_EVENTS, replace=False))
    return {
        "event_id": np.arange(1, N_EVENTS + 1, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(1, N_USERS + 1, N_EVENTS).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
        # whole cents, so every rounded sum is exact in both engines
        "value": rng.integers(0, 10_000, N_EVENTS) / 100.0,
        "props": np.array([f"p{i % 97}" for i in range(N_EVENTS)]),
    }


def write_files(ev: dict, src: str, seed: int) -> None:
    """One parquet file per contiguous event-time range, rows shuffled
    inside each file, file modification times in range order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src)
    rng = np.random.default_rng(seed + 1)
    bounds = np.linspace(0, N_EVENTS, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        idx = np.arange(bounds[i], bounds[i + 1])
        rng.shuffle(idx)
        table = pa.table({
            "event_id": ev["event_id"][idx],
            "ts": pa.array(ev["ts"][idx], pa.timestamp("us", tz="UTC")),
            "user_id": ev["user_id"][idx],
            "event_type": ev["event_type"][idx],
            "value": ev["value"][idx],
            "props": ev["props"][idx],
        })
        path = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


# --- truths -------------------------------------------------------------

def _final_watermark_us(ev: dict, delay_s: int) -> int:
    # Spark keeps event-time watermarks in milliseconds
    return (int(ev["ts"].max()) // 1000 - delay_s * 1000) * 1000


def truth_tumbling(ev: dict) -> dict:
    """(window_start µs, type) -> (count, sum) for windows the final
    watermark closed."""
    wm = _final_watermark_us(ev, TUMBLE_WM_S)
    w = TUMBLE_S * 1_000_000
    start = ev["ts"] // w * w
    out: dict = {}
    for s, t, v in zip(start, ev["event_type"], ev["value"]):
        if s + w <= wm:
            n, tot = out.get((int(s), str(t)), (0, 0.0))
            out[(int(s), str(t))] = (n + 1, tot + v)
    return {k: (n, round(tot, 2)) for k, (n, tot) in out.items()}


def _per_user(ev: dict):
    order = np.lexsort((ev["ts"], ev["user_id"]))
    users, ts, vals = ev["user_id"][order], ev["ts"][order], ev["value"][order]
    for u in np.unique(users):
        m = users == u
        yield int(u), ts[m], vals[m]


def truth_sessions(ev: dict) -> dict:
    """(user, session_start µs) -> (session_end µs, count, sum) of the
    sessions ``sessionize_stateful`` emits: a session ends at its last
    event, and is emitted when the user's next event comes more than a
    gap later or when the final watermark passes last event + gap (its
    event-time timer, in milliseconds)."""
    gap = SESSION_GAP_S * 1_000_000
    wm_ms = _final_watermark_us(ev, SESSION_WM_S) // 1000
    out = {}
    for u, ts, vals in _per_user(ev):
        cut = np.flatnonzero(np.diff(ts) > gap) + 1
        for k, (a, b) in enumerate(zip(np.r_[0, cut], np.r_[cut, len(ts)])):
            last = int(ts[b - 1])
            if k == len(cut) and wm_ms <= last // 1000 + SESSION_GAP_S * 1000:
                continue  # still open: its timer has not fired
            out[(u, int(ts[a]))] = (last, b - a, round(float(vals[a:b].sum()), 2))
    return out


def truth_latest(ev: dict) -> dict:
    """user -> (event id, value) of the user's latest event."""
    out = {}
    for i in np.argsort(ev["ts"]):
        out[int(ev["user_id"][i])] = (int(ev["event_id"][i]), float(ev["value"][i]))
    return out


def _us(v) -> int:
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return round(v.timestamp() * 1_000_000)
    return int(v)


def keyed_tumbling(rows: list[dict]) -> dict:
    return {(_us(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"]) for r in rows}


def keyed_sessions(rows: list[dict]) -> dict:
    return {
        (r["user_id"], _us(r["session_start"])):
            (_us(r["session_end"]), r["n_events"], r["sum_value"])
        for r in rows
    }


def keyed_latest(rows: list[dict]) -> dict:
    return {r["user_id"]: (r["event_id"], r["value"]) for r in rows}


def check_progress(progress: list[dict], want_rows: int | None) -> str | None:
    """Conserved totals: every generated row read once (unless
    ``want_rows`` is None), none dropped as late."""
    rows = sum(p.get("numInputRows", 0) for p in progress)
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in progress for o in p.get("stateOperators") or []
    )
    return first_failure(
        None if want_rows is None else check_equal("input rows", rows, want_rows),
        check_equal("rows dropped by watermark", dropped, 0),
    )


# --- the workload -------------------------------------------------------

class StreamOp:
    """One streaming job, started on a fresh checkpoint and drained."""

    def __init__(self, build, keyed, truth, sink=None):
        self.build, self.keyed, self.truth = build, keyed, truth
        self.sink = sink


def layer_numbers(progress: list[dict]) -> dict[str, float]:
    """Per-layer numbers of one drained job from its progress reports."""
    def dur(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress)

    trig = [p.get("durationMs", {}).get("triggerExecution", 0) for p in progress]
    last_ops = next((p["stateOperators"] for p in reversed(progress) if p.get("stateOperators")), [])
    return {
        "stream.batches": len(progress),
        "stream.batch_ms": float(np.median(trig)) if trig else 0.0,
        "stream.add_batch_ms": dur("addBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.state_rows": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "stream.state_mb": sum(o.get("memoryUsedBytes", 0) for o in last_ops) / (1 << 20),
        "stream.state_commit_ms": sum(
            o.get("commitTimeMs", 0) for p in progress for o in p.get("stateOperators") or []
        ),
        "stream.state_stores": sum(o.get("numStateStoreInstances", 0) for o in last_ops),
    }


class StreamingWorkload:
    def __init__(self, spark, workdir: str, seed: int, tracer, drain):
        from dataframe_kotlin_spark.streaming import stream_jobs as sj

        self.spark, self.workdir, self.tracer, self.drain = spark, workdir, tracer, drain
        self.listener = progress_listener()
        spark.streams.addListener(self.listener)
        self.ev = ev = generate(seed)
        self.src = os.path.join(workdir, "events")
        write_files(ev, self.src, seed)
        self.runs = 0

        def stream(files_per_batch=N_FILES):
            return sj.read_event_stream(spark, self.src, max_files_per_trigger=files_per_batch)

        def latest_per_user(df):
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
            return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")

        self.jobs = {
            "tumbling_window": StreamOp(
                lambda: sj.tumbling_stream(stream(), TUMBLE_S, f"{TUMBLE_WM_S} seconds"),
                keyed_tumbling, truth_tumbling(ev)),
            "sessionize_stateful": StreamOp(
                lambda: sj.sessionize_stateful(stream(), SESSION_GAP_S, 10_000, f"{SESSION_WM_S} seconds"),
                keyed_sessions, truth_sessions(ev)),
            # one file per batch, so later batches merge into the target
            "upsert_sink": StreamOp(
                lambda: stream(files_per_batch=1), keyed_latest, truth_latest(ev),
                sink=lambda df, target, ck: sj.run_upsert_sink(
                    df, target, ["user_id"], ck, reduce=latest_per_user)),
        }
        self.ops = list(self.jobs)

    def run(self, name: str, traced: bool):
        """Drain one job from `start` to `awaitTermination`; returns
        (seconds, (output table, progress reports), layer numbers)."""
        from dataframe_kotlin_spark.streaming import stream_jobs as sj

        op = self.jobs[name]
        self.runs += 1
        tag = f"{name}_{self.runs}"
        ck = os.path.join(self.workdir, "ck_" + tag)
        target = os.path.join(self.workdir, "target_" + tag)
        self.listener.take()
        with self.tracer.span(name, "stream") as sp:
            df = op.build()
            if op.sink is not None:
                op.sink(df, target, ck)
            else:
                q = (
                    df.writeStream.format("memory").queryName(tag)
                    .outputMode("append").option("checkpointLocation", ck)
                    .trigger(availableNow=True).start()
                )
                if not q.awaitTermination(150):
                    q.stop()
                    raise TimeoutError(f"{name} did not drain")
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
        if op.sink is not None:
            out = sj.read_versioned(self.spark, target).toArrow()
        else:
            out = self.spark.table(tag).toArrow()
            self.spark.catalog.dropTempView(tag)
        self.drain()
        progress = self.listener.take()
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)
        return sp.seconds, (out, progress), layer_numbers(progress)

    def check(self, name: str, result) -> str | None:
        op = self.jobs[name]
        out, progress = result
        # a foreachBatch sink re-scans its batch while merging, so its
        # numInputRows counts some rows twice; the output check covers it
        want_rows = None if op.sink is not None else N_EVENTS
        return first_failure(
            check_progress(progress, want_rows),
            compare_keyed(op.keyed(out.to_pylist()), op.truth, name),
        )


def progress_listener():
    """A StreamingQueryListener that keeps every progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list[dict]:
            out, self.progress = self.progress, []
            return out

    return Listener()
