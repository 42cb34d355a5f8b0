"""The three workloads. Each is one client in a closed loop in this
process, against a Spark session started by ``run.py``.

A workload goes through four phases:

- ``prepare``: generate and stage inputs and compute expected
  results (benchmark work, untimed, before the session starts);
- ``setup``: build the program-side state and warm it up (timed,
  part of ``setup_s``);
- ``measure``: the closed loop, until the deadline (or, for
  ``tick_ingest``, until the staged stream is drained);
- ``finish``: whole-table checks and the storage walk (untimed).

Every operation's output is checked against the oracle; an operation
that raises or returns a wrong answer counts as failed.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
import traceback

import numpy as np
import pandas as pd

import gen
from spans import Recorder, job_counts, self_ms_by_name, settle, summary, walk_table

BAR_COLS = ("timestamp", "open", "high", "low", "close", "volume")


def _iso(ts) -> str:
    return pd.Timestamp(ts).strftime("%Y-%m-%d %H:%M:%S.%f")


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _rows_frame(rows, cols) -> pd.DataFrame:
    return pd.DataFrame([[r[c] for c in cols] for r in rows], columns=list(cols))


class Workload:
    name = ""
    op_types: tuple[str, ...] = ()

    def __init__(self, seed: int, seconds: int, work: str, trace: bool):
        self.seed, self.seconds, self.work, self.trace = seed, seconds, work, trace
        self.uni = gen.Universe(seed)
        self.rec = Recorder() if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_ms: list[float] = []  # measured closed-loop op latencies
        self.detail: dict = {}
        self.layer: dict = {}
        # measured ops: (type, traced?, wall ms, job group)
        self.ops: list[tuple[str, bool, float, str | None]] = []
        self._kind_seen: dict[str, int] = {}

    # -- helpers -------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def failed_op(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what + ": " + traceback.format_exc(limit=3))

    def begin_op(self, i: int, kind: str):
        """Start operation ``i``: returns (traced, job group). In the
        traced run the operations of each type alternate traced /
        untraced, so both halves see the same table state; the
        untraced half gives the tracing overhead."""
        n = self._kind_seen.get(kind, 0)
        self._kind_seen[kind] = n + 1
        traced = self.trace and n % 2 == 0
        group = None
        if traced:
            group = f"lakebench-{kind}-{i}"
            self.sc.setJobGroup(group, kind)
            self.rec.enabled = True
            self.rec.op = i
        return traced, group

    def span(self, traced: bool, name: str):
        return self.rec.span(name) if traced else contextlib.nullcontext()

    def end_op(self, i, kind, traced, group, ms) -> None:
        if traced:
            self.rec.enabled = False
            self.rec.op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append((kind, traced, ms, group))

    def spark_counts(self) -> None:
        """spark.{jobs,stages,tasks}_per_op.<type> over traced ops."""
        groups = [g for (_k, t, _ms, g) in self.ops if t and g]
        settle(self.sc, groups)
        per: dict[str, list[tuple[int, int, int]]] = {}
        for kind, traced, _ms, g in self.ops:
            if traced and g:
                per.setdefault(kind, []).append(job_counts(self.sc, g))
        for kind, cs in per.items():
            for j, name in enumerate(("jobs", "stages", "tasks")):
                self.layer[f"spark.{name}_per_op.{kind}"] = (
                    sum(c[j] for c in cs) / len(cs)
                )

    def overhead(self, kinds) -> None:
        """Tracing overhead: median traced op over median untraced
        op, per op type, averaged over ``kinds``."""
        ratios = []
        for kind in kinds:
            t = [ms for k, tr, ms, _g in self.ops if k == kind and tr]
            u = [ms for k, tr, ms, _g in self.ops if k == kind and not tr]
            if t and u:
                ratios.append(_median(t) / _median(u) - 1.0)
        self.layer["trace.overhead_ratio"] = (
            float(np.mean(ratios)) if ratios else 0.0
        )

    def root_self(self, by_name) -> None:
        roots = [ms for n, v in by_name.items() if n.startswith("op.") for ms in v]
        self.layer["bench.op_self_ms"] = _median(roots)

    # -- phases ----------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def measure(self, deadline: float) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        raise NotImplementedError


# =====================================================================
# tick_ingest
# =====================================================================
class TickIngest(Workload):
    """Write path only: staged tick files drained by the transactional
    streaming sink, one file per trigger, compaction every
    ``OPTIMIZE_EVERY`` batches. The number of files is fixed by
    ``--seconds`` (``FILES_PER_SECOND`` is the drain rate of a 4-core
    host), so every run does the same commits and compactions."""

    name = "tick_ingest"
    op_types = ("trigger",)
    FILES_PER_SECOND = 1.6
    ROWS_PER_FILE = 6000
    SLOT_MIN = 30  # market minutes per file
    OPTIMIZE_EVERY = 5
    CHECKPOINT_EVERY = 6
    WARM_FILES = 1

    def prepare(self) -> None:
        self.n_files = max(4, math.ceil(self.seconds * self.FILES_PER_SECOND))
        slots = gen.SESSION_US // (self.SLOT_MIN * 60_000_000)
        days = self.uni.trading_days(self.n_files // slots + 2)
        src = os.path.join(self.work, "src")
        warm = os.path.join(self.work, "warm_src")
        os.makedirs(src)
        os.makedirs(warm)
        self.files = []  # (t_lo, t_hi, frame)
        base = time.time() - 10_000
        for i in range(self.n_files + self.WARM_FILES):
            warm_file = i >= self.n_files
            day = days[-1] if warm_file else days[i // slots]
            slot = (i - self.n_files) if warm_file else i % slots
            t0 = slot * self.SLOT_MIN * 60_000_000
            t1 = t0 + self.SLOT_MIN * 60_000_000
            df = gen.bars(self.uni, gen.rng_for(self.seed, 1, i), day,
                          self.ROWS_PER_FILE, t0, t1)
            path = os.path.join(warm if warm_file else src, f"f{i:05d}.parquet")
            gen.write_parquet(df, path)
            # the file source orders by modification time: make it
            # the generation order
            os.utime(path, (base + i, base + i))
            if not warm_file:
                self.files.append(
                    (gen.session_start(day) + pd.Timedelta(microseconds=t0),
                     gen.session_start(day) + pd.Timedelta(microseconds=t1),
                     df)
                )
        self.rows = self.n_files * self.ROWS_PER_FILE

    def _stream(self, src: str):
        from market_data_lakehouse_spark.schema import BAR_SCHEMA

        return (
            self.spark.readStream.schema(BAR_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def _drain(self, lake, src: str, ckpt: str, timeout: float):
        from market_data_lakehouse_spark.streaming import (
            stream_ingest_transactional,
        )

        q = stream_ingest_transactional(
            self._stream(src), lake, ckpt, available_now=True,
            optimize_every=self.OPTIMIZE_EVERY,
        )
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError("stream did not drain in time")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def setup(self, spark) -> None:
        from market_data_lakehouse_spark import TransactionalLake

        self.spark, self.sc = spark, spark.sparkContext
        # warm-up: the same sink into a throwaway lake, so the timed
        # drain does not pay first-query planning and code generation
        warm = TransactionalLake(spark, os.path.join(self.work, "warm_lake"),
                                 checkpoint_every=self.CHECKPOINT_EVERY)
        self._drain(warm, os.path.join(self.work, "warm_src"),
                    os.path.join(self.work, "warm_ckpt"), 120)
        self.lake = TransactionalLake(
            spark, os.path.join(self.work, "lake"),
            checkpoint_every=self.CHECKPOINT_EVERY,
        )
        if self.trace:
            state = {"batch": None}

            def append_sel(args, kwargs):
                b = kwargs.get("txn", (None, None))[1]
                state["batch"] = b
                return b is not None and b % 2 == 0, b

            self.rec.enabled = True
            self.append_calls = self.rec.wrap(
                self.lake, "append", "txnlog.append", select=append_sel)
            self.optimize_calls = self.rec.wrap(
                self.lake, "optimize", "txnlog.optimize",
                select=lambda a, k: (True, state["batch"]))

    def measure(self, deadline: float) -> None:
        t0 = time.perf_counter()
        try:
            q = self._drain(self.lake, os.path.join(self.work, "src"),
                            os.path.join(self.work, "ckpt"), 120)
        except Exception:
            self.failed_op("stream")
            self.wall = time.perf_counter() - t0
            self.progress = []
            return
        self.wall = time.perf_counter() - t0
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.op_ms = [float(p["durationMs"]["triggerExecution"])
                      for p in self.progress]
        self.run_id = str(q.runId)

    def finish(self) -> None:
        self.check(len(self.progress) == self.n_files,
                   f"{len(self.progress)} data triggers for {self.n_files} files")
        got = (
            self.lake.snapshot().select("symbol", "timestamp", "volume")
            .toPandas().sort_values("timestamp", kind="stable")
        )
        ts = got["timestamp"].to_numpy().astype("datetime64[us]")
        inside = 0
        for lo, hi, want in self.files:
            a = np.searchsorted(ts, lo.to_datetime64(), "left")
            b = np.searchsorted(ts, hi.to_datetime64(), "left")
            inside += b - a
            self.check(
                gen.rows_equal(got.iloc[a:b], want, ("symbol", "timestamp", "volume")),
                f"file rows {lo}..{hi} differ",
            )
        self.check(inside == len(got), f"{len(got) - inside} rows outside any file")
        walk = walk_table(self.lake.path)
        det = self.lake.detail()
        self.stored = (det["size_bytes"] + walk["log_bytes"]) / max(1, len(got))
        self.ingest_rate = self.rows / self.wall if self.wall else 0.0
        trig = summary(self.op_ms)
        self.detail.update(
            files=self.n_files, rows=self.rows, drain_s=self.wall,
            commit_ms=trig, commit_p50_ms=trig.get("p50"),
            commit_p90_ms=trig.get("p90"),
            versions=det["version"] + 1, **{f"disk_{k}": v for k, v in walk.items()},
        )
        if self.trace:
            self._layers(walk, det)

    def _layers(self, walk, det) -> None:
        by = self_ms_by_name(self.rec.spans)
        over = [float(p["durationMs"]["triggerExecution"])
                - float(p["durationMs"].get("addBatch", 0)) for p in self.progress]
        app = by.get("txnlog.append", [])
        self.layer.update({
            "streaming.trigger_ms": _median(self.op_ms),
            "streaming.overhead_ms": _median(over),
            "txnlog.append.p50_ms": _median(app),
            "txnlog.append.p90_ms": summary(app).get("p90", 0.0),
            "txnlog.append.calls": self.append_calls.calls,
            "txnlog.optimize.ms": _median(by.get("txnlog.optimize", [])),
            "txnlog.optimize.calls": self.optimize_calls.calls,
            "txnlog.bytes_written_per_row":
                (walk["data_bytes"] + walk["log_bytes"]) / self.rows,
            "txnlog.live_files": det["num_files"],
            "txnlog.log_files": walk["log_files"],
            "txnlog.checkpoints": walk["checkpoints"],
        })
        # per-trigger Spark work: the stream's jobs run under its run id
        settle(self.sc, [self.run_id])
        jobs, stages, tasks = job_counts(self.sc, self.run_id)
        n = max(1, len(self.progress))
        self.layer.update({
            "spark.jobs_per_op.trigger": jobs / n,
            "spark.stages_per_op.trigger": stages / n,
            "spark.tasks_per_op.trigger": tasks / n,
        })
        # overhead: traced (even) vs untraced (odd) batches, leaving
        # out the compaction batches on both sides
        plain = [p for p in self.progress
                 if (p["batchId"] + 1) % self.OPTIMIZE_EVERY != 0]
        t = [float(p["durationMs"]["triggerExecution"]) for p in plain
             if p["batchId"] % 2 == 0]
        u = [float(p["durationMs"]["triggerExecution"]) for p in plain
             if p["batchId"] % 2 == 1]
        self.layer["trace.overhead_ratio"] = (
            _median(t) / _median(u) - 1.0 if t and u else 0.0
        )


# =====================================================================
# symbol_lookup
# =====================================================================
class SymbolLookup(Workload):
    """Read-mostly point lookups on a stream-fed transactional table
    between compactions: long log, several checkpoints, over a
    hundred small files. Every ``APPEND_EVERY``-th op appends a small batch
    on the latest date, which later lookups must see."""

    name = "symbol_lookup"
    op_types = ("lookup", "append")
    DAYS = 16
    # setup appends, in date order: each backfills FEED_DAYS days of
    # one symbol shard, so FEEDS * FEED_DAYS // DAYS shards
    FEEDS = 16
    FEED_DAYS = 8
    WARM_FEEDS = 8  # the first appends warm the JVM; not in the rate
    ROWS_PER_FEED_DAY = 500
    APPEND_EVERY = 20
    TRICKLE_ROWS = 200
    TRICKLE_SLOTS = 120
    CHECKPOINT_EVERY = 3
    WARM_LOOKUPS = 3

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.days = self.uni.trading_days(self.DAYS)

    def prepare(self) -> None:
        uni = self.uni
        stage = os.path.join(self.work, "stage")
        os.makedirs(stage)
        half = gen.SESSION_US // 2
        frames = []
        self.feed_paths = []
        n_sym = len(uni.names)
        n_shards = self.FEEDS * self.FEED_DAYS // self.DAYS
        for k in range(self.FEEDS):
            block, sh = divmod(k, n_shards)
            shard = np.arange(sh, n_sym, n_shards)
            parts = []
            for d in range(block * self.FEED_DAYS, (block + 1) * self.FEED_DAYS):
                day = self.days[d]
                # the latest day is filled only up to mid-session; the
                # trickle appends continue it from there
                t1 = half if d == self.DAYS - 1 else gen.SESSION_US
                parts.append(gen.bars(uni, gen.rng_for(self.seed, 2, k, d), day,
                                      self.ROWS_PER_FEED_DAY, 0, t1, symbols=shard))
            df = pd.concat(parts, ignore_index=True)
            path = os.path.join(stage, f"feed{k:03d}.parquet")
            gen.write_parquet(df, path)
            self.feed_paths.append(path)
            frames.append(df)
        # trickle batches: consecutive slices after mid-session of the
        # latest day, so visibility is a timestamp cutoff
        slot = (gen.SESSION_US - half) // self.TRICKLE_SLOTS
        self.trickles = []  # (path, rows, last ts)
        for j in range(self.TRICKLE_SLOTS):
            t0 = half + j * slot
            df = gen.bars(uni, gen.rng_for(self.seed, 3, j), self.days[-1],
                          self.TRICKLE_ROWS, t0, t0 + slot)
            path = os.path.join(stage, f"trickle{j:04d}.parquet")
            gen.write_parquet(df, path)
            self.trickles.append((path, len(df), df["timestamp"].max()))
            frames.append(df)
        self.index = gen.SymbolIndex(pd.concat(frames, ignore_index=True))
        self.base_rows = self.FEEDS * self.FEED_DAYS * self.ROWS_PER_FEED_DAY
        self.visible_to = max(f["timestamp"].max() for f in frames[: self.FEEDS])

    def plan(self, i: int):
        """Lookup ``i``: Zipf symbol, a one-hour, one-day or five-day
        window, ending on a date biased toward the latest."""
        rng = gen.rng_for(self.seed, 4, i)
        sym = self.uni.names[self.uni.pick(rng, 1)[0]]
        d = self.DAYS - 1 - min(int(rng.geometric(0.35)) - 1, self.DAYS - 1)
        kind = int(rng.integers(0, 3))
        day = pd.Timestamp(self.days[d])
        if kind == 0:
            lo = gen.session_start(self.days[d]) + pd.Timedelta(
                minutes=int(rng.integers(0, 330)))
            hi = lo + pd.Timedelta(hours=1) - pd.Timedelta(microseconds=1)
        else:
            first = self.days[max(0, d - 4)] if kind == 2 else self.days[d]
            lo = pd.Timestamp(first)
            hi = day + pd.Timedelta(days=1) - pd.Timedelta(microseconds=1)
        return sym, lo, hi

    def setup(self, spark) -> None:
        from market_data_lakehouse_spark import TransactionalLake

        self.spark, self.sc = spark, spark.sparkContext
        self.lake = TransactionalLake(
            spark, os.path.join(self.work, "lake"),
            generated_columns={"date": "to_date(timestamp)"},
            bloom_columns=("symbol",),
            checkpoint_every=self.CHECKPOINT_EVERY,
        )
        if self.trace:
            self.append_calls = self.rec.wrap(self.lake, "append", "txnlog.append")
            self.rec.wrap(self.lake, "scan_between", "txnlog.snapshot")
            self.kept: list[tuple[int, int]] = []

            def on_prune(res):
                if self.rec.enabled:
                    self.kept.append((len(res[0]), res[1]))

            # the file-pruning step inside scan_between; a private
            # hook, so its absence only drops the prune span
            self.rec.wrap(self.lake, "_pruned_state", "txnlog.prune",
                          on_result=on_prune)
            self.rec.enabled = True  # setup appends are traced
        self.commit_ms = []
        for path in self.feed_paths:
            self._append(path)
        # all setup appends carry the same row count. Append latency
        # falls over the first few (code generation, JIT), so the
        # write throughput is the median rate of the appends after them
        self.ingest_rate = self.FEED_DAYS * self.ROWS_PER_FEED_DAY / (
            _median(self.commit_ms[self.WARM_FEEDS:]) / 1e3)
        if self.trace:
            self.rec.enabled = False
        for w in range(self.WARM_LOOKUPS):
            self._lookup(-1 - w, measured=False)

    def _append(self, path: str) -> float:
        df = self.spark.read.parquet(path)
        t = time.perf_counter()
        self.lake.append(df)
        dt = time.perf_counter() - t
        self.commit_ms.append(dt * 1e3)
        return dt

    def _lookup(self, i: int, measured: bool) -> None:
        sym, lo, hi = self.plan(i if measured else 1_000_000 - i)
        traced, group = self.begin_op(i, "lookup") if measured else (False, None)
        t = time.perf_counter()
        rows = None
        try:
            with self.span(traced, "op.lookup"):
                df = self.lake.scan_between(
                    {"timestamp": (_iso(lo), _iso(hi))}, {"symbol": sym})
                with self.span(traced, "txnlog.scan.exec"):
                    rows = df.orderBy("timestamp").collect()
        except Exception:
            self.failed_op(f"lookup {sym} {lo}..{hi}")
        ms = (time.perf_counter() - t) * 1e3
        if measured:
            self.end_op(i, "lookup", traced, group, ms)
            self.op_ms.append(ms)
            self.lookup_ms.append(ms)
        if rows is None:
            return
        want = self.index.lookup(sym, lo, min(hi, self.visible_to))
        got = _rows_frame(rows, BAR_COLS)
        self.check(
            all(r["symbol"] == sym for r in rows)
            and gen.rows_equal(got, want, BAR_COLS),
            f"lookup {sym} {lo}..{hi}: {len(rows)} rows, want {len(want)}",
        )

    def measure(self, deadline: float) -> None:
        self.lookup_ms = []
        self.n_trickle = 0
        i = 0
        while time.perf_counter() < deadline:
            if i % self.APPEND_EVERY == self.APPEND_EVERY - 1 and (
                self.n_trickle < len(self.trickles)
            ):
                path, n, last = self.trickles[self.n_trickle]
                traced, group = self.begin_op(i, "append")
                t = time.perf_counter()
                try:
                    with self.span(traced, "op.append"):
                        self._append(path)
                except Exception:
                    self.failed_op(f"append {path}")
                else:
                    self.attempted += 1
                    self.n_trickle += 1
                    self.visible_to = last
                ms = (time.perf_counter() - t) * 1e3
                self.end_op(i, "append", traced, group, ms)
                self.op_ms.append(ms)
            else:
                self._lookup(i, measured=True)
            i += 1

    def finish(self) -> None:
        live_rows = self.lake.snapshot().count()
        want_rows = self.base_rows + sum(
            n for _p, n, _l in self.trickles[: self.n_trickle])
        self.check(live_rows == want_rows,
                   f"table has {live_rows} rows, want {want_rows}")
        walk = walk_table(self.lake.path)
        det = self.lake.detail()
        self.stored = (det["size_bytes"] + walk["log_bytes"]) / max(1, live_rows)
        commit = summary(self.commit_ms)
        lookup = summary(self.lookup_ms)
        self.detail.update(
            lookups=lookup, lookup_p50_ms=lookup.get("p50"),
            lookup_p90_ms=lookup.get("p90"), commits=commit,
            commit_p50_ms=commit.get("p50"), trickle_appends=self.n_trickle,
            live_files=det["num_files"], versions=det["version"] + 1,
            **{f"disk_{k}": v for k, v in walk.items()},
        )
        if self.trace:
            self._layers(walk, det, want_rows)

    def _layers(self, walk, det, rows) -> None:
        by = self_ms_by_name(self.rec.spans)
        app = by.get("txnlog.append", [])
        kept = [k / t for k, t in self.kept if t]
        self.layer.update({
            "txnlog.append.p50_ms": _median(app),
            "txnlog.append.p90_ms": summary(app).get("p90", 0.0),
            "txnlog.append.calls": self.append_calls.calls,
            "txnlog.bytes_written_per_row":
                (walk["data_bytes"] + walk["log_bytes"]) / rows,
            "txnlog.live_files": det["num_files"],
            "txnlog.log_files": walk["log_files"],
            "txnlog.checkpoints": walk["checkpoints"],
            "txnlog.snapshot.ms": _median(by.get("txnlog.snapshot", [])),
            "txnlog.prune.ms": _median(by.get("txnlog.prune", [])),
            "txnlog.files_kept_ratio": _median(kept),
            "txnlog.scan.exec_ms": _median(by.get("txnlog.scan.exec", [])),
        })
        self.root_self(by)
        self.spark_counts()
        self.overhead(("lookup",))
        # accounting: the traced lookups' wall time against the sum
        # of the layer self times inside them plus the root remainder
        wall = [ms for k, tr, ms, _g in self.ops if k == "lookup" and tr]
        parts = {n: sum(v) for n, v in by.items()
                 if n in ("txnlog.snapshot", "txnlog.prune",
                          "txnlog.scan.exec", "op.lookup")}
        self.detail["lookup_accounting_ms"] = {
            "traced_wall": sum(wall), **parts,
            "sum_of_self": sum(parts.values()),
        }


# =====================================================================
# analytics_scan
# =====================================================================
class AnalyticsScan(Workload):
    """Broad reads over the plain-Parquet ``DataLakehouse``: a seeded
    rotation of the README's analytic query types over a multi-million
    row table loaded by one validated ``ingest_batch``."""

    name = "analytics_scan"
    op_types = ("vwap", "movers", "resample", "range", "asof")
    DAYS = 20
    ROWS_PER_DAY = 20_000
    BAD_SHARE = 0.002
    POOL = 4  # distinct parameter sets per query type
    QUOTE_SYMBOLS = 40
    QUOTES_PER_SYMBOL_DAY = 400

    def prepare(self) -> None:
        import duckdb

        uni = self.uni
        self.days = uni.trading_days(self.DAYS)
        stage = os.path.join(self.work, "stage")
        qstage = os.path.join(self.work, "quotes")
        os.makedirs(stage)
        os.makedirs(qstage)
        frames, bad_n = [], 0
        for d, day in enumerate(self.days):
            df = gen.bars(uni, gen.rng_for(self.seed, 5, d), day, self.ROWS_PER_DAY)
            bad = gen.spoil(df, gen.rng_for(self.seed, 6, d), self.BAD_SHARE)
            bad_n += int(bad.sum())
            gen.write_parquet(df, os.path.join(stage, f"day{d:02d}.parquet"))
            frames.append(df[~bad])
        self.stage = stage
        self.n_rows = self.DAYS * self.ROWS_PER_DAY
        self.n_bad = bad_n
        valid = pd.concat(frames, ignore_index=True)
        self.n_valid = len(valid)
        self.index = gen.SymbolIndex(valid)
        rng = gen.rng_for(self.seed, 7)
        self.order = list(rng.permutation(self.op_types))
        # quotes for a fixed set of popular names (ranks 10..109)
        qsyms = np.sort(rng.choice(np.arange(10, 110), self.QUOTE_SYMBOLS,
                                   replace=False))
        self.quote_syms = uni.names[qsyms]
        qframes = []
        for d, day in enumerate(self.days):
            q = gen.quotes(uni, gen.rng_for(self.seed, 8, d), day, qsyms,
                           self.QUOTES_PER_SYMBOL_DAY)
            gen.write_parquet(q, os.path.join(qstage, f"q{d:02d}.parquet"))
            qframes.append(q)
        self.qpath = qstage
        con = duckdb.connect()
        con.register("bars_v", valid)
        con.register("quotes_v", pd.concat(qframes, ignore_index=True))
        con.execute("CREATE TABLE bars AS SELECT *, CAST(timestamp AS DATE) AS date FROM bars_v")
        con.execute("CREATE TABLE quotes AS SELECT * FROM quotes_v")
        self.params = {k: [self._params(k, j) for j in range(self.POOL)]
                       for k in self.op_types}
        self.want = {k: [self._oracle(con, k, p) for p in ps]
                     for k, ps in self.params.items()}
        con.close()

    # -- query definitions (shared by engine and oracle) ------------------
    def _params(self, kind: str, j: int) -> dict:
        rng = gen.rng_for(self.seed, 9, self.op_types.index(kind), j)
        uni = self.uni
        if kind == "vwap":
            d = int(rng.integers(0, self.DAYS - 4))
            return {"lo": str(self.days[d]), "hi": str(self.days[d + 4])}
        if kind == "movers":
            return {"day": str(self.days[int(rng.integers(0, self.DAYS))])}
        if kind == "resample":
            d = int(rng.integers(0, self.DAYS - 4))
            basket = uni.names[np.sort(rng.choice(np.arange(50, 550), 100, replace=False))]
            return {"lo": str(self.days[d]), "hi": str(self.days[d + 4]),
                    "basket": list(basket)}
        if kind == "range":
            d = int(rng.integers(0, self.DAYS - 3))
            sym = uni.names[int(rng.integers(10, 200))]
            lo = gen.session_start(self.days[d]) + pd.Timedelta(
                minutes=int(rng.integers(0, 390)))
            hi = gen.session_start(self.days[d + 2]) + pd.Timedelta(
                minutes=int(rng.integers(0, 390)))
            return {"symbol": sym, "lo": lo, "hi": hi}
        d = int(rng.integers(0, self.DAYS))
        basket = rng.choice(self.quote_syms, 5, replace=False)
        return {"day": str(self.days[d]), "basket": sorted(basket)}

    @staticmethod
    def _in(names) -> str:
        return ", ".join(f"'{s}'" for s in names)

    def _sql(self, kind: str, p: dict, oracle: bool) -> str:
        first = "arg_min" if oracle else "min_by"
        last = "arg_max" if oracle else "max_by"
        minute = ("date_trunc('minute', timestamp)" if oracle
                  else "date_trunc('MINUTE', timestamp)")
        if kind == "vwap":
            return (
                "SELECT symbol, CAST(date AS STRING) AS d, "
                "SUM(close * volume) / SUM(volume) AS vwap, "
                "SUM(volume) AS volume FROM bars "
                f"WHERE date BETWEEN DATE '{p['lo']}' AND DATE '{p['hi']}' "
                "GROUP BY symbol, date"
            )
        if kind == "movers":
            return (
                f"SELECT symbol, {last}(close, timestamp) / "
                f"{first}(open, timestamp) - 1 AS ret FROM bars "
                f"WHERE date = DATE '{p['day']}' GROUP BY symbol "
                "ORDER BY ret DESC, symbol LIMIT 10"
            )
        return (
            f"SELECT symbol, {minute} AS minute, "
            f"{first}(open, timestamp) AS open, MAX(high) AS high, "
            f"MIN(low) AS low, {last}(close, timestamp) AS close, "
            "SUM(volume) AS volume FROM bars "
            f"WHERE date BETWEEN DATE '{p['lo']}' AND DATE '{p['hi']}' "
            f"AND symbol IN ({self._in(p['basket'])}) GROUP BY symbol, minute"
        )

    def _oracle(self, con, kind: str, p: dict):
        if kind == "range":
            return self.index.lookup(p["symbol"], p["lo"], p["hi"])
        if kind == "asof":
            return con.execute(
                "SELECT b.symbol, b.timestamp, b.close, q.bid, q.ask "
                "FROM (SELECT * FROM bars WHERE date = DATE '{d}' AND "
                "symbol IN ({s})) b ASOF LEFT JOIN (SELECT * FROM quotes "
                "WHERE CAST(ts AS DATE) = DATE '{d}' AND symbol IN ({s})) q "
                "ON b.symbol = q.symbol AND b.timestamp >= q.ts".format(
                    d=p["day"], s=self._in(p["basket"]))
            ).df()
        return con.execute(self._sql(kind, p, oracle=True)).df()

    def _compare(self, kind: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
        if kind == "vwap":
            return gen.frames_close(got, want, ("symbol", "d"), ("vwap", "volume"))
        if kind == "movers":
            return (list(got["symbol"]) == list(want["symbol"])
                    and np.allclose(got["ret"], want["ret"], rtol=1e-9, atol=0))
        if kind == "resample":
            return gen.frames_close(got, want, ("symbol", "minute"),
                                    ("open", "high", "low", "close", "volume"),
                                    rtol=0.0)
        if kind == "range":
            return gen.rows_equal(got, want, BAR_COLS)
        return gen.frames_close(got, want, ("symbol", "timestamp"),
                                ("close", "bid", "ask"), rtol=0.0)

    # -- engine side -------------------------------------------------------
    def setup(self, spark) -> None:
        from market_data_lakehouse_spark import DataLakehouse

        self.spark, self.sc = spark, spark.sparkContext
        self.lh = DataLakehouse(
            spark, os.path.join(self.work, "lake"),
            dead_letter_path=os.path.join(self.work, "dlq"),
        )
        # warm-up: one day through the same validated path into a
        # throwaway lake, so the timed load does not pay code generation
        DataLakehouse(spark, os.path.join(self.work, "warm_lake")).ingest_batch(
            spark.read.parquet(os.path.join(self.stage, "day00.parquet")))
        t = time.perf_counter()
        self.stats = self.lh.ingest_batch(spark.read.parquet(self.stage))
        self.ingest_s = time.perf_counter() - t
        self.check(
            self.stats.rows_ingested == self.n_valid
            and self.stats.errors == self.n_bad,
            f"ingest_batch kept {self.stats.rows_ingested} rejected "
            f"{self.stats.errors}, want {self.n_valid}/{self.n_bad}",
        )
        self.scan_ratio = []
        for j, kind in enumerate(self.order):  # warm-up: one rotation
            self._query(-1 - j, kind, self.POOL - 1, measured=False)

    def _run(self, kind: str, p: dict, traced: bool):
        from market_data_lakehouse_spark import asof_join

        if kind == "range":
            with self.span(traced, "lakehouse.query"):
                qr = self.lh.query(p["symbol"], _iso(p["lo"]), _iso(p["hi"]))
            with self.span(traced, "lakehouse.query.exec"):
                rows = qr.bars
            return _rows_frame(rows, BAR_COLS), qr
        if kind == "asof":
            from pyspark.sql import functions as F

            with self.span(traced, "lakehouse.table"):
                trades = self.lh.table().filter(
                    (F.col("date") == F.lit(p["day"]).cast("date"))
                    & F.col("symbol").isin(p["basket"])
                ).select("symbol", "timestamp", "close")
                quotes = self.spark.read.parquet(self.qpath).filter(
                    (F.to_date("ts") == F.lit(p["day"]).cast("date"))
                    & F.col("symbol").isin(p["basket"]))
            with self.span(traced, "asof.join"):
                out = asof_join(trades, quotes, on="symbol",
                                left_ts="timestamp", right_ts="ts",
                                right_values=["bid", "ask"])
            with self.span(traced, "spark.exec"):
                return out.select("symbol", "timestamp", "close", "bid", "ask").toPandas(), None
        with self.span(traced, "lakehouse.sql"):
            df = self.lh.sql(self._sql(kind, p, oracle=False))
        with self.span(traced, "spark.exec"):
            return df.toPandas(), None

    def _query(self, i: int, kind: str, j: int, measured: bool) -> None:
        p, want = self.params[kind][j], self.want[kind][j]
        traced, group = self.begin_op(i, kind) if measured else (False, None)
        t = time.perf_counter()
        got = None
        try:
            with self.span(traced, f"op.{kind}"):
                got, qr = self._run(kind, p, traced)
        except Exception:
            self.failed_op(f"{kind} {p}")
        ms = (time.perf_counter() - t) * 1e3
        if measured:
            self.end_op(i, kind, traced, group, ms)
            self.op_ms.append(ms)
        if got is None:
            return
        if measured:
            if traced and qr is not None and len(got):
                # costs a Spark job: traced ops only, outside the op
                self.scan_ratio.append(qr.total_rows_scanned / len(got))
        if kind == "vwap":
            got["d"] = got["d"].astype(str)
        if kind == "resample":
            got["minute"] = pd.to_datetime(got["minute"]).astype("datetime64[us]")
            want = want.assign(minute=pd.to_datetime(want["minute"]).astype("datetime64[us]"))
        self.check(self._compare(kind, got, want), f"{kind} {p}: wrong result")

    def measure(self, deadline: float) -> None:
        i = 0
        r = 0
        while time.perf_counter() < deadline:  # whole rotations only
            for kind in self.order:
                self._query(i, kind, r % self.POOL, measured=True)
                i += 1
            r += 1

    def finish(self) -> None:
        dlq = self.spark.read.parquet(os.path.join(self.work, "dlq")).count()
        self.check(dlq == self.n_bad, f"dead-letter queue holds {dlq}, want {self.n_bad}")
        walk = walk_table(self.lh.base_path)
        self.stored = walk["data_bytes"] / self.n_valid
        self.ingest_rate = self.n_rows / self.ingest_s
        per = {k: summary([ms for kk, _t, ms, _g in self.ops if kk == k])
               for k in self.op_types}
        scan = summary(self.op_ms)
        self.detail.update(
            rows=self.n_rows, rejected=self.n_bad, ingest_s=self.ingest_s,
            scans=scan, scan_p50_ms=scan.get("p50"), scan_p90_ms=scan.get("p90"),
            lookup_p50_ms=per["range"].get("p50"), per_type=per,
            rotation=self.order,
        )
        if self.trace:
            by = self_ms_by_name(self.rec.spans)
            traced_p50 = {k: _median([ms for kk, t, ms, _g in self.ops if kk == k and t])
                          for k in self.op_types}
            self.layer.update({
                "lakehouse.ingest_batch.ms": self.ingest_s * 1e3,
                "lakehouse.rows_rejected": self.stats.errors,
                "lakehouse.query.plan_ms": _median(by.get("lakehouse.query", [])),
                "lakehouse.query.exec_ms": _median(by.get("lakehouse.query.exec", [])),
                "lakehouse.rows_scanned_per_row_returned": _median(self.scan_ratio),
                "lakehouse.sql.vwap.ms": traced_p50["vwap"],
                "lakehouse.sql.movers.ms": traced_p50["movers"],
                "lakehouse.sql.resample.ms": traced_p50["resample"],
                "asof.join.ms": traced_p50["asof"],
            })
            self.root_self(by)
            self.spark_counts()
            self.overhead(self.op_types)
            self.detail["txnlog_spans"] = sum(
                1 for s in self.rec.spans if s["name"].startswith("txnlog."))


WORKLOADS = {w.name: w for w in (TickIngest, SymbolLookup, AnalyticsScan)}
