"""The two workloads.  Each returns an ``Outcome``: its set-up time, one
record per operation, the bytes its tier tables hold and the checks that
failed.

* backfill: batch backfills of one generated corpus.  Write side only:
  ingest, the 1m/1h/1d cascade, the composite and the cold-tier encode.
* stream: an arrival file dropped into the streaming sink, while one
  client reads the live tiers and a cold tier of the history beside it
  (closed loop).  Writes and reads share the cores.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference as ref

# Input sizes, set by the time budget: the 48 runs of a benchmark session
# must end within 3420 s, and on 4 cores a stream run takes ~62 s.
# Measured there (one traced run each): at 20k conversations (~0.65M turns)
# a backfill takes 43 s, raw ingest 57% and the composite 25% of it, and a
# run 173 s; at 2k, 8.5 s, raw ingest and the composite 46%, and a run
# ~60 s, which left 8-12% of the budget; at 1k, 8 s and 35%, and a run
# ~52 s.  The rest is mostly per-commit Spark job overhead of the
# 1m/1h/1d tiers (~1 s each at any of these sizes) and the cold-tier encode.
BACKFILL_CONVS = 1000
BACKFILL_DAYS = 3
MIN_BACKFILLS = 2
STREAM_CONVS = 1000  # the sink, not the corpus, sets a stream run's cost
STREAM_HISTORY_H = 30  # event time committed during set-up
# event time of the one arrival file a run drops: a file costs the sink
# 9-13 s on 4 cores with the reader running, and a stream run's set-up
# (session, the sink's first, cold micro-batch) already takes ~45 s
STREAM_FILE_H = 1
STREAM_COMPACT_EVERY = 2  # commits: history is 1, so the file compacts
STREAM_WATERMARK_S = 600  # run_stream_to_icelite's default "10 minutes"
STREAM_DEADLINE_S = 45  # a file not visible by then is backlog (failed)
LOOKUP_WINDOW = dt.timedelta(hours=6)
SCAN_WINDOW = dt.timedelta(days=1)
# key skew of the reader: an unsourced choice, Zipf with exponent 1.1
ZIPF_S = 1.1
READS = ("lookup", "scan", "cold")  # the reader cycles through them evenly


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool = True
    error: str | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    ops: list[Op]
    measured_s: float
    bytes_per_turn: float
    errors: list[str]  # failed checks, one line each
    checks: int  # checks made, failed or not
    inputs: dict
    details: dict = field(default_factory=dict)


def _utc(ts_us: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ts_us / 1e6, dt.timezone.utc)


def _write(tbl: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return path


def _stored(roots: dict[str, str]) -> dict:
    """Bytes per tier and the file counts the per-layer metrics divide by."""
    from hdstats_spark.icelite import IceliteTable

    parts = IceliteTable(roots["1m"]).snapshot().partitions
    return {
        "bytes_stored": {tier: ref.bytes_stored(root) for tier, root in roots.items()},
        "max_files_per_partition": max(len(m["files"]) for m in parts.values()),
        "files_1h": len(ref.table_files(roots["1h"])),
    }


def _cold_commit(ctx, hot_root: str, cold_root: str) -> None:
    """Compress a hot 1m tier into a committed cold tier."""
    from hdstats_spark.compression.tiercodec import compress_tier_flat
    from hdstats_spark.icelite import IceliteTable

    with ctx.tracer.span("tiercodec.encode"):
        hot = IceliteTable(hot_root).read(ctx.spark)
        hot = hot.select("conv_id", "bucket", *ref.CHANNELS)
        IceliteTable(cold_root).append(compress_tier_flat(hot))


def _check_cold(ctx, cold_root: str, hot_1m: pd.DataFrame) -> str | None:
    from hdstats_spark.compression.tiercodec import decompress_tier_flat
    from hdstats_spark.icelite import IceliteTable

    decoded = decompress_tier_flat(IceliteTable(cold_root).read(ctx.spark)).toPandas()
    return ref.check_cold(decoded, hot_1m)


# ------------------------------------------------------------------ backfill


def _backfill_once(ctx, path: str, root: str) -> dict:
    """Transcripts → raw/1m/1h/1d/gm tiers, then the 1m tier compressed
    into a committed cold tier."""
    from hdstats_spark.plans.pipeline import TierPipeline

    spark = ctx.spark
    with ctx.tracer.span("pipeline.run"):
        m = TierPipeline(spark, root).run(
            spark.read.parquet(path),
            input_snapshot=os.path.basename(path),
            phase="all",
            with_composite=True,
        )
    _cold_commit(ctx, os.path.join(root, "tier_1m"), os.path.join(root, "tier_cold"))
    return m


def _check_backfill(ctx, root: str, want: dict) -> tuple[list[str], int]:
    errs, n = [], 0
    for tier in ("1m", "1h", "1d"):
        got = ref.read_table(os.path.join(root, f"tier_{tier}"), ref.KEYS + ref.CHANNELS)
        e = ref.diff_tier(got, want[tier])
        n += 1
        if e:
            errs.append(f"tier {tier}: {e}")
    gm = ref.read_table(os.path.join(root, "tier_gm"), ["conv_id", "n"] + [f"gm_{c}" for c in ref.CHANNELS])
    n_conv = want["1m"]["conv_id"].nunique()
    n += 1
    if len(gm) != n_conv:
        errs.append(f"gm: {len(gm)} rows for {n_conv} conversations")
    convs = ref.composite_sample(want["1m"], np.random.default_rng([ctx.seed, 3]))
    errs += ref.check_composite(gm, want["1m"], convs)
    n += len(convs)
    hot = ref.read_table(os.path.join(root, "tier_1m"), ref.KEYS + ref.CHANNELS)
    e = _check_cold(ctx, os.path.join(root, "tier_cold"), hot)
    n += 1
    if e:
        errs.append(e)
    return errs, n


def backfill(ctx) -> Outcome:
    corpus = gen.transcripts(ctx.seed, BACKFILL_CONVS, span_s=BACKFILL_DAYS * 86400)
    path = _write(corpus, os.path.join(ctx.work, "input", "backfill.parquet"))
    want = ref.tiers(corpus)

    t0 = time.perf_counter()
    ctx.start_session()
    ctx.tracer.set_op("setup")
    # the first backfill pays the one-time costs (code generation, Python
    # workers, JIT), as a backfill job's first batch does: set-up
    _backfill_once(ctx, path, os.path.join(ctx.work, "warm"))
    setup_s = time.perf_counter() - t0

    ops: list[Op] = []
    root = None
    start = time.perf_counter()
    while len(ops) < MIN_BACKFILLS or time.perf_counter() - start < ctx.seconds:
        if root is not None:
            shutil.rmtree(root)
        op_id = f"backfill-{len(ops)}"
        root = os.path.join(ctx.work, op_id)
        ctx.op_begin(op_id, "backfill")
        t = time.perf_counter()
        m = _backfill_once(ctx, path, root)
        ms = (time.perf_counter() - t) * 1e3
        ops.append(Op("backfill", ms, True, None, {"points": m["points"], **ctx.op_end(op_id)}))
    measured_s = time.perf_counter() - start

    roots = {t: os.path.join(root, f"tier_{t}") for t in ("raw", "1m", "1h", "1d", "gm", "cold")}
    shape = _stored(roots)
    errs, n = _check_backfill(ctx, root, want)
    return Outcome(
        setup_s,
        ops,
        measured_s,
        sum(shape["bytes_stored"].values()) / corpus.num_rows,
        errs,
        n,
        {"backfill": gen.describe(corpus)},
        {
            **shape,
            "points_per_s": float(np.median([o.extra["points"] / (o.ms / 1e3) for o in ops])),
            "measure_start": start,
        },
    )


# -------------------------------------------------------------------- stream


class Reads:
    """The reader's three queries.  Each returns plain tuples for the
    checks, and timings of its steps."""

    def __init__(self, ctx, m1_root: str, h1_root: str, cold_root: str):
        from hdstats_spark.icelite import IceliteTable

        self.ctx = ctx
        self.m1 = IceliteTable(m1_root)
        self.cold_tbl = IceliteTable(cold_root)
        self.h1_root = h1_root

    def lookup(self, conv: str, lo: dt.datetime, hi: dt.datetime) -> tuple[list, dict]:
        """One conversation's 1m series over a bounded window."""
        tr, spark = self.ctx.tracer, self.ctx.spark
        t0 = time.perf_counter()
        with tr.span("icelite.lookup_plan"):
            df = self.m1.read(spark, where={"conv_id": ("=", conv), "bucket": ("between", lo, hi)})
        t1 = time.perf_counter()
        with tr.span("icelite.lookup_exec"):
            rows = df.select("bucket", *ref.CHANNELS).collect()
        t2 = time.perf_counter()
        return [tuple(r) for r in rows], {
            "plan_ms": (t1 - t0) * 1e3,
            "exec_ms": (t2 - t1) * 1e3,
            **self.m1.last_scan,
        }

    def scan(self, lo: dt.datetime, hi: dt.datetime) -> tuple[list, dict]:
        """One day's 1h aggregate through the ``icelite`` data source."""
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("source.scan"):
            rows = (
                self.ctx.spark.read.format("icelite")
                .load(self.h1_root)
                .filter((F.col("bucket") >= lo) & (F.col("bucket") < hi))
                .groupBy("bucket")
                .agg(*[F.sum(c).alias(c) for c in ref.CHANNELS])
                .collect()
            )
        return [tuple(r) for r in rows], {}

    def cold(self, conv: str) -> tuple[list, dict]:
        """One conversation's series decoded from the cold tier."""
        from pyspark.sql import functions as F

        from hdstats_spark.compression.tiercodec import decompress_tier_flat

        tr, spark = self.ctx.tracer, self.ctx.spark
        with tr.span("icelite.cold_plan"):
            blocks = self.cold_tbl.read(spark).filter(F.array_contains("conv_ids", conv))
        t1 = time.perf_counter()
        with tr.span("tiercodec.decode"):
            rows = (
                decompress_tier_flat(blocks)
                .filter(F.col("conv_id") == conv)
                .select("bucket", *ref.CHANNELS)
                .collect()
            )
        t2 = time.perf_counter()
        return [tuple(r) for r in rows], {"decode_ms": (t2 - t1) * 1e3, "blocks": blocks}


def _check_rows(kind: str, got: list, want: pd.DataFrame, as_f32: bool) -> str | None:
    # collected timestamps are naive, and the process runs in UTC
    g = sorted((pd.Timestamp(r[0], tz="UTC"), *r[1:]) for r in got)
    w = want.sort_values("bucket")
    if len(g) != len(w):
        return f"{kind}: {len(g)} rows, expected {len(w)}"
    vals = w[ref.CHANNELS].to_numpy(np.float32 if as_f32 else np.int64).astype(np.float64)
    for (b, *v), wb, wv in zip(g, w["bucket"], vals):
        if b != wb:
            return f"{kind}: bucket {b}, expected {wb}"
        if not np.array_equal(np.asarray(v, np.float64), wv):
            return f"{kind}: values differ at {b}"
    return None


class Checker:
    """The reader's answers against the reference tiers."""

    def __init__(self, m1: pd.DataFrame, h1: pd.DataFrame):
        self.m1 = m1.set_index("conv_id").sort_index()
        self.h1 = h1

    def window(self, conv: str) -> tuple[dt.datetime, dt.datetime]:
        """Up to LOOKUP_WINDOW from the conversation's first bucket, within
        its first day, so every lookup plans over one day partition."""
        first = self.m1.loc[[conv], "bucket"].min()
        last = min(first + LOOKUP_WINDOW, first.floor("D") + pd.Timedelta(days=1, minutes=-1))
        return first.to_pydatetime(), last.to_pydatetime()

    def lookup(self, got, conv, lo, hi):
        s = self.m1.loc[[conv]]
        return _check_rows("lookup", got, s[(s["bucket"] >= lo) & (s["bucket"] <= hi)], False)

    def scan(self, got, lo, hi):
        h = self.h1[(self.h1["bucket"] >= lo) & (self.h1["bucket"] < hi)]
        return _check_rows("scan", got, h.groupby("bucket")[ref.CHANNELS].sum().reset_index(), False)

    def cold(self, got, conv):
        return _check_rows("cold", got, self.m1.loc[[conv]], True)


def _zipf_picker(items: list, rng: np.random.Generator):
    order = rng.permutation(len(items))
    w = 1.0 / np.arange(1, len(items) + 1) ** ZIPF_S
    w /= w.sum()
    return lambda r: items[order[r.choice(len(items), p=w)]]


def _read_once(ctx, reads: Reads, checker: Checker, kind: str, r, pick, windows, op_id: str) -> Op:
    """One read: draw its arguments, time it, check its answer."""
    # the reader's jobs share the cores with the sink's instead of queueing
    # behind them, as a dashboard's own scheduler pool would
    ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reader")
    if kind == "scan":
        lo = windows[r.integers(len(windows))]
        args = (lo, lo + SCAN_WINDOW)
    else:
        conv = pick(r)
        args = (conv, *checker.window(conv)) if kind == "lookup" else (conv,)
    ctx.op_begin(op_id, kind)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{kind}"):
            got, extra = getattr(reads, kind)(*args)
    except Exception as e:  # a failed read is a failed operation
        ctx.op_end(op_id)
        return Op(kind, (time.perf_counter() - t0) * 1e3, False, f"{kind}: {type(e).__name__}: {e}")
    ms = (time.perf_counter() - t0) * 1e3
    blocks = extra.pop("blocks", None)
    extra.update(ctx.op_end(op_id))
    if blocks is not None and ctx.tracer.enabled:
        extra["blocks_read"] = blocks.count()
    err = getattr(checker, kind)(got, *args)
    return Op(kind, ms, err is None, err, extra)


class _GmWatcher(threading.Thread):
    """Records when each micro-batch's composite snapshot was committed:
    the sink's last tier commit, so from then on all four tiers of that
    batch are visible."""

    def __init__(self, root: str, stop: threading.Event):
        super().__init__(name="gm-watcher", daemon=True)
        from hdstats_spark.icelite import IceliteTable

        self.tbl = IceliteTable(root)
        self.stop = stop
        self.commits: dict[int, float] = {}

    def run(self):
        last = None
        while not self.stop.is_set():
            try:
                sid = self.tbl.current_snapshot_id()
                if sid is not None and sid != last:
                    snap = self.tbl.snapshot(sid)
                    mb = snap.lineage.get("micro_batch")
                    if mb is not None:
                        self.commits.setdefault(int(mb), snap.committed_at)
                    last = sid
            except (FileNotFoundError, ValueError, KeyError):
                pass  # snapshot expired or mid-commit: look again next tick
            self.stop.wait(0.1)


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def _wm_us(p: dict) -> int:
    w = (p.get("eventTime") or {}).get("watermark")
    return int(pd.Timestamp(w).value // 1000) if w else 0


def stream(ctx) -> Outcome:
    from hdstats_spark import icelite_source
    from hdstats_spark.streaming.stream import run_stream_to_icelite

    hour = 3_600_000_000
    span_s = (STREAM_HISTORY_H + STREAM_FILE_H) * 3600
    corpus = gen.transcripts(ctx.seed, STREAM_CONVS, span_s=span_s)
    t0_us = gen.EPOCH_S * 1_000_000
    hist_edge = t0_us + STREAM_HISTORY_H * hour
    # later turns never arrive
    history, arrival, _ = gen.split_by_time(corpus, [hist_edge, hist_edge + STREAM_FILE_H * hour])
    arrived = pa.concat_tables([history, arrival])
    want = ref.tiers(arrived)
    # reads touch only buckets the history's watermark closed, so every
    # answer stays fixed while the tables grow
    hist_wm = int(history.column("ts")[-1].value) - STREAM_WATERMARK_S * 1_000_000
    m1_hist = ref.closed(want["1m"], "1m", hist_wm)
    first = m1_hist.groupby("conv_id")["bucket"].min()
    span_us = int(LOOKUP_WINDOW.total_seconds() * 1e6) + 60_000_000
    convs = sorted(first.index[ref.us(first) + span_us <= hist_wm])
    n_windows = (hist_wm - t0_us) // hour - 24 + 1
    windows = [_utc(t0_us + h * hour) for h in range(n_windows)]
    checker = Checker(m1_hist, ref.closed(want["1h"], "1h", hist_wm))
    pick = _zipf_picker(convs, np.random.default_rng([ctx.seed, 5]))

    src = os.path.join(ctx.work, "arrivals")
    os.makedirs(src)
    root = os.path.join(ctx.work, "stream", "tier_1m")
    roots = {"1m": root, "1h": root + "_1h", "1d": root + "_1d", "gm": root + "_gm"}
    cold_root = os.path.join(ctx.work, "stream", "tier_cold")

    def drop(tbl, k: int) -> None:
        tmp = os.path.join(src, f".f{k:05d}.tmp")  # hidden: the source skips it
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(src, f"f{k:05d}.parquet"))

    stop = threading.Event()  # ends the reader and the watcher
    t0 = time.perf_counter()
    ctx.start_session({"spark.scheduler.mode": "FAIR"})
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    ctx.tracer.set_op("setup")
    q = run_stream_to_icelite(
        ctx.spark,
        src,
        os.path.join(ctx.work, "stream", "checkpoint"),
        root,
        cascade=True,
        composite=True,
        compact_every=STREAM_COMPACT_EVERY,
    )
    try:
        drop(history, 0)
        q.processAllAvailable()
        icelite_source.register(ctx.spark)
        reads = Reads(ctx, roots["1m"], roots["1h"], cold_root)
        # the first call of each read pays one-time costs (Python workers,
        # data source planning, code generation): set-up, overlapped with
        # the cold-tier commit
        def warm(k: str) -> Op:
            r = np.random.default_rng([ctx.seed, 9, READS.index(k)])
            return _read_once(ctx, reads, checker, k, r, pick, windows, f"warm-{k}")

        with ThreadPoolExecutor(2) as ex:
            futs = [ex.submit(warm, k) for k in ("lookup", "scan")]
            _cold_commit(ctx, root, cold_root)
            warm_ops = [f.result() for f in futs]
        warm_ops.append(warm("cold"))
        setup_s = time.perf_counter() - t0
        setup_batches = {p["batchId"] for p in _progress(q)}

        watcher = _GmWatcher(roots["gm"], stop)
        watcher.start()
        reader_ops: list[Op] = []

        def reader():
            r = np.random.default_rng([ctx.seed, 7])
            i = 0
            while not stop.is_set():
                reader_ops.append(_read_once(ctx, reads, checker, READS[i % len(READS)], r, pick, windows, f"read-{i}"))
                i += 1

        # the file is due when the reader starts and is timed from then
        start = time.perf_counter()
        due = time.time()
        reader_thread = threading.Thread(target=reader, name="reader")
        reader_thread.start()
        drop(arrival, 1)
        late_ms = (time.time() - due) * 1e3
        # the file is visible once a composite commit lands from a batch
        # whose watermark passed its newest turn less the delay
        horizon = int(arrival.column("ts")[-1].value) - STREAM_WATERMARK_S * 1_000_000

        def visible() -> float | None:
            wm = {p["batchId"]: _wm_us(p) for p in _progress(q)}
            return min((t for b, t in watcher.commits.items() if wm.get(b, 0) >= horizon), default=None)

        # the reader runs until the file is visible, and for at least
        # --seconds; the deadline keeps a stalled run inside its time limit
        deadline = start + STREAM_DEADLINE_S
        vis = visible()
        while time.perf_counter() < deadline and (vis is None or time.perf_counter() - start < ctx.seconds):
            time.sleep(0.25)
            vis = visible()
        measured_s = time.perf_counter() - start
        stop.set()
        reader_thread.join()
        watcher.join()
        q.processAllAvailable()
        prog = _progress(q)
    finally:
        stop.set()
        q.stop()

    if vis is not None:
        ops = [Op("fresh", (vis - due) * 1e3)]
    else:
        ops = [Op("fresh", (time.time() - due) * 1e3, False, "fresh: arrival file not visible in time")]
    ops += reader_ops
    errs, n = _check_stream(ctx, roots, want, prog)
    e = _check_cold(ctx, cold_root, m1_hist)
    n += 1 + len(warm_ops)
    errs += ([e] if e else []) + [o.error for o in warm_ops if not o.ok]
    shape = _stored({**roots, "cold": cold_root})
    return Outcome(
        setup_s,
        ops,
        measured_s,
        sum(shape["bytes_stored"].values()) / arrived.num_rows,
        errs,
        n,
        {"history": gen.describe(history), "arrival": gen.describe(arrival)},
        {
            **shape,
            "clients": 1,
            "gen_late_ms": late_ms,
            "progress": [
                {
                    "batch": p["batchId"],
                    "rows": p["numInputRows"],
                    "trigger_ms": p["durationMs"].get("triggerExecution", 0),
                    "add_batch_ms": p["durationMs"].get("addBatch", 0),
                    "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
                }
                for p in prog
                if p["batchId"] not in setup_batches
            ],
            "measure_start": start,
        },
    )


def _check_stream(ctx, roots: dict, want: dict, prog: list[dict]) -> tuple[list[str], int]:
    """Final streamed tiers against the reference, over every bucket the
    final watermark has closed."""
    wm = max(_wm_us(p) for p in prog)
    errs, n = [], 0
    for tier in ("1m", "1h", "1d"):
        g = ref.read_table(roots[tier], ref.KEYS + ref.CHANNELS)
        # the 1m tier holds closed buckets only; 1h and 1d also hold the
        # partial hour and day the watermark is in
        e = ref.diff_tier(g if tier == "1m" else ref.closed(g, tier, wm), ref.closed(want[tier], tier, wm))
        n += 1
        if e:
            errs.append(f"stream tier {tier}: {e}")
    gm = ref.read_table(roots["gm"], ["conv_id", "n"] + [f"gm_{c}" for c in ref.CHANNELS])
    last = want["1m"].groupby("conv_id")["bucket"].max()
    done = set(last.index[ref.us(last) + 60_000_000 <= wm])
    m1_done = want["1m"][want["1m"]["conv_id"].isin(done)]
    convs = ref.composite_sample(m1_done, np.random.default_rng([ctx.seed, 3]))
    errs += ref.check_composite(gm, m1_done, convs)
    n += len(convs)
    return errs, n
