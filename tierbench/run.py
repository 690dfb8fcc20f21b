"""Tier-engine benchmark: one run of one workload.

    python3 tierbench/run.py --workload backfill|stream \\
        --seed N --seconds S --trace 0|1 [--record FILE]

Run from the root of a checkout.  The run generates its inputs from the
seed, starts one Spark session sized to the machine (``local[nproc]``, a
driver heap that fits in physical memory, one read client),
drives the workload through the public API of ``hdstats_spark``, checks
every answer against an independent reference, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  The line before it starts with ``#`` and holds the run's
details: sizing, versions, input counts, per-kind latencies with sample
counts, and which checks failed.

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` wraps the layers' public methods, records spans in memory,
writes them to ``.tierbench/trace-<workload>-<seed>.json`` at exit and
reports the per-layer metrics.  Its detail line gives the tracing overhead:
the traced run's op_median_ms against the median of the untraced runs of
the same code (a hash of ``hdstats_spark/`` and ``tierbench/``), workload
and ``--seconds`` recorded in ``.tierbench/results.jsonl``, or null with
the reason when there are none.  Every run appends its record there (and
to ``--record FILE``); ``tierbench/compare.py`` compares two such files.

Work files live under ``.tierbench/`` in the checkout and are removed
when the run ends.  The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".tierbench")
WORKLOADS = ("backfill", "stream")


def sizing() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_gb = mem_kb / 2**20
    # a quarter of physical memory, 1..4 GB: the inputs are tens of MB
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    return {
        "nproc": nproc,
        "cores": nproc,
        "heap": f"{heap_gb}g",
        "mem_gb": round(mem_gb, 1),
    }


class RssMonitor(threading.Thread):
    """Peak resident memory of the driver JVM plus its Python workers."""

    def __init__(self, pid: int):
        super().__init__(name="rss", daemon=True)
        self.pid = pid
        self.peak_mb = 0.0
        self.stop = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                continue
            todo += kids.get(p, [])
        return total

    def run(self):
        while not self.stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss() / 2**20)
            self.stop.wait(0.25)


class Context:
    def __init__(self, args, size: dict, work: str, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = size
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.session_s = None
        self.rss = None

    def start_session(self, conf: dict | None = None):
        from hdstats_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        # every JVM the session starts (spark-submit's launcher too) keeps
        # its scratch and perf-data files inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])
        )
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app=f"tierbench-{self.workload}",
                cores=self.size["cores"],
                driver_memory=self.size["heap"],
                extra={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    **(conf or {}),
                },
            )
        self.session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rss = RssMonitor(self.spark.sparkContext._gateway.proc.pid)
        self.rss.start()

    def op_begin(self, op_id: str, kind: str) -> None:
        """Label this thread's spans, and in a traced run its Spark jobs,
        with the operation."""
        self.tracer.set_op(op_id)
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, kind)

    def op_end(self, op_id: str) -> dict:
        """Spark jobs and tasks the operation ran (traced runs only)."""
        self.tracer.set_op(None)
        if not self.tracer.enabled:
            return {}
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(op_id)
        stages = []
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    stages.append((s, si.numTasks))
        stages.sort()
        return {"jobs": len(jobs), "tasks": sum(n for _, n in stages), "stage_tasks": [n for _, n in stages]}

    def stop(self):
        """Stop Spark and wait for the JVM (and with it every Python
        worker) to exit."""
        if self.rss is not None:
            self.rss.stop.set()
            self.rss.join()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def install_tracing(tracer) -> None:
    """Wrap the layers' public methods so calls made inside the engine get
    spans too (the pipeline's commits, the sink's compactions)."""
    from hdstats_spark.icelite import IceliteTable

    def tier(t) -> str:
        b = os.path.basename(t.root.rstrip("/"))
        return b.removeprefix("tier_").split("_")[-1]

    def write_timings(attrs, out, args):
        attrs.update(getattr(args[0], "last_write_timings", {}))

    def scan_stats(attrs, out, args):
        attrs.update(getattr(args[0], "last_scan", {}))

    for method, kind, after in (
        ("append", "commit", write_timings),
        ("overwrite_partitions", "commit", write_timings),
        ("compact_partition", "compact", None),
        ("expire_snapshots", "expire", None),
        ("read", "read", scan_stats),
    ):
        tracer.wrap(
            IceliteTable,
            method,
            lambda t, *a, _k=kind, **kw: f"icelite.{_k}[{tier(t)}]",
            after,
        )


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def end_to_end(out) -> dict:
    """The metrics every workload reports (BENCHMARK.json end_to_end).
    ``op_median_ms`` is the geometric mean over the workload's operation
    kinds of each kind's median latency, so a change to any one kind moves
    it by the same factor whatever the kinds' shares of the run: the k-th
    root of that kind's change.  With a 0.25 bound a single kind must slow
    down 1.25x on backfill (one kind) and 2.44x on stream (four kinds) to
    be rejected; ``compare.py`` also compares each kind's median."""
    kinds = sorted({o.kind for o in out.ops})
    log_sum = sum(math.log(_median([o.ms for o in out.ops if o.kind == k])) for k in kinds)
    return {
        "setup_s": (out.setup_s, "s"),
        "op_median_ms": (math.exp(log_sum / len(kinds)), "ms"),
        "bytes_per_turn": (out.bytes_per_turn, "B"),
    }


def per_layer(ctx, out, tracer, t_start: float) -> dict:
    """The traced run's per-layer metrics (BENCHMARK.json per_layer).  A
    value is per operation of the measured phase (spans starting after it
    began, so the sink's compaction after the last commit counts); a layer
    the measured phase never calls is taken from set-up (the stream's cold
    tier is encoded there), and one the workload never calls reads 0."""
    spans = tracer.spans

    def measured(s):
        return s["start"] >= t_start

    def pick(prefix):
        named = [s for s in spans if s["name"].startswith(prefix)]
        return [s for s in named if measured(s)] or named

    def dur(s):
        return s["end"] - s["start"]

    n_write_ops = max(1, sum(o.kind in ("backfill", "fresh") for o in out.ops))
    m: dict = {"session.start_s": (ctx.session_s, "s")}

    runs = pick("pipeline.run")
    for t in ("raw", "1m", "1h", "1d", "gm"):
        per_run = [
            sum(dur(c) for c in spans if c["parent"] == r["id"] and c["name"] == f"icelite.commit[{t}]")
            for r in runs
        ]
        m[f"pipeline.{t}_s"] = (_median(per_run), "s")
    pts = [o.extra["points"] for o in out.ops if "points" in o.extra]
    m["pipeline.points"] = (_median(pts), "count")

    commits = pick("icelite.commit[")
    per = n_write_ops if any(measured(s) for s in commits) else max(1, len(runs))
    m["icelite.write_s"] = (sum(s["attrs"].get("write_s", 0) for s in commits) / per, "s")
    m["icelite.manifest_s"] = (sum(s["attrs"].get("manifest_s", 0) for s in commits) / per, "s")
    m["icelite.files_written"] = (sum(s["attrs"].get("n_files", 0) for s in commits) / per, "count")
    stored = out.details.get("bytes_stored", {})
    for t in ("raw", "1m", "1h", "1d", "gm", "cold"):
        m[f"icelite.bytes_stored.{t}"] = (stored.get(t, 0), "B")

    looks = [o for o in out.ops if o.kind == "lookup"]
    m["icelite.plan_ms"] = (_median([o.extra.get("plan_ms") for o in looks]), "ms")
    m["icelite.exec_ms"] = (_median([o.extra.get("exec_ms") for o in looks]), "ms")
    cons = sum(o.extra.get("files_considered", 0) for o in looks)
    m["icelite.files_read_ratio"] = (
        sum(o.extra.get("files_read", 0) for o in looks) / cons if cons else 0.0,
        "ratio",
    )
    comps = [s for s in spans if s["name"].startswith("icelite.compact[") and measured(s)]
    m["icelite.compactions"] = (len(comps), "count")
    m["icelite.compact_s"] = (sum(dur(s) for s in comps) / n_write_ops, "s")
    m["icelite.max_files_per_partition"] = (out.details.get("max_files_per_partition", 0), "count")

    scans = [o for o in out.ops if o.kind == "scan"]
    m["source.scan_ms"] = (_median([o.ms for o in scans]), "ms")
    files_1h = out.details.get("files_1h", 0)
    first_stage = [o.extra["stage_tasks"][0] for o in scans if o.extra.get("stage_tasks")]
    m["source.files_read_ratio"] = (_median(first_stage) / files_1h if files_1h else 0.0, "ratio")

    enc = pick("tiercodec.encode")
    m["tiercodec.encode_s"] = (_median([dur(s) for s in enc]), "s")
    hot = stored.get("1m", 0)
    m["tiercodec.ratio"] = (stored.get("cold", 0) / hot if hot and "cold" in stored else 0.0, "ratio")
    colds = [o for o in out.ops if o.kind == "cold"]
    m["tiercodec.decode_ms"] = (_median([o.extra.get("decode_ms") for o in colds]), "ms")
    m["tiercodec.blocks_read"] = (_median([o.extra.get("blocks_read") for o in colds]), "count")

    prog = out.details.get("progress", [])
    data = [p for p in prog if p["rows"] > 0]
    m["stream.trigger_ms"] = (_median([p["trigger_ms"] for p in prog]), "ms")
    m["stream.add_batch_ms"] = (_median([p["add_batch_ms"] for p in prog]), "ms")
    m["stream.rows_per_batch"] = (_median([p["rows"] for p in data]), "count")
    m["stream.state_rows"] = (max([p["state_rows"] for p in prog], default=0), "count")
    m["stream.gen_late_ms"] = (out.details.get("gen_late_ms", 0.0), "ms")

    timed = [o for o in out.ops if "jobs" in o.extra]
    m["spark.jobs_per_op"] = (statistics.fmean([o.extra["jobs"] for o in timed]) if timed else 0.0, "count")
    m["spark.tasks_per_op"] = (statistics.fmean([o.extra["tasks"] for o in timed]) if timed else 0.0, "count")
    m["proc.peak_rss_mb"] = (ctx.rss.peak_mb if ctx.rss else 0.0, "MB")
    return m


def layer_self_s(tracer) -> dict:
    """Self time per layer (module) name: the span-name prefix."""
    out: dict = {}
    for name, s in tracer.self_times().items():
        layer = name.split("[")[0].rsplit(".", 1)[0] if "." in name else name
        out[layer] = out.get(layer, 0.0) + s
    return {k: round(v, 4) for k, v in sorted(out.items())}


def code_hash() -> str:
    """Hash of the program's and the benchmark's sources: which records
    were made by the same code."""
    h = hashlib.sha256()
    for top in ("hdstats_spark", "tierbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def untraced(workload: str, code: str, seconds: float) -> list[float]:
    """op_median_ms of the correct untraced runs of this code, workload and
    --seconds."""
    path = os.path.join(STATE, "results.jsonl")
    if not os.path.exists(path):
        return []
    vals = []
    with open(path) as f:
        for line in f:
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if (
                (r.get("workload"), r.get("trace"), r.get("code"), r["detail"].get("seconds")) == (workload, 0, code, seconds)
                and r["result"]["correct"]
            ):
                vals.append(r["result"]["metrics"]["op_median_ms"]["value"])
    return vals


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also append this run's record to FILE")
    args = ap.parse_args(argv)

    # the program under test is the checkout's own source tree
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import hdstats_spark
    except ImportError as e:
        print(f"tierbench: cannot import hdstats_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(hdstats_spark.__file__).startswith(ROOT + os.sep):
        print(f"tierbench: hdstats_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    # collected Spark timestamps are naive local times: make local UTC
    os.environ["TZ"] = "UTC"
    time.tzset()

    import spans as tracing
    import workloads

    size = sizing()
    code = code_hash()
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python's and Spark's scratch files stay inside the checkout too
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    tracer = tracing.Tracer(bool(args.trace))
    if args.trace:
        install_tracing(tracer)
    ctx = Context(args, size, work, tracer)
    try:
        out = getattr(workloads, args.workload)(ctx)
        t_start = out.details.pop("measure_start")
        metrics = per_layer(ctx, out, tracer, t_start) if args.trace else end_to_end(out)
    except Exception:
        traceback.print_exc()
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    ctx.stop()
    tracer.uninstall()

    failed_ops = [o for o in out.ops if not o.ok]
    attempted = len(out.ops) + out.checks
    failed = len(failed_ops) + len(out.errors)
    kinds = sorted({o.kind for o in out.ops})
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **size,
        **versions(),
        "clients": out.details.get("clients", 0),
        "inputs": out.inputs,
        "session_s": round(ctx.session_s, 3),
        "measured_s": round(out.measured_s, 3),
        "latency_ms": {
            k: {
                "n": len(v),
                "p50": round(_median(v), 1),
                "p90": round(statistics.quantiles(v, n=10, method="inclusive")[-1], 1) if len(v) > 1 else round(v[0], 1),
                "max": round(max(v), 1),
            }
            for k in kinds
            for v in [[o.ms for o in out.ops if o.kind == k]]
        },
        "points_per_s": out.details.get("points_per_s"),
        "backlog_files": sum(1 for o in failed_ops if o.kind == "fresh"),
        "failed_frac": failed / attempted,
        "errors": (out.errors + [o.error for o in failed_ops])[:20],
    }
    if args.trace:
        detail["self_s"] = layer_self_s(tracer)
        base = untraced(args.workload, code, args.seconds)
        traced = end_to_end(out)["op_median_ms"][0]
        n_spans = len(tracer.spans)
        detail["trace_overhead"] = {
            "frac": round(traced / statistics.median(base) - 1, 4) if base else None,
            "why_null": None if base else f"no untraced {args.workload} run of code {code} with --seconds {args.seconds:g} recorded",
            "traced_op_median_ms": round(traced, 1),
            "untraced_op_median_ms": round(statistics.median(base), 1) if base else None,
            "untraced_runs": len(base),
            "spans": n_spans,
            # what the spans alone cost, measured on a probe
            "span_cost_share": round(n_spans * tracing.span_cost_s() / max(out.measured_s, 1e-9), 6),
        }
        tracer.dump(os.path.join(STATE, f"trace-{args.workload}-{args.seed}.json"), {"detail": detail})

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "code": code, "detail": detail, "result": result}
    for path in [os.path.join(STATE, "results.jsonl")] + ([args.record] if args.record else []):
        with open(path, "a") as f:
            f.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print("# " + json.dumps(detail))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
