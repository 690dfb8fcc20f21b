"""icelite — Iceberg-semantics emulation over Parquet + JSON metadata.

The sandbox ships no Iceberg runtime jar (SURVEY.md §7), so tier tables get
Iceberg's *operational* semantics — immutable snapshots, per-partition
manifests, append / overwrite-by-partition, time travel by snapshot id, and
lineage records — from a thin layer: Parquet data files laid out by partition
plus a JSON metadata log.  The interface is deliberately shaped so a real
deployment swaps `IceliteTable` for ``spark.read.format("iceberg")`` /
``df.writeTo(...)`` without touching callers.

Layout:
    <root>/data/<partition>=<value>/part-*.parquet
    <root>/metadata/snapshot-<id>.json     (one per commit)
    <root>/metadata/current                 (id of the live snapshot)

Metadata scales like Iceberg's manifest lists, not like a naive full-map
log: a DELTA snapshot stores only the partitions its commit touched
(O(changed partitions) bytes per commit), and every CHECKPOINT_EVERY-th
commit in the chain is a CHECKPOINT storing the full resolved manifest, so
reading any snapshot costs at most CHECKPOINT_EVERY JSON files (amortized
O(1) for a writer advancing the chain, via a one-entry resolution cache).
In memory ``Snapshot.partitions`` is ALWAYS the full resolved
partition→files manifest — callers never see deltas.

Each snapshot records: parent id, operation, the delta (or full manifest),
row counts, and a caller-supplied lineage dict (input snapshot-id, partition
range, rows processed, metrics) — the checkpoint/resume contract of the
north rule.  Commits are atomic via write-temp + rename of `current`.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote

try:  # POSIX fast path; object-store deployments have no flock(2)
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX
    fcntl = None

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed between manifest read and flip — the icelite
    analogue of Iceberg's CommitFailedException (callers retry the merge)."""


class SchemaEvolutionError(RuntimeError):
    """A write's schema is incompatible with the table schema (same-name
    column with a different type).  Compatible evolution — NEW columns —
    is applied automatically; a long-lived tier table gains channels over
    its lifetime and must not need a rewrite for each one."""


def _evolve_schema(cur: dict | None, new_fields: list[dict], op: str) -> dict | None:
    """Merge a write's data-column fields into the table schema (both in
    StructType.jsonValue() form).  Unknown columns append (add-column
    evolution); a same-name column whose TYPE differs raises; columns the
    write omits stay in the schema (its files simply lack them and readers
    NULL-backfill).  Field order is the table's historical order — readers
    of every snapshot see a stable column layout."""
    if cur is None:
        return {"type": "struct", "fields": list(new_fields)} if new_fields else None
    by_name = {f["name"]: f for f in cur["fields"]}
    out = list(cur["fields"])
    for f in new_fields:
        have = by_name.get(f["name"])
        if have is None:
            out.append(f)
        elif have["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"{op}: column {f['name']!r} has type {f['type']!r} but the "
                f"table schema says {have['type']!r}; icelite evolves by "
                "ADD-COLUMN only — rewrite the table to change a type"
            )
    return {"type": "struct", "fields": out}


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    operation: str
    # ALWAYS the full resolved manifest in memory (value -> {files, rows});
    # serialized to disk only for checkpoint snapshots
    partitions: dict | None = None
    # what THIS commit changed: {"mode": "append"|"replace", "parts": {...}};
    # the only manifest data a delta snapshot persists
    delta: dict | None = None
    kind: str = "checkpoint"  # "checkpoint" | "delta"
    seq: int = 1  # chain depth from the root commit
    lineage: dict = field(default_factory=dict)
    committed_at: float = 0.0
    # snapshot format version: 1 = {files, rows} manifests, 2 = adds
    # per-file column min/max under "stats" (readers of either version
    # accept the other — a missing stat just disables file skipping),
    # 3 = adds merge-on-read state: per-file birth seq under "fseq" and
    # equality-delete files under "deletes" (an equality delete applies to
    # exactly the files with fseq < its seq — Iceberg v2's sequence-number
    # rule)
    fmt: int = 2
    # table schema AS OF this snapshot (StructType.jsonValue(), data
    # columns only — the partition column lives in the manifest keys).
    # Versioned per snapshot so time travel reads each snapshot under the
    # schema it was committed with; None on pre-evolution metadata (readers
    # then take the files' own schema, today's behavior)
    schema: dict | None = None
    # the partitioning column's NAME (its values are the manifest keys):
    # lets read(where=) route predicates on it to manifest-level pruning
    partition_col: str | None = None

    def to_json(self) -> dict:
        d = dict(self.__dict__)
        if self.kind != "checkpoint":
            d["partitions"] = None  # delta snapshots persist O(changed) bytes
        return d


def _apply_delta(base: dict, delta: dict) -> dict:
    """Fold one commit's delta into a resolved manifest (copy-on-write: the
    returned dict is new, untouched partition entries are shared)."""
    out = dict(base)
    parts = delta["parts"]
    if delta["mode"] == "reset":
        # rollback: the resolved manifest becomes EXACTLY this delta's parts
        # — unlike replace, partitions absent from ``parts`` cease to exist
        # (they were added after the rollback target)
        return dict(parts)
    if delta["mode"] == "append":
        for value, m in parts.items():
            if value in out:
                prev = out[value]
                merged = {
                    "files": prev["files"] + m["files"],
                    "rows": prev["rows"] + m["rows"],
                }
                if "stats" in prev or "stats" in m:
                    # per-file stats stay aligned with files; a side written
                    # by a pre-fmt-2 writer contributes None entries (those
                    # files are simply never skipped)
                    merged["stats"] = (
                        prev.get("stats") or [None] * len(prev["files"])
                    ) + (m.get("stats") or [None] * len(m["files"]))
                if "fseq" in prev or "fseq" in m:
                    # per-file birth commit seq, aligned with files; a side
                    # without it predates every equality delete (seq 0)
                    merged["fseq"] = (
                        prev.get("fseq") or [0] * len(prev["files"])
                    ) + (m.get("fseq") or [0] * len(m["files"]))
                if prev.get("deletes") or m.get("deletes"):
                    # equality-delete files accumulate until compaction or
                    # overwrite materializes them (merge-on-read)
                    merged["deletes"] = list(prev.get("deletes") or []) + list(
                        m.get("deletes") or []
                    )
                out[value] = merged
            else:
                out[value] = m
    else:  # replace: the commit's partitions point at the new files only
        out.update(parts)
    return out


def _stamp_seq(parts: dict, prev_parts: dict | None, mode: str, seq: int) -> dict:
    """Stamp this commit's sequence number into the parts that need
    merge-on-read bookkeeping: ``fseq`` entries of None become ``seq`` (the
    file is born at this commit), and delete entries with seq None likewise.
    A part is stamped only when it — or, for appends, the manifest entry it
    merges into — already carries MOR state (``fseq``/``deletes``); plain
    tables keep byte-identical metadata.  Returns fresh dicts (callers reuse
    ``parts`` across commit retries, where ``seq`` changes)."""
    out = {}
    for value, m in parts.items():
        pe = (prev_parts or {}).get(value) if mode == "append" else None
        need = (
            "fseq" in m
            or "deletes" in m
            or (pe is not None and ("fseq" in pe or pe.get("deletes")))
        )
        if not need:
            out[value] = m
            continue
        m2 = dict(m)
        fs = m2.get("fseq")
        m2["fseq"] = (
            [seq] * len(m2["files"])
            if fs is None
            else [seq if x is None else x for x in fs]
        )
        if m2.get("deletes"):
            m2["deletes"] = [
                dict(d, seq=seq if d.get("seq") is None else d["seq"])
                for d in m2["deletes"]
            ]
        out[value] = m2
    return out


_TAIL2_SAFE = re.compile(r"^[A-Za-z0-9._=/-]+$")


def _path_tail2(p: str) -> str:
    """Last two path components — the per-file identity used for
    partition attribution: a part-file BASENAME alone repeats across the
    partition dirs of one write job (same job uuid, same task index), but
    '<partition dir>/<basename>' is unique within a table."""
    return "/".join(p.replace(os.sep, "/").rstrip("/").split("/")[-2:])


def _tail2_mappable(tails) -> bool:
    """input_file_name() returns a URI, which percent-encodes characters
    outside the unreserved set — a tail containing such characters would
    not match its raw manifest form, so only URL-safe tails take the fused
    attribution path (others fall back to exact per-partition reads)."""
    return all(_TAIL2_SAFE.match(t) for t in tails)


def _file_tail2_col():
    """input_file_name()'s last two path components (matches _path_tail2)."""
    from pyspark.sql import functions as F

    parts = F.split(F.input_file_name(), "/")
    return F.concat_ws("/", F.element_at(parts, -2), F.element_at(parts, -1))


def _data_fields(df: DataFrame, partition_col: str | None) -> list[dict]:
    """The write's DATA-column schema fields (partition col excluded — it
    lives in directory names / manifest keys, not the files), in
    StructType.jsonValue() form.  Writers evolving a schema must also
    validate BEFORE writing data files, so an incompatible type change
    fails fast instead of after a full Spark write."""
    return [
        f.jsonValue() for f in df.schema.fields if f.name != partition_col
    ]


def _stat_scalar(v, max_str: int = 64):
    """Normalize one min/max value to a JSON-safe, totally-ordered scalar —
    the SAME function encodes writer-side footer stats and reader-side
    predicate values, so comparisons are always like-for-like.  Returns
    None for values that can't be encoded order-faithfully (those columns
    simply never skip a file — conservative by construction)."""
    import datetime

    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        return v if len(v) <= max_str else None
    if isinstance(v, bytes):
        return None
    # timestamps/dates → epoch seconds; naive values are treated as UTC on
    # BOTH sides (Spark writes UTC-normalized parquet timestamps)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return v.timestamp()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day, tzinfo=datetime.timezone.utc).timestamp()
    item = getattr(v, "item", None)  # numpy scalars
    if item is not None:
        return _stat_scalar(item(), max_str)
    return None


def _file_stats(pf, cols: list[str], max_str: int = 64) -> dict:
    """Per-column [min, max] for one parquet file from its FOOTER row-group
    statistics (metadata-only — the footer is already being read for row
    counts).  Parquet truncation keeps stored min ≤ true min and stored
    max ≥ true max (BinaryTruncator increments on truncate), so the bounds
    stay conservative.  A column missing stats in ANY row group gets no
    entry (readers then never skip on it)."""
    md = pf.metadata
    name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    # the file's own leaf columns: a file written BEFORE an add-column
    # evolution reads as all-NULL for the new column, so any =/</>/between
    # predicate on it provably excludes the file — but only if the reader
    # can distinguish "column absent" from "stats not collected"
    out = {"__cols__": sorted(name_to_idx)}
    for c in cols:
        j = name_to_idx.get(c)
        if j is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _stat_scalar(st.min, max_str), _stat_scalar(st.max, max_str)
            if mn is None or mx is None or type(mn) is not type(mx):
                ok = False
                break
            if lo is None:
                lo, hi = mn, mx
            elif type(mn) is not type(lo):
                ok = False
                break
            else:
                lo, hi = min(lo, mn), max(hi, mx)
        if ok and lo is not None:
            out[c] = [lo, hi]
    return out


def _auto_stats_cols(pf, cap: int) -> list[str]:
    """Schema-order orderable primitive columns (fmt-2 auto selection)."""
    import pyarrow as pa

    cols = []
    for f in pf.schema_arrow:
        t = f.type
        if (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_date(t)
        ):
            cols.append(f.name)
        if len(cols) >= cap:
            break
    return cols


def _ranges_disjoint(lo, hi, op: str, args: tuple) -> bool:
    """True iff a file whose column spans [lo, hi] can PROVABLY not satisfy
    the predicate — the only case that may skip the file."""
    if op == "=":
        return args[0] < lo or args[0] > hi
    if op == "<":
        return lo >= args[0]
    if op == "<=":
        return lo > args[0]
    if op == ">":
        return hi <= args[0]
    if op == ">=":
        return hi < args[0]
    if op == "between":
        return args[1] < lo or args[0] > hi
    if op == "in":
        return all(a < lo or a > hi for a in args[0])
    raise ValueError(f"unknown predicate op {op!r}")


def _z_orderable(col, dtype):
    """A Column cast to DOUBLE for z-value scaling; numeric, timestamp and
    date columns are supported (string z-ordering needs a collation-aware
    encoding — out of scope, callers cluster on a hash or prefix int)."""
    from pyspark.sql.types import DateType, NumericType, TimestampType

    if isinstance(dtype, NumericType):
        return col.cast("double")
    if isinstance(dtype, TimestampType):
        return col.cast("double")  # seconds since epoch
    if isinstance(dtype, DateType):
        return col.cast("timestamp").cast("double")
    raise ValueError(f"z-order unsupported for column type {dtype}")


def cluster_zorder(
    df: DataFrame, cols: list[str], nparts: int | None = None, bits: int = 8
) -> DataFrame:
    """Z-ORDER (Morton-curve) clustering: return ``df`` repartitioned by
    range of the interleaved-bit key of ``cols`` and sorted by it within
    partitions, the key itself dropped.  Write the result with
    ``cluster="asis"`` (or pass the column list to ``compact_partition``)
    and every output file covers a small HYPER-RECTANGLE of the value
    space, so the fmt-2 per-file min/max stay tight on EVERY clustered
    column simultaneously — ``read(where=...)`` then skips files for
    predicates on any of them.  Single-column range clustering only
    achieves this for its one column; on a 100-TB table queried both
    by series key and by time, z-order is the layout that makes BOTH
    point lookups metadata-bounded.  This is Iceberg's
    ``rewrite_data_files(strategy => 'sort', sort_order => zorder(...))``
    re-expressed as a pure DataFrame transform (one bounded driver
    collect of 2·len(cols) scalars for the scaling bounds; the Morton
    key is built from JVM bit ops — no Python UDF, stays codegen'd).

    ``bits`` per-column resolution (default 8 → 256 buckets/column) is
    plenty to separate files: skipping happens at file granularity, so
    resolution beyond ~#files per partition buys nothing.  NULLs map to
    bucket 0 (lowest cell, mirroring NULLS FIRST)."""
    from pyspark.sql import functions as F

    if not cols or len(cols) * bits > 63:
        raise ValueError("need 1 ≤ len(cols) and len(cols)*bits ≤ 63")
    n = nparts or df.sparkSession.sparkContext.defaultParallelism
    aggs = []
    for i, c in enumerate(cols):
        cc = _z_orderable(F.col(c), df.schema[c].dataType)
        aggs += [F.min(cc).alias(f"lo{i}"), F.max(cc).alias(f"hi{i}")]
    b = df.agg(*aggs).collect()[0]
    top = (1 << bits) - 1
    k = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo = float(b[f"lo{i}"]) if b[f"lo{i}"] is not None else 0.0
        hi = float(b[f"hi{i}"]) if b[f"hi{i}"] is not None else 0.0
        span = (hi - lo) or 1.0
        cc = _z_orderable(F.col(c), df.schema[c].dataType)
        s = F.floor((cc - F.lit(lo)) / F.lit(span) * F.lit(float(top))).cast("long")
        s = F.coalesce(
            F.greatest(F.lit(0).cast("long"), F.least(s, F.lit(top).cast("long"))),
            F.lit(0).cast("long"),
        )
        for bpos in range(bits):
            bit = F.shiftright(s, bpos).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, bpos * k + i))
    return (
        df.withColumn("__z__", z)
        .repartitionByRange(max(1, n), "__z__")
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )


class _Heartbeat(threading.Thread):
    """Touches the lock token's mtime while the holder works, so a live
    holder is never mistaken for a dead one (lease renewal).

    Transient utime errors (EIO, an NFS hiccup) must NOT end renewal — a
    silently stopped heartbeat turns a live holder stale and lets a waiter
    steal mid-critical-section.  Renewal stops only after several
    consecutive FileNotFoundErrors (the token is really gone — stolen or
    released), and that is surfaced via ``lost`` so release can skip the
    unlink of a token that is no longer ours."""

    def __init__(self, path: str, interval: float):
        super().__init__(daemon=True)
        self._path, self._interval = path, interval
        self._stopped = threading.Event()
        self.lost = False

    def run(self):
        missing = 0
        while not self._stopped.wait(self._interval):
            try:
                os.utime(self._path)
                missing = 0
            except FileNotFoundError:
                missing += 1
                if missing >= 3:
                    self.lost = True
                    return
            except OSError:
                continue  # transient — keep renewing

    def stop(self):
        self._stopped.set()


class IceliteTable:
    LOCK_TIMEOUT_S = 20.0  # commits hold the lock for milliseconds
    # token lock lease: a token whose mtime is older than STALE is a dead
    # holder (heartbeat period ≪ staleness, the standard lease assumption)
    LOCK_STALE_S = 10.0
    LOCK_HEARTBEAT_S = 2.0
    # every Nth commit in the chain persists the full manifest; in between,
    # commits persist only their delta (Iceberg: manifest list + manifests)
    CHECKPOINT_EVERY = 64

    # per-file column statistics (snapshot fmt 2): min/max recorded for at
    # most this many columns per table (schema order), strings longer than
    # STATS_MAX_STR get no stat (parquet truncation bounds stay conservative
    # through the footer, but unbounded blobs would bloat the manifest)
    STATS_MAX_COLS = 16
    STATS_MAX_STR = 64

    def __init__(self, root: str, lock: str | None = None, stats_cols: list[str] | None = None):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        # which columns get per-file min/max in the manifest: None = auto
        # (every orderable primitive column, first STATS_MAX_COLS in schema
        # order).  Like Iceberg's write.metadata.metrics config, this is a
        # WRITER property; readers treat a missing stat as "never skip".
        self.stats_cols = stats_cols
        # commit-lock mode: "flock" (POSIX fast path), "token" (portable
        # O_EXCL lease — the only protocol an object store can emulate), or
        # "auto" (flock when the platform has it).  Per-catalog config: all
        # writers of one table must agree on the mode.
        self.lock_mode = lock or os.environ.get("ICELITE_LOCK", "auto")
        # one-entry resolution cache (sid, resolved manifest): a writer or
        # streaming sink advancing the chain resolves each new snapshot by
        # applying ONE delta to its parent's cached resolution
        self._mcache: tuple[str, dict] | None = None

    # ------------------------------------------------------------- metadata

    def _snapshot_path(self, sid: str) -> str:
        return os.path.join(self.meta_dir, f"snapshot-{sid}.json")

    def _gen_path(self, seq: int, branch: str = "main") -> str:
        # branch gen namespaces are disjoint from main's, so each branch
        # head has its own put-if-absent CAS chain
        tag = "" if branch == "main" else f"{branch}-"
        return os.path.join(self.meta_dir, f"gen-{tag}{seq:012d}")

    def _hint_path(self, branch: str = "main") -> str:
        return os.path.join(
            self.meta_dir, "current" if branch == "main" else f"current-{branch}"
        )

    def current_snapshot_id(self, branch: str = "main") -> str | None:
        """Resolve the live snapshot: read the `current` HINT, then probe
        generation files FORWARD until the first missing one.

        The generation file (`gen-<seq>`, created put-if-absent) is what
        DECIDES a commit — the hint is advisory and may lag by exactly one
        commit if a writer crashed between its gen-file CAS and the hint
        rewrite, so readers must probe past it.  Probing is O(1) amortized:
        the hint is rewritten on every successful commit, so the forward
        walk is almost always zero or one step."""
        cur = self._hint_path(branch)
        sid: str | None = None
        seq = 0
        try:
            with open(cur) as f:
                parts = f.read().split()
            if parts:
                sid = parts[0]
                # hint format "sid seq"; pre-CAS hints carried only the sid
                seq = int(parts[1]) if len(parts) > 1 else self._load_raw(sid).seq
        except FileNotFoundError:
            if branch != "main":
                raise KeyError(f"no branch {branch!r}") from None
        probe = seq + 1 if sid else 1
        while True:
            try:
                with open(self._gen_path(probe, branch)) as f:
                    nxt = f.read().strip()
            except FileNotFoundError:
                return sid
            if nxt:
                sid = nxt
            probe += 1

    def _load_raw(self, sid: str) -> Snapshot:
        """Load one snapshot JSON without resolving its manifest."""
        with open(self._snapshot_path(sid)) as f:
            d = json.load(f)
        # pre-delta metadata files carry neither delta/kind/seq — they are
        # full-manifest snapshots, i.e. checkpoints
        d.setdefault("delta", None)
        d.setdefault("kind", "checkpoint" if d.get("partitions") is not None else "delta")
        d.setdefault("seq", 1)
        d.setdefault("fmt", 1)  # pre-stats metadata: no per-file min/max
        d.setdefault("schema", None)  # pre-evolution metadata: files' own
        d.setdefault("partition_col", None)
        return Snapshot(**d)

    def _resolve(self, snap: Snapshot) -> Snapshot:
        """Fill ``snap.partitions`` with the full manifest: walk parents to
        the nearest checkpoint (or cache hit), fold deltas forward.  Cost is
        ≤ CHECKPOINT_EVERY JSON reads cold, one delta application when the
        parent's resolution is cached (the linear-chain hot path).

        Reads are lock-free, so a concurrent ``expire_snapshots`` can unlink
        an ancestor mid-walk (expire rewrites the oldest SURVIVOR as a
        checkpoint before unlinking, so the surviving chain is always
        resolvable — but a walk that loaded the boundary snapshot before
        that rewrite can chase a just-deleted parent).  A vanished ancestor
        therefore retries the walk: the re-read boundary file is now a
        checkpoint and the walk terminates there — the same
        retry-on-expired-metadata contract Iceberg readers follow.  Only if
        the TARGET snapshot itself was expired does the error propagate."""
        if snap.partitions is not None:
            self._mcache = (snap.snapshot_id, snap.partitions)
            return snap
        orig = snap  # callers (snapshots()) rely on in-place mutation
        for attempt in range(5):
            chain: list[Snapshot] = []
            s = snap
            base: dict | None = None
            try:
                while True:
                    if self._mcache is not None and self._mcache[0] == s.snapshot_id:
                        base = self._mcache[1]
                        break
                    if s.partitions is not None:
                        base = s.partitions
                        break
                    chain.append(s)
                    if s.parent_id is None:  # root is always a checkpoint; defensive
                        base = {}
                        break
                    s = self._load_raw(s.parent_id)
            except (FileNotFoundError, json.JSONDecodeError):
                # FileNotFoundError: a concurrent expire unlinked an ancestor
                # mid-walk.  JSONDecodeError: defensive — the survivor
                # rewrite is an atomic replace on POSIX, but an object-store
                # backend without atomic rename could still tear a read.
                if attempt == 4:
                    raise
                # re-read the whole chain from the target: the snapshot a
                # concurrent expire re-checkpointed now carries its full
                # manifest, so the next walk stops before the gap
                snap = self._load_raw(snap.snapshot_id)
                time.sleep(0.01 * attempt)
                continue
            for d in reversed(chain):
                base = _apply_delta(base, d.delta)
            orig.partitions = base
            self._mcache = (orig.snapshot_id, base)
            return orig

    def snapshot(self, sid: str | None = None, branch: str = "main") -> Snapshot | None:
        sid = sid or self.current_snapshot_id(branch)
        if sid is None:
            return None
        return self._resolve(self._load_raw(sid))

    def snapshot_as_of(self, ts: float) -> Snapshot | None:
        """Time travel by TIMESTAMP (Iceberg's ``FOR SYSTEM_TIME AS OF``):
        the newest snapshot committed at or before ``ts`` (epoch seconds).
        Walks the linear chain backward from the head via lineage-only
        loads — O(commits newer than ts), no manifest resolution until the
        target is found.  None if the table didn't exist yet at ``ts``."""
        sid = self.current_snapshot_id()
        while sid is not None:
            s = self._load_raw(sid)
            if s.committed_at <= ts:
                return self._resolve(s)
            sid = s.parent_id
        return None

    def snapshots(self) -> list[Snapshot]:
        """All snapshots, oldest first, each with its RESOLVED manifest —
        maintenance/introspection surface (O(#commits); the commit and read
        hot paths never call this)."""
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snapshot-"):
                sid = name[len("snapshot-"):-len(".json")]
                out.append(self._load_raw(sid))
        out.sort(key=lambda s: (s.seq, s.committed_at))
        # resolving in chain order makes each resolution hit the parent's
        # cache entry → one delta application per snapshot, and shallow
        # copy-on-write shares unchanged partition entries across snapshots
        for s in out:
            self._resolve(s)
        return out

    # ---------------------------------------------------------- refs (tags)

    def _tag_path(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(
                f"tag name {name!r} must match [A-Za-z0-9._-]+ (it names a file)"
            )
        return os.path.join(self.meta_dir, f"tag-{name}.json")

    def create_tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Create an immutable named ref to a snapshot (Iceberg's tags —
        the release-pinning surface: tag the exact corpus snapshot a model
        trained on and it stays readable verbatim, because
        ``expire_snapshots`` never GCs a tagged snapshot or its files).
        Defaults to the current head.  Put-if-absent (O_EXCL): a name can
        never be silently repointed — remove and re-create to move it."""
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        self._load_raw(sid)  # must exist and be readable
        path = self._tag_path(name)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {"name": name, "snapshot_id": sid, "created_at": time.time()}, f
            )
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # atomic-with-content put-if-absent
        except FileExistsError:
            raise FileExistsError(
                f"tag {name!r} already exists (tags are immutable; "
                "remove_tag first to repoint)"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return sid

    def remove_tag(self, name: str) -> None:
        try:
            os.unlink(self._tag_path(name))
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r}") from None

    def tags(self) -> dict:
        """{name: {"snapshot_id", "created_at"}} for every tag."""
        out = {}
        if not os.path.isdir(self.meta_dir):
            return out
        for fn in sorted(os.listdir(self.meta_dir)):
            if fn.startswith("tag-") and fn.endswith(".json") and ".tmp." not in fn:
                try:
                    with open(os.path.join(self.meta_dir, fn)) as f:
                        d = json.load(f)
                    out[d["name"]] = {
                        "snapshot_id": d["snapshot_id"],
                        "created_at": d["created_at"],
                    }
                except (OSError, json.JSONDecodeError, KeyError):
                    continue  # torn legacy tmp or concurrent removal
        return out

    def resolve_ref(self, name: str) -> str:
        """Resolve a named ref — a tag first, then a branch head (one
        namespace, like Iceberg's refs)."""
        try:
            with open(self._tag_path(name)) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            pass
        try:
            sid = self.current_snapshot_id(name)
        except KeyError:
            raise KeyError(f"no tag or branch {name!r}") from None
        if sid is None:
            raise KeyError(f"branch {name!r} has no head")
        return sid

    # ------------------------------------------------------------ branches

    def create_branch(self, name: str, from_snapshot_id: str | None = None) -> str:
        """Create a writable BRANCH (Iceberg's branches) forked from a
        snapshot (default: current main head).  Branch commits go through
        the same optimistic gen-file CAS as main, in a branch-scoped
        generation namespace, so main is completely unaffected until
        ``fast_forward`` publishes — the write-audit-publish pattern:
        stage a corpus drop on a branch, run QC against ``read(branch=)``,
        publish atomically (or ``drop_branch`` to discard)."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"invalid branch name {name!r}")
        sid = from_snapshot_id or self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        fork = self._load_raw(sid)
        path = self._hint_path(name)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(f"{fork.snapshot_id} {fork.seq}")
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # put-if-absent: no silent re-fork
        except FileExistsError:
            raise FileExistsError(f"branch {name!r} already exists") from None
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return fork.snapshot_id

    def branches(self) -> dict:
        """{name: head snapshot_id} for every branch (main excluded)."""
        out = {}
        if not os.path.isdir(self.meta_dir):
            return out
        for fn in sorted(os.listdir(self.meta_dir)):
            if fn.startswith("current-") and ".tmp." not in fn:
                name = fn[len("current-"):]
                try:
                    out[name] = self.current_snapshot_id(name)
                except (KeyError, OSError):
                    continue
        return out

    def drop_branch(self, name: str) -> None:
        """Discard a branch: its head hint and branch-scoped generation
        files go away; its snapshots' files become unreferenced and are
        reaped by the next ``expire_snapshots``."""
        try:
            os.unlink(self._hint_path(name))
        except FileNotFoundError:
            raise KeyError(f"no branch {name!r}") from None
        prefix = f"gen-{name}-"
        for fn in os.listdir(self.meta_dir):
            if fn.startswith(prefix):
                try:
                    os.unlink(os.path.join(self.meta_dir, fn))
                except FileNotFoundError:
                    pass

    def fast_forward(self, name: str) -> Snapshot:
        """PUBLISH a branch: advance main to the branch head, valid only
        when main is an ancestor of it (i.e. main has not moved since the
        fork) — Iceberg's fast-forward.  Publication is the branch's
        commits' generation files hard-linked into MAIN's namespace oldest
        first: the first link is the same put-if-absent CAS every commit
        uses, so a concurrent main commit makes it fail (CommitConflict)
        and NOTHING is published out of order; a crash mid-publish leaves
        main at a prefix of the branch — every published state is a real
        branch state — and re-running fast_forward resumes idempotently
        (gens already carrying our sid are skipped)."""
        head_sid = self.current_snapshot_id(name)
        main_sid = self.current_snapshot_id()
        if head_sid == main_sid:
            return self.snapshot()
        # main must be an ancestor of the branch head
        chain = []
        s = self._load_raw(head_sid)
        while s.snapshot_id != main_sid:
            chain.append(s)
            if s.parent_id is None:
                raise CommitConflict(
                    f"cannot fast-forward {name!r}: main ({main_sid}) moved "
                    "since the fork (not an ancestor of the branch head)"
                )
            s = self._load_raw(s.parent_id)
        for snap in reversed(chain):
            gtmp = os.path.join(self.meta_dir, f".ffgen.{snap.snapshot_id}")
            with open(gtmp, "w") as f:
                f.write(snap.snapshot_id)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(gtmp, self._gen_path(snap.seq))
            except FileExistsError:
                with open(self._gen_path(snap.seq)) as f:
                    existing = f.read().strip()
                if existing != snap.snapshot_id:
                    raise CommitConflict(
                        f"cannot fast-forward {name!r}: a concurrent main "
                        f"commit took generation {snap.seq}"
                    )
                # already published (resumed fast-forward) — continue
            finally:
                try:
                    os.unlink(gtmp)
                except FileNotFoundError:
                    pass
            tmp = os.path.join(self.meta_dir, f".current.{snap.snapshot_id}")
            with open(tmp, "w") as f:
                f.write(f"{snap.snapshot_id} {snap.seq}")
            os.replace(tmp, self._hint_path())
        return self.snapshot()

    # ------------------------------------------------------------- rollback

    def rollback_to(
        self, snapshot_id: str | None = None, *, as_of: float | None = None
    ) -> Snapshot:
        """Roll the table back to an earlier snapshot (Iceberg's
        ``rollback_to_snapshot`` / ``rollback_to_timestamp``): commits a NEW
        head whose resolved manifest is exactly the target's — history is
        PRESERVED (time travel to the pre-rollback head still works until
        ``expire_snapshots`` ages it out), and the commit goes through the
        same gen-file CAS as every other writer, so a concurrent append
        either lands before the rollback (and is rolled back) or conflicts
        and retries on top of it — never silently lost.

        Matches Iceberg's semantics deliberately:

        * the table SCHEMA stays at the current head's (schema is table
          metadata, not data lineage); the rollback snapshot's pinned
          schema NULL-backfills columns the target's files predate.
        * for incremental append scans / the streaming source, a rollback
          is a replace-class commit (its delta mode is ``reset``) —
          ``on_replace='error'`` raises on it, ``'skip'`` passes over it,
          exactly like overwrite/compaction.
        * per-file birth seqs (``fseq``) and pending equality deletes are
          restored verbatim, so merge-on-read masking after a rollback is
          identical to reading the target directly.

        The target must still be in the retained chain —
        ``expire_snapshots`` GC makes older states unreachable (their data
        files are gone), and this raises ``FileNotFoundError`` for them.
        Rolling back to the current head is an idempotent no-op."""
        target = (
            self.snapshot_as_of(as_of) if as_of is not None else self.snapshot(snapshot_id)
        )
        if target is None:
            raise ValueError("rollback target snapshot not found")
        cur = self.current_snapshot_id()
        if cur == target.snapshot_id:
            return target
        return self._commit_delta(
            "rollback",
            "reset",
            dict(target.partitions),
            {"rollback_to": target.snapshot_id, "rollback_from": cur},
            partition_col=target.partition_col,
        )

    # ------------------------------------------------------- metadata tables

    _META_KINDS = ("snapshots", "files", "partitions", "tags")

    def _meta_schema(self, kind: str):
        """Spark schema of one metadata table (shared by the DataFrame
        methods below and the data source's ``metadata`` option)."""
        from pyspark.sql import types as T

        if kind == "snapshots":
            return T.StructType(
                [
                    T.StructField("seq", T.LongType(), False),
                    T.StructField("snapshot_id", T.StringType(), False),
                    T.StructField("parent_id", T.StringType(), True),
                    T.StructField("operation", T.StringType(), False),
                    T.StructField("kind", T.StringType(), False),
                    T.StructField("fmt", T.LongType(), False),
                    T.StructField("committed_at", T.DoubleType(), False),
                    T.StructField("is_current", T.BooleanType(), False),
                    T.StructField("partitions", T.LongType(), False),
                    T.StructField("data_files", T.LongType(), False),
                    T.StructField("delete_files", T.LongType(), False),
                    T.StructField("rows", T.LongType(), False),
                    T.StructField("lineage", T.StringType(), True),
                ]
            )
        if kind == "files":
            return T.StructType(
                [
                    T.StructField("partition", T.StringType(), False),
                    T.StructField("path", T.StringType(), False),
                    T.StructField("content", T.StringType(), False),
                    T.StructField("birth_seq", T.LongType(), False),
                    T.StructField("size_bytes", T.LongType(), True),
                    T.StructField("row_count", T.LongType(), True),
                    T.StructField("stats", T.StringType(), True),
                ]
            )
        if kind == "tags":
            return T.StructType(
                [
                    T.StructField("name", T.StringType(), False),
                    T.StructField("snapshot_id", T.StringType(), False),
                    T.StructField("created_at", T.DoubleType(), False),
                ]
            )
        if kind == "partitions":
            return T.StructType(
                [
                    T.StructField("partition", T.StringType(), False),
                    T.StructField("data_files", T.LongType(), False),
                    T.StructField("delete_files", T.LongType(), False),
                    T.StructField("rows", T.LongType(), False),
                    T.StructField("size_bytes", T.LongType(), True),
                ]
            )
        raise ValueError(f"unknown metadata table {kind!r}; one of {self._META_KINDS}")

    def _abs(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.root, p)

    def _meta_rows(self, kind: str, snapshot_id: str | None = None) -> list[tuple]:
        """Rows of one metadata table — plain tuples matching
        ``_meta_schema(kind)``.  All three are driver-side walks of the tiny
        JSON metadata (Iceberg's metadata tables likewise read manifests,
        not data); ``files`` additionally stats each file and reads parquet
        footers for row counts — metadata-only I/O, threadpooled like the
        writer's stats pass."""
        if kind == "snapshots":
            cur = self.current_snapshot_id()
            out = []
            for s in self.snapshots():
                files = sum(len(m["files"]) for m in s.partitions.values())
                dels = sum(len(m.get("deletes") or ()) for m in s.partitions.values())
                rows = sum(int(m["rows"]) for m in s.partitions.values())
                out.append(
                    (
                        int(s.seq),
                        s.snapshot_id,
                        s.parent_id,
                        s.operation,
                        s.kind,
                        int(s.fmt),
                        float(s.committed_at),
                        s.snapshot_id == cur,
                        len(s.partitions),
                        files,
                        dels,
                        rows,
                        json.dumps(s.lineage, sort_keys=True, default=str)
                        if s.lineage
                        else None,
                    )
                )
            return out

        if kind == "tags":
            return [
                (name, t["snapshot_id"], float(t["created_at"]))
                for name, t in self.tags().items()
            ]
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        if kind == "partitions":
            out = []
            for value in sorted(snap.partitions):
                m = snap.partitions[value]
                size = 0
                for f in m["files"]:
                    try:
                        size += os.stat(self._abs(f)).st_size
                    except OSError:
                        size = None
                        break
                out.append(
                    (
                        value,
                        len(m["files"]),
                        len(m.get("deletes") or ()),
                        int(m["rows"]),
                        size,
                    )
                )
            return out

        if kind == "files":
            from concurrent.futures import ThreadPoolExecutor

            entries = []  # (partition, path, content, birth_seq, stats)
            for value in sorted(snap.partitions):
                m = snap.partitions[value]
                fseq = m.get("fseq") or [0] * len(m["files"])
                stats = m.get("stats") or [None] * len(m["files"])
                for f, bs, st in zip(m["files"], fseq, stats):
                    entries.append((value, f, "data", int(bs), st))
                for d in m.get("deletes") or ():
                    entries.append((value, d["file"], "eq_delete", int(d.get("seq") or 0), None))

            def probe(path):
                try:
                    import pyarrow.parquet as pq

                    ap = self._abs(path)
                    return os.stat(ap).st_size, pq.ParquetFile(ap).metadata.num_rows
                except OSError:
                    return None, None

            with ThreadPoolExecutor(max_workers=16) as ex:
                probed = list(ex.map(probe, [e[1] for e in entries]))
            return [
                (
                    value,
                    f,
                    content,
                    bs,
                    size,
                    rows,
                    json.dumps(st, sort_keys=True, default=str) if st else None,
                )
                for (value, f, content, bs, st), (size, rows) in zip(entries, probed)
            ]
        raise ValueError(f"unknown metadata table {kind!r}; one of {self._META_KINDS}")

    def _meta_df(self, spark: SparkSession, kind: str, snapshot_id: str | None = None):
        return spark.createDataFrame(
            self._meta_rows(kind, snapshot_id), self._meta_schema(kind)
        )

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The ``snapshots`` metadata table (Iceberg's ``tbl.snapshots`` /
        ``tbl.history``): one row per retained commit, oldest first, with
        per-snapshot resolved totals and the current-head flag."""
        return self._meta_df(spark, "snapshots")

    def files_df(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """The ``files`` metadata table (Iceberg's ``tbl.files``): one row
        per live data/equality-delete file of a snapshot, with its
        partition value, birth commit seq, size, footer row count, and the
        recorded min/max column stats as JSON."""
        return self._meta_df(spark, "files", snapshot_id)

    def partitions_df(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """The ``partitions`` metadata table (Iceberg's ``tbl.partitions``):
        per-partition file/row/byte totals of a snapshot."""
        return self._meta_df(spark, "partitions", snapshot_id)

    # --------------------------------------------------------------- locking

    def _lock_path(self) -> str:
        return os.path.join(self.meta_dir, ".commit.lock")

    def _token_path(self) -> str:
        return os.path.join(self.meta_dir, ".commit.token")

    def _acquire_lock(self):
        """Commit mutual exclusion.  Two implementations behind one handle:

        * ``flock`` (POSIX fast path): flock(2) on a persistent lock file.
          The lock is tied to the holder's open file description, so the
          kernel releases it the instant the holder exits or crashes —
          no stale-lock state, no reclamation heuristic, and none of the
          stat/rename TOCTOU races a presence-based lock navigates.  The
          lock FILE is never unlinked: unlink-on-release would let a later
          opener lock a fresh inode while an earlier waiter still holds the
          old one — two "holders" at once.

        * ``token`` (portable default where flock doesn't exist — object
          stores, NFS without lockd): an O_EXCL-created token file holding
          the owner id, kept fresh by a heartbeat thread renewing its mtime
          (a lease).  A token not renewed for LOCK_STALE_S marks a dead
          holder; stealing is an atomic ``rename`` of the stale token to a
          grave name — exactly one stealer wins the rename, and the winner
          STILL has to win the ordinary O_EXCL create, so a fresh token
          re-created in the stat→rename window is renamed away at worst,
          never adopted.  This is the conditional-put/lease protocol an
          object-store catalog (S3 If-None-Match, GCS x-goog-if-generation)
          implements natively; the filesystem emulation assumes
          heartbeat ≪ staleness, the standard lease assumption.

        A real deployment replaces either with the catalog's atomic
        compare-and-swap (Iceberg REST / Hive lock / DynamoDB conditional
        put); these are the single-host emulations of that service.
        """
        mode = self.lock_mode
        if mode == "auto":
            mode = "flock" if fcntl is not None else "token"
        if mode == "flock":
            if fcntl is None:
                raise RuntimeError("lock='flock' requested but fcntl is unavailable")
            return ("flock", self._acquire_flock())
        if mode == "token":
            return self._acquire_token()
        if mode == "none":
            # commits are already serialized by the gen-file put-if-absent
            # CAS (see _commit); "none" is the honest object-store mode when
            # no lease service exists — contended writers just pay wasted
            # snapshot writes, and expire_snapshots must be run from a
            # single maintenance owner by deployment convention
            return ("none",)
        raise ValueError(f"unknown lock mode {mode!r}")

    def _acquire_flock(self) -> int:
        os.makedirs(self.meta_dir, exist_ok=True)
        fd = os.open(self._lock_path(), os.O_CREAT | os.O_RDWR)
        deadline = time.monotonic() + self.LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except OSError:
                if time.monotonic() > deadline:
                    os.close(fd)
                    raise TimeoutError(f"commit lock busy: {self._lock_path()}")
                time.sleep(0.005)

    def _acquire_token(self):
        os.makedirs(self.meta_dir, exist_ok=True)
        token = self._token_path()
        owner = uuid.uuid4().hex
        payload = json.dumps({"owner": owner, "pid": os.getpid()})
        deadline = time.monotonic() + self.LOCK_TIMEOUT_S
        while True:
            try:
                fd = os.open(token, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    f.write(payload)
                # read-back validation: a stealer acting on STALE stat data
                # could have renamed our fresh token away in the create
                # window (it restores it — see below — but our write may
                # have landed between its rename and restore).  Confirm the
                # token at the path is OURS before claiming the lock.
                try:
                    with open(token) as f:
                        mine = json.load(f).get("owner") == owner
                except (OSError, json.JSONDecodeError):
                    mine = False
                if not mine:
                    continue
                hb = _Heartbeat(token, self.LOCK_HEARTBEAT_S)
                hb.start()
                return ("token", token, owner, hb)
            except FileExistsError:
                try:
                    observed = os.stat(token)
                except FileNotFoundError:
                    continue  # released between attempts — retry the create
                if time.time() - observed.st_mtime > self.LOCK_STALE_S:
                    # dead holder — steal with an IDENTITY-verified rename.
                    # The grave name is derived from the observed inode, so
                    # every stealer that statted the same stale token
                    # targets the same grave: exactly one rename succeeds,
                    # the losers see FileNotFoundError and rejoin the race.
                    # If the winner already recreated a FRESH token before a
                    # loser's rename lands, the loser would rename a LIVE
                    # lock away — so after the rename, the inode is checked
                    # against what was statted and a mismatched (fresh)
                    # token is renamed straight back.  A real object store
                    # closes this class with a conditional delete (S3
                    # If-Match / GCS if-generation-match); the restore +
                    # the acquirer's read-back validation above are the
                    # filesystem emulation of that conditional.
                    grave = token + f".stale.{observed.st_ino}"
                    try:
                        os.rename(token, grave)
                    except OSError:  # incl. FileNotFoundError (lost the race)
                        continue
                    try:
                        if os.stat(grave).st_ino != observed.st_ino:
                            os.rename(grave, token)  # live token — restore
                            continue
                    except FileNotFoundError:
                        continue
                    try:
                        os.unlink(grave)
                    except FileNotFoundError:
                        pass
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit token busy: {token}")
                time.sleep(0.005)

    def _lock_still_owned(self, handle) -> bool:
        """True if this process still owns the exclusion the handle claims.
        flock: the kernel guarantees it while the fd is open.  token: the
        lease can have been stolen (staleness misjudged, or the documented
        steal/restore race) — re-read the token and compare owners.
        "none": the caller opted out of exclusion; nothing to verify."""
        if handle[0] != "token":
            return True
        _, token, owner, hb = handle
        if hb.lost:
            return False
        try:
            with open(token) as f:
                return json.load(f).get("owner") == owner
        except (OSError, json.JSONDecodeError):
            return False

    def _release_lock(self, handle) -> None:
        if handle[0] == "none":
            return
        if handle[0] == "flock":
            fd = handle[1]
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
            return
        _, token, owner, hb = handle
        hb.stop()
        if hb.lost:
            return  # renewal saw the token gone repeatedly — nothing ours left
        # unlink only our own token.  The read→unlink window is unsafe only
        # if this holder ALREADY went stale (≥ LOCK_STALE_S of missed
        # heartbeats while alive) and was stolen+recreated in between — the
        # same assumption every lease breaks under; an object-store catalog
        # closes it with a conditional delete (S3 If-Match).
        try:
            with open(token) as f:
                mine = json.load(f).get("owner") == owner
        except (OSError, json.JSONDecodeError):
            return  # stolen or torn — nothing of ours left to release
        if mine:
            try:
                os.unlink(token)
            except FileNotFoundError:
                pass

    # --------------------------------------------------------------- commit

    def _next_snapshot(
        self,
        prev: Snapshot | None,
        operation: str,
        mode: str,
        parts: dict,
        lineage: dict | None,
        schema: dict | None = None,
        partition_col: str | None = None,
    ) -> Snapshot:
        """Build the child snapshot of ``prev`` for a commit that changed
        ``parts``: a checkpoint at the cadence boundary (full manifest),
        otherwise a delta carrying only the changed partitions.  ``schema``
        is the evolved table schema for this commit (None = inherit)."""
        seq = (prev.seq + 1) if prev else 1
        delta = {
            "mode": mode,
            "parts": _stamp_seq(parts, prev.partitions if prev else None, mode, seq),
        }
        resolved = _apply_delta(prev.partitions if prev else {}, delta)
        kind = "checkpoint" if (prev is None or seq % self.CHECKPOINT_EVERY == 0) else "delta"
        fmt = 3 if any(m.get("deletes") or "fseq" in m for m in resolved.values()) else 2
        return Snapshot(
            snapshot_id=uuid.uuid4().hex[:16],
            parent_id=prev.snapshot_id if prev else None,
            operation=operation,
            partitions=resolved,
            delta=delta,
            kind=kind,
            seq=seq,
            fmt=fmt,
            lineage=lineage or {},
            schema=schema if schema is not None else (prev.schema if prev else None),
            partition_col=(
                partition_col
                if partition_col is not None
                else (prev.partition_col if prev else None)
            ),
        )

    TORN_GEN_STALENESS = 5.0  # seconds before an empty gen file is reclaimable

    def _reclaim_torn_gen(self, seq: int, branch: str = "main") -> bool:
        """True if gen-<seq> was a torn publish (EMPTY — possible only from
        a pre-link-protocol crash between create and write) older than the
        staleness bound, now unlinked so the caller may retry its CAS.
        A non-empty gen file is a real committed generation: never touched."""
        path = self._gen_path(seq, branch)
        try:
            st = os.stat(path)
            if st.st_size > 0 or (time.time() - st.st_mtime) < self.TORN_GEN_STALENESS:
                return False
            os.unlink(path)
            return True
        except (FileNotFoundError, OSError):
            return False

    def _drop_commit_tmp(self, gtmp: str, snap: Snapshot) -> None:
        """Lost the generation race: our snapshot JSON was never referenced —
        remove it and the tmp so retries don't accumulate orphans."""
        for p in (gtmp, self._snapshot_path(snap.snapshot_id)):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass

    def _commit(
        self, snap: Snapshot, expected_parent: str | None, branch: str = "main"
    ) -> Snapshot:
        """Optimistic-concurrency commit.  What DECIDES the commit is a
        PUT-IF-ABSENT of the generation file `gen-<seq>` (atomic hard-link
        publish: link(2) fails EEXIST exactly like O_EXCL, but the visible
        file is complete-with-content — the Delta-Lake/S3-If-None-Match
        protocol): two writers deriving
        children of the same parent compute the same seq, exactly one
        O_EXCL create succeeds, the loser gets CommitConflict and retries
        metadata-only.  This is atomic on any store with a conditional
        put, so commit CORRECTNESS does not depend on the commit lock at
        all — the lock (flock / token lease / "none") is a contention
        optimization that avoids wasted snapshot writes, plus the
        serialization expire_snapshots needs; even if a lease misbehaves
        and two holders slip through, the gen-file CAS still serializes
        them correctly (one conflicts, none is lost).

        Ordering: snapshot JSON first, then the gen CAS, then the `current`
        hint rewrite — a crash after the CAS leaves the commit durable
        (readers probe generations past the hint), a crash before it leaves
        an unreferenced orphan JSON."""
        os.makedirs(self.meta_dir, exist_ok=True)  # lock="none" has no acquire-side mkdir
        fd = self._acquire_lock()
        try:
            if self.current_snapshot_id(branch) != expected_parent:
                raise CommitConflict(
                    f"expected parent {expected_parent!r}, found "
                    f"{self.current_snapshot_id(branch)!r}"
                )
            snap.committed_at = time.time()
            with open(self._snapshot_path(snap.snapshot_id), "w") as f:
                json.dump(snap.to_json(), f, indent=2, default=str)
            # Publish the generation file ATOMICALLY WITH ITS CONTENT: write
            # the sid to a private tmp, then hard-link it to gen-<seq> —
            # link(2) fails with EEXIST exactly like O_EXCL, but the file
            # that becomes visible is always complete.  The previous
            # create-then-write left a window (crash / ENOSPC between the
            # two) that published an EMPTY gen file with no reclamation
            # path: every later writer derived the same seq, hit
            # FileExistsError forever, and the table was write-wedged —
            # while a torn sid crashed readers in _load_raw.
            gtmp = os.path.join(self.meta_dir, f".gen.{snap.snapshot_id}")
            with open(gtmp, "w") as f:
                f.write(snap.snapshot_id)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(gtmp, self._gen_path(snap.seq, branch))
            except FileExistsError:
                # lost the generation race — UNLESS the existing file is a
                # legacy torn/empty publish (pre-link-era crash): those are
                # unreadable garbage nobody references, so reclaim after a
                # staleness bound instead of wedging the table forever.
                if self._reclaim_torn_gen(snap.seq, branch):
                    try:
                        os.link(gtmp, self._gen_path(snap.seq, branch))
                    except (FileExistsError, OSError):
                        self._drop_commit_tmp(gtmp, snap)
                        raise CommitConflict(
                            f"generation {snap.seq} already committed by another writer"
                        )
                else:
                    self._drop_commit_tmp(gtmp, snap)
                    raise CommitConflict(
                        f"generation {snap.seq} already committed by another writer"
                    )
            finally:
                try:
                    os.unlink(gtmp)
                except FileNotFoundError:
                    pass
            tmp = os.path.join(self.meta_dir, f".current.{snap.snapshot_id}")
            with open(tmp, "w") as f:
                f.write(f"{snap.snapshot_id} {snap.seq}")
            os.replace(tmp, self._hint_path(branch))  # hint flip
            self._mcache = (snap.snapshot_id, snap.partitions)
            return snap
        finally:
            self._release_lock(fd)

    def _commit_delta(
        self,
        operation: str,
        mode: str,
        parts: dict,
        lineage: dict | None,
        data_fields: list[dict] | None = None,
        partition_col: str | None = None,
        branch: str = "main",
    ) -> Snapshot:
        """Shared optimistic-retry loop for append/overwrite: derive a child
        of the current head, CAS-commit, re-derive on a lost race.  Lost
        races back off with a per-process stagger — under lock="none" the
        gen-file CAS is the only serializer, and hot-spinning contenders
        can otherwise starve one writer for many consecutive rounds.

        ``data_fields`` (StructType.jsonValue()["fields"] of the written
        data columns) evolves the table schema; the merge runs INSIDE the
        retry loop against each freshly-read head, so a concurrent writer's
        add-column is honored rather than clobbered."""
        for attempt in range(50):
            prev = self.snapshot(branch=branch)
            schema = (
                _evolve_schema(prev.schema if prev else None, data_fields, operation)
                if data_fields is not None
                else None
            )
            try:
                return self._commit(
                    self._next_snapshot(
                        prev, operation, mode, parts, lineage, schema, partition_col
                    ),
                    expected_parent=prev.snapshot_id if prev else None,
                    branch=branch,
                )
            except CommitConflict:
                time.sleep(min(0.002 * attempt, 0.05) + (os.getpid() % 16) * 0.0004)
                continue
        raise CommitConflict(f"{operation} lost 50 consecutive commit races")

    # ------------------------------------------------------------- write

    def _resolve_stats_cols(self, pf) -> list[str]:
        """The columns this writer records per-file min/max for: explicit
        ``stats_cols`` if configured, else auto (orderable primitives in
        schema order, capped)."""
        if self.stats_cols is not None:
            return list(self.stats_cols)
        return _auto_stats_cols(pf, self.STATS_MAX_COLS)

    def _precheck_schema(self, df: DataFrame, partition_col: str | None, op: str) -> list[dict]:
        """Fail an incompatible write BEFORE the (expensive) Spark file
        write; the authoritative merge re-runs inside _commit_delta's retry
        loop against each freshly-read head."""
        fields = _data_fields(df, partition_col)
        self._check_partition_spec(partition_col, op)
        prev = self.snapshot()
        _evolve_schema(prev.schema if prev else None, fields, op)
        return fields

    def _check_partition_spec(self, partition_col: str | None, op: str) -> None:
        """Partition-SPEC guard: mixing partition columns would merge
        incompatible key spaces into one manifest (read(partitions=) and
        partition-predicate routing would silently return wrong subsets).
        Partition evolution needs an explicit full rewrite (overwrite of
        every partition under the new column).  Factored out of
        _precheck_schema so the Spark data-source writer faces — which
        hold a StructType, not a DataFrame — run the same guard before
        _commit_delta (r6 ADVICE: a df.write.format("icelite") without
        partition_col into a day-partitioned table used to commit
        '__all__' beside real keys)."""
        prev = self.snapshot()
        if prev is not None:
            prev_unpart = (
                prev.partition_col is None and set(prev.partitions) == {"__all__"}
            )
            mismatch = (
                # different partition columns
                (
                    prev.partition_col is not None
                    and partition_col is not None
                    and partition_col != prev.partition_col
                )
                # provably-unpartitioned table vs a partitioned write
                or (prev_unpart and partition_col is not None)
                # partitioned table vs an unpartitioned write ("__all__"
                # would land beside the real keys); legacy metadata with
                # partition_col=None but real keys gets the same guard
                or (not prev_unpart and prev.partitions and partition_col is None)
            )
            if mismatch:
                raise ValueError(
                    f"table is partitioned by {prev.partition_col!r}; {op} "
                    f"with partition_col={partition_col!r} would mix "
                    "partition key spaces — rewrite the table to change "
                    "partitioning"
                )

    def _note_write(self, t_start: float, t_written: float, n_files: int) -> None:
        """Record the last commit's write breakdown in ``last_write_timings``."""
        self.last_write_timings = {
            "write_s": round(t_written - t_start, 2),
            "manifest_s": round(time.time() - t_written, 2),
            "n_files": n_files,
        }

    def _write_partition_files(
        self, df: DataFrame, partition_col: str | None, cluster: str = "roundrobin"
    ) -> dict:
        """Write data files for this commit into a unique subdir and return
        the partition manifest {value: {files, rows}}.  Records a timing
        breakdown in ``self.last_write_timings`` (spark write vs driver-side
        footer/manifest work) for the scaling harness."""
        if cluster == "direct":
            return self._write_partition_files_direct(df, partition_col)
        t_start = time.time()
        commit_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex[:12]}")
        if partition_col is None:
            df.write.mode("overwrite").parquet(commit_dir)
            t_written = time.time()
            import pyarrow.parquet as pq

            paths = [
                os.path.join(commit_dir, name)
                for name in os.listdir(commit_dir)
                if name.endswith(".parquet")
            ]
            # row counts AND per-file column min/max from the parquet
            # FOOTERS just written — metadata-only reads, no second Spark
            # scan of fresh data (the partitioned path below already proved
            # footers suffice)
            pfs = [pq.ParquetFile(p) for p in paths]
            scols = self._resolve_stats_cols(pfs[0]) if pfs else []
            rows = int(sum(pf.metadata.num_rows for pf in pfs))
            files = [os.path.relpath(p, self.root) for p in paths]
            stats = [_file_stats(pf, scols, self.STATS_MAX_STR) for pf in pfs]
            self._note_write(t_start, t_written, len(paths))
            return {"__all__": {"files": files, "rows": rows, "stats": stats}}
        # write clustering tradeoff:
        #   asis — NO extra exchange: write straight from the caller's
        #     partitioning (the co-partitioned tier plan arrives hash-
        #     clustered on conv_id with full parallelism — re-shuffling a
        #     36M-row tier just to pick writers was the single biggest
        #     avoidable data movement in the rollup phase).
        #   roundrobin — every core writes concurrently regardless of how few
        #     partition values exist (day-clustering caps writers at #days and
        #     hash collisions cut that further); cost: tasks×partitions files.
        #   bypart — one file per partition value; right for SMALL commits
        #     (1h/1d) whose readers would otherwise face a tiny-file storm.
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if cluster == "bypart":
            df = df.repartition(parallelism, partition_col)
        elif cluster == "roundrobin":
            df = df.repartition(parallelism)
        (
            df.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(commit_dir)
        )
        t_written = time.time()
        # per-partition row counts from the parquet FOOTERS just written —
        # metadata-only reads, no extra Spark job, and the manifest still
        # reflects exactly what landed on disk; footer reads are I/O-bound,
        # so a thread pool keeps the driver-side commit under a second even
        # for ~1000 files
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        part_files: dict[str, list[str]] = {}
        for entry in os.listdir(commit_dir):
            if "=" not in entry:
                continue
            # Spark escapes special chars (space, ':', '%', …) in partition
            # directory names; manifest keys carry the LOGICAL value so
            # read(partitions=[...]) / committed_partitions() match what the
            # caller wrote
            value = unquote(entry.split("=", 1)[1])
            pdir = os.path.join(commit_dir, entry)
            part_files[value] = [
                os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")
            ]
        all_files = [f for fs in part_files.values() for f in fs]
        scols_box: list[list[str] | None] = [None]
        scols_lock = threading.Lock()

        def footer(p):
            pf = pq.ParquetFile(p)
            with scols_lock:
                if scols_box[0] is None:
                    scols_box[0] = self._resolve_stats_cols(pf)
            return (
                pf.metadata.num_rows,
                _file_stats(pf, scols_box[0], self.STATS_MAX_STR),
            )

        with ThreadPoolExecutor(max_workers=16) as ex:
            meta = dict(zip(all_files, ex.map(footer, all_files)))
        manifest = {}
        for value, fs in part_files.items():
            manifest[value] = {
                # manifest paths are TABLE-ROOT-RELATIVE so a table directory
                # can be relocated wholesale
                "files": [os.path.relpath(f, self.root) for f in fs],
                "rows": int(sum(meta[f][0] for f in fs)),
                # per-file column min/max, aligned with `files` (fmt 2)
                "stats": [meta[f][1] for f in fs],
            }
        self._note_write(t_start, t_written, len(all_files))
        return manifest

    def _write_partition_files_direct(
        self, df: DataFrame, partition_col: str | None
    ) -> dict:
        """``cluster="direct"``: per-TASK Arrow writes straight into final
        parquet files, from the caller's partitioning (asis semantics, no
        exchange) — skipping Spark's ``_temporary``+rename file-commit
        protocol, which the gen-CAS manifest commit makes redundant
        (nothing is referenced until the manifest lands; an abandoned
        write's files are invisible orphans GC'd with their commit dir).
        Measured ~2× faster than the partitionBy path on pure writes
        (BENCH/storage_faces_r6.json — the data-source writer face uses
        the same strategy).  Like asis, file count = tasks × their local
        partition values; stats/row counts come from the same driver-side
        footer pass."""
        t_start = time.time()
        commit_rel = os.path.join("data", f"commit-{uuid.uuid4().hex[:12]}")
        cdir = os.path.join(self.root, commit_rel)
        os.makedirs(cdir, exist_ok=True)
        root = self.root
        pcol = partition_col

        def write_tasks(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            blist = list(batches)
            if not blist:
                return
            tbl = pa.Table.from_batches(blist)
            out_v, out_p, out_r = [], [], []

            def dump(value, part_tbl):
                if part_tbl.num_rows == 0:
                    return
                name = f"part-{uuid.uuid4().hex[:16]}.parquet"
                pq.write_table(part_tbl, os.path.join(root, commit_rel, name))
                out_v.append(value)
                out_p.append(os.path.join(commit_rel, name))
                out_r.append(part_tbl.num_rows)

            if pcol is None:
                dump("__all__", tbl)
            else:
                keys = pc.cast(tbl.column(pcol), pa.string())
                data = tbl.drop_columns([pcol])
                for value in pc.unique(keys).to_pylist():
                    if value is None:
                        raise ValueError(f"NULL {pcol} partition value")
                    dump(value, data.filter(pc.equal(keys, value)))
            yield pa.record_batch(
                [pa.array(out_v), pa.array(out_p), pa.array(out_r, pa.int64())],
                names=["value", "path", "rows"],
            )

        entries = df.mapInArrow(
            write_tasks, "value string, path string, rows long"
        ).collect()  # O(#files) tiny rows
        t_written = time.time()
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        scols_box: list[list[str] | None] = [None]
        scols_lock = threading.Lock()

        def footer(rel):
            pf = pq.ParquetFile(os.path.join(self.root, rel))
            with scols_lock:
                if scols_box[0] is None:
                    scols_box[0] = self._resolve_stats_cols(pf)
            return _file_stats(pf, scols_box[0], self.STATS_MAX_STR)

        with ThreadPoolExecutor(max_workers=16) as ex:
            stats = dict(zip([e.path for e in entries], ex.map(footer, [e.path for e in entries])))
        manifest: dict = {}
        for e in sorted(entries, key=lambda e: (e.value, e.path)):
            m = manifest.setdefault(e.value, {"files": [], "rows": 0, "stats": []})
            m["files"].append(e.path)
            m["rows"] += int(e.rows)
            m["stats"].append(stats[e.path])
        self._note_write(t_start, t_written, len(entries))
        return manifest

    def append(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        lineage: dict | None = None,
        cluster: str = "roundrobin",
        branch: str = "main",
    ) -> Snapshot:
        fields = self._precheck_schema(df, partition_col, "append")
        new = self._write_partition_files(df, partition_col, cluster)
        return self._commit_delta(
            "append", "append", new, lineage, fields, partition_col, branch
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        lineage: dict | None = None,
        cluster: str = "roundrobin",
        branch: str = "main",
    ) -> Snapshot:
        """Idempotent re-roll: replace exactly the partitions present in df
        (late-data handling — SURVEY.md §2 streaming notes)."""
        fields = self._precheck_schema(df, partition_col, "overwrite")
        new = self._write_partition_files(df, partition_col, cluster)
        return self._commit_delta(
            "overwrite", "replace", new, lineage, fields, partition_col, branch
        )

    def _write_delete_key_files(
        self, keys_df: DataFrame, key_cols: list[str], partition_col: str | None
    ) -> dict:
        """Write equality-delete KEY files — one small parquet per touched
        partition holding just the distinct key columns — and return
        ``{partition_value: [{"file": relpath, "rows": n}, ...]}``."""
        import pyarrow.parquet as pq

        dd = os.path.join(self.data_dir, f"deletes-{uuid.uuid4().hex[:12]}")
        if partition_col is None:
            keys_df.select(*key_cols).distinct().coalesce(1).write.mode(
                "overwrite"
            ).parquet(dd)
            kfs = [
                {
                    "file": os.path.relpath(p, self.root),
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                }
                for n in os.listdir(dd)
                if n.endswith(".parquet")
                for p in [os.path.join(dd, n)]
                if pq.ParquetFile(p).metadata.num_rows
            ]
            return {"__all__": kfs} if kfs else {}
        (
            keys_df.select(partition_col, *key_cols)
            .distinct()
            # hash on the partition col: each partition's keys land in ONE
            # task -> one key file per partition, however many partitions
            # one commit touches
            .repartition(partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(dd)
        )
        out: dict = {}
        for entry in os.listdir(dd):
            if "=" not in entry:
                continue
            value = unquote(entry.split("=", 1)[1])
            pdir = os.path.join(dd, entry)
            kfs = [
                {
                    "file": os.path.relpath(p, self.root),
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                }
                for n in os.listdir(pdir)
                if n.endswith(".parquet")
                for p in [os.path.join(pdir, n)]
                if pq.ParquetFile(p).metadata.num_rows
            ]
            if kfs:
                out[value] = kfs
        return out

    def upsert(
        self,
        df: DataFrame,
        key_cols: list[str],
        partition_col: str | None = None,
        lineage: dict | None = None,
        cluster: str = "roundrobin",
    ) -> Snapshot:
        """MERGE (latest-wins upsert), MERGE-ON-READ — the icelite analogue
        of Iceberg v2 equality deletes: one commit appends the batch's data
        files PLUS a tiny per-partition equality-delete key file
        (``distinct`` key columns of the batch).  A delete masks exactly the
        rows of OLDER files (file ``fseq`` < delete seq) whose keys match,
        so prior versions of the upserted keys disappear from reads while
        the batch's own rows — born at this commit's seq — survive.

        Why this shape at 100 TB: commit cost is O(batch) — no existing
        file is read, rewritten, or even listed, versus copy-on-write
        (``delete_where`` + ``append``) which rewrites every file that
        contains an updated key.  Readers pay one BROADCAST left-anti join
        per pending key-column set (key files are tiny next to data; no
        shuffle of the data side); ``compact_partition`` materializes the
        backlog and restores the zero-join fast path — schedule it off
        ``pending_deletes()``.  Replaying a batch is idempotent: the replay's
        delete masks the original copy and the re-appended rows take over.

        Scope: deletes are PARTITION-SCOPED (exactly Iceberg's
        partition-scoped delete files) — a key that MOVES partitions between
        batches is not retracted from its old partition; retract explicitly
        with ``delete_by_keys`` first.  Key columns must be non-null (an
        equality join never matches NULL keys, so NULL-keyed old rows would
        survive).  Time travel to pre-upsert snapshots still sees the old
        rows until ``expire_snapshots``."""
        keys_in_file = [k for k in key_cols if k != partition_col]
        if not keys_in_file:
            raise ValueError(
                "key_cols must include a non-partition column — to replace "
                "whole partitions use overwrite_partitions"
            )
        fields = self._precheck_schema(df, partition_col, "upsert")
        # the data-file and delete-key writes are independent Spark jobs
        # over the same immutable batch — submit them from two driver
        # threads so the key write back-fills executors freed by the data
        # write's tail instead of waiting for it (guide-standard job
        # overlap; Spark's scheduler is thread-safe)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fut_new = ex.submit(self._write_partition_files, df, partition_col, cluster)
            fut_keys = ex.submit(
                self._write_delete_key_files, df, keys_in_file, partition_col
            )
            new = fut_new.result()
            kman = fut_keys.result()
        parts = {}
        for value, m in new.items():
            entry = dict(m)
            entry["fseq"] = [None] * len(m["files"])  # born at the commit seq
            entry["deletes"] = [
                {"file": kf["file"], "keys": keys_in_file, "seq": None, "rows": kf["rows"]}
                for kf in kman.get(value, [])
            ]
            parts[value] = entry
        return self._commit_delta(
            "upsert", "append", parts, lineage, fields, partition_col
        )

    def delete_by_keys(
        self,
        keys_df: DataFrame,
        key_cols: list[str],
        lineage: dict | None = None,
    ) -> Snapshot | None:
        """Row-level DELETE by key, MERGE-ON-READ: commits only equality-
        delete key files — O(keys) metadata + key bytes, zero data-file
        I/O — where ``delete_where`` (copy-on-write) rewrites every file
        containing a match.  The right tool when the match set is a key
        list (purge these conv_ids / documents) rather than a predicate.

        If ``keys_df`` carries the table's partition column the deletes are
        scoped to those partitions; otherwise ONE shared key file is
        attached to every partition (delete-across-the-table, e.g. a
        conv_id purge over all days).  Matching rows vanish from reads
        immediately; physical reclamation happens at ``compact_partition``
        + ``expire_snapshots``.  Returns None when the table is empty or no
        keys were provided (nothing committed)."""
        snap = self.snapshot()
        if snap is None:
            return None
        pcol = snap.partition_col
        keys_in_file = [k for k in key_cols if k != pcol]
        if not keys_in_file:
            raise ValueError(
                "key_cols must include a non-partition column — to drop "
                "whole partitions use delete_where on the partition column"
            )
        scoped = pcol is not None and pcol in keys_df.columns
        kman = self._write_delete_key_files(
            keys_df, keys_in_file, pcol if scoped else None
        )
        if not scoped and "__all__" in kman and pcol is not None:
            kman = {v: kman["__all__"] for v in snap.partitions}
        parts = {}
        orphans: list[str] = []
        for value, kfs in kman.items():
            if value not in snap.partitions:
                orphans.extend(kf["file"] for kf in kfs)
                continue
            parts[value] = {
                "files": [],
                "rows": 0,
                "stats": [],
                "fseq": [],
                "deletes": [
                    {
                        "file": kf["file"],
                        "keys": keys_in_file,
                        "seq": None,
                        "rows": kf["rows"],
                    }
                    for kf in kfs
                ],
            }
        for f in set(orphans) - {
            kf["file"] for v in parts.values() for kf in v["deletes"]
        }:
            try:  # key files for partitions the table doesn't have
                os.unlink(f if os.path.isabs(f) else os.path.join(self.root, f))
            except FileNotFoundError:
                pass
        if not parts:
            return None
        return self._commit_delta(
            "delete",
            "append",
            parts,
            lineage or {"delete_by_keys": list(key_cols)},
        )

    def pending_deletes(self, snapshot_id: str | None = None) -> dict:
        """Per-partition equality-delete backlog:
        ``{value: {"files": n, "rows": n}}`` (rows = key rows, an upper
        bound on masked data rows).  Empty = no pending deletes; ``read``
        takes the zero-join fast path and ``rows()`` is exact.  Drives
        compaction scheduling — ``compact_partition`` materializes a
        partition's backlog and drops its entries."""
        snap = self.snapshot(snapshot_id)
        out: dict = {}
        if snap is None:
            return out
        for value, m in snap.partitions.items():
            dels = m.get("deletes") or []
            if dels:
                out[value] = {
                    "files": len(dels),
                    "rows": int(sum(d.get("rows", 0) for d in dels)),
                }
        return out

    # ------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        partitions: list[str] | None = None,
        where: dict | None = None,
        as_of: float | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read a snapshot (default: current), optionally pruned to given
        partition values — manifest-level partition pruning, so Spark never
        even lists the skipped files.

        ``where`` adds FILE-LEVEL skipping from the fmt-2 per-file column
        min/max (the icelite analogue of Iceberg's metrics-based scan
        planning): ``{col: ("=", v) | ("<"|"<="|">"|">=", v) |
        ("between", lo, hi) | ("in", [v, ...])}``.  A file is dropped only
        when its recorded range PROVABLY excludes the predicate; files or
        columns without stats are always read.  The same predicates are
        ALSO applied as Spark filters, so ``where`` has exact filter
        semantics with scan-planning acceleration — on a 100-TB table a
        point lookup (one conv_id, one hour) touches the few files whose
        range covers it instead of every file of the matching day.
        ``self.last_scan`` records (files_considered, files_read) for plan
        assertions and the bench harness.  ``ref`` reads a named tag
        (mutually exclusive with snapshot_id/as_of)."""
        if ref is not None:
            if snapshot_id is not None or as_of is not None:
                raise ValueError("pass ref OR snapshot_id/as_of, not both")
            snapshot_id = self.resolve_ref(ref)
        had_where = bool(where)
        snap, classes, dentries, where = self._plan_scan(
            snapshot_id, partitions, where, as_of
        )
        if not classes:
            if had_where:
                # every file provably excluded: an empty scan with the
                # TARGET SCHEMA (read one pruned file's footer schema via
                # Spark would defeat the point; empty relation from any
                # file with a LIMIT 0 keeps the schema without row I/O)
                probe = next(
                    (m["files"][0] for m in snap.partitions.values() if m["files"]),
                    None,
                )
                if probe is None:
                    raise ValueError("no data files in snapshot")
                probe = probe if os.path.isabs(probe) else os.path.join(self.root, probe)
                empty = self._reader(spark, snap).parquet(probe).limit(0)
                return self._apply_where(empty, where)
            raise ValueError("no files match the partition filter")
        df = self._union_delete_classes(spark, snap, classes, dentries)
        return self._apply_where(df, where) if where else df

    def _plan_scan(
        self,
        snapshot_id: str | None = None,
        partitions: list[str] | None = None,
        where: dict | None = None,
        as_of: float | None = None,
    ) -> tuple[Snapshot, dict, dict, dict | None]:
        """Scan planning shared by ``read`` and the Spark data source
        (icelite_source): resolve the target snapshot, apply manifest-level
        partition pruning (incl. routing a partition-column predicate out of
        ``where``), file-level min/max skipping, and group surviving data
        files into delete-equivalence classes.  Returns ``(snap, classes,
        dentries, residual_where)`` where ``residual_where`` is the exact
        row-level filter the caller must still apply (``where`` minus the
        partition-column predicate, which partition pruning satisfied
        exactly).  Sets ``self.last_scan``."""
        if as_of is not None and snapshot_id is not None:
            raise ValueError("pass snapshot_id OR as_of, not both")
        snap = self.snapshot_as_of(as_of) if as_of is not None else self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(
                f"no snapshot in {self.root}"
                + (f" as of {as_of}" if as_of is not None else "")
            )
        preds = None
        if where and snap.partition_col is not None and snap.partition_col in where:
            # the partition column lives in manifest KEYS, not data files:
            # its predicate prunes partitions exactly (value == key) and
            # must not reach the Spark filter.  Values compare as strings
            # (manifest keys are strings; day-style keys sort correctly).
            where = dict(where)
            op, *args = where.pop(snap.partition_col)
            if not all(
                isinstance(a, str) for a in (args[0] if op == "in" else args)
            ):
                raise ValueError(
                    f"partition-column predicate on {snap.partition_col!r} "
                    "must use string values (manifest keys are strings)"
                )
            pargs = (args[0],) if op == "in" else tuple(args)
            matched = [
                v
                for v in snap.partitions
                if not _ranges_disjoint(v, v, op, pargs)
            ]
            partitions = (
                matched
                if partitions is None
                else [v for v in matched if v in set(partitions)]
            )
        if where:
            preds = self._normalize_preds(where)
        # Collect surviving data files into EQUIVALENCE CLASSES by the set
        # of equality-delete files that apply to them (delete.seq > file's
        # birth fseq — the Iceberg v2 sequence-number rule).  Tables with no
        # pending deletes collapse to one empty-keyed class: the zero-cost
        # fast path below is then exactly the pre-MOR single multi-file scan.
        # Delete entries are per-partition objects (distinct paths), so a
        # class never mixes files governed by different partitions' deletes.
        classes: dict[tuple, list[str]] = {}
        dentries: dict[str, dict] = {}  # delete file path -> its entry
        considered = 0
        for value, m in snap.partitions.items():
            if partitions is not None and value not in partitions:
                continue
            stats = m.get("stats") or [None] * len(m["files"])
            fseqs = m.get("fseq") or [0] * len(m["files"])
            dels = m.get("deletes") or []
            for f, fst, fs in zip(m["files"], stats, fseqs):
                considered += 1
                if preds and fst and self._file_pruned(fst, preds):
                    continue
                key = tuple(d["file"] for d in dels if d["seq"] > fs)
                for d in dels:
                    dentries.setdefault(d["file"], d)
                classes.setdefault(key, []).append(
                    f if os.path.isabs(f) else os.path.join(self.root, f)
                )
        n_read = sum(len(fs) for fs in classes.values())
        self.last_scan = {
            "files_considered": considered,
            "files_read": n_read,
            "delete_files": len({p for key in classes for p in key}),
        }
        return snap, classes, dentries, where

    def _fused_delete_scan(
        self,
        spark: SparkSession,
        snap: Snapshot,
        classes: dict[tuple, list[str]],
        dentries: dict[str, dict],
        fmap: dict[str, str] | None = None,
    ) -> DataFrame | None:
        """ONE reader for ALL delete-equivalence classes (plus one key
        reader per key-column set), replacing the one-reader-per-class
        loop: each ~30 ms driver-side ``DataFrameReader.parquet()`` call
        is the dominant cost of planning a MOR read, and a snapshot a few
        upserts deep has one class per distinct pending-delete
        combination.  Files carry a per-file class id attributed from
        ``input_file_name()`` (the fused-insert-reader trick), and each
        key-column set masks with a SINGLE broadcast anti join ON
        (key cols + class id): a key row is exploded to exactly the class
        ids its delete file is attached to, so the join is row-for-row the
        per-class anti join — a key can only eliminate rows of classes its
        delete file applies to.  ``fmap`` (tail2 → partition value)
        additionally attaches the changelog's ``_partition`` column.

        Returns None when per-file attribution is infeasible (tail
        collisions, URL-unsafe tails, >64 files per reader — the same
        conditions as every other fused-attribution path); callers fall
        back to the exact per-class loop."""
        from pyspark.sql import functions as F

        all_files = [p for fs in classes.values() for p in fs]
        tails = {_path_tail2(p) for p in all_files}
        if (
            len(tails) != len(all_files)
            or len(all_files) > 64
            or not _tail2_mappable(tails)
        ):
            return None
        # cols-set -> abs delete path -> [class ids it masks]
        by_cols: dict[tuple, dict[str, list[int]]] = {}
        for ci, key in enumerate(classes):
            for p in key:
                cols = tuple(dentries[p]["keys"])
                ap = p if os.path.isabs(p) else os.path.join(self.root, p)
                by_cols.setdefault(cols, {}).setdefault(ap, []).append(ci)
        for cols, dmap in by_cols.items():
            dtails = {_path_tail2(p) for p in dmap}
            if (
                len(dtails) != len(dmap)
                or len(dmap) > 64
                or not _tail2_mappable(dtails)
                or "__cls" in cols
                or "__dtail" in cols
            ):
                return None
        cls_map = F.create_map(
            *[
                F.lit(x)
                for ci, fs in enumerate(classes.values())
                for p in fs
                for x in (_path_tail2(p), ci)
            ]
        )
        df = self._reader(spark, snap).parquet(*all_files)
        if "__cls" in df.columns or "__dtail" in df.columns:
            return None
        df = df.withColumn("__cls", F.element_at(cls_map, _file_tail2_col()))
        if fmap is not None:
            pmap = F.create_map(
                *[F.lit(x) for t, v in fmap.items() for x in (t, v)]
            )
            df = df.withColumn(
                "_partition", F.element_at(pmap, _file_tail2_col())
            )
        for cols, dmap in by_cols.items():
            amap = F.create_map(
                *[
                    x
                    for p, cids in dmap.items()
                    for x in (
                        F.lit(_path_tail2(p)),
                        F.array(*[F.lit(ci) for ci in cids]),
                    )
                ]
            )
            keys = (
                spark.read.parquet(*dmap)
                .select(*cols, _file_tail2_col().alias("__dtail"))
                .distinct()
                .select(
                    *cols,
                    F.explode(F.element_at(amap, F.col("__dtail"))).alias(
                        "__cls"
                    ),
                )
            )
            df = df.join(
                F.broadcast(keys), on=[*cols, "__cls"], how="left_anti"
            )
        return df.select(*[c for c in df.columns if c != "__cls"])

    def _union_delete_classes(
        self,
        spark: SparkSession,
        snap: Snapshot,
        classes: dict[tuple, list[str]],
        dentries: dict[str, dict],
    ) -> DataFrame:
        """One scan per delete-equivalence class, pending equality deletes
        applied as BROADCAST left-anti joins (delete key files are tiny —
        O(changed keys) — next to the data they mask; at 100 TB the anti
        join is a map-side hash probe, no shuffle of the data side).  Delete
        files sharing a key-column set are unioned into one key frame, so a
        long upsert run adds one anti join, not one per commit.

        With more than one class the classes are fused into a single
        reader + one anti join per key-column set (``_fused_delete_scan``);
        the per-class loop below is the exact fallback (and the one-class
        fast path, where fusion would only add attribution overhead)."""
        from functools import reduce

        from pyspark.sql import functions as F

        if len(classes) > 1:
            fused = self._fused_delete_scan(spark, snap, classes, dentries)
            if fused is not None:
                return fused
        frames = []
        # memoize key frames per (cols, files): an unscoped delete attaches
        # ONE key file to every partition, so sibling classes would each
        # pay a ~30 ms driver-side DataFrameReader.parquet() for the same
        # bytes (the broadcast itself is deduped at runtime by ReuseExchange
        # once the plans are identical, which this also guarantees)
        kdf_memo: dict[tuple, DataFrame] = {}
        for key, cls_files in classes.items():
            dfc = self._reader(spark, snap).parquet(*cls_files)
            if key:
                by_cols: dict[tuple, list[str]] = {}
                for p in key:
                    cols = tuple(dentries[p]["keys"])
                    by_cols.setdefault(cols, []).append(
                        p if os.path.isabs(p) else os.path.join(self.root, p)
                    )
                for cols, paths in by_cols.items():
                    ck = (cols, tuple(sorted(paths)))
                    keys_df = kdf_memo.get(ck)
                    if keys_df is None:
                        keys_df = spark.read.parquet(*paths).select(*cols).distinct()
                        kdf_memo[ck] = keys_df
                    dfc = dfc.join(F.broadcast(keys_df), on=list(cols), how="left_anti")
            frames.append(dfc)
        return reduce(DataFrame.unionByName, frames)

    @staticmethod
    def _reader(spark: SparkSession, snap: Snapshot):
        """Parquet reader pinned to the snapshot's VERSIONED schema: files
        written before an add-column lack the new columns, and Spark
        NULL-backfills any column the explicit read schema has but a file
        doesn't — exactly Iceberg's read-time evolution semantics.  Time
        travel to a pre-evolution snapshot reads under THAT snapshot's
        schema, so the new column genuinely doesn't exist there.
        Pre-evolution metadata (schema=None) reads the files' own schema."""
        if snap.schema is None:
            return spark.read
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(snap.schema))

    def _normalize_preds(self, where: dict) -> dict:
        """Encode predicate values with the same _stat_scalar the writer
        used, so stats comparisons are like-for-like.  An unencodable value
        maps to None (that predicate never skips a file)."""
        preds = {}
        for col, spec in where.items():
            op, *args = spec
            if op == "in":
                norm = [_stat_scalar(a, self.STATS_MAX_STR) for a in args[0]]
                preds[col] = (op, (norm,)) if all(n is not None for n in norm) else None
            else:
                norm = tuple(_stat_scalar(a, self.STATS_MAX_STR) for a in args)
                preds[col] = (op, norm) if all(n is not None for n in norm) else None
        return preds

    @staticmethod
    def _file_pruned(fstats: dict, preds: dict) -> bool:
        """True iff ANY normalized predicate provably excludes this file."""
        cols = fstats.get("__cols__")
        for col, p in preds.items():
            if p is None:
                continue
            if cols is not None and col not in cols:
                # column absent from the file → all NULL on read → no
                # non-null predicate can match (schema-evolution skipping)
                return True
            rng = fstats.get(col)
            if not rng:
                continue
            lo, hi = rng
            op, args = p
            probe = args[0][0] if op == "in" else args[0]
            if type(probe) is not type(lo):
                continue  # incomparable encoding — never skip on it
            if _ranges_disjoint(lo, hi, op, args):
                return True
        return False

    @staticmethod
    def _apply_where(df: DataFrame, where: dict) -> DataFrame:
        from pyspark.sql import functions as F

        for col, spec in where.items():
            op, *args = spec
            c = F.col(col)
            df = df.filter(
                {
                    "=": lambda: c == args[0],
                    "<": lambda: c < args[0],
                    "<=": lambda: c <= args[0],
                    ">": lambda: c > args[0],
                    ">=": lambda: c >= args[0],
                    "between": lambda: c.between(args[0], args[1]),
                    "in": lambda: c.isin(list(args[0])),
                }[op]()
            )
        return df

    def committed_partitions(self) -> set[str]:
        snap = self.snapshot()
        return set(snap.partitions) if snap else set()

    def rows(self, snapshot_id: str | None = None) -> int:
        """PHYSICAL data-file rows from the manifest.  With a pending
        equality-delete backlog (``pending_deletes()`` non-empty) this is an
        upper bound on live rows until compaction materializes the deletes —
        exactly Iceberg's merge-on-read record-count semantics."""
        snap = self.snapshot(snapshot_id)
        return sum(m["rows"] for m in snap.partitions.values()) if snap else 0

    # ------------------------------------------------- incremental scans

    def appended_between(
        self,
        start_seq: int,
        end_snapshot_id: str | None = None,
        on_replace: str = "error",
    ) -> tuple["Snapshot | None", list[dict]]:
        """Plan an INCREMENTAL APPEND SCAN (Iceberg's
        ``incremental-from-snapshot`` / streaming-read semantics): the data
        files added by append commits with ``start_seq < seq <=
        end.seq``, oldest commit first.  Walks the snapshot chain backward
        via raw metadata loads — O(commits in range) tiny JSON reads, no
        manifest resolution, no file I/O — which is what makes a streaming
        poll against a 10^5-commit table cheap.

        ``on_replace``: a replace commit (overwrite/compact/delete_where/
        schema rewrite) inside the range cannot be represented as appended
        rows — ``"error"`` (default) raises, ``"skip"`` ignores it (safe
        for content-preserving compaction; an overwrite's NEW files are
        silently missed — the caller opted in, exactly Iceberg's
        ``streaming-skip-overwrite-snapshots``).  Equality-delete commits
        (mode append, empty file list) contribute no files: append scans
        never retract — the standard changelog-free contract.

        Returns ``(end_snapshot_raw, adds)`` where each add is
        ``{"partition", "file", "seq"}``.  Raises if the chain below the
        end snapshot was truncated by ``expire_snapshots`` before reaching
        ``start_seq`` (the offset is gone — same failure Iceberg streams
        surface when a start snapshot expires)."""
        if on_replace not in ("error", "skip"):
            raise ValueError("on_replace must be 'error' or 'skip'")
        sid = end_snapshot_id or self.current_snapshot_id()
        if sid is None:
            return None, []
        end = self._load_raw(sid)
        adds: list[dict] = []
        s = end
        while s.seq > start_seq:
            d = s.delta
            if d is None:
                # pre-delta legacy checkpoint: files can't be attributed to
                # individual commits below this point
                raise ValueError(
                    f"snapshot {s.snapshot_id} (seq {s.seq}) predates delta "
                    "metadata; incremental scan cannot cross it"
                )
            if d["mode"] != "append":
                if on_replace == "error":
                    raise ValueError(
                        f"snapshot {s.snapshot_id} (op={s.operation!r}, seq "
                        f"{s.seq}) replaced data files; an incremental append "
                        "scan cannot represent it — pass on_replace='skip' to "
                        "ignore replace commits (content-preserving for "
                        "compaction; an overwrite's new rows are missed)"
                    )
            else:
                for value, m in d["parts"].items():
                    for f in m["files"]:
                        adds.append({"partition": value, "file": f, "seq": s.seq})
            if s.seq - 1 <= start_seq or s.parent_id is None:
                break
            try:
                s = self._load_raw(s.parent_id)
            except FileNotFoundError:
                raise ValueError(
                    f"incremental start seq {start_seq} has expired: the "
                    f"chain below seq {s.seq} was garbage-collected by "
                    "expire_snapshots"
                ) from None
        adds.reverse()  # walk collected newest-first; emit oldest commit first
        return end, adds

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None = None,
        to_snapshot_id: str | None = None,
        on_replace: str = "error",
    ) -> DataFrame:
        """Rows APPENDED strictly after ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: current head) — the batch
        face of the incremental append scan (CDC-style "what's new since
        the snapshot I processed last").  ``from_snapshot_id=None`` reads
        everything since the table's creation.  The scan is pinned to the
        END snapshot's schema (old files NULL-backfill evolved columns,
        exactly like a full read of that snapshot).  See
        ``appended_between`` for ``on_replace`` and expiry semantics."""
        start_seq = 0
        if from_snapshot_id is not None:
            start_seq = self._load_raw(from_snapshot_id).seq
        end, adds = self.appended_between(start_seq, to_snapshot_id, on_replace)
        if end is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        files = [
            f if os.path.isabs(f) else os.path.join(self.root, f)
            for f in (a["file"] for a in adds)
        ]
        if files:
            return self._reader(spark, end).parquet(*files)
        if end.schema is not None:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(end.schema))
        # empty range on a pre-evolution table: borrow any data file's
        # schema via a LIMIT 0 scan (no row I/O)
        probe = next(
            (
                m["files"][0]
                for m in self._resolve(end).partitions.values()
                if m["files"]
            ),
            None,
        )
        if probe is None:
            raise ValueError("empty incremental range on a table with no data files")
        probe = probe if os.path.isabs(probe) else os.path.join(self.root, probe)
        return spark.read.parquet(probe).limit(0)

    # ----------------------------------------------------------------- CDC

    CDC_COLS = ("_change_type", "_partition", "_commit_seq", "_commit_snapshot_id",
                "_commit_timestamp")

    def _commits_between(self, start_seq: int, end: Snapshot) -> list[Snapshot]:
        """Raw snapshots with ``start_seq < seq <= end.seq``, oldest first —
        the chain walk shared by the changelog faces (O(commits) tiny JSON
        reads, no manifest resolution).  Raises when the range crosses
        pre-delta metadata or an expired (GC'd) chain segment."""
        chain: list[Snapshot] = []
        s = end
        while s.seq > start_seq:
            if s.delta is None:
                raise ValueError(
                    f"snapshot {s.snapshot_id} (seq {s.seq}) predates delta "
                    "metadata; changelog cannot cross it"
                )
            chain.append(s)
            if s.seq - 1 <= start_seq or s.parent_id is None:
                break
            try:
                s = self._load_raw(s.parent_id)
            except FileNotFoundError:
                raise ValueError(
                    f"changelog start seq {start_seq} has expired: the chain "
                    f"below seq {s.seq} was garbage-collected by "
                    "expire_snapshots"
                ) from None
        chain.reverse()
        return chain

    def read_with_partition(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        partitions: list[str] | None = None,
    ) -> DataFrame | None:
        """``read`` plus a ``_partition`` column carrying each row's
        manifest partition value — ONE reader per delete-equivalence class
        instead of one full ``read`` per partition (the changelog's live
        sides paid ~30 ms of driver-side reader setup per partition per
        commit).  Attribution is by data-file basename (uuid-unique) via a
        literal map over ``input_file_name()``; falls back to the exact
        per-partition loop beyond 64 files per class, where a literal map
        expression would bloat the plan.  Returns None when nothing
        matches the partition filter (callers treat it as "no live
        rows")."""
        from functools import reduce

        from pyspark.sql import functions as F

        snap, classes, dentries, _ = self._plan_scan(snapshot_id, partitions, None, None)
        if not classes:
            return None
        fmap: dict[str, str] = {}
        for value, m in snap.partitions.items():
            if partitions is not None and value not in partitions:
                continue
            for f in m["files"]:
                tail = _path_tail2(f)
                if fmap.setdefault(tail, value) != value:
                    # tail collision across partitions — cannot attribute
                    # by name; exact fallback
                    return self._read_with_partition_slow(spark, snapshot_id, partitions)
        if any(len(fs) > 64 for fs in classes.values()) or not _tail2_mappable(fmap):
            return self._read_with_partition_slow(spark, snapshot_id, partitions)
        # fuse every class into one reader + one anti join per key-column
        # set (same row-for-row masking — see _fused_delete_scan); the
        # per-class loop below remains the exact fallback
        fused = self._fused_delete_scan(spark, snap, classes, dentries, fmap=fmap)
        if fused is not None:
            return fused
        kdf_memo: dict[tuple, DataFrame] = {}
        frames = []
        for key, cls_files in classes.items():
            entries = [(_path_tail2(p), fmap[_path_tail2(p)]) for p in cls_files]
            mapping = F.create_map(
                *[F.lit(x) for b, v in entries for x in (b, v)]
            )
            dfc = self._reader(spark, snap).parquet(*cls_files).withColumn(
                "_partition", F.element_at(mapping, _file_tail2_col())
            )
            if key:
                by_cols: dict[tuple, list[str]] = {}
                for p in key:
                    cols = tuple(dentries[p]["keys"])
                    by_cols.setdefault(cols, []).append(
                        p if os.path.isabs(p) else os.path.join(self.root, p)
                    )
                for cols, paths in by_cols.items():
                    ck = (cols, tuple(sorted(paths)))
                    keys_df = kdf_memo.get(ck)
                    if keys_df is None:
                        keys_df = spark.read.parquet(*paths).select(*cols).distinct()
                        kdf_memo[ck] = keys_df
                    dfc = dfc.join(F.broadcast(keys_df), on=list(cols), how="left_anti")
            frames.append(dfc)
        return reduce(DataFrame.unionByName, frames)

    def _read_with_partition_slow(
        self, spark, snapshot_id, partitions
    ) -> DataFrame | None:
        """Exact per-partition fallback for read_with_partition."""
        from functools import reduce

        from pyspark.sql import functions as F

        snap = self.snapshot(snapshot_id)
        values = [
            v
            for v, m in snap.partitions.items()
            if m["files"] and (partitions is None or v in partitions)
        ]
        if not values:
            return None
        frames = [
            self.read(spark, snapshot_id=snap.snapshot_id, partitions=[v])
            .withColumn("_partition", F.lit(v))
            for v in values
        ]
        return reduce(DataFrame.unionByName, frames)

    def _conform(
        self, df: DataFrame, end: Snapshot, keep: tuple = ()
    ) -> DataFrame:
        """Project ``df`` onto the END snapshot's data-column schema
        (missing columns NULL-backfilled) so frames from commits on either
        side of a schema evolution union cleanly.  ``keep`` appends named
        pass-through columns (e.g. the changelog's ``_partition``) after
        the data columns."""
        if end.schema is None:
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        st = StructType.fromJson(end.schema)
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                for f in st.fields
            ],
            *[F.col(c) for c in keep],
        )

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None = None,
        to_snapshot_id: str | None = None,
    ) -> DataFrame:
        """CHANGELOG between two snapshots — the icelite analogue of
        Iceberg's changelog scan / Delta's Change Data Feed: every row-level
        change committed with ``from.seq < seq <= to.seq``, as data columns
        (END snapshot's schema, NULL-backfilled across evolutions) plus
        ``_change_type`` ('insert' | 'delete'), ``_partition`` (manifest
        key; '__all__' on unpartitioned tables), ``_commit_seq``,
        ``_commit_snapshot_id``, ``_commit_timestamp``.  An upsert emits the
        old row as a delete and the new row as an insert under the same
        ``_commit_seq``; consumers order by it.

        Per-commit cost model (what makes this viable on a 100-TB table):

        * **append** — the commit's own files are read directly (manifest
          file list, no diff, no shuffle).
        * **MOR upsert / delete_by_keys** — inserts from the commit's new
          files; deletes by broadcast SEMI join of the commit's tiny
          equality-delete key files against the PARENT snapshot restricted
          to the touched partitions (rows already masked in the parent are
          not re-deleted — the parent read applies its own pending
          deletes).
        * **compact** (incl. Z-order clustering) — content-preserving by
          its own commit-time conflict checks: emits nothing, costs
          nothing.
        * **overwrite / copy-on-write delete / rollback** — the honest
          case: a logical EXCEPT ALL diff of child vs parent, restricted to
          the partitions the commit touched (rollback: partitions whose
          manifest entries differ).  This is the same work Iceberg's
          changelog scan does for overwrite snapshots.

        Raises like ``appended_between`` when the range crosses an expired
        (GC'd) chain segment."""
        from functools import reduce

        from pyspark.sql import functions as F

        end_sid = to_snapshot_id or self.current_snapshot_id()
        if end_sid is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        end = self._load_raw(end_sid)
        start_seq = 0
        if from_snapshot_id is not None:
            try:
                start_seq = self._load_raw(from_snapshot_id).seq
            except FileNotFoundError:
                raise ValueError(
                    f"changelog start snapshot {from_snapshot_id} has "
                    "expired (garbage-collected by expire_snapshots)"
                ) from None

        chain = self._commits_between(start_seq, end)

        def stamp(
            df: DataFrame, ctype: str, value: str | None, snap: Snapshot
        ) -> DataFrame:
            # value=None: df is a multi-partition frame already carrying a
            # correct per-row _partition column (the per-commit fused
            # frames below); a single select keeps the output column order
            # identical to the historical per-partition stamping
            if value is not None:
                df = self._conform(df, end).withColumn("_partition", F.lit(value))
            data_cols = [c for c in df.columns if c != "_partition"]
            return df.select(
                *data_cols,
                F.lit(ctype).alias("_change_type"),
                F.col("_partition"),
                F.lit(int(snap.seq)).cast("long").alias("_commit_seq"),
                F.lit(snap.snapshot_id).alias("_commit_snapshot_id"),
                F.lit(float(snap.committed_at)).alias("_commit_timestamp"),
            )

        frames: list[DataFrame] = []
        for snap in chain:
            d = snap.delta
            parent = (
                self._resolve(self._load_raw(snap.parent_id))
                if snap.parent_id is not None
                else None
            )
            pparts = parent.partitions if parent is not None else {}
            if d["mode"] == "append":
                # ONE insert frame and ONE delete frame per (commit,
                # key-column set) instead of one PER PARTITION: the old
                # shape built 3 frames per touched partition — a 15-subtree
                # union with ~10 independent broadcast-build jobs for the
                # cdc bench commit pair.  Inserts union with a per-branch
                # _partition literal; delete keys are tagged with the
                # partition whose manifest entry references them and
                # semi-joined ON (keys + _partition), which is row-for-row
                # the same masking as the per-partition joins (a key only
                # ever matches rows of the partition it was attached to).
                ins_entries: list[tuple[str, list[str]]] = []
                del_groups: dict[tuple, list] = {}
                for value, m in d["parts"].items():
                    if m["files"]:
                        ins_entries.append(
                            (value, [self._abs(f) for f in m["files"]])
                        )
                    for de in m.get("deletes") or ():
                        if value not in pparts or not pparts[value]["files"]:
                            continue  # nothing pre-existing to mask
                        del_groups.setdefault(tuple(de["keys"]), []).append(
                            (value, de["file"])
                        )
                if ins_entries:
                    # ONE reader for the commit's new files, partition
                    # attributed per file path tail (the part-file basename
                    # alone collides across a job's partition dirs — same
                    # job uuid + task index — so key on the last TWO path
                    # components); each extra DataFrameReader.parquet()
                    # costs ~30 ms driver-side
                    fmap = {
                        _path_tail2(p): v for v, ps in ins_entries for p in ps
                    }
                    all_paths = [p for _, ps in ins_entries for p in ps]
                    if (
                        len(fmap) == len(all_paths)
                        and len(all_paths) <= 64
                        and _tail2_mappable(fmap)
                    ):
                        mapping = F.create_map(
                            *[F.lit(x) for b, v in fmap.items() for x in (b, v)]
                        )
                        ins = self._reader(spark, end).parquet(*all_paths).withColumn(
                            "_partition", F.element_at(mapping, _file_tail2_col())
                        )
                        ins = self._conform(ins, end, keep=("_partition",))
                    else:  # basename collision or huge commit: exact loop
                        ins = reduce(
                            DataFrame.unionByName,
                            [
                                self._conform(
                                    self._reader(spark, end).parquet(*ps), end
                                ).withColumn("_partition", F.lit(v))
                                for v, ps in ins_entries
                            ],
                        )
                    frames.append(stamp(ins, "insert", None, snap))
                for keycols, entries in del_groups.items():
                    # ONE reader for all the group's UNIQUE key files
                    # (each DataFrameReader.parquet() call costs ~30 ms of
                    # driver-side listing/resolution): per-file keys are
                    # deduped with the file tail in the distinct, then
                    # exploded to the partitions whose manifest entries
                    # reference that file — the same (key, partition) rows
                    # as the old per-file read+stamp+union.  Falls back to
                    # the per-file loop when tails collide / are
                    # URL-unsafe / the commit exceeds 64 key files.
                    uniq = list(dict.fromkeys(f for _, f in entries))
                    utails = {_path_tail2(self._abs(f)) for f in uniq}
                    parts_by_tail: dict[str, list] = {}
                    for v, f in entries:
                        parts_by_tail.setdefault(
                            _path_tail2(self._abs(f)), []
                        ).append(v)
                    if (
                        len(utails) == len(uniq)
                        and len(uniq) <= 64
                        and _tail2_mappable(utails)
                        and "_partition" not in keycols
                        and "__dtail" not in keycols
                    ):
                        amap = F.create_map(
                            *[
                                x
                                for tl, vs in parts_by_tail.items()
                                for x in (
                                    F.lit(tl),
                                    F.array(*[F.lit(v) for v in vs]),
                                )
                            ]
                        )
                        keys = (
                            spark.read.parquet(*[self._abs(f) for f in uniq])
                            .select(
                                *keycols, _file_tail2_col().alias("__dtail")
                            )
                            .distinct()
                            .select(
                                *keycols,
                                F.explode(
                                    F.element_at(amap, F.col("__dtail"))
                                ).alias("_partition"),
                            )
                        )
                    else:
                        kdfs: dict[str, DataFrame] = {}
                        for _, f in entries:
                            if f not in kdfs:
                                kdfs[f] = (
                                    spark.read.parquet(self._abs(f))
                                    .select(*keycols).distinct()
                                )
                        keys = reduce(
                            DataFrame.unionByName,
                            [
                                kdfs[f].withColumn("_partition", F.lit(v))
                                for v, f in entries
                            ],
                        )
                    live_all = self.read_with_partition(
                        spark,
                        snapshot_id=parent.snapshot_id,
                        partitions=[v for v, _ in entries],
                    )
                    if live_all is None:
                        continue
                    live = self._conform(live_all, end, keep=("_partition",))
                    frames.append(
                        stamp(
                            live.join(
                                F.broadcast(keys),
                                on=list(keycols) + ["_partition"],
                                how="left_semi",
                            ),
                            "delete", None, snap,
                        )
                    )
                continue
            if snap.operation == "compact":
                continue  # content-preserving replace: no logical change
            # overwrite / CoW delete / rollback: per-partition logical diff
            cur = self._resolve(snap).partitions
            if d["mode"] == "reset":
                touched = {
                    v for v in set(cur) | set(pparts) if cur.get(v) != pparts.get(v)
                }
            else:
                touched = set(d["parts"])
            for value in sorted(touched):
                def side(parts, sid):
                    # no data files -> no live rows (delete entries alone
                    # mask nothing)
                    if value not in parts or not parts[value]["files"]:
                        return None
                    return self._conform(
                        self.read(spark, snapshot_id=sid, partitions=[value]), end
                    )
                new_side = side(cur, snap.snapshot_id)
                old_side = side(pparts, parent.snapshot_id if parent else None)
                if new_side is not None:
                    ins = new_side if old_side is None else new_side.exceptAll(old_side)
                    frames.append(stamp(ins, "insert", value, snap))
                if old_side is not None:
                    dels = old_side if new_side is None else old_side.exceptAll(new_side)
                    frames.append(stamp(dels, "delete", value, snap))
        if not frames:
            base = self.read_incremental(spark, to_snapshot_id=end_sid).limit(0)
            return stamp(base, "insert", "", end).limit(0)
        return reduce(DataFrame.unionByName, frames)

    # ------------------------------------------------------- maintenance

    def maintain(
        self,
        spark: SparkSession,
        partition_col: str | None = None,
        max_files: int = 8,
        max_delete_files: int = 2,
        target_files: int = 1,
        cluster_col: str | list[str] | None = None,
        keep_last: int | None = None,
        older_than_s: float | None = None,
        orphans_older_than_s: float | None = None,
    ) -> dict:
        """One idempotent MAINTENANCE pass — the policy wrapper a scheduler
        (cron, the streaming sink's ``compact_every`` hook, an Airflow
        task) calls instead of hand-sequencing Iceberg-style actions:

        1. compact every partition whose data-file count exceeds
           ``max_files`` OR whose pending equality-delete backlog exceeds
           ``max_delete_files`` delete files (compaction also materializes
           the backlog, restoring the anti-join-free read plan), rewriting
           to ``target_files`` files, optionally ``cluster_col``-clustered
           (Z-order when a list is given);
        2. if ``keep_last``/``older_than_s`` is given, ``expire_snapshots``
           afterwards (tagged snapshots stay pinned);
        3. if ``orphans_older_than_s`` is given, ``remove_orphan_files``
           last (crash-abandoned writes past the safety bound).

        Conflict-skipped compactions (a concurrent writer touched the
        partition) are counted, not raised — the next pass retries, so
        running this from multiple schedules is safe.  Partition order is
        deterministic (sorted) and each compaction is its own commit, so a
        crash mid-pass loses nothing.  Returns
        ``{"compacted": [...], "skipped": [...], "expired": {...}|None}``."""
        snap = self.snapshot()
        if snap is None:
            # same key set as every other return path (callers index
            # result["orphans"] unconditionally)
            return {"compacted": [], "skipped": [], "expired": None, "orphans": None}
        pcol = partition_col or snap.partition_col
        if pcol is None:
            raise ValueError("maintain needs partition_col (unversioned table)")
        backlog = self.pending_deletes()
        compacted, skipped = [], []
        for value in sorted(snap.partitions):
            m = snap.partitions[value]
            if (
                len(m["files"]) <= max_files
                and backlog.get(value, {}).get("files", 0) <= max_delete_files
            ):
                continue
            res = self.compact_partition(
                spark, pcol, value, target_files, cluster_col=cluster_col
            )
            (compacted if res is not None else skipped).append(value)
        expired = None
        if keep_last is not None or older_than_s is not None:
            expired = self.expire_snapshots(
                keep_last=keep_last if keep_last is not None else 1,
                older_than_s=older_than_s,
            )
        orphans = (
            self.remove_orphan_files(orphans_older_than_s)
            if orphans_older_than_s is not None
            else None
        )
        return {
            "compacted": compacted,
            "skipped": skipped,
            "expired": expired,
            "orphans": orphans,
        }

    def compact_partition(
        self,
        spark: SparkSession,
        partition_col: str,
        value: str,
        target_files: int = 1,
        lineage: dict | None = None,
        cluster_col: str | list[str] | None = None,
    ) -> Snapshot | None:
        """Rewrite one partition's data files into ``target_files`` files —
        the icelite analogue of Iceberg's rewriteDataFiles (small-file
        compaction): continuous appends (one file per streaming micro-batch,
        one per writer task in the batch path) otherwise degrade scan
        parallelism into a tiny-file storm at 10^5+ commits.

        Content is unchanged: the replacement snapshot points the partition
        at the new files only, older snapshots keep the old files (time
        travel intact until expire_snapshots GCs them), and the commit is
        the same optimistic CAS as append/overwrite.  If another writer
        touched the partition between the rewrite and the commit, the
        compaction SKIPS (returns None, files are cleaned up) rather than
        clobbering the concurrent append — the next maintenance run
        retries, exactly Iceberg's rewrite-conflict behavior."""
        import shutil

        prev = self.snapshot()
        if prev is None or value not in prev.partitions:
            return None
        original = prev.partitions[value]
        df = self.read(spark, partitions=[value])
        if isinstance(cluster_col, (list, tuple)):
            # multi-column rewrite: z-order the partition so per-file
            # min/max stay tight on EVERY listed column (Iceberg's
            # rewrite_data_files sort/zorder strategy)
            df = cluster_zorder(df, list(cluster_col), nparts=max(1, target_files))
        elif cluster_col is not None:
            # preserve a write-time clustering through the rewrite: a plain
            # coalesce would interleave buckets into each output file and
            # destroy the tight per-file min/max that makes read(where=)
            # skip.  RANGE partitioning (not hash — hash collides distinct
            # values into shared files) gives every compacted file a
            # disjoint value range, so a point predicate reads exactly one
            # file
            df = df.repartitionByRange(max(1, target_files), cluster_col)
        else:
            df = df.coalesce(max(1, target_files))
        commit_dir = os.path.join(self.data_dir, f"compact-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(commit_dir)
        import pyarrow.parquet as pq

        paths = [
            os.path.join(commit_dir, n)
            for n in os.listdir(commit_dir)
            if n.endswith(".parquet")
        ]
        pfs = [pq.ParquetFile(p) for p in paths]
        rows = int(sum(pf.metadata.num_rows for pf in pfs))
        if not original.get("deletes") and rows != original["rows"]:
            # a writer touched the partition between snapshot() and read()
            # (the rewrite saw more/fewer rows than the manifest this
            # compaction was planned against) — conflict-skip, same as the
            # manifest check below; never an exception in the sink path.
            # With pending equality deletes the manifest's rows are the
            # PHYSICAL count and read() just materialized the deletes, so
            # fewer rows are expected — the commit-time manifest equality
            # check below is the conflict guard there.
            shutil.rmtree(commit_dir, ignore_errors=True)
            return None
        scols = self._resolve_stats_cols(pfs[0]) if pfs else []
        new_manifest = {
            "files": [os.path.relpath(p, self.root) for p in paths],
            "rows": rows,
            "stats": [_file_stats(pf, scols, self.STATS_MAX_STR) for pf in pfs],
        }
        try:
            for _ in range(20):
                prev = self.snapshot()
                if prev.partitions.get(value) != original:
                    # concurrent append/overwrite of this partition since the
                    # rewrite started — abandon, GC our files, retry next run
                    shutil.rmtree(commit_dir, ignore_errors=True)
                    return None
                try:
                    return self._commit(
                        self._next_snapshot(
                            prev,
                            "compact",
                            "replace",
                            {value: new_manifest},
                            lineage or {"compacted": value},
                        ),
                        expected_parent=prev.snapshot_id,
                    )
                except CommitConflict:
                    continue
            raise CommitConflict("compact lost 20 consecutive commit races")
        except Exception:
            # incl. TimeoutError from the commit lock: the rewritten files
            # were never referenced by any snapshot — GC them, don't orphan
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise

    def delete_where(
        self,
        spark: SparkSession,
        where: dict,
        lineage: dict | None = None,
        retries: int = 3,
    ) -> Snapshot | None:
        """Row-level DELETE, copy-on-write at FILE granularity — the icelite
        analogue of Iceberg's copy-on-write ``DELETE FROM ... WHERE`` (the
        training-data use case: purge contaminated/flagged documents or a
        user's conversations from a 100-TB table without a table rewrite).

        ``where`` is the read() predicate grammar; matching rows (predicate
        TRUE — NULL keeps the row, SQL DELETE semantics) are removed.  The
        fmt-2 file statistics bound the work: a partition-column predicate
        restricts which partitions are touched at all, and within each
        partition only files whose min/max COULD contain a match are read
        and rewritten — provably-clean files are carried into the new
        snapshot untouched (no I/O).  Old snapshots still see the deleted
        rows (time travel intact) until expire_snapshots GCs the rewritten
        files.

        Commits through the same optimistic CAS as every other writer; if a
        concurrent commit touches an affected partition between planning
        and commit, the rewrite is abandoned (files GC'd) and re-planned,
        up to ``retries`` times.  Returns the new snapshot, or None when no
        file could contain a match (metadata-only no-op, nothing
        committed)."""
        import shutil

        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        for _ in range(max(1, retries)):
            snap = self.snapshot()
            if snap is None:
                return None
            where_eff = dict(where)
            part_values = list(snap.partitions)
            if snap.partition_col is not None and snap.partition_col in where_eff:
                op, *args = where_eff.pop(snap.partition_col)
                pargs = (args[0],) if op == "in" else tuple(args)
                if not all(
                    isinstance(a, str) for a in (pargs[0] if op == "in" else pargs)
                ):
                    raise ValueError(
                        f"partition-column predicate on {snap.partition_col!r} "
                        "must use string values (manifest keys are strings)"
                    )
                part_values = [
                    v for v in part_values if not _ranges_disjoint(v, v, op, pargs)
                ]
            preds = self._normalize_preds(where_eff) if where_eff else {}
            # plan: per partition, split files into rewrite candidates
            # (stats can't exclude a match) and carried-through survivors.
            # Pending equality deletes ride along: rewritten files apply
            # them (rows born clean at the new seq), kept files keep their
            # original fseq so the preserved delete entries still mask them.
            plan = {}
            for value in part_values:
                m = snap.partitions[value]
                stats = m.get("stats") or [None] * len(m["files"])
                fseqs = m.get("fseq") or [0] * len(m["files"])
                hit, kept = [], []
                for f, fst, fs in zip(m["files"], stats, fseqs):
                    if preds and fst and self._file_pruned(fst, preds):
                        kept.append((f, fst, fs))
                    else:
                        hit.append((f, fs))
                if hit:
                    plan[value] = (m, hit, kept)
            if not plan:
                return None  # nothing can match anywhere — metadata no-op

            conj = None
            for col, spec in where_eff.items():
                op, *args = spec
                c = F.col(col)
                term = {
                    "=": lambda: c == args[0],
                    "<": lambda: c < args[0],
                    "<=": lambda: c <= args[0],
                    ">": lambda: c > args[0],
                    ">=": lambda: c >= args[0],
                    "between": lambda: c.between(args[0], args[1]),
                    "in": lambda: c.isin(list(args[0])),
                }[op]()
                conj = term if conj is None else (conj & term)
            # SQL DELETE: remove rows where the predicate is TRUE; NULL keeps
            keep_pred = (
                ~F.coalesce(conj, F.lit(False)) if conj is not None else F.lit(False)
            )

            commit_dir = os.path.join(self.data_dir, f"delete-{uuid.uuid4().hex[:12]}")
            parts: dict = {}
            try:
                for value, (m, hit, kept) in plan.items():
                    dels = m.get("deletes") or []
                    classes: dict[tuple, list[str]] = {}
                    for f, fs in hit:
                        key = tuple(d["file"] for d in dels if d["seq"] > fs)
                        classes.setdefault(key, []).append(
                            f if os.path.isabs(f) else os.path.join(self.root, f)
                        )
                    src = self._union_delete_classes(
                        spark, snap, classes, {d["file"]: d for d in dels}
                    )
                    out_dir = os.path.join(commit_dir, f"p-{uuid.uuid4().hex[:8]}")
                    (
                        src.filter(keep_pred)
                        .write.mode("overwrite")
                        .parquet(out_dir)
                    )
                    new_files = [
                        (p, pf)
                        for p in (
                            os.path.join(out_dir, n)
                            for n in os.listdir(out_dir)
                            if n.endswith(".parquet")
                        )
                        for pf in [pq.ParquetFile(p)]
                        if pf.metadata.num_rows  # drop empty writer shards
                    ]
                    scols = (
                        self._resolve_stats_cols(new_files[0][1]) if new_files else []
                    )
                    files = [f for f, _, _ in kept]
                    stats = [s for _, s, _ in kept]
                    fseq: list = [fs for _, _, fs in kept]
                    # surviving rows = carried files' rows + rewritten rows
                    kept_rows = 0
                    if kept:
                        kpaths = [
                            f if os.path.isabs(f) else os.path.join(self.root, f)
                            for f, _, _ in kept
                        ]
                        kept_rows = sum(
                            pq.ParquetFile(p).metadata.num_rows for p in kpaths
                        )
                    new_rows = sum(pf.metadata.num_rows for _, pf in new_files)
                    for p, pf in new_files:
                        files.append(os.path.relpath(p, self.root))
                        stats.append(_file_stats(pf, scols, self.STATS_MAX_STR))
                        fseq.append(None)  # born at the commit seq (stamped)
                    parts[value] = {
                        "files": files,
                        "rows": int(kept_rows + new_rows),
                        "stats": stats,
                    }
                    if dels or any(fs for fs in fseq[: len(kept)]):
                        # preserve MOR state: pending deletes still mask the
                        # carried files (original fseq); rewritten files are
                        # born at this commit's seq, past every pending
                        # delete — their rows already had the deletes applied
                        parts[value]["fseq"] = fseq
                        if dels:
                            parts[value]["deletes"] = dels
                for attempt in range(20):
                    prev = self.snapshot()
                    if any(
                        prev.partitions.get(v) != plan[v][0] for v in plan
                    ):
                        raise CommitConflict("concurrent write to affected partition")
                    try:
                        return self._commit(
                            self._next_snapshot(
                                prev,
                                "delete",
                                "replace",
                                parts,
                                lineage or {"delete_where": {k: list(map(str, v)) for k, v in where.items()}},
                            ),
                            expected_parent=prev.snapshot_id,
                        )
                    except CommitConflict as e:
                        if "affected partition" in str(e):
                            raise
                        continue
                raise CommitConflict("delete lost 20 consecutive commit races")
            except CommitConflict:
                shutil.rmtree(commit_dir, ignore_errors=True)
                continue  # re-plan against the new head
            except Exception:
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise
        raise CommitConflict(f"delete_where lost {retries} planning rounds")

    def remove_orphan_files(self, older_than_s: float = 86400.0) -> dict:
        """Delete data/delete-key files referenced by NO retained snapshot —
        Iceberg's ``remove_orphan_files``.  Orphans come from crashed or
        conflict-abandoned writes (a commit dir written but never
        referenced; ``expire_snapshots`` only reaps files that once
        belonged to a now-expired snapshot, so true never-committed
        leftovers accumulate forever without this).

        ``older_than_s`` is the safety bound (Iceberg's default is 3
        days; ours is 24 h): a file younger than it is NEVER touched,
        because it may belong to an in-flight commit whose manifest hasn't
        landed yet — the commit protocol writes files first, references
        them last, so the bound MUST exceed the longest possible
        write-to-commit window (a multi-hour Spark write would have been
        reaped under the old 1 h default).
        Runs under the commit lock so the referenced-set can't grow
        mid-scan.  Returns {"files_removed": n, "dirs_removed": n}."""
        import shutil

        fd = self._acquire_lock()
        try:
            referenced: set[str] = set()
            for s in self.snapshots():
                for m in s.partitions.values():
                    referenced.update(
                        os.path.abspath(self._abs(f)) for f in m["files"]
                    )
                    referenced.update(
                        os.path.abspath(self._abs(d["file"]))
                        for d in m.get("deletes") or ()
                    )
            cutoff = time.time() - older_than_s
            removed = 0
            if os.path.isdir(self.data_dir):
                for dirpath, _, files in os.walk(self.data_dir):
                    for fn in files:
                        # Spark write-protocol markers live beside LIVE
                        # files without being referenced; husk-dir cleanup
                        # below (and in expire_snapshots) owns them
                        if fn == "_SUCCESS" or fn.endswith(".crc") or fn.startswith("._"):
                            continue
                        p = os.path.abspath(os.path.join(dirpath, fn))
                        if p in referenced:
                            continue
                        try:
                            if os.stat(p).st_mtime >= cutoff:
                                continue
                            os.unlink(p)
                            removed += 1
                        except OSError:
                            continue
            # drop commit dirs that are now empty (or marker-only husks)
            dirs_removed = 0
            if os.path.isdir(self.data_dir):
                for entry in os.listdir(self.data_dir):
                    d = os.path.join(self.data_dir, entry)
                    if not os.path.isdir(d):
                        continue
                    leftover = [
                        f for _, _, fs in os.walk(d) for f in fs
                        if not (f == "_SUCCESS" or f.endswith(".crc") or f.startswith("._"))
                    ]
                    if not leftover:
                        shutil.rmtree(d, ignore_errors=True)
                        dirs_removed += 1
            return {"files_removed": removed, "dirs_removed": dirs_removed}
        finally:
            self._release_lock(fd)

    def expire_snapshots(
        self, keep_last: int = 1, older_than_s: float | None = None
    ) -> dict:
        """Expire old snapshots and GC the data files only they reference —
        the icelite analogue of Iceberg's expireSnapshots: without it a
        long-lived table pins every file ever written (compaction and
        overwrite never physically delete).

        Retains the newest ``keep_last`` snapshots, everything newer than
        ``older_than_s`` seconds, and ALWAYS the current snapshot.  Before
        expired metadata is unlinked, the OLDEST retained snapshot is
        rewritten as a checkpoint (full manifest) — retained snapshots are a
        suffix of the linear commit chain, so that one rewrite keeps every
        survivor resolvable without its expired ancestors.  Runs entirely
        under the commit lock (maintenance, not hot path) so no concurrent
        commit can add a reference while the live-file set is computed; the
        flock survives arbitrarily long GC loops (no staleness heuristic to
        outrun).  Returns {"snapshots_removed": n, "files_removed": n}."""
        fd = self._acquire_lock()
        try:
            snaps = self.snapshots()  # resolved, oldest first
            current = self.current_snapshot_id()
            cutoff = time.time() - older_than_s if older_than_s is not None else None
            by_id = {s.snapshot_id: s for s in snaps}
            # the retention suffix counts MAIN-chain snapshots only; branch
            # commits interleave in `snaps` (they share seq numbers) and are
            # pinned separately below
            main_chain: set[str] = set()
            sid = current
            while sid is not None and sid in by_id:
                main_chain.add(sid)
                sid = by_id[sid].parent_id
            mains = [s for s in snaps if s.snapshot_id in main_chain]
            keep: set[str] = set(s.snapshot_id for s in mains[-keep_last:]) if keep_last else set()
            if current:
                keep.add(current)
            if cutoff is not None:
                keep.update(s.snapshot_id for s in snaps if s.committed_at >= cutoff)
            # TAGGED snapshots are pinned (Iceberg's tag-retention rule):
            # a tag whose snapshot predates the kept suffix survives as an
            # ISLAND — checkpointed below so it resolves without ancestors
            present = {s.snapshot_id for s in snaps}
            keep.update(
                t["snapshot_id"]
                for t in self.tags().values()
                if t["snapshot_id"] in present
            )
            # BRANCHES pin their own commits (walk from each head until the
            # MAIN chain or an already-kept snapshot): the island-checkpoint
            # rule below keeps the oldest one resolvable if its fork-side
            # ancestors expire, and fast_forward only ever walks down to
            # the CURRENT main head, which is always kept.  drop_branch
            # releases the pin.
            for bhead in self.branches().values():
                sid = bhead
                while (
                    sid is not None
                    and sid in by_id
                    and sid not in keep
                    and sid not in main_chain
                ):
                    keep.add(sid)
                    sid = by_id[sid].parent_id
            expired = [s for s in snaps if s.snapshot_id not in keep]
            if not expired:
                return {"snapshots_removed": 0, "files_removed": 0}
            # keep the survivors resolvable: any retained snapshot whose
            # parent is expiring (the suffix's oldest, and every tagged
            # island) is rewritten as a checkpoint before its ancestors
            # disappear
            kept = [s for s in snaps if s.snapshot_id in keep]
            expired_ids = {s.snapshot_id for s in expired}
            for s in kept:
                if s.kind == "checkpoint":
                    continue
                if s.parent_id is not None and s.parent_id not in expired_ids:
                    continue  # parent survives; delta chain stays walkable
                s.kind = "checkpoint"
                s.parent_id = None  # ancestors are gone after this GC
                # write-temp + atomic replace: reads are LOCK-FREE, so an
                # in-place open(path, "w") would expose a truncated JSON to
                # a concurrent reader mid-walk (same pattern as the
                # `current` flip)
                path = self._snapshot_path(s.snapshot_id)
                tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(s.to_json(), f, indent=2, default=str)
                os.replace(tmp, path)
            live_files: set[str] = set()
            for s in kept:
                for m in s.partitions.values():
                    live_files.update(m["files"])
                    live_files.update(d["file"] for d in m.get("deletes") or [])
            dead_files: set[str] = set()
            for s in expired:
                for m in s.partitions.values():
                    dead_files.update(f for f in m["files"] if f not in live_files)
                    dead_files.update(
                        d["file"]
                        for d in m.get("deletes") or []
                        if d["file"] not in live_files
                    )
            # destructive phase begins: commits self-serialize via the gen
            # CAS, but GC relies on the LOCK for exclusion — and the token
            # lease's steal/restore dance has a narrow dual-holder window
            # (a waiter's create+write+validate completing entirely inside
            # a stealer's rename→stat→restore).  Re-verify ownership at the
            # last possible moment so a lease lost mid-computation aborts
            # before anything is unlinked (the object-store analogue is a
            # conditional delete; this is its filesystem emulation).
            if not self._lock_still_owned(fd):
                raise RuntimeError(
                    "commit lock ownership lost during expire_snapshots "
                    "scan; aborting before destructive GC"
                )
            for f in dead_files:
                path = f if os.path.isabs(f) else os.path.join(self.root, f)
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
            for s in expired:
                os.unlink(self._snapshot_path(s.snapshot_id))
                try:
                    # every expired generation is below the hint's seq (the
                    # head always survives), and the reader probe only walks
                    # FORWARD from the hint — holes below it (incl. around
                    # tagged islands) are never visited.  Content check:
                    # an expired snapshot from a DROPPED BRANCH shares seq
                    # numbers with live main commits but never owns the
                    # main-namespace gen file — unlink only our own.
                    gp = self._gen_path(s.seq)
                    with open(gp) as f:
                        if f.read().strip() == s.snapshot_id:
                            os.unlink(gp)
                except (FileNotFoundError, OSError):
                    pass  # pre-CAS table / branch-only generation
            # drop now-empty commit dirs so the data tree stays listable.
            # Spark/Hadoop leave _SUCCESS and .crc sidecars behind in every
            # commit dir — they are write-protocol artifacts, never
            # referenced by any manifest, so a dir holding ONLY markers is
            # empty for GC purposes (otherwise 10^5 commits pin 10^5 husk
            # dirs forever)
            def _is_marker(name: str) -> bool:
                return (
                    name == "_SUCCESS" or name.endswith(".crc") or name.startswith("._")
                )

            if os.path.isdir(self.data_dir):
                for entry in os.listdir(self.data_dir):
                    d = os.path.join(self.data_dir, entry)
                    if os.path.isdir(d) and all(
                        _is_marker(f) for _, _, files in os.walk(d) for f in files
                    ):
                        import shutil

                        shutil.rmtree(d, ignore_errors=True)
            return {
                "snapshots_removed": len(expired),
                "files_removed": len(dead_files),
            }
        finally:
            self._release_lock(fd)
