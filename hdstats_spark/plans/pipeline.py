"""TierPipeline: checkpointed raw → 1m → 1h → 1d materialization.

One run = one micro-batch: for every *day partition* of the input that is not
yet committed to a tier table, roll up and commit with lineage (input
snapshot id, partitions processed, row counts, wall time).  Re-running after
a crash (or with late data via ``reroll_days``) touches only missing /
re-rolled partitions — commits are atomic snapshot flips (icelite), so a
failure mid-write leaves orphan files but never a half-visible partition,
and reprocessing is idempotent.

Scale shape: the per-day filter prunes at the manifest level before any scan;
each tier is one partial+final hash aggregate; the cascade reads the finer
tier, never raw (a 10^12-turn backfill aggregates 1d from 1h, not from raw).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..icelite import IceliteTable
from ..operators.channels import channelize
from ..operators.partitioning import ensure_min_partitions
from ..operators.rollup import rollup_cascade, rollup_raw
from ..schema import CHANNELS, TIER_PARENT, TIERS


def _day(col):
    return F.date_format(col, "yyyy-MM-dd")


def copart_partitions(spark: SparkSession, raw_bytes: int) -> int:
    """Hash partitions of the copart shuffle: one per advisory partition
    size of raw input, clamped to [1, spark.sql.shuffle.partitions]."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, min(cap, -(-raw_bytes // advisory)))


class TierPipeline:
    """plan="copart": hash-repartition raw on conv_id ONCE, then every tier
    aggregate and every tier write runs exchange-free —
    HashPartitioning(conv_id) satisfies ClusteredDistribution(conv_id,
    bucket) for all three groupBys, and the writer takes the rows as-is.
    One full-input shuffle total, instead of per-tier agg exchanges plus a
    tier-size round-robin re-shuffle before each write.  plan="classic"
    keeps the per-tier exchanges.

    Tier fan-out follows the data: the copart shuffle gets one partition per
    spark.sql.adaptive.advisoryPartitionSizeInBytes of the todo days' raw
    files (their on-disk size in the committed raw manifest), clamped to
    [1, spark.sql.shuffle.partitions] (``copart_partitions``).  A small
    backfill writes one file per day in each cascade tier instead of
    shuffle.partitions tiny ones; a large one keeps the full fan-out.

    Narrow inputs channelize on every core: a transcript scan with fewer
    partitions than defaultParallelism (one small file, one row group) is
    round-robined BEFORE channelize, and raw is written as-is from there
    (still one exchange).  Wider inputs channelize in their scan tasks and
    round-robin after.

    plan="auto" (default) picks by deployment shape, from the measured
    scaling matrix (BENCH/BASELINE.md, 129.9M turns, rollup phase):

    * copart wins wherever per-task memory bandwidth is not the ceiling —
      ≤8 cores on one box (2→8 efficiency 0.84-0.91 vs classic's 0.78) and
      any real multi-node cluster, where each executor brings its own DRAM
      and the avoided exchanges are NETWORK traffic (the expensive resource).
    * classic wins only in the corner of MANY cores on ONE box (32 threads
      sharing a single socket's DRAM: the single wide shuffle saturates
      bandwidth while classic's extra-but-smaller exchanges overlap better) —
      measured ~15% faster at local[32] on this box.

    The heuristic therefore selects classic only for local[N>16] masters;
    everything else (small local runs, yarn/k8s/standalone clusters) gets
    copart."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        raw_root: str | None = None,
        plan: str = "auto",
    ):
        self.spark = spark
        self.root = root
        if plan == "auto":
            master = spark.sparkContext.master or ""
            single_box_many_cores = (
                master.startswith("local") and spark.sparkContext.defaultParallelism > 16
            )
            plan = "classic" if single_box_many_cores else "copart"
        self.plan = plan
        self.tables = {
            name: IceliteTable(os.path.join(root, f"tier_{name}"))
            for name in ("raw", "1m", "1h", "1d")
        }
        if raw_root:  # share an already-ingested raw tier across runs
            self.tables["raw"] = IceliteTable(raw_root)

    def _missing_days(self, table: IceliteTable, days: set[str], reroll: set[str]) -> set[str]:
        return (days - table.committed_partitions()) | (days & reroll)

    def _raw_bytes(self, days: set[str]) -> int:
        """On-disk bytes of the committed raw files of ``days``."""
        raw = self.tables["raw"]
        parts = raw.snapshot().partitions
        return sum(
            os.path.getsize(raw._abs(f)) for d in days for f in parts[d]["files"]
        )

    def run(
        self,
        transcripts: DataFrame | None = None,
        input_snapshot: str = "adhoc",
        reroll_days: set[str] | None = None,
        phase: str = "all",
        with_composite: bool = False,
    ) -> dict:
        """Process all uncommitted (or re-rolled) day partitions through every
        tier.  Returns per-tier metrics (also recorded in each commit's
        lineage).

        phase: "ingest" materializes only the raw tier (tokenize-heavy I/O),
        "rollup" rolls an existing raw tier into 1m/1h/1d (the north-metric
        phase), "all" does both.

        with_composite additionally materializes the per-conversation
        geometric-median + MAD composite tier from the 1m tier — the
        reference kernels as continuous aggregates (BASELINE.json
        north_star), committed like any other tier."""
        reroll = set(reroll_days or ())
        t0 = time.time()
        if transcripts is not None:
            days = {
                r["day"]
                for r in transcripts.select(_day("ts").alias("day")).distinct().collect()
            }
            wide = ensure_min_partitions(transcripts)
            raw_cluster = "roundrobin" if wide is transcripts else "asis"
            ch = channelize(wide).withColumn("day", _day("ts"))
        else:
            assert phase == "rollup", "rollup-only runs may omit transcripts"
            days = self.tables["raw"].committed_partitions()
        metrics: dict = {"days_seen": len(days)}

        # raw tier: channelized turns (no text — the source table keeps it),
        # partitioned by day
        raw_tbl = self.tables["raw"]
        if phase in ("all", "ingest"):
            todo = self._missing_days(raw_tbl, days, reroll)
            if todo:
                part = ch.filter(F.col("day").isin(sorted(todo)))
                snap = raw_tbl.overwrite_partitions(
                    part,
                    "day",
                    lineage={
                        "input_snapshot": input_snapshot,
                        "partitions": sorted(todo),
                        "elapsed_s": round(time.time() - t0, 2),
                    },
                    cluster=raw_cluster,
                )
                rows = sum(snap.partitions[d]["rows"] for d in todo)
                metrics["raw"] = {
                    "days": len(todo),
                    "rows": rows,
                    "elapsed_s": round(time.time() - t0, 2),
                    **raw_tbl.last_write_timings,
                }
        if phase == "ingest":
            metrics["elapsed_s"] = round(time.time() - t0, 2)
            return metrics

        # 1m from raw, then cascade 1h from 1m, 1d from 1h.  Within one run
        # the cascade consumes the persisted in-memory parent (the committed
        # data is identical, and re-reading the freshly written files would
        # pay a tiny-file storm); resume paths fall back to the table.
        computed: dict[str, DataFrame] = {}
        computed_days: dict[str, set] = {}
        for tier in ("1m", "1h", "1d"):
            tt0 = time.time()
            tbl = self.tables[tier]
            todo = self._missing_days(tbl, days, reroll)
            if not todo:
                metrics[tier] = {"days": 0, "rows": 0}
                continue
            parent = TIER_PARENT[tier]
            src_tbl = self.tables[parent]
            if parent in computed and todo <= computed_days[parent]:
                src = computed[parent]
            else:
                src = src_tbl.read(self.spark, partitions=sorted(todo))
            if tier == "1m":
                if self.plan == "copart":
                    n = copart_partitions(self.spark, self._raw_bytes(todo))
                    src = src.repartition(n, "conv_id")
                out = rollup_raw(src, "1m")
            else:
                out = rollup_cascade(src.drop("day"), tier)
            out = out.withColumn("day", _day("bucket")).persist()
            if self.plan == "copart":
                # rows arrive clustered on conv_id with full parallelism:
                # write as-is (zero extra exchanges anywhere in the cascade).
                # cluster="direct" (same layout minus Spark's commit
                # protocol) A/B-measured a WASH here — the rollup phase is
                # compute/DRAM-bound, so the protocol it skips is noise
                # (local[8] copart, 129.9M turns: 68.0 vs 70.2 s best-of-2);
                # asis stays, matching the recorded scaling numbers
                cluster = "asis"
            else:
                # big tier (1m) → parallel writers; small cascades → 1 file/day
                cluster = "roundrobin" if tier == "1m" else "bypart"
            snap = tbl.overwrite_partitions(
                out,
                "day",
                lineage={
                    "input_snapshot": input_snapshot,
                    "parent_snapshot": src_tbl.current_snapshot_id(),
                    "partitions": sorted(todo),
                },
                cluster=cluster,
            )
            computed[tier] = out
            computed_days[tier] = set(todo)
            rows = sum(snap.partitions[d]["rows"] for d in todo if d in snap.partitions)
            metrics[tier] = {
                "days": len(todo),
                "rows": rows,
                "elapsed_s": round(time.time() - tt0, 2),
                **tbl.last_write_timings,
            }
        if with_composite:
            from ..operators.series import geomedian_mads_flat
            from ..schema import CHANNELS

            tt0 = time.time()
            src = computed.get("1m")
            if src is None:
                src = self.tables["1m"].read(self.spark, partitions=sorted(days))
            # tier config: maxiters=20 (vs the kernel default 1000).  Integer
            # count channels make a large share of real series oscillate at
            # float32 resolution instead of hitting eps=1e-7, so extra
            # iterations buy no accuracy; 20 covers the typical convergence
            # point (median ≈ 8-15 on these series).  Exact-parity runs
            # (pytest vs the reference oracle) use the kernel defaults.
            comp = geomedian_mads_flat(src.drop("day"), CHANNELS, maxiters=20)
            snap = IceliteTable(os.path.join(self.root, "tier_gm")).append(
                comp,
                lineage={
                    "input_snapshot": input_snapshot,
                    "parent_snapshot": self.tables["1m"].current_snapshot_id(),
                    "partitions": sorted(days),
                },
            )
            rows = sum(m["rows"] for m in snap.partitions.values())
            metrics["gm"] = {"rows": rows, "elapsed_s": round(time.time() - tt0, 2)}

        for df in computed.values():
            df.unpersist()

        metrics["elapsed_s"] = round(time.time() - t0, 2)
        metrics["points"] = sum(
            metrics.get(t, {}).get("rows", 0) for t in ("1m", "1h", "1d", "gm")
        )
        return metrics
