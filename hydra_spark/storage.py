"""Snapshot-versioned table storage ("Iceberg-lite").

The design targets Iceberg tables (SURVEY.md §1.1): atomic snapshot
commits per crawl round, resume from last committed snapshot, and an
append log for `checks`. The sandbox has no Iceberg runtime jar, so this
module provides the same API shape over parquet directories + a JSON
manifest whose pointer flip is atomic (``os.replace``). Swapping to real
Iceberg means replacing these classes with ``df.writeTo(...)`` calls —
call sites do not change.

Replaces the reference's transactional claims (temp table + FOR UPDATE,
udata_hydra/crawl/select_batch.py:16-31): a single-writer driver plus an
atomic snapshot commit gives the same claim semantics without row locks.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, path)  # atomic on POSIX


def _read_manifest(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _next_batch_id(m: dict) -> int:
    """max(id)+1 over live AND superseded batches, NOT len+1: after a
    rewrite()/clear compaction the live list shrinks (or empties) —
    reusing an id would overwrite a superseded dir still held by open
    readers, and collide with FrontierTable's folded-insert id guard (a
    new batch wearing a folded id is silently skipped)."""
    return max((b["id"] for b in m["batches"] + m.get("superseded", [])), default=0) + 1


def _supersede_batches(m: dict, now: float) -> None:
    """Move every live batch of an AppendLog manifest to its superseded
    list: the dirs stay on disk for open readers, stamped with the
    supersede time so gc() can age-gate on it."""
    m["superseded"] = m.get("superseded", []) + [
        {**b, "superseded_ts": now} for b in m["batches"]
    ]
    m["batches"] = []


class SnapshotTable:
    """A table whose every commit is a full immutable snapshot.

    Used for the frontier base, the URL-seen shards and the folded
    latest-check view: small relative to the corpus, rewritten whole
    (Iceberg MERGE analog is copy-on-write here). At 10^10-row frontier
    scale the real backend is Iceberg MERGE; the commit protocol
    (write-new, flip pointer) is identical.
    """

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.manifest_path = os.path.join(self.dir, "manifest.json")
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def manifest(self) -> dict:
        return _read_manifest(self.manifest_path) or {"current": None, "snapshots": []}

    def current_snapshot(self) -> dict | None:
        m = self.manifest()
        if m["current"] is None:
            return None
        return next(s for s in m["snapshots"] if s["id"] == m["current"])

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    # -- IO ---------------------------------------------------------------
    def commit(self, df: DataFrame, round_id: int | None = None, meta: dict | None = None) -> int:
        m = self.manifest()
        sid = (m["current"] or 0) + 1
        snap_dir = os.path.join(self.dir, f"snap-{sid:06d}")
        df.write.mode("overwrite").parquet(snap_dir)
        m["snapshots"].append(
            {"id": sid, "round": round_id, "ts": time.time(), "path": snap_dir, "meta": meta or {}}
        )
        m["current"] = sid
        _write_manifest(self.manifest_path, m)
        return sid

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        m = self.manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            raise FileNotFoundError(f"table {self.dir} has no committed snapshot")
        snap = next(s for s in m["snapshots"] if s["id"] == sid)
        return spark.read.parquet(snap["path"])

    def rollback_to(self, snapshot_id: int) -> None:
        m = self.manifest()
        assert any(s["id"] == snapshot_id for s in m["snapshots"])
        m["current"] = snapshot_id
        _write_manifest(self.manifest_path, m)

    def prune_after_round(self, last_round: int) -> int:
        """Drop snapshots committed by rounds newer than `last_round`
        (crash recovery: a snapshot written mid-round whose round never
        reached rounds.json is an orphan). Returns snapshots dropped."""
        m = self.manifest()
        orphan = [s for s in m["snapshots"] if s.get("round") is not None and s["round"] > last_round]
        if not orphan:
            return 0
        live = [s for s in m["snapshots"] if s not in orphan]
        m["snapshots"] = live
        if m["current"] in {s["id"] for s in orphan}:
            m["current"] = live[-1]["id"] if live else None
        _write_manifest(self.manifest_path, m)
        for s in orphan:
            shutil.rmtree(s["path"], ignore_errors=True)
        return len(orphan)

    def expire_snapshots(self, keep: int = 3) -> None:
        """Drop all but the newest `keep` snapshots (retention, W6 analog)."""
        m = self.manifest()
        live = m["snapshots"][-keep:]
        dead = m["snapshots"][:-keep]
        for s in dead:
            if s["id"] != m["current"] and os.path.isdir(s["path"]):
                shutil.rmtree(s["path"], ignore_errors=True)
        m["snapshots"] = live + [s for s in dead if s["id"] == m["current"]]
        m["snapshots"].sort(key=lambda s: s["id"])
        _write_manifest(self.manifest_path, m)


class AppendLog:
    """Append-only table (the `checks` log): each commit adds a batch dir.

    Partition analog: one directory per round ≈ Iceberg partition by
    days(created_at); readers union the batch dirs. Old batches can be
    compacted without changing readers.
    """

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.manifest_path = os.path.join(self.dir, "manifest.json")
        os.makedirs(self.dir, exist_ok=True)

    def manifest(self) -> dict:
        return _read_manifest(self.manifest_path) or {"batches": []}

    def exists(self) -> bool:
        return bool(self.manifest()["batches"])

    def append(self, df: DataFrame, round_id: int | None = None, meta: dict | None = None) -> int:
        m = self.manifest()
        bid = _next_batch_id(m)
        bdir = os.path.join(self.dir, f"batch-{bid:06d}")
        df.write.mode("overwrite").parquet(bdir)
        m["batches"].append(
            {"id": bid, "round": round_id, "ts": time.time(), "path": bdir, "meta": meta or {}}
        )
        _write_manifest(self.manifest_path, m)
        return bid

    def read(self, spark: SparkSession, upto_batch: int | None = None) -> DataFrame:
        m = self.manifest()
        paths = [
            b["path"] for b in m["batches"] if upto_batch is None or b["id"] <= upto_batch
        ]
        if not paths:
            raise FileNotFoundError(f"append log {self.dir} is empty")
        return spark.read.parquet(*paths)

    def rewrite(self, df: DataFrame, meta: dict | None = None) -> int:
        """Compaction commit: materialize `df` to a FRESH batch dir, then
        atomically flip the manifest to point at it alone. The write runs
        while the old manifest (and its batch dirs) are still intact, so
        a plan over read() — which scans the old dirs — is safe to pass
        in; the old dirs are left on disk for still-open readers and can
        be garbage-collected by a later maintenance pass."""
        m = self.manifest()
        bid = _next_batch_id(m)
        bdir = os.path.join(self.dir, f"batch-{bid:06d}")
        df.write.mode("overwrite").parquet(bdir)  # BEFORE touching the manifest
        now = time.time()
        _supersede_batches(m, now)
        m["batches"] = [{"id": bid, "round": None, "ts": now, "path": bdir, "meta": meta or {}}]
        _write_manifest(self.manifest_path, m)
        return bid

    def prune_after_round(self, last_round: int) -> int:
        """Drop batches appended by rounds newer than `last_round` (crash
        recovery: a round's appends are only durable once rounds.json
        records the round — see StateStore.commit_round). Returns the
        number of orphan batches removed."""
        m = self.manifest()
        orphan = [b for b in m["batches"] if b.get("round") is not None and b["round"] > last_round]
        if not orphan:
            return 0
        m["batches"] = [b for b in m["batches"] if b not in orphan]
        _write_manifest(self.manifest_path, m)
        for b in orphan:
            shutil.rmtree(b["path"], ignore_errors=True)
        return len(orphan)

    def gc(self, min_age_s: float = 3600.0) -> int:
        """Remove batch dirs superseded by rewrite()/delta compaction.
        `min_age_s` gates on the SUPERSEDE time (recorded in the
        manifest), protecting still-open readers whose lazy plans scan
        the old dirs — pass 0 when no concurrent readers exist (e.g.
        single-driver maintenance). Without this pass, repeated
        retention/compaction runs grow the store unboundedly. Returns
        the number of dirs removed."""
        m = self.manifest()
        cutoff = time.time() - min_age_s
        live = {b["path"] for b in m["batches"]}
        dead, kept = [], []
        for b in m.get("superseded", []):
            (dead if b.get("superseded_ts", 0) <= cutoff and b["path"] not in live else kept).append(b)
        if dead:
            m["superseded"] = kept
            _write_manifest(self.manifest_path, m)
            for b in dead:
                shutil.rmtree(b["path"], ignore_errors=True)
        return len(dead)


class FilteredLog:
    """Read-only filtered view over an AppendLog (shared physical log)."""

    def __init__(self, log: "AppendLog", cond: str):
        self.log = log
        self.cond = cond

    def exists(self) -> bool:
        return self.log.exists()

    def read(self, spark: SparkSession, upto_batch: int | None = None) -> DataFrame:
        return self.log.read(spark, upto_batch).where(self.cond)


class FrontierTable:
    """Merge-on-read frontier (Iceberg MoR analog).

    A full snapshot rewrite per round is a flat, non-scaling cost (the
    frontier is 10^10 rows; a round touches ~batch_size of them). Here a
    round appends a small DELTA of (resource_id, update-kind, new
    last_check, now); readers apply the latest delta per key on the fly;
    `compact()` folds deltas back into a base snapshot every K rounds.

    Update kinds mirror the round's MERGE semantics:
    - 'checked': last_check = new id, status → NULL, priority → False
      (crawl/preprocess_check_data.py:75)
    - 'backoff': status → 'BACKOFF'
    """

    def __init__(self, root: str, name: str = "frontier"):
        self.base = SnapshotTable(root, f"{name}_base")
        self.deltas = AppendLog(root, f"{name}_delta")
        # INSERT files (Iceberg append analog): discovered-URL rows in
        # full frontier schema; read() unions them under the base before
        # update deltas apply, compact() folds them into the base
        self.inserts = AppendLog(root, f"{name}_insert")

    def exists(self) -> bool:
        return self.base.exists()

    def commit(self, df: DataFrame, round_id: int | None = None, meta: dict | None = None) -> int:
        """Full-rewrite commit (catalog upsert / init / compact): supersedes any
        pending deltas — the caller's df was produced from read(), so
        delta effects (and pending inserts) are already folded in."""
        ins_ids = [b["id"] for b in self.inserts.manifest()["batches"]]
        full_meta = {**(meta or {}), "folded_insert_batches": ins_ids}
        sid = self.base.commit(df, round_id=round_id, meta=full_meta)
        self._clear_deltas()
        return sid

    def _clear_deltas(self) -> None:
        """Empty the delta and insert manifests, moving their batch dirs
        to the superseded lists (left on disk for open readers; gc()
        collects)."""
        now = time.time()
        for log in (self.deltas, self.inserts):
            m = log.manifest()
            _supersede_batches(m, now)
            _write_manifest(log.manifest_path, m)

    def manifest(self) -> dict:
        return self.base.manifest()

    def append_delta(self, updates: DataFrame, round_id: int) -> None:
        """updates: (_urid, _new_last_check, _upd, _upd_at timestamp)."""
        from pyspark.sql import functions as F

        self.deltas.append(updates.withColumn("_delta_round", F.lit(round_id)), round_id)

    def append_inserts(self, rows: DataFrame, round_id: int) -> None:
        """NEW frontier rows (full frontier schema) — link discovery's
        enqueue path. Pure append; dedup against existing rows is the
        caller's anti-join (crawl/discover.discover_frontier)."""
        self.inserts.append(rows, round_id)

    def _live_insert_paths(self) -> list[str]:
        """Insert batches not yet folded into the current base. Unlike
        update deltas (idempotent to re-apply), re-reading a folded
        insert would DUPLICATE rows — so compact()/commit() record the
        folded batch ids in the base snapshot meta, making the
        crash window between base-commit and manifest-clear safe."""
        if not self.inserts.exists():
            return []
        snap = self.base.current_snapshot() or {}
        folded = set(snap.get("meta", {}).get("folded_insert_batches", []))
        return [
            b["path"] for b in self.inserts.manifest()["batches"] if b["id"] not in folded
        ]

    def read(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        base = self.base.read(spark)
        live_inserts = self._live_insert_paths()
        if live_inserts:
            base = base.unionByName(spark.read.parquet(*live_inserts))
        if not self.deltas.exists():
            return base
        d = self.deltas.read(spark)
        # _upd_at breaks same-round ties: an on-demand 'prioritize' delta
        # lands on the last COMMITTED round id (so crash-pruning cannot
        # drop it) but timestamps after that round's own updates
        w = Window.partitionBy("_urid").orderBy(F.desc("_delta_round"), F.desc("_upd_at"))
        latest = d.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
        # SHUFFLE_HASH: delta rows are 4 narrow columns bounded by the
        # rounds-since-compaction batch sizes — hash-build them instead
        # of sort-merge-joining (which would sort the full frontier base
        # on every MoR read)
        j = base.join(latest.hint("SHUFFLE_HASH"), base.resource_id == latest._urid, "left")
        checked = F.col("_upd") == "checked"
        backoff = F.col("_upd") == "backoff"
        prioritize = F.col("_upd") == "prioritize"
        return (
            j.withColumn(
                "last_check",
                F.when(checked, F.col("_new_last_check")).otherwise(F.col("last_check")),
            )
            .withColumn(
                "status",
                F.when(checked, F.lit(None).cast("string"))
                .when(backoff, F.lit("BACKOFF"))
                .otherwise(F.col("status")),
            )
            .withColumn(
                "priority",
                F.when(checked, F.lit(False))
                .when(prioritize, F.lit(True))
                .otherwise(F.col("priority")),
            )
            .withColumn(
                "status_since",
                # prioritize doesn't change status, so it keeps status_since
                F.when(checked | backoff, F.col("_upd_at")).otherwise(
                    F.col("status_since")
                ),
            )
            .drop("_urid", "_new_last_check", "_upd", "_upd_at", "_delta_round")
        )

    def compact(self, spark: SparkSession, round_id: int | None = None) -> None:
        """Fold deltas into a new base snapshot and start a fresh delta
        log (old delta dirs stay on disk under the superseded manifest —
        expire via the base's snapshot retention).

        Crash safety: callers must compact only COMMITTED state (i.e. at
        the start of a round, tagging the base snapshot with the last
        committed round) — see run_round. A crash between the base commit
        and the delta clear is harmless because re-applying an
        already-folded delta is idempotent (same last_check/status/
        priority values)."""
        self.commit(self.read(spark), round_id=round_id, meta={"op": "compact"})

    def prune_after_round(self, last_round: int) -> int:
        return (
            self.base.prune_after_round(last_round)
            + self.deltas.prune_after_round(last_round)
            + self.inserts.prune_after_round(last_round)
        )

    def gc(self, min_age_s: float = 3600.0) -> int:
        """Collect delta dirs orphaned by compact()/commit() clearing the
        delta manifest (the dirs themselves are left for open readers)."""
        return self.deltas.gc(min_age_s) + self.inserts.gc(min_age_s)


@dataclass
class StateStore:
    """All round-to-round crawl state under one root (checkpoint unit).

    A killed job resumes from here: the last fully-committed round is
    the max round present in ``rounds.json`` (written last in a round).
    """

    root: str

    def __post_init__(self):
        os.makedirs(self.root, exist_ok=True)
        self.frontier = FrontierTable(self.root, "frontier")
        self.checks = AppendLog(self.root, "checks")
        self.tables_index = AppendLog(self.root, "tables_index")
        # one log holds both per-round outputs (kind='row'|'text') —
        # written in a single pass/job; the two names are filtered views
        self.outputs = AppendLog(self.root, "outputs")
        self.parsed_rows = FilteredLog(self.outputs, "kind = 'row'")
        self.texts = FilteredLog(self.outputs, "kind = 'text'")
        self.outbox = AppendLog(self.root, "outbox")
        self.metrics = AppendLog(self.root, "metrics")
        self.seen = SnapshotTable(self.root, "url_seen")
        # periodically-folded latest-check-per-resource view (see
        # latest_checks_view): bounds the per-round window input
        self.checks_latest = SnapshotTable(self.root, "checks_latest")
        self._rounds_path = os.path.join(self.root, "rounds.json")

    def last_round(self) -> int:
        m = _read_manifest(self._rounds_path)
        return m["last_round"] if m else 0

    def prune_uncommitted(self) -> int:
        """Crash recovery (run before resuming): drop every batch/snapshot
        tagged with a round newer than the last committed one. A killed
        round's partial appends (checks/outputs/metrics/outbox/frontier
        deltas) would otherwise survive and duplicate rows when the round
        re-runs — inflating politeness rate counts and check history."""
        last = self.last_round()
        dropped = 0
        for log in (self.checks, self.tables_index, self.outputs, self.outbox, self.metrics):
            dropped += log.prune_after_round(last)
        dropped += self.frontier.prune_after_round(last)
        for snap in (self.seen, self.checks_latest):
            dropped += snap.prune_after_round(last)
        return dropped

    def gc(self, min_age_s: float = 3600.0) -> int:
        """Store-wide garbage collection of superseded batch dirs (run
        from maintenance, not per round). Age-gated — see AppendLog.gc."""
        removed = 0
        for log in (self.checks, self.tables_index, self.outputs, self.outbox, self.metrics):
            removed += log.gc(min_age_s)
        removed += self.frontier.gc(min_age_s)
        return removed

    def latest_checks_view(self, spark: SparkSession) -> "DataFrame | None":
        """Latest check per resource with BOUNDED read cost.

        The naive view windows over the FULL checks history — O(all
        checks ever written) per round, which is the long-horizon
        scale-killer at 10^10 checks (every round pays for every past
        round). Like the frontier's merge-on-read deltas, the view is a
        periodically folded base snapshot (``fold_latest_checks``, run
        on the compaction cadence) plus ONLY the checks batches appended
        since the fold: per-round input is O(one row per resource +
        compact_every_rounds × batch), flat over the crawl's lifetime.

        Returns None when no checks exist yet.
        """
        if not self.checks.exists():
            return None
        from hydra_spark.crawl.round import latest_checks

        snap = self.checks_latest.current_snapshot()
        if snap is None:
            return latest_checks(self.checks.read(spark))
        upto = snap["meta"]["upto_batch"]
        base = self.checks_latest.read(spark)
        new_paths = [b["path"] for b in self.checks.manifest()["batches"] if b["id"] > upto]
        if not new_paths:
            return base
        return latest_checks(base.unionByName(spark.read.parquet(*new_paths)))

    def fold_latest_checks(self, spark: SparkSession, round_id: int | None = None) -> None:
        """Fold the latest-check view into a snapshot. Call only on
        COMMITTED state (start of round, tagged with the last committed
        round id) — same crash discipline as FrontierTable.compact: an
        orphaned fold is dropped by prune_uncommitted, and re-folding
        already-folded batches is idempotent (same per-key winners)."""
        if not self.checks.exists():
            return
        batches = self.checks.manifest()["batches"]
        if not batches:
            # crash recovery can leave a manifest whose only batch was
            # pruned (prune_after_round on an uncommitted round) — there
            # is nothing to fold
            return
        upto = max(b["id"] for b in batches)
        df = self.latest_checks_view(spark)
        self.checks_latest.commit(df, round_id=round_id, meta={"upto_batch": upto})

    def commit_round(self, round_id: int, meta: dict | None = None) -> None:
        m = _read_manifest(self._rounds_path) or {"last_round": 0, "rounds": []}
        m["last_round"] = round_id
        m["rounds"].append({"round": round_id, "ts": time.time(), "meta": meta or {}})
        _write_manifest(self._rounds_path, m)
