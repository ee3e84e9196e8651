"""Atomic multi-table checkpoint store — the Iceberg-commit stand-in.

The reference checkpoints by rewriting three JSON files every 10 completed
URLs (run_crawl_local.py:147-160,299-301) — a torn-write risk its own
resume path has to repair (``in_progress`` → ``pending`` reset,
run_crawl_local.py:127-131). Here a round commits ALL state tables as one
atomic snapshot: each table is staged under a new version directory, and
a single pointer file is flipped via ``os.replace`` (atomic on POSIX) only
after every write succeeded. A crash mid-round leaves the previous
snapshot intact — "in_progress" never persists; resume = read the latest
pointer.

Two table modes, chosen for 10^10-URL scale:

- **replace** — the working set (pending frontier, bloom bitmaps): small
  relative to history, rewritten whole each round.
- **append**  — the logs (url_seen status events, crawl_results, errors,
  round_metrics): each round writes only its delta; a read unions the
  version dirs listed in the pointer. This is the parquet analog of an
  Iceberg append commit — the seen set is NEVER rewritten. ``compact()``
  folds old deltas together (Iceberg's rewrite_data_files).

Staged writes double as the round barrier: the driver writes an
intermediate (e.g. the fetch+extract output), gets back a DataFrame read
from the written files, and builds downstream plans on that — each
expensive stage (the pandas-UDF extraction above all) executes exactly
once per round, and lineage is cut at every commit boundary.

On a real cluster this class swaps for an Iceberg catalog with the same
interface (one transaction per round, per-partition lineage from file
manifests)."""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class Staging:
    """One in-progress snapshot. Nothing is visible until finalize()."""

    def __init__(
        self,
        store: "CheckpointStore",
        version: int,
        tables: dict,
        prior_extra: dict | None = None,
    ):
        self.store = store
        self.version = version
        self.tables = tables  # carried-forward pointer state, mutated here
        # Non-table pointer meta (round, metrics, metrics_history, ...) is
        # carried forward through every commit unless finalize() overrides a
        # key — a maintenance commit (compact) must not wipe crawl state.
        self.prior_extra = dict(prior_extra or {})
        self.vdir = store._version_dir(version)
        if self.vdir.exists():  # leftover of a crashed round — discard
            shutil.rmtree(self.vdir)
        self.vdir.mkdir(parents=True)

    def _write(self, name: str, df: DataFrame) -> str:
        path = str(self.vdir / name)
        self.store._schemas[name] = df.schema  # read() skips inference
        df.write.mode("overwrite").parquet(path)
        return path

    def _read_back(self, df: DataFrame, path: str) -> DataFrame:
        """Read the staged files back with the KNOWN schema — skipping
        parquet footer inference saves one driver-side file-listing job
        per staged write (a round stages ~8 tables; at 2 cores those jobs
        were a measurable slice of the per-round serial floor)."""
        return df.sparkSession.read.schema(df.schema).parquet(path)

    def write_replace(self, name: str, df: DataFrame) -> DataFrame:
        path = self._write(name, df)
        self.tables[name] = {"mode": "replace", "version": self.version}
        return self._read_back(df, path)

    def write_scratch(self, name: str, df: DataFrame) -> DataFrame:
        """Materialize a ROUND-LOCAL scratch table: written like any staged
        table (and read back schema-pinned) but never registered in the
        commit pointer — scratch lives only for the staging's lifetime and
        the next ``begin()`` clears it, so it can't pin version dirs from
        ``gc()``. When the store has a ``scratch_dir`` (e.g. /dev/shm),
        scratch bytes land there instead of the checkpoint volume — the
        per-round staged writes are the round's hot IO path and never need
        durability (a crashed round replays wholesale)."""
        sdir = self.store._scratch_dir(self.version)
        sdir.mkdir(parents=True, exist_ok=True)
        path = str(sdir / name)
        df.write.mode("overwrite").parquet(path)
        return self._read_back(df, path)

    def write_rewrite(self, name: str, df: DataFrame) -> DataFrame:
        """Rewrite an append table's FULL content as a single new delta —
        the Iceberg rewrite-with-deletes analog (compaction that drops
        rows). Used by maintenance flows (recrawl-TTL expiry) that must
        remove rows from a log; regular rounds only ever append."""
        path = self._write(name, df)
        prior = self.tables.get(name, {"mode": "append", "versions": []})
        assert prior["mode"] == "append", name
        self.tables[name] = {"mode": "append", "versions": [self.version]}
        return self._read_back(df, path)

    def write_append(self, name: str, df: DataFrame) -> DataFrame:
        path = self._write(name, df)
        entry = self.tables.get(name, {"mode": "append", "versions": []})
        assert entry["mode"] == "append", name
        entry = {"mode": "append", "versions": entry["versions"] + [self.version]}
        self.tables[name] = entry
        return self._read_back(df, path)

    def abandon(self) -> None:
        """Discard an unfinalized staging: version dir + its scratch.
        The pointer never moved, so this is always safe."""
        shutil.rmtree(self.vdir, ignore_errors=True)
        shutil.rmtree(self.store._scratch_dir(self.version), ignore_errors=True)

    def finalize(self, meta: dict | None = None) -> int:
        pointer = {
            **self.prior_extra,
            "version": self.version,
            "tables": self.tables,
            **(meta or {}),
        }
        body = json.dumps(pointer, sort_keys=True)
        # per-snapshot copy of the pointer (Iceberg metadata-file analog):
        # enables time travel (read_at / meta_at) for any snapshot whose
        # version dirs gc() hasn't dropped yet. Written BEFORE the atomic
        # _LATEST flip — a crash between the two leaves a dangling
        # snapshot file that the next begin() of this version overwrites.
        (self.vdir / CheckpointStore.SNAP_META).write_text(body)
        tmp = self.store.root / f".{CheckpointStore.POINTER}.tmp"
        tmp.write_text(body)
        os.replace(tmp, self.store.root / CheckpointStore.POINTER)
        return self.version


class CheckpointStore:
    POINTER = "_LATEST"
    SNAP_META = "_META.json"  # per-version pointer copy (time travel)

    def __init__(self, root: str | Path, scratch_dir: str | Path | None = None):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # Round-local scratch (never in the pointer). Default: a _scratch
        # subtree of the checkpoint volume; point it at tmpfs (/dev/shm)
        # via CrawlConfig.scratch_dir to take the per-round staged-write
        # hot path off disk. Namespaced under the store's directory name
        # so two stores sharing one tmpfs don't collide.
        self.scratch_root = (
            Path(scratch_dir) / self.root.name if scratch_dir else self.root / "_scratch"
        )
        # Driver-side plan/schema caches. A round calls read() several
        # times (frontier, url_seen, bloom_state) and every staged write
        # reads its files back — each uncached spark.read.parquet runs a
        # file-listing + footer-inference driver job, a serial per-round
        # cost that doesn't shrink with executor count. Keys carry the
        # version signature, so a new commit naturally misses.
        self._schemas: dict = {}
        self._read_cache: dict = {}

    def latest_meta(self) -> dict | None:
        p = self.root / self.POINTER
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def latest_version(self) -> int | None:
        meta = self.latest_meta()
        return None if meta is None else meta["version"]

    def _version_dir(self, version: int) -> Path:
        return self.root / f"v{version:06d}"

    def _scratch_dir(self, version: int) -> Path:
        return self.scratch_root / f"v{version}"

    def begin(self) -> Staging:
        meta = self.latest_meta()
        version = 0 if meta is None else meta["version"] + 1
        # scratch from prior rounds (or an abandoned staging) is dead the
        # moment a new staging starts — clear it here so scratch never
        # outlives a round or survives an early-return abandon
        shutil.rmtree(self.scratch_root, ignore_errors=True)
        tables = dict(meta["tables"]) if meta else {}
        extra = {
            k: v for k, v in (meta or {}).items() if k not in ("version", "tables")
        }
        return Staging(self, version, tables, prior_extra=extra)

    def meta_at(self, version: int) -> dict | None:
        """Pointer metadata as of snapshot ``version`` (None if that
        snapshot never finalized or predates this feature).

        Versions beyond the live pointer are treated as never-committed:
        finalize() writes the per-version _META.json just before the
        atomic _LATEST flip, so a crash in that window leaves a dangling
        snapshot file one version ahead of the pointer — it must stay
        invisible until its number is legitimately reused."""
        live = self.latest_version()
        if live is None or version > live:
            return None
        p = self._version_dir(version) / self.SNAP_META
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def snapshots(self) -> list[int]:
        """Time-travelable snapshot versions still on disk (ascending).
        ``gc()`` bounds this list — history older than ``keep_last``
        commits (and unreferenced by the live pointer) is dropped."""
        live = self.latest_version()
        if live is None:
            return []
        return sorted(
            v
            for d in self.root.glob("v*")
            if (v := int(d.name[1:])) <= live  # see meta_at: crash window
            and (d / self.SNAP_META).exists()
        )

    def read_at(self, spark: SparkSession, name: str, version: int) -> DataFrame:
        """Time travel: read ``name`` exactly as snapshot ``version`` saw
        it (the Iceberg ``VERSION AS OF`` analog). Raises if the snapshot
        or its data files have been gc'd."""
        meta = self.meta_at(version)
        if meta is None:
            raise FileNotFoundError(
                f"no snapshot metadata for v{version} at {self.root} "
                "(never finalized, or gc'd)"
            )
        return self._read_meta(spark, meta, name, pin_schema=False)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        meta = self.latest_meta()
        return self._read_meta(spark, meta, name)

    def _read_meta(self, spark: SparkSession, meta: dict | None,
                   name: str, pin_schema: bool = True) -> DataFrame:
        if meta is None or name not in meta["tables"]:
            raise FileNotFoundError(f"table {name!r} not in snapshot at {self.root}")
        entry = meta["tables"][name]
        if entry["mode"] == "replace":
            paths = [str(self._version_dir(entry["version"]) / name)]
        else:
            paths = [str(self._version_dir(v) / name) for v in entry["versions"]]
        # session identity: applicationId, not id(spark) — a stopped
        # session's object id can be reused by a new one, which would
        # resurrect DataFrames bound to the dead JVM-side session
        key = (spark.sparkContext.applicationId, name, tuple(paths))
        hit = self._read_cache.get(key)
        if hit is not None:
            return hit
        reader = spark.read
        # the pinned schema tracks the LATEST write; a time-traveled read
        # of an older snapshot must fall back to footer inference or a
        # schema evolution would silently null-fill historical data
        schema = self._schemas.get(name) if pin_schema else None
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*paths)
        if len(self._read_cache) > 256:  # bounded: old snapshots' keys
            self._read_cache.clear()
        self._read_cache[key] = df
        return df

    def compact(self, spark: SparkSession, names: list[str] | None = None) -> None:
        """Fold append deltas into a single delta (new snapshot)."""
        meta = self.latest_meta()
        if meta is None:
            return
        todo = [
            name
            for name, entry in meta["tables"].items()
            if entry["mode"] == "append"
            and len(entry["versions"]) >= 2  # single delta = nothing to fold
            and (names is None or name in names)
        ]
        if not todo:
            return
        staging = self.begin()
        for name in todo:
            df = self.read(spark, name)
            staging._write(name, df)
            staging.tables[name] = {"mode": "append", "versions": [staging.version]}
        staging.finalize({"last_compaction": staging.version})

    def gc(self, keep_last: int = 2) -> None:
        """Drop version dirs not referenced by the pointer and older than
        ``keep_last`` snapshots back."""
        meta = self.latest_meta()
        if meta is None:
            return
        live: set[int] = set()
        for entry in meta["tables"].values():
            if entry["mode"] == "replace":
                live.add(entry["version"])
            else:
                live.update(entry["versions"])
        cutoff = meta["version"] - keep_last
        for d in sorted(self.root.glob("v*")):
            v = int(d.name[1:])
            if v not in live and v <= cutoff:
                shutil.rmtree(d)
