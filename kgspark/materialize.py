"""Materialization, lineage, and checkpoint-resume (SURVEY.md §7 steps 7).

Design target is an Iceberg catalog: every stage lands in a versioned table,
commits are atomic snapshots, and a run manifest records the snapshot ids so
any run can resume.  The sandbox ships no iceberg-spark runtime jar, so this
module implements the documented fallback (SURVEY.md §7.1): parquet stage
tables + a JSON manifest whose pointer swap plays the role of the Iceberg
snapshot commit (the reference's own durability story is the same shape —
temp-file + fsync + rename, storage/io.rs:38-53).  The API is kept
Iceberg-shaped (``write``/``read``/``commit``) so swapping the backend is a
one-class change.

Resume model (the reference's two recovery surfaces re-expressed):
  * doc-level: the ``doc_status`` table + a LEFT ANTI join keeps already
    PROCESSED documents out of the new batch (J1 ``filter_keys``,
    storage/json_kv.rs:260-264, call site pipeline/pipeline.rs:482-488);
  * stage-level: stage writes are run-partitioned parquet APPENDS
    (``run_id=`` hive partitions, the Iceberg-commit analog): per-batch
    I/O is proportional to the new rows, never to accumulated table size.
    The manifest is the commit log — partitions from runs that never
    reached it are swept at the next batch start, so a crash anywhere
    between stage appends and the manifest commit heals to exactly-once
    (re-derived rows are byte-identical by content-addressed ids).

Lineage/metrics: every committed stage records per-partition row counts,
byte sizes and totals in the manifest — the per-partition lineage + metrics
rows the north rule asks for.  They are taken from the write itself, the way
Delta Lake records per-file statistics at commit time: the row total is an
``Observation`` filled inside the write job, and the per-partition counts
and sizes come from the footers of the parquet files that write created.
No table is read back to count what was just written.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import canon, pipeline
from .session import LineageScope

STATUS_PROCESSED = "PROCESSED"  # storage/mod.rs:38-62 status vocabulary
STATUS_PENDING = "PENDING"


def iceberg_runtime_probe() -> dict:
    """Probe the session classpath for an iceberg-spark runtime jar.

    The Warehouse's true form is an Iceberg catalog — S6 upsert becomes
    ``MERGE INTO`` and the run manifest records snapshot ids (reference
    upsert semantics, storage/json_kv.rs:193-207).  The sandbox ships no
    iceberg-spark-runtime jar, so the parquet fallback stays active; every
    :class:`Warehouse` records this probe in its manifest so each round can
    see at a glance whether the backend swap is unblocked.

    Search order: ``$KGSPARK_ICEBERG_JAR`` (explicit override), then
    ``$SPARK_HOME/jars``, then the pyspark wheel's bundled ``jars/`` dir.
    """
    dirs: list[str] = []
    sh = os.environ.get("SPARK_HOME")
    if sh:
        dirs.append(os.path.join(sh, "jars"))
    try:
        import pyspark

        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover - pyspark is a hard dep
        pass
    override = os.environ.get("KGSPARK_ICEBERG_JAR")
    jars = [override] if override and os.path.exists(override) else []
    for d in dirs:
        if os.path.isdir(d):
            jars.extend(
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if "iceberg-spark-runtime" in f and f.endswith(".jar")
            )
    return {
        "available": bool(jars),
        "jar": jars[0] if jars else None,
        "searched": dirs,
        "backend": "iceberg" if jars else "parquet-fallback",
    }


# In-process reentrancy for the writer lease: root -> (owner thread, depth).
# run_pipeline holds the lease for the whole batch while its canonical
# rebuild may call truncate()/_record_history_reset(), which take it again.
_LEASE_STATE: dict[str, list] = {}
_LEASE_GUARD = threading.Lock()


class Warehouse:
    """Parquet stage tables + manifest commits under one root directory."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # Record the Iceberg-backend probe (see iceberg_runtime_probe) once
        # per backend state; re-probing every init keeps the manifest honest
        # if the jar appears between rounds.  The probe result is STASHED,
        # not committed here: construction stays read-only, so a read-only
        # consumer opening the root concurrently with a running batch can
        # never race run_pipeline's manifest read-modify-write and drop a
        # committed run entry (ADVICE r3).  The stash lands inside the next
        # legitimate _commit_manifest (serialized by the writer lease).
        # Schema-registry entries of appends ride the same stash; each lands
        # only in a commit whose ``runs`` names its run (see
        # :meth:`_commit_manifest`).
        self._pending: dict = {"schemas": {}}
        probe = iceberg_runtime_probe()
        prev = self.manifest().get("iceberg_probe", {})
        if (prev.get("backend"), prev.get("jar")) != (probe["backend"], probe["jar"]):
            self._pending["iceberg_probe"] = probe

    # -- paths ------------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"runs": []}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, m: dict) -> None:
        # atomic pointer swap — the parquet analog of an Iceberg snapshot
        # commit (and of the reference's temp+fsync+rename, storage/io.rs).
        # Callers that READ the manifest before building ``m`` must hold
        # the writer lease across read+commit (use :meth:`mutate_manifest`)
        # or another writer's entry committed in between is dropped.
        if "iceberg_probe" in self._pending:
            m["iceberg_probe"] = self._pending.pop("iceberg_probe")
        # a schema entry lands with its run (or, a legacy seed with no run,
        # at once); entries of runs this commit does not name stay pending,
        # and the next batch's sweep drops them with their partitions
        runs = {r.get("run_id") for r in m.get("runs", [])}
        for name, log in self._pending["schemas"].items():
            land = [v for v in log if v["run_id"] is None or v["run_id"] in runs]
            if land:
                m.setdefault("schemas", {}).setdefault(name, []).extend(land)
                log[:] = [v for v in log if v not in land]
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    def mutate_manifest(self, mutate) -> dict:
        """Serialized manifest read-modify-write: re-read UNDER the writer
        lease, apply ``mutate(m)`` in place, commit — two concurrent
        writers on one root can never drop each other's run entries."""
        with self.writer_lease():
            m = self.manifest()
            mutate(m)
            self._commit_manifest(m)
            return m

    @contextmanager
    def writer_lease(self, timeout_s: float = 600.0):
        """Exclusive writer lease on this warehouse root — the
        parquet-fallback analog of Iceberg's commit lock.

        Concurrent batch writers SERIALIZE (the second blocks until the
        first commits) instead of interleaving: the uncommitted-partition
        sweep, the canonical-state rewrites, and the manifest
        read-modify-write are all safe only under exclusive write access,
        so the lease spans the whole batch, not just the manifest swap.
        Cross-process via an exclusive ``flock`` on ``.writer.lock``: the
        kernel drops the lock when the holder's fd closes — including on
        crash/SIGKILL — so there is no stale-lock state to detect, and no
        steal protocol (the earlier pid-file steal had a TOCTOU window
        where two waiters could both "steal" a dead writer's lock, and a
        crash between O_EXCL-create and pid-write left an unstealable
        empty lockfile).  The pid written into the file is diagnostic
        only.  The lockfile itself persists across leases by design:
        unlinking it would let a later creator flock a DIFFERENT inode
        while a waiter still spins on the old one.  Reentrant per
        (root, thread): run_pipeline holds it while its canonical rebuild
        truncates state tables, which take it again.  Read paths never
        take the lease — construction and reads stay lock-free.
        """
        root = os.path.abspath(self.root)
        me = threading.get_ident()
        with _LEASE_GUARD:
            st = _LEASE_STATE.get(root)
            if st is not None and st[0] == me:
                st[1] += 1
                held = True
            else:
                held = False
        if held:
            try:
                yield
            finally:
                with _LEASE_GUARD:
                    _LEASE_STATE[root][1] -= 1
            return
        lock = os.path.join(self.root, ".writer.lock")
        deadline = time.monotonic() + timeout_s
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.monotonic() > deadline:
                        holder = "?"
                        try:
                            with open(lock) as f:
                                holder = f.read().strip() or "?"
                        except OSError:  # pragma: no cover - fs race
                            pass
                        raise TimeoutError(
                            f"warehouse writer lease at {lock} held by pid "
                            f"{holder} past {timeout_s}s"
                        )
                    time.sleep(0.05)
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
        except BaseException:
            os.close(fd)
            raise
        with _LEASE_GUARD:
            _LEASE_STATE[root] = [me, 1]
        try:
            yield
        finally:
            with _LEASE_GUARD:
                _LEASE_STATE.pop(root, None)
            os.close(fd)  # releases the flock

    # -- IO ---------------------------------------------------------------
    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.table_path(name), "_SUCCESS"))

    def _has_data_files(self, name: str) -> bool:
        """True if the table dir holds at least one parquet data file.

        Local-FS walk — fine for this parquet-fallback backend (the Iceberg
        backend would consult the snapshot manifest instead)."""
        return next(_parquet_files(self.table_path(name)), None) is not None

    # -- schema evolution ---------------------------------------------------
    def _schema_log(self, name: str) -> list[dict]:
        """The table's schema version log: one entry per column-set change,
        ``{"run_id": ..., "columns": {name: dtype}}`` — the parquet-fallback
        analog of Iceberg's schema-id history.  Committed entries from the
        manifest, then this writer's pending ones, so a read later in the
        same batch already sees an evolved table."""
        committed = self.manifest().get("schemas", {}).get(name, [])
        return committed + self._pending["schemas"].get(name, [])

    def read(self, name: str) -> DataFrame:
        log = self._schema_log(name)
        if len({tuple(sorted(v["columns"].items())) for v in log}) > 1:
            # heterogeneous file schemas: merge footers, null-fill missing
            # columns (the Iceberg add-column read semantics); canonical
            # column order = registry insertion order.  The footer-merge
            # cost is paid ONLY by evolved tables.
            df = self.spark.read.option("mergeSchema", "true").parquet(
                self.table_path(name)
            )
            known = {c for v in log for c in v["columns"]}
            # canonical order: registered columns sorted by name (the
            # manifest JSON is sort_keys, so name order is the only order
            # that survives a round-trip), then unregistered extras
            order = sorted(c for c in df.columns if c in known) + [
                c for c in df.columns if c not in known
            ]
            return df.select(*order)
        return self.spark.read.parquet(self.table_path(name))

    def read_as_of(self, name: str, run_id: str) -> DataFrame:
        """Snapshot read: the table as it stood when ``run_id`` committed —
        the Iceberg time-travel (``VERSION AS OF``) analog on the parquet
        backend (reference storage is last-write-wins with no history,
        storage/json_kv.rs:193-207; this is strictly more capable).

        The manifest's ``runs`` list is the commit log: partitions of runs
        committed after ``run_id`` are excluded with an ``isin`` filter on
        the hive partition key, so their files are PRUNED at planning time,
        never scanned.  Compaction collapses history — runs folded into a
        ``compact-*`` base partition stop being individually addressable
        (the snapshot-expiry analog) — so a snapshot that predates a later
        compaction of this table raises instead of returning wrong rows.
        """
        runs = self.manifest()["runs"]
        ids = [str(r.get("run_id", "")) for r in runs]
        if run_id not in ids:
            raise ValueError(f"run_id {run_id!r} not in the manifest commit log")
        cut = ids.index(run_id) + 1
        if any(
            r.get("compaction") == name or name in r.get("history_reset", ())
            for r in runs[cut:]
        ):
            raise ValueError(
                f"snapshot {run_id!r} of {name!r} predates a history-"
                "collapsing operation (compaction, full rebuild, or "
                "delete) — raise-instead-of-wrong-rows"
            )
        df = self.read(name)
        if "run_id" not in df.columns:
            raise ValueError(f"{name!r} is not an append (run_id-partitioned) table")
        df = df.filter(F.col("run_id").isin(ids[:cut]))
        # True Iceberg time travel reads with the SCHEMA as of the snapshot:
        # columns added by later runs are dropped, not null-filled.  Schema
        # entries whose run never committed (crash between registration and
        # commit) are not part of any snapshot.
        log = self._schema_log(name)
        if log:
            cols: set[str] = set()
            for v in log:
                rid = v.get("run_id")
                if rid is None or rid in ids[:cut]:
                    cols.update(v["columns"])
            # keep the read() column order, drop post-snapshot columns
            keep = [c for c in df.columns if c in cols or c == "run_id"]
            if keep:
                df = df.select(*keep)
        return df

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> dict:
        """Write a stage table and return its lineage metrics (uncommitted)."""
        m = self._write(name, df, self.table_path(name), mode)
        # an overwrite resets schema history along with the data
        self._pending["schemas"].pop(name, None)
        if self._schema_log(name):
            self.mutate_manifest(lambda mm: mm.get("schemas", {}).pop(name, None))
        return m

    def append(self, name: str, df: DataFrame, run_id: str) -> dict:
        """Append one run's rows as a ``run_id=`` partition (incremental).

        The Iceberg-append analog: per-batch write cost is proportional to
        the NEW rows, never to table size (the previous read+union+rewrite
        was O(corpus) I/O per increment — the 100 TB scale-killer).  Lineage
        metrics come from the write itself (:meth:`_write`): only this run's
        partition directory is listed, and nothing is read back.

        SCHEMA EVOLUTION (the Iceberg add-column analog): a batch may add
        new columns (older rows read as NULL) or omit existing ones (this
        batch's rows read as NULL); a TYPE change on an existing column is
        rejected BEFORE any file is written.  Column history is versioned
        in the manifest (``schemas``): a new entry is stashed and commits
        with its run, reads of evolved tables merge parquet footers, and
        ``read_as_of`` applies the schema as of the snapshot.
        """
        incoming = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        log = self._schema_log(name)
        seed: list[dict] = []
        if not log and self._has_data_files(name):
            # legacy table predating the registry: seed version 0 from the
            # files so its columns participate in conflict checks
            log = seed = [{
                "run_id": None,
                "columns": {
                    f.name: f.dataType.simpleString()
                    for f in self.read(name).schema.fields
                    if f.name != "run_id"
                },
            }]
        known: dict[str, str] = {}
        for v in log:
            known.update(v["columns"])
        conflicts = {
            c: (known[c], t)
            for c, t in incoming.items()
            if c in known and known[c] != t
        }
        if conflicts:
            raise ValueError(
                f"schema evolution rejected on {name!r}: type change on "
                f"{conflicts} — add/omit columns is allowed, a type change "
                "is not (rewrite via write() instead)"
            )
        # the run's rows go straight into its hive partition directory: a
        # write there without partition columns always leaves at least one
        # file, an empty one carrying the SCHEMA for a zero-row batch, so the
        # table stays readable.  The root _SUCCESS is the marker a
        # partitioned write would leave (see exists()).
        m = self._write(
            name, df.drop("run_id"),
            os.path.join(self.table_path(name), f"run_id={run_id}"), "append",
        )
        open(os.path.join(self.table_path(name), "_SUCCESS"), "a").close()
        if not log or log[-1]["columns"] != incoming:
            self._pending["schemas"].setdefault(name, []).extend(
                seed + [{"run_id": run_id, "columns": incoming}]
            )
        m.update(mode="append", run_id=run_id)
        return m

    def _write(self, name: str, df: DataFrame, path: str, mode: str) -> dict:
        """The one warehouse write: ``df`` as parquet under ``path``,
        returning table ``name``'s lineage metrics taken from the write
        itself, with no read-back job.  A frame carrying ``run_id`` is
        written partitioned by it, so a rewritten table keeps the
        warehouse's hive layout (mixed layouts break reads).

        ``n_rows`` is an ``Observation`` filled inside the write job.
        ``partitions`` maps each writing task's partition number (the
        ``part-NNNNN`` of its files, summed over a task's files) to the rows
        it wrote, and ``n_bytes`` sums the file sizes; both come from the
        parquet footers of the files this write created under ``path``."""
        import pyarrow.parquet as pq
        from pyspark.sql import Observation

        before = set(_parquet_files(path))
        obs = Observation()
        writer = df.observe(obs, F.count(F.lit(1)).alias("n_rows")).write.mode(mode)
        if "run_id" in df.columns:
            writer = writer.partitionBy("run_id")
        writer.parquet(path)
        parts: dict[str, int] = {}
        n_bytes = 0
        for f in set(_parquet_files(path)) - before:
            n_bytes += os.path.getsize(f)
            n = pq.read_metadata(f).num_rows
            if n:
                task = str(int(os.path.basename(f).split("-")[1]))
                parts[task] = parts.get(task, 0) + n
        return {
            "table": name,
            "path": self.table_path(name),
            "n_rows": int(obs.get["n_rows"]),
            "n_partitions": len(parts),
            "partitions": parts,
            "n_bytes": n_bytes,
        }


def _parquet_files(path: str):
    """The parquet data files under ``path``, lazily (none if it is absent)."""
    return glob.iglob(os.path.join(glob.escape(path), "**", "*.parquet"), recursive=True)


def diff_as_of(
    wh: "Warehouse", name: str, run_a: str, run_b: str
) -> DataFrame:
    """Snapshot diff: the rows of ``name`` added between commit ``run_a``
    (exclusive) and commit ``run_b`` (inclusive) — the versioned-KG
    "what changed between crawls" read (Iceberg incremental-scan analog,
    ``incremental_from_snapshot``).

    Because :meth:`Warehouse.read_as_of` RAISES whenever any
    history-collapsing op (compaction, delete, rebuild) landed after the
    older snapshot, a diff that returns at all is over an append-only
    window: the removed set is structurally empty and the added set is
    exactly the run partitions committed in ``(run_a, run_b]``.  So the
    diff is pure PARTITION PRUNING on the hive run_id key — O(delta
    files scanned), never an exceptAll over two O(table) snapshots.
    Output carries a ``change`` column (always ``'added'``; the column
    exists so a future mutable backend can union a removed set without
    breaking readers) and the schema AS OF ``run_b``.
    """
    runs = [str(r.get("run_id", "")) for r in wh.manifest()["runs"]]
    for rid in (run_a, run_b):
        if rid not in runs:
            raise ValueError(f"run_id {rid!r} not in the manifest commit log")
    ia, ib = runs.index(run_a), runs.index(run_b)
    if ia > ib:
        raise ValueError(
            f"run_a {run_a!r} must be committed no later than run_b {run_b!r}"
        )
    # validates both snapshots are addressable (raise-instead-of-wrong-rows)
    wh.read_as_of(name, run_a)
    b = wh.read_as_of(name, run_b)
    window = runs[ia + 1 : ib + 1]
    return b.filter(F.col("run_id").isin(window)).withColumn(
        "change", F.lit("added")
    )


def compact(wh: "Warehouse", name: str, target_partitions: int | None = None) -> dict:
    """Collapse a stage table's accumulated run partitions into ONE base
    partition — the Iceberg ``rewrite_data_files`` analog.

    Incremental appends pay the small-file tax: after many batches a table
    holds one partition (and >=1 file) per run, degrading scan planning and
    open-file overhead.  Compaction rewrites the whole table into a single
    ``run_id=compact-N`` partition with ``target_partitions`` right-sized
    files, registers that run id in the manifest BEFORE the atomic swap (so
    the uncommitted-partition sweep never mistakes the base for a crashed
    run), then swaps.  Crash windows: before the manifest commit → a stale
    ``.tmpnew`` dir is overwritten by the next compaction; after the commit
    but before the swap → a manifest entry with no partitions, harmless.
    Resume semantics are untouched — doc ids don't change, only file layout.
    Holds the warehouse writer lease for the whole rewrite: an in-place
    maintenance op must never interleave with a running batch.
    """
    with wh.writer_lease():
        df = wh.read(name).drop("run_id")
        n = target_partitions or wh.spark.sparkContext.defaultParallelism
        m = wh.manifest()
        base_rid = f"compact-{sum(1 for r in m['runs'] if str(r.get('run_id', '')).startswith('compact-'))}-{name}"
        staged = df.repartition(n).withColumn("run_id", F.lit(base_rid))
        out = wh._write(name, staged, wh.table_path(name + ".tmpnew"), "overwrite")
        wh.mutate_manifest(
            lambda mm: mm["runs"].append(
                {"run_id": base_rid, "compaction": name}
            )
        )
        _swap(wh, name)
        out["compacted_to"] = base_rid
        return out


def delete_ids(wh: "Warehouse", name: str, id_col: str, ids_df: DataFrame) -> int:
    """S7 (storage/json_kv.rs:209-237): delete by id list — anti-join rewrite.

    Parquet has no row-level delete; the Iceberg form is ``DELETE FROM t
    WHERE id IN (...)``.  Here: rewrite the table minus the ids (staged
    write + atomic swap, same pattern as the resume path).  Returns rows
    removed.

    Deleting from ``doc_status`` — the resume source of truth the tier-2
    anti-join consults — also drops the tier-1 ``seen_inputs`` state:
    otherwise a re-fed page of deleted content would be prefiltered
    before the doc-level anti-join could re-admit it, and the deletion
    would silently become permanent.  Conservative form — the whole seen
    state is truncated, so the next batch pays one full extraction pass
    while tier 2 still prevents duplicate rows; the state then rebuilds.
    (A delete from ``docs`` alone is NOT made re-feedable: tier 2 would
    still block the rows — delete from both tables to remove a doc.)"""
    with wh.writer_lease():
        before = wh.read(name)
        doomed = ids_df.select(F.col(ids_df.columns[0]).alias(id_col))
        # ADVICE r3: a delete that matches NOTHING must be a true no-op — no
        # history-reset entry (which would invalidate every earlier
        # read_as_of snapshot) and no seen_inputs truncate (which would
        # force a full O(input) re-extraction pass on the next batch).  The
        # matched rows are exactly the rows the anti-join rewrite drops.
        n_removed = before.join(doomed, id_col, "left_semi").count()
        if n_removed == 0:
            return 0
        if name == "doc_status" and wh.exists("seen_inputs"):
            truncate(wh, "seen_inputs")
        kept = before.join(doomed, id_col, "left_anti")
        wh._write(name, kept, wh.table_path(name + ".tmpnew"), "overwrite")
        # record BEFORE the swap: a crash between the two at worst leaves a
        # spurious reset entry (snapshots refuse conservatively), never a
        # rewritten table with addressable-but-wrong history
        _record_history_reset(wh, name)
        _swap(wh, name)
        return n_removed


def _record_history_reset(wh: "Warehouse", name: str) -> None:
    """Maintenance entry in the commit log: table ``name``'s pre-existing
    partitions were rewritten/removed in place, so snapshots that predate
    this point are no longer addressable (``read_as_of`` raises instead of
    returning wrong rows)."""

    def _append(m: dict) -> None:
        n = sum(
            1
            for r in m["runs"]
            if str(r.get("run_id", "")).startswith("maintenance-")
        )
        m["runs"].append(
            {"run_id": f"maintenance-{n}", "history_reset": [name]}
        )

    wh.mutate_manifest(_append)


def truncate(wh: "Warehouse", name: str) -> None:
    """S7 drop_all analog: truncate a stage table.

    Records a commit-log reset entry BEFORE the rmtree — a crash in
    between over-restricts time travel (conservative) instead of leaving
    wrong addressable history.  Truncating the resume source-of-truth
    (``doc_status``) also drops the tier-1 ``seen_inputs`` state, same
    rationale as :func:`delete_ids`: a stale seen set would prefilter the
    re-fed pages away forever."""
    import shutil

    with wh.writer_lease():
        if name == "doc_status" and wh.exists("seen_inputs"):
            truncate(wh, "seen_inputs")
        p = wh.table_path(name)
        if os.path.exists(p):
            _record_history_reset(wh, name)
            shutil.rmtree(p)


def neardup_filter_batch(
    wh: "Warehouse",
    docs: DataFrame,
    run_id: str,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """INCREMENTAL near-duplicate dedup against a persisted LSH index — the
    production 100 TB shape: a new batch is checked against everything
    already indexed WITHOUT recomputing (or even scanning) the corpus.

    Per batch:
      1. one text scan builds shingles + minhash signatures
         (textops.minhash_shingles);
      2. WITHIN-batch near-dups collapse first (textops.dedup_clusters over
         the same signatures, so the kernel runs once per doc: LSH
         candidates → exact-Jaccard verify → components; representative
         = component-min kg_doc_id);
      3. surviving representatives' band hashes equi-join the warehouse
         ``neardup_bands`` table on (band, band_hash) — a bucket join whose
         cost tracks COLLIDING buckets, never batch x corpus — and
         candidates verify by exact shingle Jaccard against the stored
         ``neardup_shingles`` sets (same round-6 formula as the batch
         verify; ties resolve to the smallest indexed doc id);
      4. only NEW docs append their bands + shingles to the index
         (run_id-partitioned — the index itself is resumable/time-travels
         like every other warehouse table).

    Returns one row per distinct-content batch doc:
    (kg_doc_id, status 'new' | 'dup_in_batch' | 'dup_of_indexed', dup_of).
    A batch member whose representative matched the index reports
    'dup_in_batch' against the representative (one hop, documented).
    The status frame is a cut and the only frame the call leaves persisted:
    the signatures and clusters are released on return, also on an
    exception.
    """
    from . import textops

    with LineageScope() as ls:
        sig = ls.hold(
            textops.minhash_shingles(docs, text_col).dropDuplicates(["kg_doc_id"])
        )
        clusters = ls.adopt(
            textops.dedup_clusters(docs, text_col, threshold, signatures=sig)
        )
        reps = clusters.filter(F.col("is_representative")).select("kg_doc_id")
        rep_sig = ls.hold(sig.join(reps, "kg_doc_id"))
        rep_bands = textops.band_hashes(rep_sig)

        if wh.exists("neardup_bands"):
            idx_bands = wh.read("neardup_bands").select(
                "band", "band_hash", F.col("kg_doc_id").alias("idx_doc_id")
            )
            cand = (
                rep_bands.join(idx_bands, ["band", "band_hash"])
                .select("kg_doc_id", "idx_doc_id")
                .distinct()
            )
            idx_sh = wh.read("neardup_shingles").select(
                F.col("kg_doc_id").alias("idx_doc_id"),
                F.col("shingles").alias("idx_shingles"),
            )
            matched = (
                cand.join(rep_sig.select("kg_doc_id", "shingles"), "kg_doc_id")
                .join(idx_sh, "idx_doc_id")
                .withColumn(
                    "jaccard",
                    F.round(
                        F.size(F.array_intersect("shingles", "idx_shingles"))
                        / F.size(F.array_union("shingles", "idx_shingles")),
                        6,
                    ),
                )
                .filter(F.col("jaccard") >= threshold)
                .groupBy("kg_doc_id")
                .agg(F.min("idx_doc_id").alias("dup_of_idx"))
            )
        else:
            matched = docs.sparkSession.createDataFrame(
                [], "kg_doc_id string, dup_of_idx string"
            )

        # The result is a cut, taken BEFORE the index append: the status
        # plan reads the index files, and anything weaker than a checkpoint
        # re-computes it after the append (a persist is invalidated and
        # recompiled when the frames under it are released), at which point
        # every new doc "matches" itself in the now-updated index.
        status = ls.result(
            clusters.join(matched, "kg_doc_id", "left").select(
                "kg_doc_id",
                F.when(~F.col("is_representative"), F.lit("dup_in_batch"))
                .when(F.col("dup_of_idx").isNotNull(), F.lit("dup_of_indexed"))
                .otherwise(F.lit("new"))
                .alias("status"),
                F.coalesce(
                    "dup_of_idx",
                    F.when(~F.col("is_representative"), F.col("cluster_id")),
                ).alias("dup_of"),
            )
        )
        survivors = status.filter(F.col("status") == "new").select("kg_doc_id")
        wh.append("neardup_bands", rep_bands.join(survivors, "kg_doc_id"), run_id)
        wh.append(
            "neardup_shingles",
            rep_sig.select("kg_doc_id", "shingles").join(survivors, "kg_doc_id"),
            run_id,
        )
        return status


def docs_by_track_id(status_table: DataFrame, track_id: str) -> DataFrame:
    """P7 (json_doc_status.rs:284-299): docs produced by one run."""
    return status_table.filter(F.col("track_id") == track_id)


def doc_by_url(status_table: DataFrame, url: str) -> DataFrame:
    """P8 (json_doc_status.rs:234-243): first match by source url."""
    return status_table.filter(F.col("url") == url).limit(1)


def doc_status(docs: DataFrame, chunk_table: DataFrame, run_id: str) -> DataFrame:
    """DocProcessingStatus analog (storage/mod.rs:38-62): one row per doc with
    ordered chunks_list, content metadata, and the producing run (track_id)."""
    chunk_lists = (
        chunk_table.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_order_index", "chunk_id"))
            ).alias("cl")
        )
        .select(
            "doc_id",
            F.transform("cl", lambda s: s["chunk_id"]).alias("chunks_list"),
        )
    )
    return (
        docs.join(chunk_lists, "doc_id", "left")
        .select(
            "doc_id",
            F.lit(STATUS_PROCESSED).alias("status"),
            "url",
            "content_length",
            "content_summary",
            F.coalesce("chunks_list", F.array().cast("array<string>")).alias(
                "chunks_list"
            ),
            F.lit(run_id).alias("track_id"),
            # RFC-3339 stamps (F5, status_service.rs:80; chrono to_rfc3339).
            # Deliberately NOT part of any oracle-checked projection —
            # wall-clock columns are metadata, not semantics.
            F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX"
            ).alias("created_at"),
            F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX"
            ).alias("updated_at"),
        )
    )


def document_summaries(status_table: DataFrame) -> DataFrame:
    """P12 (routes/documents.rs:63-91): DocumentSummary projection —
    summary = coalesce(content_summary, url, 'No summary available'),
    chunk count from the ordered chunks_list."""
    return status_table.select(
        "doc_id",
        F.coalesce(
            F.when(F.length("content_summary") > 0, F.col("content_summary")),
            F.when(F.length("url") > 0, F.col("url")),
            F.lit("No summary available"),
        ).alias("summary"),
        "status",
        F.col("content_length").cast("long").alias("content_length"),
        F.size("chunks_list").cast("long").alias("n_chunks"),
    )


PAGE_SIZE_MIN, PAGE_SIZE_MAX = 10, 200  # json_doc_status.rs:310 clamp
DOC_SORT_FIELDS = ("created_at", "updated_at", "id", "file_path")

# whitelist name -> column of the doc_status layout (json_doc_status.rs:128-140)
_DOC_STATUS_FIELD_MAP = {
    "created_at": "created_at",
    "updated_at": "updated_at",
    "id": "doc_id",
    "file_path": "url",
}


def docs_paginated(
    df: DataFrame,
    *,
    page: int = 1,
    page_size: int = 200,
    sort_field: str = "updated_at",
    descending: bool = True,
    status: str | None = None,
    field_map: dict[str, str] | None = None,
) -> DataFrame:
    """W3 (json_doc_status.rs:301-355): filter → whitelisted sort → page slice.

    Reference parity: ``page`` floors at 1 (:309); ``page_size`` clamps to
    10..200 (:310); a ``sort_field`` outside the whitelist
    created_at/updated_at/id/file_path falls back to updated_at (:311-315,
    :128-140); ``file_path`` sorts by its LOWERCASED value with missing →
    'no-file-path' (:131-137); default direction is the caller's
    ``descending`` (the HTTP layer defaults to updated_at desc).  Documented
    deviation: the reference's equal-key order is HashMap insertion order
    (nondeterministic); we tiebreak by id ascending.

    Scale: ``orderBy(...).limit(page*page_size)`` compiles to
    TakeOrderedAndProject — per-partition top-k then a driver-side merge of
    k-row heaps, never a global single-task sort; the row_number window that
    assigns ranks then runs over at most page*page_size rows.
    """
    fmap = field_map or _DOC_STATUS_FIELD_MAP
    page = max(1, page)
    page_size = min(PAGE_SIZE_MAX, max(PAGE_SIZE_MIN, page_size))
    if sort_field not in DOC_SORT_FIELDS or sort_field not in fmap:
        sort_field = "updated_at"
    if status is not None:
        df = df.filter(F.col("status") == status)

    key = F.col(fmap[sort_field])
    if sort_field == "file_path":
        key = F.lower(F.coalesce(key, F.lit("no-file-path")))
    id_col = F.col(fmap["id"])
    order = [key.desc() if descending else key.asc(), id_col.asc()]

    top = df.orderBy(*order).limit(page * page_size)
    w = Window.orderBy(*order)
    return (
        top.withColumn("row_num", F.row_number().over(w).cast("long"))
        .filter(F.col("row_num") > (page - 1) * page_size)
    )


def export_json(df: DataFrame, path: str) -> None:
    """S8 (routes/download.rs:32-95): entity/relation JSON export sink.

    Distributed ``df.write.json`` — one file per partition; the reference
    streams one big file, which does not survive 100 TB."""
    df.write.mode("overwrite").json(path)


def status_counts(status_table: DataFrame) -> DataFrame:
    """A1/A2 (json_doc_status.rs:251-265): per-status counts + ALL total."""
    return (
        status_table.rollup("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.coalesce("status", F.lit("ALL")).alias("status"), "n_docs")
    )


STAGES = ("docs", "chunks", "entities", "relations", "triples")


def _cleanup_uncommitted(wh: Warehouse) -> None:
    """Remove run_id= partitions whose run never reached the manifest.

    The manifest is the commit log: stage appends land first, the manifest
    entry last.  A crash in between leaves orphan partitions whose docs are
    NOT in doc_status — a rerun would pass the anti-join and append the
    same rows a second time.  Sweeping uncommitted partitions at batch
    start restores exactly-once semantics (the Iceberg analog: an aborted
    commit's data files are never referenced by a snapshot).  Runs under
    the caller's writer lease (run_pipeline holds it for the batch), so a
    concurrent writer's in-flight partitions can never be mistaken for a
    crashed run's orphans.  Schema entries still pending on ``wh`` belong
    to such runs (a committed run's entries landed with it) and go too.
    """
    import shutil
    from urllib.parse import unquote

    wh._pending["schemas"].clear()
    committed = {r["run_id"] for r in wh.manifest()["runs"]}
    for name in os.listdir(wh.root):
        tdir = wh.table_path(name)
        if not os.path.isdir(tdir):
            continue
        for sub in os.listdir(tdir):
            if not sub.startswith("run_id="):
                continue
            rid = unquote(sub[len("run_id="):])
            if rid not in committed:
                shutil.rmtree(os.path.join(tdir, sub))


def run_pipeline(
    spark: SparkSession,
    web_pages: DataFrame,
    wh: Warehouse,
    run_id: str,
    check_digest: bool = False,
    neardup: bool = False,
) -> dict:
    """One resumable batch: process docs not yet in doc_status, append each
    stage as a ``run_id=`` partition, record per-doc extraction failures in
    the ``errors`` table, rebuild global canonicalization, commit the
    manifest.  Returns the manifest entry (stage metrics + skip/error counts).

    Incremental by construction: stage writes are run-partitioned parquet
    APPENDS (Iceberg-commit analog), so per-batch I/O is proportional to the
    new docs, never to accumulated table size.  Resume is TWO-TIER:

    * tier 1 (pre-extraction, O(input) hash only): input pages whose
      ``(url, sha2(html))`` already appear in the ``seen_inputs`` table —
      recorded for every successfully extracted page of every committed
      run — are anti-joined away BEFORE the extraction UDF.  A batch that
      re-feeds the full corpus pays a Catalyst hash + join over the input,
      not a Python extraction pass (measured: the extract pass dominated
      re-fed batch wall at 1.2M pages).  Dropping a seen page can never
      change the output: its content's doc_id is already in doc_status
      (extraction is deterministic), so the doc-level tier would have
      skipped it anyway, and first-wins folds of NEW docs only ever see
      unseen pages.
    * tier 2 (post-extraction, the reference's J1 semantics): the
      doc_status anti-join admits new doc_ids only — it also catches
      seen CONTENT arriving from an unseen url.

    Crash-rerun safety: partitions from runs that never reached the
    manifest (crash between stage appends and the manifest commit) are
    swept at batch start (:func:`_cleanup_uncommitted`) — without the
    sweep a rerun would pass the anti-joins and append byte-identical rows
    a second time.  Failed pages are never recorded as seen, so errors are
    re-extracted and re-reported every run (reference re-enqueue
    semantics).  The extraction diamond (docs feeds chunks/status;
    extracted feeds entities/relations/triples) is persisted once per
    batch instead of recomputed per stage write.

    Multi-writer safety: the whole batch runs under the warehouse writer
    lease (:meth:`Warehouse.writer_lease`) — two concurrent batch writers
    on one root serialize instead of interleaving, so the uncommitted
    sweep can never remove the other writer's in-flight partitions and
    the manifest commit can never drop the other writer's run entry.

    With ``neardup=True`` the batch additionally drops NEAR-duplicate docs
    (exact dedup is always on via the content-addressed anti-joins) against
    the persisted LSH index before the construction stages
    (:func:`neardup_filter_batch`); dropped counts land in the run entry as
    ``neardup_docs``.  Off by default — near-dup dropping changes the KG
    output by design.
    """
    with wh.writer_lease():
        return _run_pipeline_locked(
            spark, web_pages, wh, run_id, check_digest, neardup
        )


def _run_pipeline_locked(
    spark: SparkSession,
    web_pages: DataFrame,
    wh: Warehouse,
    run_id: str,
    check_digest: bool,
    neardup: bool = False,
) -> dict:
    t0 = time.perf_counter()
    _cleanup_uncommitted(wh)
    input_obs = None
    if wh.exists("seen_inputs"):
        # ADVICE r3: the raw input count for the prefiltered_pages metric
        # rides an observe() node (CollectMetrics) INSIDE the extraction
        # chain's own evaluation — no second O(input) pass over the source
        # plan (which may be generated/expensive, not a parquet scan).  The
        # metric is read back only after a FULL action over the persisted
        # chain (ex.count() below); a limit-style action would finalize the
        # observation with a partial count.
        from pyspark.sql import Observation

        input_obs = Observation()
        web_pages = web_pages.observe(
            input_obs, F.count(F.lit(1)).alias("n_input_pages")
        )
    wp = web_pages.withColumn("input_sha", F.sha2(F.col("html"), 256))
    if input_obs is not None:
        seen = wh.read("seen_inputs").select("url", "input_sha")
        wp = wp.join(seen, ["url", "input_sha"], "left_anti")
    cols = ["url", "warc_ts", "lang", "extracted_text", "extract_error",
            "input_sha"]
    if check_digest:
        cols += ["text", "text_sha256"]  # golden columns for the digest gate
    # Every frame the batch persists or cuts lives in ONE scope, released
    # when the batch returns or fails: a digest-gate AssertionError (or any
    # stage failure) must not leak caches for the session lifetime.  ex is
    # held BEFORE the digest gate: the gate's collect() is an action, and an
    # unheld frame would run the extraction UDF over the whole corpus twice
    # (once for the gate, again for the first fold action).
    with LineageScope() as ls:
        ex = ls.hold(pipeline.extract_docs(wp).select(*cols))
        # Full materializing action FIRST: fills the held cache in one
        # pass and (when resuming) finalizes the input-count observation —
        # the digest gate's limit(1) must never be the chain's first action
        # or the observation would report a partial count.  On the
        # non-resume path (no seen_inputs, input_obs is None) the count is
        # NOT load-bearing for any metric — it only warms the hold the
        # first stage write would otherwise fill; a refactor may skip it
        # there, but must keep it ordered before the digest gate whenever
        # an observation exists.
        n_entered = ex.count()
        if check_digest:
            bad = pipeline.digest_violations(ex).limit(1).collect()
            if bad:
                raise AssertionError(f"digest violation for url={bad[0]['url']}")

        errors = pipeline.extract_errors(ex, run_id)
        d_new = pipeline.docs_from_extracted(ex)

        # ex holds one row per page that ENTERED extraction; the observed
        # raw count closes the prefilter metric without re-running anything
        n_prefiltered = (
            int(input_obs.get["n_input_pages"]) - n_entered
            if input_obs is not None
            else 0
        )
        n_input = d_new.count()
        if wh.exists("doc_status"):
            existing = wh.read("doc_status").select("doc_id")
            d_new = d_new.join(existing, "doc_id", "left_anti")  # J1 resume
        d_new = ls.hold(d_new)
        n_todo = d_new.count()

        n_neardup = 0
        if neardup and n_todo > 0:
            # Near-dup filter against the persisted LSH index (bucket join;
            # the index appends are run_id-partitioned, so a crash before
            # the manifest commit sweeps them with the rest of the run).
            # d_new's doc_id == textops' content-addressed kg_doc_id over
            # the (already-trimmed) content column by construction.
            nd = ls.adopt(
                neardup_filter_batch(wh, d_new, run_id, text_col="content")
            )
            dup_ids = nd.filter(F.col("status") != "new").select(
                F.col("kg_doc_id").alias("doc_id")
            )
            d_new = ls.hold(d_new.join(dup_ids, "doc_id", "left_anti"))
            n_kept = d_new.count()
            n_neardup = n_todo - n_kept
            n_todo = n_kept

        stage_metrics: dict[str, dict] = {}
        if n_todo > 0:
            c = pipeline.chunks(d_new)
            x = ls.hold(pipeline.extracted_chunks(c))
            e = pipeline.entities(x)
            r = pipeline.relations(x, e)
            t = pipeline.triples(r)
            new_status = doc_status(d_new, c, run_id)

            for name, df in (
                ("docs", d_new),
                ("chunks", c),
                ("entities", e),
                ("relations", r),
                ("triples", t),
                ("doc_status", new_status),
            ):
                stage_metrics[name] = wh.append(name, df, run_id)

        # per-doc failure records (reference error_reporter.rs:50): failed
        # pages never enter doc_status (they fold to empty text), so each run
        # that re-reads them re-reports — the same behavior as re-enqueueing
        # a bad file in the reference.
        stage_metrics["errors"] = wh.append("errors", errors, run_id)
        n_errors = stage_metrics["errors"]["n_rows"]

        # tier-1 state: record every successfully extracted page.  Lineage
        # is cut first — the frame's plan reads the seen_inputs table
        # (via the prefilter anti-join), and appending to a table a running
        # job's lineage reads is the documented read-after-write hazard.
        seen_new = ls.cut(
            ex.filter(
                F.col("extract_error").isNull()
                & F.col("input_sha").isNotNull()
            ).select("url", "input_sha")
        )
        stage_metrics["seen_inputs"] = wh.append("seen_inputs", seen_new, run_id)

        t_canon = time.perf_counter()
        map_fp = _run_canonicalization(
            spark, wh, run_id, n_todo, stage_metrics, ls
        )
        if "canonical_map" in stage_metrics:
            # stage wall time next to n_new_names: the incremental-cost
            # evidence (cost tracks new-name count, not corpus size)
            stage_metrics["canonical_map"]["stage_wall_s"] = round(
                time.perf_counter() - t_canon, 3
            )

        entry = {
            "run_id": run_id,
            "input_docs": int(n_input),
            "prefiltered_pages": int(n_prefiltered),
            "processed_docs": int(n_todo),
            "skipped_docs": int(n_input - n_todo - n_neardup),
            "neardup_docs": int(n_neardup),
            "error_docs": int(n_errors),
            "wall_s": round(time.perf_counter() - t0, 3),
            "stages": stage_metrics,
        }
        def _append(m: dict) -> None:
            m["runs"].append(entry)
            if map_fp is not None:
                m["canonical_map_fp"] = map_fp

        wh.mutate_manifest(_append)
        return entry


def _run_canonicalization(
    spark: SparkSession,
    wh: Warehouse,
    run_id: str,
    n_todo: int,
    stage_metrics: dict,
    ls: LineageScope,
) -> str | None:
    """Canonicalization stage of :func:`run_pipeline` — incremental by delta,
    crash-safe by manifest fingerprint.

    Steady state: pair edges are generated only for names this batch
    introduces (``canon.incremental_update`` probes them into the persisted
    ``canon_names``/``canon_bands`` state), CC runs over the delta + affected
    components, and canonical_triples gets an append of just this batch —
    per-batch cost tracks NEW-name count, not corpus size.  The full rebuild
    runs only on the first batch, when an old member's canonical label
    actually changed, or when the committed state is unusable.

    Crash safety: the map-change decision compares the STORED map's
    fingerprint against the fingerprint in the manifest (committed atomically
    with the run) — never table-vs-recompute.  Any crash window (map swapped
    but manifest not committed; canonical_triples truncated/swept; state
    appends swept) surfaces as a fingerprint/state mismatch and heals via the
    full rebuild.  Returns the fingerprint to commit, or None if the entities
    table doesn't exist yet.
    """
    if not wh.exists("entities"):
        return None
    manifest_fp = wh.manifest().get("canonical_map_fp")
    state_ok = (
        manifest_fp is not None
        and wh.exists("canonical_map")
        and wh.exists("canon_names")
        and wh.exists("canon_bands")
        and wh._has_data_files("canonical_triples")
        and map_fingerprint(wh.read("canonical_map")) == manifest_fp
    )
    if state_ok and n_todo == 0:
        return manifest_fp  # no new docs → map provably unchanged

    if state_ok:
        # Delta path.  Batch entities come from the WRITTEN partition (pruned
        # read), never the lazy batch plan — re-evaluating that plan here
        # would re-run the doc_status anti-join against a table that now
        # contains this very run's rows and see zero docs.
        batch_e = (
            wh.read("entities").filter(F.col("run_id") == run_id).drop("run_id")
        )
        res = canon.incremental_update(
            spark,
            batch_e,
            wh.read("canonical_map"),
            wh.read("canon_names").select("name", "nkey"),
            wh.read("canon_bands").select("name", "band_key"),
            ls,
        )
        if res["n_new"] == 0:
            # nothing new under canonicalization: keep the stored map
            stage_metrics["canonical_map"] = {
                "table": "canonical_map",
                "unchanged": True,
            }
        else:
            # ORDER MATTERS (lazy-read-after-write): the updated map reads
            # the stored map + state tables, so it is staged and swapped
            # BEFORE any state append mutates its inputs; everything
            # downstream reads the swapped table, not the lineage.
            stage_metrics["canonical_map"] = _write_map_staged(wh, res["map"])
        cmap = wh.read("canonical_map")
        if res["changed"]:
            truncate(wh, "canonical_triples")
            ct = canon.canonical_triples(wh.read("triples"), cmap)
        else:
            # append just this batch's canonical triples
            batch_t = (
                wh.read("triples").filter(F.col("run_id") == run_id).drop("run_id")
            )
            ct = canon.canonical_triples(batch_t, cmap)
        stage_metrics["canonical_triples"] = wh.append("canonical_triples", ct, run_id)
        stage_metrics["canonical_map"]["n_new_names"] = res["n_new"]
        stage_metrics["canonical_map"]["incremental"] = True
        if res["n_new"] == 0:
            return manifest_fp
        # bands BEFORE names: the bands delta derives from new_names, whose
        # lineage anti-joins canon_names — appending names first would make
        # that read see its own output and go empty.
        stage_metrics["canon_bands"] = wh.append("canon_bands", res["bands_new"], run_id)
        stage_metrics["canon_names"] = wh.append("canon_names", res["new_names"], run_id)
        return map_fingerprint(cmap)

    # Full (re)build: first batch, or committed state unusable after a crash.
    # The distinct-name working set feeds THREE consumers (pair generation
    # inside canonical_map, the canon_names state write, the canon_bands
    # state write) — hold it so the O(corpus) entities scan runs once.
    names_all = ls.hold(canon.distinct_names(wh.read("entities")))
    cmap_full = ls.adopt(canon.canonical_map(spark, names=names_all))
    stage_metrics["canonical_map"] = _write_map_staged(wh, cmap_full)
    cmap = wh.read("canonical_map")
    truncate(wh, "canonical_triples")
    stage_metrics["canonical_triples"] = wh.append(
        "canonical_triples", canon.canonical_triples(wh.read("triples"), cmap), run_id
    )
    truncate(wh, "canon_names")
    stage_metrics["canon_names"] = wh.append("canon_names", names_all, run_id)
    # bands derive from entities (not from canon_names), so this ordering has
    # no read-after-write hazard.
    truncate(wh, "canon_bands")
    stage_metrics["canon_bands"] = wh.append(
        "canon_bands", canon.name_bands(names_all), run_id
    )
    stage_metrics["canonical_map"]["incremental"] = False
    return map_fingerprint(cmap)


def _swap(wh: Warehouse, name: str) -> None:
    """Replace table ``name`` with the staged ``name.tmpnew`` write."""
    import shutil

    final, tmp = wh.table_path(name), wh.table_path(name + ".tmpnew")
    old = final + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(final):
        os.replace(final, old)
    os.replace(tmp, final)
    if os.path.exists(old):
        shutil.rmtree(old)


def map_fingerprint(cmap: DataFrame) -> str:
    """Order-insensitive content fingerprint of a canonical map: row count +
    bit-XOR of per-row 60-bit hashes.  Stored in the manifest so the
    map-change decision never trusts an on-disk table a crash may have left
    ahead of the commit log (the old compare-against-the-table scheme lost
    canonical_triples permanently in exactly that window)."""
    row = (
        cmap.select(
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat_ws("\x1f", "entity_name", "canonical_name"),
                        256,
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x"))
        .collect()[0]
    )
    return f"{int(row['n'])}:{int(row['x'] or 0)}"


def _write_map_staged(wh: Warehouse, cmap: DataFrame) -> dict:
    """Stage-write + atomic-swap the canonical map.

    The incremental map's lineage READS the stored canonical_map — a direct
    ``mode('overwrite')`` on the same path would delete its own input before
    evaluating it.  Staging to ``.tmpnew`` evaluates against the old table,
    then the swap is pure file ops."""
    m = wh._write(
        "canonical_map", cmap, wh.table_path("canonical_map.tmpnew"), "overwrite"
    )
    _swap(wh, "canonical_map")
    return m
