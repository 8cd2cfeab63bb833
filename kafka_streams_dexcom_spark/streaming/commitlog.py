"""Optimistic-concurrency commit log for published table artifacts —
the transactional stand-in for a Delta/Iceberg commit while those jars
are absent, with the SAME protocol shape so the swap-for-commit upgrade
is a call-site change, not a redesign.

A directory-rename publish (stage, then swap the live dir by two
renames) is atomic for ONE writer but has no concurrent-writer story:
two maintainers publishing the same view race their renames and the
loser's output silently vanishes. Table formats solve this with
OPTIMISTIC concurrency: writers prepare immutable data files, then
commit by atomically creating the next numbered log entry; exactly one
creator wins, losers rebase and retry. This module is that protocol on
a filesystem, and the package's only publish path:

    table_root/
      _commits/00000000.json   # manifest: version, file list, base, meta
      _commits/00000001.json
      v00000000-<uuid>/        # immutable parquet data directories
      v00000001-<uuid>/

- ``commit`` writes the manifest in full to a private temp name, fsyncs
  it, and ``os.link``s it to ``_commits/{N}.json`` — the put-if-absent
  primitive: the link fails if version N exists (atomic on POSIX for
  threads AND processes) and the name appears with its whole content,
  so no reader sees a torn manifest (a bare O_CREAT|O_EXCL create
  would expose it empty). On S3 the same role is played by conditional
  PUT, on HDFS by create-no-overwrite — exactly what Delta's LogStore
  abstracts.
- A manifest names the table's FULL FILE LIST at that version
  (Iceberg's snapshot shape; Delta reconstructs the same list from
  add/remove actions). ``commit`` replaces the list with the staged
  dir's files; ``commit_append`` links the staged dir's files onto the
  BASE version's list, so an appending writer stages and moves only
  the increment — commit cost is O(batch), never an O(table) rewrite.
  Pre-files manifests (``data_dir`` only) stay readable: their list is
  the dir's parquet scan, folded forward by the first append on top.
- A reader resolves the highest manifest and reads its file list.
  Committed files are IMMUTABLE and fully written BEFORE the manifest
  exists, so a reader can never observe a torn table — the
  no-torn-reads guarantee the rename swap only approximates.
- A crash between staging and commit leaves an orphaned staging dir and
  an intact live table; ``vacuum`` removes dirs none of whose files are
  referenced by a retained manifest.

Write-skew note: ``commit(base_version=...)`` fails unless the caller's
base IS the latest version — the serializable-writer check. A retrying
writer must re-read the table and REBUILD its output against the new
base (see ``commit_loop``), not blindly re-attempt the same bytes —
unless its output depends only on its own input, in which case the
same staged files are re-linked onto the new base.

The per-batch commit protocol
-----------------------------
Every streaming maintainer here (and the tokenizer artifact store)
publishes through ONE loop, ``commit_loop``, and the foreachBatch
maintainers share ONE protocol around it, ``BatchMaintainer`` — the
reference's effectively-once rule (offsets commit only after a
successful write, document ids are deterministic:
ElasticSearchConsumer.java:45-55) stated once:

1. **Reads.** ``_meta(v)``/``_applied(v)`` read a manifest's meta and
   per-writer watermark map (version -1 = empty; a legacy single
   ``batch_id`` counter folds in under its default writer key);
   ``_read(schema, v, sub)`` is the typed empty-or-parquet read of one
   leg, so -1 always means the EMPTY table.
2. **Guards.** A stored lineage that differs from the maintainer's —
   or no stored lineage at all — raises ``LineageError`` (a new query
   on an old table would replay batch ids from 0 and be silently
   skipped); ``adopt_legacy()`` binds a pre-lineage table explicitly.
   A batch at or below the writer's watermark is a no-op; a
   screening maintainer re-emits the newest batch's verdicts against
   the recorded ``screen_base`` and raises on an older replay, whose
   verdicts are unrecoverable.
3. **Commit loop.** Up to ``MAX_COMMIT_ATTEMPTS``: read the base,
   re-check the watermark, stage, ``commit_append``; on
   ``CommitConflict`` rebase and retry, then give up with
   ``CommitConflict``. A fold whose increment depends only on the batch
   (``REBASE = False``) stages once and re-links the same files; a
   base-dependent fold re-stages against each new base. Batch
   artifacts are prepared once, outside the loop.
4. **After commit.** One ``timings`` record (``stage_sec`` = fold plus
   parquet writes, ``commit_sec`` = the manifest commit), a compaction
   every ``COMPACT_EVERY`` versions for the ``AUTO_COMPACT`` folds, and
   ``vacuum(keep_last=KEEP_LAST)`` after every commit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_COMMITS = "_commits"

# the protocol's constants — one value for every maintainer
MAX_COMMIT_ATTEMPTS = 10
COMPACT_EVERY = 64
KEEP_LAST = 3


class CommitConflict(RuntimeError):
    """Another writer committed this version first — re-read, rebase,
    retry (or surface the loss; never ignore)."""


class LineageError(RuntimeError, ValueError):
    """The table belongs to another streaming lineage, or to none
    (pre-lineage): applying this query's batches would let the replay
    guard silently drop its early ones."""


class VersionedTable:
    """A filesystem table published through numbered manifest commits."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, _COMMITS), exist_ok=True)

    # -- log ---------------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _COMMITS, f"{version:08d}.json")

    def latest_version(self) -> int:
        """Highest committed version, -1 when the table is empty."""
        best = -1
        try:
            names = os.listdir(os.path.join(self.root, _COMMITS))
        except FileNotFoundError:
            return -1
        for n in names:
            if n.endswith(".json"):
                try:
                    best = max(best, int(n[:-5]))
                except ValueError:
                    continue
        return best

    def read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def data_path(self, version: int | None = None) -> str:
        """The single data dir of a REPLACE commit (legacy accessor).
        Append commits span several dirs — use ``files``/``read``."""
        v = self.latest_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no commits under {self.root}")
        m = self.read_manifest(v)
        if "data_dir" not in m:
            raise ValueError(
                f"version {v} of {self.root} is an append commit spanning "
                "several data dirs; read it through files()/read()"
            )
        return os.path.join(self.root, m["data_dir"])

    def _scan_parquet(self, rel_dir: str) -> list[str]:
        """Root-relative paths of every parquet file under ``rel_dir``."""
        out = []
        top = os.path.join(self.root, rel_dir)
        for dirpath, _, names in os.walk(top):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(
                        os.path.relpath(
                            os.path.join(dirpath, n), self.root
                        )
                    )
        return sorted(out)

    def _manifest_files(self, manifest: dict) -> list[str]:
        """Root-relative file list of a manifest; legacy data_dir-only
        manifests resolve to the dir's parquet scan (immutable once
        committed, so the scan is stable)."""
        if "files" in manifest:
            return manifest["files"]
        return self._scan_parquet(manifest["data_dir"])

    def files(
        self, version: int | None = None, sub: str | None = None
    ) -> list[str]:
        """Absolute paths of the parquet files making up ``version``
        (default latest). ``sub`` selects one logical leg of a
        multi-artifact table: the files a writer staged under
        ``<staging>/<sub>/`` (path segment right after the version
        dir)."""
        v = self.latest_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no commits under {self.root}")
        rel = self._manifest_files(self.read_manifest(v))
        if sub is not None:
            rel = [
                f
                for f in rel
                if f.split(os.sep)[1:2] == [sub]
            ]
        return [os.path.join(self.root, f) for f in rel]

    # -- write path --------------------------------------------------
    def stage(self) -> str:
        """A fresh, uniquely named directory to write the candidate
        data into. The uuid name doubles as the committed data_dir, so
        a successful commit is pure metadata — no second data copy."""
        d = os.path.join(self.root, f"staging-{uuid.uuid4().hex}")
        os.makedirs(d)
        return d

    def commit(
        self,
        staged_dir: str,
        base_version: int,
        meta: dict | None = None,
    ) -> int:
        """Atomically publish ``staged_dir`` as version
        ``base_version + 1``, REPLACING the table's contents (the file
        list is exactly the staged dir's files). Raises CommitConflict
        when that version already exists (another writer won) OR when
        newer commits landed past the caller's base — both mean the
        caller's output was derived from a stale read and must be
        rebuilt."""
        return self._commit(staged_dir, base_version, meta, append=False)

    def commit_append(
        self,
        staged_dir: str,
        base_version: int,
        meta: dict | None = None,
        replace_subs: tuple[str, ...] = (),
    ) -> int:
        """Atomically publish ``staged_dir`` as version
        ``base_version + 1`` whose file list is the BASE version's list
        plus the staged files — the append-granular commit: the caller
        stages only the increment, the data dirs of prior versions are
        linked by reference, and commit cost is O(increment) regardless
        of table size (Delta's add-actions / Iceberg's fast append).

        ``replace_subs``: legs (first path segment under the staged
        dir) whose BASE files are dropped instead of carried — the
        per-leg compaction primitive: stage a rewritten ``labels/`` and
        pass ``replace_subs=("labels",)`` to swap that leg while the
        other legs ride along untouched.

        Same conflict contract as ``commit``; on CommitConflict the
        staged increment is intact and may be re-submitted against the
        new base (an append depends only on the batch, so no rebuild is
        needed unless the caller's meta derivation was base-dependent)."""
        return self._commit(
            staged_dir, base_version, meta,
            append=True, replace_subs=replace_subs,
        )

    def _commit(
        self,
        staged_dir: str,
        base_version: int,
        meta: dict | None,
        append: bool,
        replace_subs: tuple[str, ...] = (),
    ) -> int:
        version = base_version + 1
        if append and base_version >= 0:
            base_files = self._manifest_files(
                self.read_manifest(base_version)
            )
            if replace_subs:
                drop = set(replace_subs)
                base_files = [
                    f
                    for f in base_files
                    if (f.split(os.sep)[1:2] or [None])[0] not in drop
                ]
        else:
            base_files = []
        final_name = f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        final_dir = os.path.join(self.root, final_name)
        os.rename(staged_dir, final_dir)  # still invisible to readers
        # refresh mtime so vacuum's grace window covers the commit
        # attempt even when staging the data took longer than the grace
        os.utime(final_dir)
        files = base_files + self._scan_parquet(final_name)
        manifest = {
            "version": version,
            "base_version": base_version,
            "files": files,
            **({} if append else {"data_dir": final_name}),
            **({"meta": meta} if meta else {}),
        }
        # Write the manifest COMPLETELY to a private temp name, then
        # hard-link it into place: link() is the put-if-absent CAS
        # (fails with FileExistsError when the version exists) AND the
        # linked name appears with its full content in one step. A bare
        # O_CREAT|O_EXCL create-then-write would let a concurrent
        # reader list the manifest and read it EMPTY — a torn manifest,
        # caught live by the no-torn-reads test's reader threads. The
        # temp name does not end in .json, so latest_version never
        # counts it.
        final_path = self._manifest_path(version)
        tmp_path = f"{final_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp_path, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp_path, final_path)
        except FileExistsError:
            # the losing side of the race: withdraw the data dir so
            # vacuum has less to do, then tell the caller to rebase.
            # The rename-back can itself lose to a vacuum that collected
            # the aged loser dir (its v-number is <= latest, so the
            # in-flight protection doesn't cover it) — the caller must
            # still see CommitConflict, never FileNotFoundError, or the
            # rebase loop dies.
            try:
                os.rename(final_dir, staged_dir)
            except FileNotFoundError:
                pass  # vacuumed under us; the increment must be rebuilt
            raise CommitConflict(
                f"version {version} already committed under {self.root}"
            ) from None
        finally:
            os.unlink(tmp_path)
        return version

    # -- maintenance ---------------------------------------------------
    def vacuum(
        self, keep_last: int = 2, grace_seconds: float = 600.0
    ) -> list[str]:
        """Remove data dirs none of whose files are referenced by the
        last ``keep_last`` commits, plus orphaned staging dirs (crash
        debris). Returns the removed names. Readers of retained
        versions are unaffected — referenced files are immutable.

        File granularity: append commits carry prior versions' files
        forward by reference, so a dir stays live as long as ANY
        retained manifest lists a file inside it — under pure append
        nothing is ever collected (correct: every byte is still part of
        the live table) until a compacting replace commit ages the old
        dirs out of the retention window.

        Concurrent-writer safety (vacuum may race live commits — the
        maintainers call it after every batch):

        - A data dir whose version number is >= ``latest_version()``
          is potentially an in-flight commit: ``commit()`` renames the
          staging dir to its final v-name BEFORE linking the manifest,
          so in that window the dir is unreferenced but about to become
          live — and a LOSING commit's dir briefly sits at exactly
          ``latest`` before being renamed back. Never removed,
          regardless of age.
        - Anything else unreferenced is only removed when its mtime is
          older than ``grace_seconds`` — a concurrent writer's live
          staging dir is always younger than the grace window (commit
          refreshes the final dir's mtime), while genuine crash debris
          ages past it. ``grace_seconds=0`` restores eager collection
          for single-writer offline cleanup.
        """
        latest = self.latest_version()
        keep_dirs = set()
        for v in range(max(0, latest - keep_last + 1), latest + 1):
            try:
                manifest = self.read_manifest(v)
            except FileNotFoundError:
                continue
            if "data_dir" in manifest:
                keep_dirs.add(manifest["data_dir"])
            for f in manifest.get("files", ()):
                keep_dirs.add(f.split(os.sep, 1)[0])
        now = time.time()
        removed = []
        for name in os.listdir(self.root):
            if name == _COMMITS or name in keep_dirs:
                continue
            m = re.match(r"^v(\d{8})-", name)
            if m and int(m.group(1)) >= latest:
                continue  # in-flight or losing commit, not yet resolved
            full = os.path.join(self.root, name)
            if not os.path.isdir(full):
                continue
            try:
                if now - os.path.getmtime(full) < grace_seconds:
                    continue  # presumed live (racing writer), not debris
            except OSError:
                continue  # vanished under us — a later pass gets it
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
        return removed

    # -- Spark convenience ----------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        sub: str | None = None,
    ) -> DataFrame | None:
        """The table (or one ``sub`` leg of it) at ``version``. Returns
        None when the version has no files for the requested leg — the
        caller supplies the empty frame (it knows the schema)."""
        fl = self.files(version, sub=sub)
        if not fl:
            return None
        return spark.read.parquet(*fl)

    def write_commit(
        self,
        df: DataFrame,
        base_version: int | None = None,
        meta: dict | None = None,
    ) -> int:
        """Stage ``df`` as parquet and commit it as the table's FULL
        contents. With the default ``base_version=None`` the df is
        assumed derived from the current latest (read just before
        calling); pass an explicit base when the derivation read
        happened earlier."""
        base = self.latest_version() if base_version is None else base_version
        staged = self.stage()
        write_frames(staged, df)
        return self.commit(staged, base, meta=meta)


def write_frames(
    staged: str, frames: DataFrame | dict[str, DataFrame]
) -> None:
    """Write one frame into ``staged``, or each leg of a
    ``{leg: frame}`` dict into ``staged/<leg>/``."""
    if isinstance(frames, DataFrame):
        frames.write.mode("overwrite").parquet(staged)
        return
    for sub, df in frames.items():
        df.write.mode("overwrite").parquet(os.path.join(staged, sub))


class Committed(NamedTuple):
    version: int
    stage_sec: float  # the committed attempt's staging
    commit_sec: float  # the winning manifest commit


def commit_loop(
    table: VersionedTable,
    stage,
    meta=None,
    *,
    restage: bool = True,
    settled=None,
    append: bool = True,
    replace_subs: tuple[str, ...] = (),
) -> Committed | None:
    """The package's one commit-retry loop (the serializable writer).

    Each attempt reads the latest version as its base;
    ``settled(base)`` ends the loop with None when a race winner
    already made this commit's effect (a replay of the same batch, the
    same artifact). ``stage(base, staged_dir)`` writes the candidate
    files and returns a note that ``meta(base, note)`` turns into the
    manifest meta. ``restage`` re-runs the stage against every new
    base (a base-dependent output); without it the staged files are
    re-linked onto the new base, and re-staged only when a racing
    vacuum collected the withdrawn loser dir. ``append`` picks
    ``commit_append`` (with ``replace_subs``) over the replacing
    ``commit``. Raises CommitConflict after MAX_COMMIT_ATTEMPTS lost
    races, and never leaves a staged dir behind."""
    staged = None
    last: CommitConflict | None = None
    try:
        for _ in range(MAX_COMMIT_ATTEMPTS):
            base = table.latest_version()
            if settled is not None and settled(base):
                return None
            if restage or staged is None or not os.path.isdir(staged):
                if staged is not None:
                    shutil.rmtree(staged, ignore_errors=True)
                t0 = time.time()
                staged = table.stage()
                note = stage(base, staged)
                stage_sec = time.time() - t0
            m = meta(base, note) if meta is not None else None
            t0 = time.time()
            try:
                version = table._commit(
                    staged, base, m, append=append, replace_subs=replace_subs
                )
            except CommitConflict as e:
                last = e
                continue
            staged = None  # renamed into the committed version
            return Committed(version, stage_sec, time.time() - t0)
        raise CommitConflict(
            f"gave up after {MAX_COMMIT_ATTEMPTS} conflicting commits "
            f"under {table.root}"
        ) from last
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)


def _watermarks(meta: dict) -> dict:
    """writer_id -> last applied batch_id in a manifest meta. A legacy
    single-counter meta carried one shared ``batch_id``, written by the
    default-keyed writer (lineage or ""); it folds in under THAT key, or
    the first new-format commit would drop the old watermark and a
    replayed batch would be applied twice."""
    applied = dict(meta.get("applied", {}))
    if "batch_id" in meta:
        key = meta.get("lineage") or ""
        applied[key] = max(applied.get(key, -1), meta["batch_id"])
    return applied


class BatchMaintainer:
    """A foreachBatch sink publishing through a VersionedTable; owns
    the per-batch commit protocol (module docstring), so a subclass
    supplies only its fold:

    - ``_keys(batch_df)``: the lazy per-batch frame a screen reads
      (default: the batch itself);
    - ``_prepare(batch_df)``: the batch artifacts, built once per batch
      outside the commit loop (default: ``_keys``);
    - ``_screen(batch_df, keys, version)``: the verdicts handed to
      ``screened``, scored against ``version``;
    - ``_stage(art, base)``: the increment (one frame, or a
      ``{leg: frame}`` dict) and the extra meta it records;
    - ``_compacted(base)``: the table folded for ``compact()``.

    Class flags: ``REBASE`` (the increment depends on the base, so a
    lost race re-stages it; otherwise the staged files are re-linked),
    ``AUTO_COMPACT`` (compact every COMPACT_EVERY versions), ``SCREENS``
    (record each writer's ``screen_base``), ``COUNTERS`` (extra-meta
    keys that are running sums over the base's value)."""

    REBASE = False
    AUTO_COMPACT = False
    SCREENS = False
    COUNTERS: tuple[str, ...] = ()

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        lineage_id: str | None = None,
        writer_id: str | None = None,
        screened=None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.table = VersionedTable(path)
        self.lineage_id = lineage_id
        # the replay watermark is PER WRITER: concurrent maintainers
        # each carry their own foreachBatch counter, so a shared
        # high-water mark would skip writer A's batch 0 after writer B
        # committed batch 1. Writers of one table share a lineage but
        # not a batch-id space.
        self.writer_id = writer_id if writer_id is not None else (
            lineage_id or ""
        )
        self.screened = screened
        # per-batch cost breakdown: "stage" is the fold plus the
        # increment's parquet writes (∝ batch); "commit" is the
        # manifest link (metadata-only, flat while the table grows)
        self.timings: list[dict] = []

    # -- reads -----------------------------------------------------------
    def _meta(self, version: int) -> dict:
        if version < 0:
            return {}
        return self.table.read_manifest(version).get("meta", {})

    def _applied(self, version: int) -> dict:
        return _watermarks(self._meta(version))

    def _read(
        self, schema: str, version: int | None = None, sub: str | None = None
    ) -> DataFrame:
        """Leg ``sub`` (the whole table when None) at ``version``
        (latest by default); a typed empty frame when the version is -1
        or holds no files for the leg."""
        v = self.table.latest_version() if version is None else version
        df = self.table.read(self.spark, v, sub=sub) if v >= 0 else None
        return self.spark.createDataFrame([], schema) if df is None else df

    # -- the fold (subclass hooks) ---------------------------------------
    def _keys(self, batch_df: DataFrame) -> DataFrame:
        return batch_df

    def _prepare(self, batch_df: DataFrame):
        return self._keys(batch_df)

    def _screen(
        self, batch_df: DataFrame, keys: DataFrame, version: int
    ) -> DataFrame:
        raise NotImplementedError

    def _stage(self, art, base: int) -> tuple:
        raise NotImplementedError

    def _compacted(self, base: int):
        raise NotImplementedError

    def _timing(self, version: int) -> dict:
        return {}

    # -- maintenance -----------------------------------------------------
    def compact(self) -> int | None:
        """Fold the table into one compacted commit carrying the base
        meta forward (compaction preserves the CONTENT, so the
        watermarks still describe it): a single frame replaces the
        table, a ``{leg: frame}`` dict replaces those legs. Best-effort
        maintenance: None when another commit landed first — the next
        cycle gets it."""
        base = self.table.latest_version()
        if base < 0:
            return None
        frames = self._compacted(base)
        legs = isinstance(frames, dict)
        done = commit_loop(
            self.table,
            lambda _base, staged: write_frames(staged, frames),
            lambda _base, _note: self._meta(base),
            settled=lambda now: now != base,
            append=legs,
            replace_subs=tuple(frames) if legs else (),
        )
        return None if done is None else done.version

    def adopt_legacy(self) -> None:
        """Bind a pre-lineage table to this maintainer's lineage — the
        caller asserts the table WAS built by the same logical query
        before the lineage upgrade. One commit that adds no files: it
        stamps ``lineage`` and moves the default writer's ("")
        watermark to ``writer_id``. No-op on an empty table or one that
        already has a lineage."""
        if self.lineage_id is None:
            raise ValueError("adopt_legacy requires a lineage_id")

        def adopted(base: int, _note) -> dict:
            meta = dict(self._meta(base))
            applied = _watermarks(meta)
            meta.pop("batch_id", None)  # folded into applied above
            if "" in applied:
                applied[self.writer_id] = applied.pop("")
            return {**meta, "applied": applied, "lineage": self.lineage_id}

        commit_loop(
            self.table,
            lambda _base, _staged: None,
            adopted,
            settled=lambda base: (
                base < 0 or bool(self._meta(base).get("lineage"))
            ),
        )

    # -- the sink --------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        latest = self.table.latest_version()
        meta = self._meta(latest)
        stored = meta.get("lineage") or None
        if self.lineage_id is not None and latest >= 0:
            if stored is None:
                # a pre-lineage table is AMBIGUOUS: the same logical
                # query upgraded, or a stale table from another one —
                # stamping the lineage silently would hide the latter
                raise LineageError(
                    f"{type(self).__name__} table at {self.path} is "
                    "legacy (pre-lineage, no lineage recorded); refusing "
                    f"to bind lineage {self.lineage_id!r} to it. If it IS "
                    "the same logical query, call adopt_legacy(); "
                    "otherwise use a fresh directory"
                )
            if stored != self.lineage_id:
                raise LineageError(
                    f"{type(self).__name__} table at {self.path} belongs "
                    f"to lineage {stored!r}; refusing batches from "
                    f"{self.lineage_id!r} — replay guards would silently "
                    "drop this query's early batches"
                )
        newest = _watermarks(meta).get(self.writer_id, -1)
        if batch_id <= newest:
            # Replayed micro-batch: already applied. A screen re-emits
            # its verdicts (at-least-once delivery) against the
            # pre-batch version recorded at first processing, so they
            # are bit-identical. Only the newest batch's screen base is
            # retained: an older replay means the checkpoint was
            # restored further back than the table, and its verdicts
            # are unrecoverable — raise, never emit nothing.
            if self.screened is None:
                return
            if batch_id < newest:
                raise RuntimeError(
                    f"{type(self).__name__} table at {self.path}: replay "
                    f"of batch {batch_id} but writer {self.writer_id!r} "
                    f"already applied batch {newest} — verdict re-emission "
                    "only covers the most recent batch; restore a "
                    "checkpoint no older than the table, or rebuild it"
                )
            base = meta.get("screen_base", {}).get(self.writer_id, -1)
            self.screened(
                self._screen(batch_df, self._keys(batch_df), base), batch_id
            )
            return
        t0 = time.time()
        art = self._prepare(batch_df)
        if self.REBASE:
            t0 = time.time()  # hoisted batch artifacts: no attempt's fold
        if self.screened is not None:
            self.screened(self._screen(batch_df, art, latest), batch_id)
        pre_sec = time.time() - t0

        def stage(base: int, staged: str) -> dict:
            frames, extra = self._stage(art, base)
            write_frames(staged, frames)
            return extra

        def commit_meta(base: int, extra: dict) -> dict:
            base_meta = self._meta(base)
            applied = _watermarks(base_meta)
            applied[self.writer_id] = batch_id
            out = {"applied": applied, "lineage": self.lineage_id, **extra}
            if self.SCREENS:
                # the version the screen ran against, so a replay can
                # re-emit bit-identical verdicts (other writers' carried)
                out["screen_base"] = {
                    **base_meta.get("screen_base", {}),
                    self.writer_id: latest,
                }
            for key in self.COUNTERS:
                out[key] = base_meta.get(key, 0) + extra[key]
            return out

        done = commit_loop(
            self.table,
            stage,
            commit_meta,
            restage=self.REBASE,
            settled=lambda base: (
                self._applied(base).get(self.writer_id, -1) >= batch_id
            ),
        )
        if done is None:
            return  # the race winner was a replay of THIS batch
        self.timings.append(
            {
                "batch_id": batch_id,
                "version": done.version,
                "stage_sec": round(pre_sec + done.stage_sec, 4),
                "commit_sec": round(done.commit_sec, 4),
                **self._timing(done.version),
            }
        )
        if (
            self.AUTO_COMPACT
            and done.version > 0
            and done.version % COMPACT_EVERY == 0
        ):
            self.compact()
        self.table.vacuum(keep_last=KEEP_LAST)
