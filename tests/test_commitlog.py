"""Optimistic commit log (streaming/commitlog.py): exactly-one-winner
races, serializable rebase chains, no torn reads, crash debris vacuum —
the concurrent-writer story the directory-rename swap lacks."""

from __future__ import annotations

import json
import os
import threading

import pytest

from kafka_streams_dexcom_spark.streaming.commitlog import (
    MAX_COMMIT_ATTEMPTS,
    BatchMaintainer,
    CommitConflict,
    VersionedTable,
    commit_loop,
    write_frames,
)


def _write_payload(staged: str, n_files: int, tag: str) -> None:
    """n_files data files plus a checksum manifest — a reader can
    detect ANY torn state (missing/extra/foreign file)."""
    for i in range(n_files):
        with open(os.path.join(staged, f"part-{i:03d}"), "w") as f:
            f.write(f"{tag}:{i}")
    with open(os.path.join(staged, "_checksum.json"), "w") as f:
        json.dump({"n_files": n_files, "tag": tag}, f)


def _validate_payload(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "_checksum.json")) as f:
        meta = json.load(f)
    parts = sorted(p for p in os.listdir(data_dir) if p.startswith("part-"))
    assert len(parts) == meta["n_files"], "torn read: file count mismatch"
    for i, p in enumerate(parts):
        with open(os.path.join(data_dir, p)) as f:
            assert f.read() == f"{meta['tag']}:{i}", "torn read: foreign file"
    return meta


def test_basic_commit_and_time_travel(tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    assert t.latest_version() == -1
    with pytest.raises(FileNotFoundError):
        t.data_path()
    s0 = t.stage()
    _write_payload(s0, 3, "v0")
    assert t.commit(s0, -1) == 0
    s1 = t.stage()
    _write_payload(s1, 5, "v1")
    assert t.commit(s1, 0) == 1
    assert t.latest_version() == 1
    assert _validate_payload(t.data_path())["tag"] == "v1"
    # committed versions are immutable history
    assert _validate_payload(t.data_path(0))["tag"] == "v0"
    assert t.read_manifest(1)["base_version"] == 0


def test_stale_base_commit_conflicts(tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    s = t.stage()
    _write_payload(s, 1, "a")
    t.commit(s, -1)
    s = t.stage()
    _write_payload(s, 1, "b")
    t.commit(s, 0)
    # derived from version 0, but 1 already landed: must NOT publish
    s = t.stage()
    _write_payload(s, 1, "stale")
    with pytest.raises(CommitConflict):
        t.commit(s, 0)
    assert _validate_payload(t.data_path())["tag"] == "b"


def test_two_writers_exactly_one_wins(tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    barrier = threading.Barrier(2)
    outcomes: list[str] = []
    lock = threading.Lock()

    def writer(tag: str) -> None:
        s = t.stage()
        _write_payload(s, 2, tag)
        barrier.wait()
        try:
            t.commit(s, -1)
            res = f"won:{tag}"
        except CommitConflict:
            res = f"lost:{tag}"
        with lock:
            outcomes.append(res)

    threads = [
        threading.Thread(target=writer, args=(tag,)) for tag in ("A", "B")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wins = [o for o in outcomes if o.startswith("won")]
    losses = [o for o in outcomes if o.startswith("lost")]
    assert len(wins) == 1 and len(losses) == 1
    assert t.latest_version() == 0
    # the table holds the WINNER's payload, intact
    assert "won:" + _validate_payload(t.data_path())["tag"] in wins


def test_commit_retry_serializes_n_writers(tmp_path):
    """8 concurrent writers with rebase loops: all eventually commit,
    versions are dense, and every manifest's base is its predecessor —
    the serializable-history invariant."""
    t = VersionedTable(str(tmp_path / "t"))
    n = 8

    def writer(tag: str) -> None:
        def build(base: int, staged: str) -> None:
            # rebuild against the current base (the rebase contract):
            # payload records which version it was derived from
            _write_payload(staged, 2, f"{tag}@base{base}")

        commit_loop(t, build, append=False)

    threads = [
        threading.Thread(target=writer, args=(f"w{i}",)) for i in range(n)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert t.latest_version() == n - 1
    for v in range(n):
        m = t.read_manifest(v)
        assert m["version"] == v and m["base_version"] == v - 1
        meta = _validate_payload(t.data_path(v))
        # each committed payload was BUILT against its manifest base
        assert meta["tag"].endswith(f"@base{v - 1}")


def test_no_torn_reads_under_concurrent_commits(tmp_path):
    """A reader polling during a stream of commits must only ever see
    complete, checksum-consistent versions."""
    t = VersionedTable(str(tmp_path / "t"))
    stop = threading.Event()
    errors: list[str] = []

    def writer() -> None:
        for v in range(30):
            s = t.stage()
            _write_payload(s, 4 + v % 3, f"gen{v}")
            t.commit(s, v - 1)
        stop.set()

    def reader() -> None:
        # ANY exception is a torn read — including a JSONDecodeError
        # from a manifest listed before its content landed (the exact
        # race the write-then-hardlink commit exists to prevent; the
        # create-then-write version of commit() failed here live)
        seen = -1
        while not stop.is_set() or seen < 0:
            v = t.latest_version()
            if v < 0:
                continue
            try:
                _validate_payload(t.data_path(v))
            except Exception as e:  # pragma: no cover
                errors.append(f"{type(e).__name__}: {e}")
                stop.set()
                return
            seen = v

    th_w = threading.Thread(target=writer)
    th_r = [threading.Thread(target=reader) for _ in range(3)]
    th_w.start()
    for th in th_r:
        th.start()
    th_w.join()
    for th in th_r:
        th.join()
    assert not errors
    assert t.latest_version() == 29


def _backdate(path: str, seconds: float = 3600.0) -> None:
    """Age a directory past any vacuum grace window."""
    import time

    old = time.time() - seconds
    os.utime(path, (old, old))


def test_vacuum_removes_old_and_crash_debris(tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    for v in range(4):
        s = t.stage()
        _write_payload(s, 1, f"v{v}")
        t.commit(s, v - 1)
    # crash debris: a staged dir whose writer died pre-commit
    orphan = t.stage()
    _write_payload(orphan, 1, "orphan")
    # fresh debris survives the grace window...
    assert t.vacuum(keep_last=2) == []
    # ...and is collected once aged past it
    for name in os.listdir(t.root):
        if name != "_commits":
            _backdate(os.path.join(t.root, name))
    removed = t.vacuum(keep_last=2)
    assert len(removed) == 3  # v0, v1 data dirs + the orphan
    # retained versions still read cleanly
    assert _validate_payload(t.data_path(3))["tag"] == "v3"
    assert _validate_payload(t.data_path(2))["tag"] == "v2"
    with pytest.raises((FileNotFoundError, AssertionError)):
        _validate_payload(t.data_path(0))


def test_vacuum_never_touches_in_flight_commit(tmp_path):
    """The window commit() opens between rename-to-v-name and manifest
    link: the dir is unreferenced with version > latest. vacuum must
    leave it even when aged — removing it would let the racing link
    succeed and publish a manifest over an rmtree'd data dir (a torn
    table)."""
    t = VersionedTable(str(tmp_path / "t"))
    s = t.stage()
    _write_payload(s, 1, "v0")
    t.commit(s, -1)
    # simulate a writer crashed/paused mid-commit of version 1
    inflight = os.path.join(t.root, "v00000001-deadbeef")
    os.makedirs(inflight)
    _write_payload(inflight, 2, "inflight")
    _backdate(inflight)
    assert t.vacuum(keep_last=1, grace_seconds=0.0) == []
    # the paused commit can still land and read back intact
    with open(os.path.join(t.root, "_commits", "00000001.json"), "w") as f:
        json.dump(
            {"version": 1, "base_version": 0, "data_dir": "v00000001-deadbeef"},
            f,
        )
    assert _validate_payload(t.data_path(1))["tag"] == "inflight"


def test_vacuum_racing_commits_never_tears_table(tmp_path):
    """A maintainer committing every batch while another thread vacuums
    aggressively (keep_last=1, default grace): every version a reader
    resolves must validate — the exact advertised concurrent-maintainer
    use case."""
    t = VersionedTable(str(tmp_path / "t"))
    errors: list[str] = []
    done = threading.Event()

    def writer() -> None:
        for v in range(40):
            s = t.stage()
            _write_payload(s, 2 + v % 2, f"gen{v}")
            t.commit(s, v - 1)
        done.set()

    def vacuumer() -> None:
        while not done.is_set():
            t.vacuum(keep_last=1)

    def reader() -> None:
        while not done.is_set():
            v = t.latest_version()
            if v < 0:
                continue
            try:
                _validate_payload(t.data_path(v))
            except Exception as e:  # pragma: no cover
                errors.append(f"v{v}: {type(e).__name__}: {e}")
                done.set()
                return

    threads = [
        threading.Thread(target=fn)
        for fn in (writer, vacuumer, reader, reader)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert _validate_payload(t.data_path())["tag"] == "gen39"


def test_spark_write_commit_roundtrip(spark, tmp_path):
    """The Spark convenience path: stage a DataFrame as parquet, commit,
    read back — and a second derived commit supersedes it."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(100).withColumnRenamed("id", "k")
    assert t.write_commit(df) == 0
    assert t.read(spark).count() == 100
    derived = t.read(spark).filter("k % 2 = 0")
    assert t.write_commit(derived, meta={"op": "halve"}) == 1
    assert t.read(spark).count() == 50
    assert t.read(spark, version=0).count() == 100
    assert t.read_manifest(1)["meta"] == {"op": "halve"}


# -- append-granular commits (file-list manifests) -----------------------


def _touch_parquet(staged: str, names: list[str]) -> None:
    for n in names:
        p = os.path.join(staged, n)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(n)


def test_commit_append_links_base_files(tmp_path):
    """An append commit's manifest lists the base's files PLUS the
    staged increment — the increment dir holds only the batch."""
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    _touch_parquet(s0, ["a.parquet"])
    t.commit(s0, -1)
    s1 = t.stage()
    _touch_parquet(s1, ["b.parquet"])
    t.commit_append(s1, 0)
    s2 = t.stage()
    _touch_parquet(s2, ["c.parquet"])
    t.commit_append(s2, 1)
    names = sorted(os.path.basename(f) for f in t.files())
    assert names == ["a.parquet", "b.parquet", "c.parquet"]
    # each version dir holds ONLY its increment (O(batch) data motion)
    dirs = {os.path.basename(os.path.dirname(f)) for f in t.files()}
    assert len(dirs) == 3
    # time travel still resolves per-version file lists
    assert [os.path.basename(f) for f in t.files(0)] == ["a.parquet"]
    assert len(t.files(1)) == 2


def test_commit_append_stale_base_conflicts_and_preserves_staged(tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    _touch_parquet(s0, ["a.parquet"])
    t.commit(s0, -1)
    s1 = t.stage()
    _touch_parquet(s1, ["b.parquet"])
    t.commit_append(s1, 0)
    # a writer that read version 0 loses — and its staged increment
    # survives the conflict for re-submission against the new base
    s2 = t.stage()
    _touch_parquet(s2, ["c.parquet"])
    with pytest.raises(CommitConflict):
        t.commit_append(s2, 0)
    assert os.path.isdir(s2)
    t.commit_append(s2, 1)
    assert len(t.files()) == 3


def test_commit_append_on_legacy_data_dir_manifest(tmp_path):
    """A pre-files manifest (data_dir only) folds its parquet scan into
    the first append on top — the format-upgrade path."""
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    _touch_parquet(s0, ["old.parquet"])
    v0 = t.commit(s0, -1)
    # strip the files key to simulate a legacy manifest
    mp = t._manifest_path(v0)
    with open(mp) as f:
        m = json.load(f)
    del m["files"]
    os.unlink(mp)
    with open(mp, "w") as f:
        json.dump(m, f)
    s1 = t.stage()
    _touch_parquet(s1, ["new.parquet"])
    t.commit_append(s1, 0)
    names = sorted(os.path.basename(f) for f in t.files())
    assert names == ["new.parquet", "old.parquet"]


def test_replace_subs_compacts_one_leg(tmp_path):
    """replace_subs drops the base's files for named legs while other
    legs ride along — the per-leg compaction primitive."""
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    _touch_parquet(s0, ["labels/l0.parquet", "bands/b0.parquet"])
    t.commit(s0, -1)
    s1 = t.stage()
    _touch_parquet(s1, ["labels/l1.parquet", "bands/b1.parquet"])
    t.commit_append(s1, 0)
    s2 = t.stage()
    _touch_parquet(s2, ["labels/snapshot.parquet"])
    t.commit_append(s2, 1, replace_subs=("labels",))
    labels = sorted(os.path.basename(f) for f in t.files(sub="labels"))
    bands = sorted(os.path.basename(f) for f in t.files(sub="bands"))
    assert labels == ["snapshot.parquet"]
    assert bands == ["b0.parquet", "b1.parquet"]


def test_vacuum_append_only_keeps_everything_then_compaction_frees(tmp_path):
    """Under pure append every old dir stays referenced (its files ARE
    the live table) — vacuum removes nothing. A compacting replace
    commit ages them out once past the retention window."""
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    _touch_parquet(s0, ["a.parquet"])
    t.commit(s0, -1)
    for i in range(3):
        s = t.stage()
        _touch_parquet(s, [f"inc{i}.parquet"])
        t.commit_append(s, i)
    assert t.vacuum(keep_last=2, grace_seconds=0) == []
    assert len(t.files()) == 4
    # compact: full rewrite into one dir
    sc = t.stage()
    _touch_parquet(sc, ["compacted.parquet"])
    t.commit(sc, 3)
    # one more append so the pre-compaction versions age out of keep_last=1
    s = t.stage()
    _touch_parquet(s, ["tail.parquet"])
    t.commit_append(s, 4)
    removed = t.vacuum(keep_last=1, grace_seconds=0)
    assert len(removed) == 4  # the four pre-compaction increment dirs
    assert sorted(os.path.basename(f) for f in t.files()) == [
        "compacted.parquet",
        "tail.parquet",
    ]


def test_vacuum_never_collects_dir_at_latest_version(tmp_path):
    """A losing commit's withdrawn dir briefly sits at v{latest}; the
    >= latest in-flight rule protects it even past the grace window."""
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    _touch_parquet(s0, ["a.parquet"])
    t.commit(s0, -1)
    # fabricate an aged dir at exactly the latest version number
    loser = os.path.join(t.root, "v00000000-deadbeef")
    os.makedirs(loser)
    os.utime(loser, (0, 0))
    assert "v00000000-deadbeef" not in t.vacuum(keep_last=1, grace_seconds=0)
    assert os.path.isdir(loser)


def test_spark_append_read_union(spark, tmp_path):
    """Spark-side: appended increments read back as the union, per-leg
    selection works, and time travel sees each prefix."""
    t = VersionedTable(str(tmp_path / "t"))
    s0 = t.stage()
    spark.range(10).write.parquet(os.path.join(s0, "data"))
    t.commit(s0, -1)
    s1 = t.stage()
    spark.range(10, 25).write.parquet(os.path.join(s1, "data"))
    t.commit_append(s1, 0)
    assert t.read(spark).count() == 25
    assert t.read(spark, version=0).count() == 10
    assert t.read(spark, sub="data").count() == 25
    assert t.read(spark, sub="nosuch") is None


# -- the per-batch protocol (BatchMaintainer) -----------------------------


class _RacedFold(BatchMaintainer):
    """A pass-through fold whose first ``races`` stagings each lose to a
    rival commit landing on the same base — the two-writer race, made
    deterministic. Counts how often the protocol prepares and stages."""

    def __init__(self, spark, path, rebase, races=1):
        super().__init__(spark, path, lineage_id="p")
        self.REBASE = rebase
        self.races = races
        self.calls = {"prepare": 0, "stage": 0}

    def _prepare(self, batch_df):
        self.calls["prepare"] += 1
        return batch_df

    def _stage(self, art, base):
        self.calls["stage"] += 1
        if self.races:
            self.races -= 1
            rival = self.table.stage()
            write_frames(rival, art.limit(0))
            self.table.commit_append(rival, base, meta=self._meta(base))
        return art, {}


@pytest.mark.parametrize("rebase", [True, False], ids=["rebase", "relink"])
def test_lost_race_reuses_batch_artifacts(spark, tmp_path, rebase):
    """A losing writer never recomputes its hoisted batch artifacts: a
    base-dependent fold re-stages against the winner, a batch-only fold
    re-links the files it staged once."""
    m = _RacedFold(spark, str(tmp_path / "t"), rebase)
    m(spark.range(5), 0)
    assert m.calls == {"prepare": 1, "stage": 2 if rebase else 1}
    assert m.table.latest_version() == 1  # the rival's, then ours
    assert m._applied(1) == {"p": 0}
    assert m.timings[0]["version"] == 1
    assert m.table.read(spark).count() == 5


def test_exhausted_races_raise_and_leave_no_staging(spark, tmp_path):
    m = _RacedFold(
        spark, str(tmp_path / "t"), rebase=True, races=MAX_COMMIT_ATTEMPTS
    )
    with pytest.raises(CommitConflict, match="gave up"):
        m(spark.range(5), 0)
    assert not [n for n in os.listdir(m.path) if n.startswith("staging-")]
    assert m.timings == []


def _screen_batch(spark):
    from pyspark.sql import functions as F

    return spark.range(1, 9).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), (F.col("id") % 2).cast("string")).alias("host"),
        F.lit("one two three four five six\nsame chrome line here ok").alias(
            "text"
        ),
        F.concat(F.lit("http://x.test/"), F.col("id").cast("string")).alias(
            "url"
        ),
    )


@pytest.mark.parametrize("kind", ["bloom", "url", "census"])
def test_screening_maintainers_vacuum_crash_debris(spark, tmp_path, kind):
    """Every maintainer vacuums after its commit: a crash-orphaned
    staging dir aged past the grace window is collected by the next
    batch."""
    import time

    from kafka_streams_dexcom_spark.streaming.bloom_ingest import (
        BloomFilterMaintainer,
    )
    from kafka_streams_dexcom_spark.streaming.line_census import (
        HostLineCensusMaintainer,
    )
    from kafka_streams_dexcom_spark.streaming.url_index import (
        UrlFirstSeenMaintainer,
    )

    path = str(tmp_path / kind)
    m = {
        "bloom": lambda: BloomFilterMaintainer(spark, path, m_bits=256),
        "url": lambda: UrlFirstSeenMaintainer(spark, path),
        "census": lambda: HostLineCensusMaintainer(spark, path),
    }[kind]()
    debris = os.path.join(path, "staging-crashed")
    os.makedirs(debris)
    aged = time.time() - 601
    os.utime(debris, (aged, aged))
    m(_screen_batch(spark), 0)
    assert m.table.latest_version() == 0
    assert not os.path.exists(debris)


def test_one_commit_loop_in_streaming_package():
    """commitlog.py holds the package's only commit-retry loop and its
    only publish path: no other streaming module commits directly,
    publishes by renaming a directory, or re-grows a per-module
    retry/compaction knob."""
    import ast
    import pathlib

    import kafka_streams_dexcom_spark.streaming as pkg

    banned_calls = {"commit_append", "commit", "write_commit"}
    banned_moves = {("os", "rename"), ("os", "replace"), ("shutil", "move")}
    banned_params = {"max_commit_attempts", "compact_every"}
    offenders = []
    for f in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
        if f.name == "commitlog.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call) and isinstance(
                node.func, ast.Attribute
            ):
                attr, owner = node.func.attr, node.func.value
                if attr in banned_calls or (
                    isinstance(owner, ast.Name)
                    and (owner.id, attr) in banned_moves
                ):
                    offenders.append(f"{f.name}:{node.lineno} .{attr}(")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg in banned_params:
                        offenders.append(f"{f.name}:{node.lineno} {arg.arg}")
    assert offenders == []
