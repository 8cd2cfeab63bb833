"""Versioned tokenizer artifacts through the commit log — the
re-train / republish contract for the frozen tokenizer families.

A production tokenizer (BPE merges+vocab, unigram-LM piece table) is a
VERSIONED PUBLISHED ARTIFACT like the postings index or the cluster
map: trained once, read by every downstream encode job, re-trained and
RE-PUBLISHED when the training corpus changes. The per-application
cache (sources/files.session_artifact) covers sharing WITHIN one Spark
app; this store is the cross-job publish path:

- every publish is one atomic ``commit_append`` whose artifact legs
  (``vocab``, and ``merges`` for the BPE family) are swapped via
  ``replace_subs`` — a new manifest version, O(artifact) data motion,
  exactly-one-winner races through the package's one retry loop
  (streaming/commitlog.commit_loop);
- readers of ``latest`` pick up exactly the new vocabulary the moment
  the manifest lands (no torn reads — the commit log's link-CAS);
- readers PINNED to a version replay bit-identically forever (time
  travel), the property an encode job needs to reproduce a training
  run after the tokenizer moved on;
- ``ensure`` is the idempotent entry point: it keys the current
  version's meta on (family, corpus fingerprint, params) and only
  retrains on a mismatch — the republish trigger is a corpus change,
  not a query.

Reference anchor: generalizes the reference's compacted-changelog
artifact idea (a KTable is a versioned latest-state view its consumers
re-read — TemperatureBoundariesTable semantics) from dimension rows to
trained-model tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_dexcom_spark.streaming.commitlog import (
    VersionedTable,
    commit_loop,
    write_frames,
)


class TokenizerArtifactStore:
    """Versioned store for one tokenizer's artifact frames. Each
    publish commits every leg in ``frames`` atomically (one manifest),
    replacing the previous legs of the same names."""

    def __init__(self, path: str) -> None:
        self.table = VersionedTable(path)

    # -- read side -----------------------------------------------------
    def version(self) -> int:
        return self.table.latest_version()

    def meta(self, version: int | None = None) -> dict:
        v = self.table.latest_version() if version is None else version
        if v < 0:
            return {}
        return self.table.read_manifest(v).get("meta", {})

    def read(
        self,
        spark: SparkSession,
        sub: str = "vocab",
        version: int | None = None,
    ) -> DataFrame | None:
        """One artifact leg at ``version`` (default: latest). None when
        the leg does not exist at that version."""
        v = self.table.latest_version() if version is None else version
        if v < 0:
            return None
        return self.table.read(spark, v, sub=sub)

    # -- write side ----------------------------------------------------
    def publish(
        self,
        frames: dict[str, DataFrame] | DataFrame,
        *,
        family: str,
        fingerprint: str,
        params: dict | None = None,
    ) -> int:
        """Atomically publish the artifact frames as a new version.
        A bare DataFrame publishes as the ``vocab`` leg. On a lost
        race, if the winner already published the SAME
        (family, fingerprint, params) the winner's version is returned
        (the retrain was redundant, not wrong); otherwise the staged
        legs are re-linked onto the new base — an artifact publish
        depends only on its own training output, so no rebuild is
        needed."""
        if isinstance(frames, DataFrame):
            frames = {"vocab": frames}
        meta = {
            "family": family,
            "fingerprint": fingerprint,
            "params": dict(params or {}),
        }
        first = self.table.latest_version()
        done = commit_loop(
            self.table,
            lambda _base, staged: write_frames(staged, frames),
            lambda _base, _note: meta,
            restage=False,
            settled=lambda base: base > first and self.meta(base) == meta,
            replace_subs=tuple(frames),
        )
        return self.table.latest_version() if done is None else done.version

    def ensure(
        self,
        spark: SparkSession,
        *,
        family: str,
        fingerprint: str,
        params: dict | None = None,
        build,
    ) -> tuple[int, DataFrame]:
        """The idempotent production entry point: return (version,
        vocab leg) for the CURRENT corpus, retraining only when the
        stored meta does not match (family, fingerprint, params) —
        i.e. first publish, corpus change, or hyperparameter change.
        ``build`` is a zero-arg callable returning the frames dict (or
        a bare vocab DataFrame); it runs only on a mismatch."""
        want = {
            "family": family,
            "fingerprint": fingerprint,
            "params": dict(params or {}),
        }
        v = self.table.latest_version()
        if v >= 0 and self.meta(v) == want:
            return v, self.read(spark, version=v)
        v = self.publish(
            build(),
            family=family,
            fingerprint=fingerprint,
            params=params,
        )
        return v, self.read(spark, version=v)
