"""Snapshot table format: ACID-style commits over plain parquet.

A minimal transactional layer in the Delta/Iceberg mold, built from two
public primitives only — immutable parquet data files and an atomic
manifest-pointer swap:

- **Data files are immutable.** Every commit writes NEW parquet files under a
  unique subdirectory of ``data/``; nothing ever rewrites or appends to an
  existing file.
- **A version = a manifest.** ``manifests/v<N>.json`` lists exactly the data
  files visible at version N. Readers resolve the newest manifest once, then
  read only files it names — a reader can never observe a half-written
  commit, because files become visible only via the manifest.
- **Commit = atomic claim of the next version number.** The manifest is
  staged to a temp name, then claimed with ``os.link(tmp, vN.json)`` — hard
  linking fails with EEXIST if another writer claimed N first (POSIX gives
  this atomically; on an object store the same role is played by a
  conditional PUT / commit service). The loser re-reads the new head, reuses
  its already-written (content-addressed, conflict-free) data files, and
  retries against N+1 — optimistic concurrency with no lock server.
- **Snapshot isolation + time travel.** A reader holding version N is
  unaffected by later commits (its files are immutable and never named by a
  DELETE); ``read(spark, version=K)`` reproduces any historical version
  exactly.

Scale design: the manifest holds file paths only, so its size is
O(files), not O(rows) — at 100 TB with 128 MB files that is ~10^6 short
strings per manifest, read once per query by the driver. Data-file IO is
fully distributed (a plain parquet scan over the named files);
the commit path touches zero data bytes. Compaction (rewriting many small
files into few, then committing the swapped file list) is just another
commit under this protocol.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from eviction_lab_etl_spark.sources.loader import read_parquet


class CommitConflict(Exception):
    """Another writer claimed the target version (retryable)."""


class SnapshotTable:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        # Incremental meta-ledger cache: key -> (highest version scanned,
        # {value: earliest committing version}). Manifests are immutable once
        # claimed and versions only grow, so scanning just the tail is sound —
        # committed_meta() goes from O(versions) manifest reads per call
        # (O(versions²) over a streaming run) to O(new versions).
        self._meta_cache: dict[str, tuple[int, dict]] = {}

    # ---- version / manifest bookkeeping -------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "manifests", f"v{version:05d}.json")

    def latest_version(self) -> int:
        """Newest committed version (0 = empty table). Staged-but-unclaimed
        temp manifests (a crashed writer's leftovers) are invisible: only
        fully-claimed ``v*.json`` names count."""
        versions = [
            int(f[1:-5])
            for f in os.listdir(os.path.join(self.root, "manifests"))
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions, default=0)

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def files(self, version: int | None = None) -> list[str]:
        version = self.latest_version() if version is None else version
        if version == 0:
            return []
        return [os.path.join(self.root, f) for f in self.manifest(version)["files"]]

    # ---- write path ---------------------------------------------------
    def _write_data(self, df: DataFrame) -> list[str]:
        """Materialize a commit's data files under a unique dir; returns paths
        relative to the table root. The dir name is content-addressed by
        uuid, so concurrent writers never collide on data files."""
        sub = os.path.join("data", uuid.uuid4().hex)
        df.write.parquet(os.path.join(self.root, sub))
        return sorted(
            os.path.join(sub, f)
            for f in os.listdir(os.path.join(self.root, sub))
            if f.endswith(".parquet")
        )

    def _claim(self, payload: dict, target_version: int) -> int:
        """Atomically claim ``target_version`` for ``payload``; raises
        CommitConflict if a concurrent writer got there first."""
        tmp = os.path.join(self.root, "manifests", f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        try:
            os.link(tmp, self._manifest_path(target_version))  # atomic fail-if-exists
        except FileExistsError:
            raise CommitConflict(target_version) from None
        finally:
            os.unlink(tmp)
        return target_version

    def _commit(
        self,
        files: list[str],
        mode: str,
        max_retries: int = 20,
        meta: dict | None = None,
        expected_parent: int | None = None,
        txn: tuple[str, object] | None = None,
    ) -> int:
        """Publish ``files`` (append: alongside the parent's; replace: as the
        whole table) — retrying the version claim on conflict. Append
        retries are conflict-free by construction (the re-read parent just
        gains the other writer's files). Replace is last-writer-wins on
        CONTENT by definition ("table := df"), so its retry intentionally
        re-claims over whatever landed meanwhile — callers whose replace is
        derived FROM current content (compaction, merge) must pass
        ``expected_parent`` to get compare-and-swap semantics instead: the
        commit then refuses (CommitConflict) when the head moved, so the
        caller re-derives from the new head rather than silently dropping
        the concurrent commit's rows.

        ``txn=(key, value)`` makes the commit IDEMPOTENT at protocol level
        (Delta's ``txnAppId``/``txnVersion``): the (key, value) pair is
        recorded in the manifest meta, and the ledger is re-checked INSIDE
        the retry loop each time the head is re-read — so two writers racing
        to replay the same batch cannot both commit: the claim loser re-reads
        the head, finds the winner's txn in the ledger, and returns that
        version without claiming. A check only *before* _commit (check-then-
        act) would leave that window open."""
        if txn is not None:
            meta = {**(meta or {}), txn[0]: txn[1]}
        for _ in range(max_retries):
            parent = self.latest_version()
            if txn is not None:
                done = self._meta_versions(txn[0]).get(txn[1])
                if done is not None:
                    return done  # already durable (possibly by a rival writer)
            if expected_parent is not None and parent != expected_parent:
                raise CommitConflict(
                    f"head moved: expected v{expected_parent}, found v{parent}"
                )
            base = self.manifest(parent)["files"] if (parent and mode == "append") else []
            payload = {
                "version": parent + 1,
                "parent": parent,
                "mode": mode,
                "files": base + files,
                "meta": meta or {},
            }
            try:
                return self._claim(payload, parent + 1)
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def append(
        self,
        df: DataFrame,
        meta: dict | None = None,
        txn: tuple[str, object] | None = None,
    ) -> int:
        """Append ``df`` as a new version. With ``txn=(key, value)`` the
        append is exactly-once per (key, value): a replay returns the
        already-committed version. The pre-write ledger check is a fast path
        that skips materializing data files for a known-durable batch; the
        authoritative check is _commit's in-loop re-validation."""
        if txn is not None:
            done = self._meta_versions(txn[0]).get(txn[1])
            if done is not None:
                return done
        return self._commit(self._write_data(df), "append", meta=meta, txn=txn)

    def _meta_versions(self, key: str) -> dict:
        """``meta[key]`` value -> earliest committing version, incrementally
        cached (immutable manifests: only the tail beyond the cache's high-
        water mark is ever read)."""
        hi, vals = self._meta_cache.get(key, (0, {}))
        latest = self.latest_version()
        for v in range(hi + 1, latest + 1):
            val = self.manifest(v).get("meta", {}).get(key)
            if val is not None and val not in vals:
                vals[val] = v
        self._meta_cache[key] = (latest, vals)
        return vals

    def committed_meta(self, key: str) -> set:
        """All values of ``meta[key]`` across committed versions — the
        idempotence ledger an exactly-once sink consults (e.g. streaming
        batch ids already durably committed)."""
        return set(self._meta_versions(key))

    def replace(self, df: DataFrame) -> int:
        """Full-content replacement (the commit a MERGE/compaction publishes
        after rewriting its copy-on-write file set). Old versions' files are
        never deleted — that is what keeps time travel exact; a vacuum step
        (drop files unreferenced by any retained manifest) would be one more
        manifest walk."""
        return self._commit(self._write_data(df), "replace")

    def compact(
        self, spark: SparkSession, target_files: int = 1, max_retries: int = 5
    ) -> int:
        """OPTIMIZE-style small-file compaction: rewrite the current content
        into ``target_files`` files and publish the swap. Compaction must be
        CONTENT-NEUTRAL, so the swap commits with compare-and-swap semantics
        (``expected_parent``): if a concurrent append lands between reading
        the head and claiming the swap, the claim refuses and the loop
        re-reads the NEW head (picking up the appended rows) before retrying
        — a plain replace-retry here would silently drop them. Readers of
        older versions are untouched (their files survive). At 100 TB
        compaction runs per partition-range, not whole-table — the protocol
        is identical, only the file selection narrows."""
        for _ in range(max_retries):
            head = self.latest_version()
            files = self._write_data(self.read(spark, version=head).coalesce(target_files))
            try:
                return self._commit(files, "replace", expected_parent=head)
            except CommitConflict:
                continue
        raise CommitConflict(f"compaction lost the head race {max_retries} times")

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """Delete data files referenced by NO retained manifest (after a
        compact/replace, the pre-swap files still exist solely for time
        travel; vacuuming trades history for space — exactly Delta/Iceberg
        ``VACUUM`` semantics, here with all manifests retained, so only
        crash-orphaned files — written but never claimed by any commit —
        are eligible). ``min_age_s`` is the in-flight-writer guard: a
        writer that has materialized files but not yet claimed its manifest
        is indistinguishable from a crash orphan by reference-counting
        alone, so only unreferenced files older than the retention window
        are deleted (same reasoning as Delta's VACUUM retention period; an
        in-flight commit is expected to claim within the window). Returns
        the deleted data-file paths.

        Orphan COMMIT DIRECTORIES are reclaimed too: a crashed writer leaves
        ``_SUCCESS``/``.crc`` sidecars (which are not ``*.parquet``) and the
        uuid directory itself behind — without this, repeated failed
        compactions accumulate unbounded empty dirs under ``data/``. A
        directory is removed only when NO manifest references anything in it
        and every remaining entry is past the retention window (the same
        in-flight-writer guard as for the data files)."""
        referenced: set[str] = set()
        for v in range(1, self.latest_version() + 1):
            referenced.update(self.manifest(v)["files"])
        deleted = []
        now = time.time()

        def _aged(path: str) -> bool:
            return now - os.path.getmtime(path) >= min_age_s

        data_root = os.path.join(self.root, "data")
        for sub in os.listdir(data_root):
            subdir = os.path.join(data_root, sub)
            if not os.path.isdir(subdir):
                # a stray plain file directly under data/ (never written by
                # this sink) must not reach the rmtree branch below — os.walk
                # would yield nothing, the all-aged guard would trivially
                # pass, and rmtree would raise NotADirectoryError, aborting
                # the whole vacuum. Unlink it if unreferenced and aged.
                rel = os.path.relpath(subdir, self.root)
                if rel not in referenced and _aged(subdir):
                    os.unlink(subdir)
                    if subdir.endswith(".parquet"):
                        deleted.append(rel)
                continue
            sub_prefix = os.path.join("data", sub) + os.sep
            sub_referenced = any(r.startswith(sub_prefix) for r in referenced)
            # age the dir BEFORE any deletion below bumps its mtime past `now`
            dir_aged = _aged(subdir)
            # walk recursively: a writer that crashed MID-write leaves Spark's
            # ``_temporary/`` task-attempt tree (nested directories), which a
            # flat listdir+unlink pass would trip over with IsADirectoryError
            walked = [
                os.path.join(dp, f)
                for dp, _, fs in os.walk(subdir)
                for f in fs
            ]
            if (
                not sub_referenced
                and dir_aged
                and all(_aged(p) for p in walked)
            ):
                # wholly-unreferenced, wholly-aged commit dir = crash orphan:
                # reclaim the entire tree (data files, sidecars, _temporary/,
                # and the uuid directory itself)
                for p in walked:
                    if p.endswith(".parquet"):
                        deleted.append(os.path.relpath(p, self.root))
                shutil.rmtree(subdir)
                continue
            for p in walked:
                rel = os.path.relpath(p, self.root)
                if p.endswith(".parquet") and rel not in referenced and _aged(p):
                    os.unlink(p)
                    deleted.append(rel)
        return deleted

    # ---- read path ----------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read a version's content. ``mergeSchema`` makes additive schema
        evolution work across commits: a version whose file set spans commits
        with different (compatible) schemas unions the columns, with rows
        from pre-widening files reading NULL for the added columns — and
        time travel to a pre-widening version still returns exactly that
        version's narrower schema, because schema is a property of the files
        a manifest names, not of the table. Data files are immutable, so a
        repeated read of one version resolves its merged schema from the
        loader's memo and launches no footer-merging job."""
        files = self.files(version)
        if not files:
            raise ValueError("empty table (version 0 has no files)")
        return read_parquet(spark, files, merge=True)

    # ---- named refs (tags) ---------------------------------------------
    def _tag_path(self, name: str) -> str:
        return os.path.join(self.root, "tags", f"{name}.json")

    def tag(self, name: str, version: int | None = None) -> int:
        """Create an IMMUTABLE named ref to a committed version (Iceberg
        tags / git tags): 'release-2024-06' keeps meaning the same bytes
        forever, regardless of later commits or of which version number it
        happened to be. Creation reuses the manifest claim discipline —
        stage to a temp name, ``os.link`` to the final name — so two
        writers racing to tag the same name get exactly one winner and a
        CommitConflict for the loser; a tag can never be silently
        repointed (retargeting = a new name, the immutability contract).
        Vacuum safety: tags are refs into manifests, and data files named
        by ANY manifest are never vacuum candidates, so tagged history
        stays readable."""
        if version is None:
            version = self.latest_version()
        if version < 1 or not os.path.exists(self._manifest_path(version)):
            raise ValueError(f"cannot tag uncommitted version {version}")
        os.makedirs(os.path.join(self.root, "tags"), exist_ok=True)
        tmp = os.path.join(self.root, "tags", f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump({"name": name, "version": version}, fh)
        try:
            os.link(tmp, self._tag_path(name))
        except FileExistsError:
            raise CommitConflict(f"tag {name}") from None
        finally:
            os.unlink(tmp)
        return version

    def tag_version(self, name: str) -> int:
        with open(self._tag_path(name)) as fh:
            return int(json.load(fh)["version"])

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Read the version a tag names — one ref resolution + the normal
        manifest-pinned read; cost identical to read(version=K)."""
        return self.read(spark, version=self.tag_version(name))

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
