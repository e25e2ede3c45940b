"""Versioned parquet tables: snapshots + time travel (SURVEY.md S10).

The reference exposes Iceberg snapshot metadata (``table$snapshots``)
and time travel (``scripts/query-examples.sh:91-95``,
``.design/adtech-data-playground.md:377-381``). On a Delta/Iceberg
deployment this is ``VERSION AS OF`` / ``DESCRIBE HISTORY`` for free;
neither format's runtime ships in this environment, so the same
contract is implemented over plain parquet: every commit writes an
immutable ``v{N}`` directory plus a row in a ``_snapshots`` metadata
table.

Snapshot economics follow Iceberg's manifest reuse, so append IO
stays proportional to the appended data: an ``append`` commit takes ONLY the new rows, hard-links
every data file of the previous version into the new ``v{N}`` dir
(zero bytes copied for existing data — the single-filesystem analog
of a new snapshot referencing the prior snapshot's files) and writes
just the appended rows as new files. Only an ``overwrite`` commit
materializes full contents. Likewise :meth:`expire_snapshots`
removing an old version dir unlinks names, not shared bytes — a data
file's storage is reclaimed only when the last version referencing
it expires, exactly Iceberg's expire-snapshots contract.

Scale notes: a commit is one atomic directory rename; readers of
version N never see partial writes because ``v{N}`` appears only
after the rename. Snapshot metadata is tiny (one row per commit);
``n_rows`` records the FULL table count at that version (Iceberg's
``total-records`` summary field). Append-commit IO is proportional
to the appended data plus one link per reused file.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from streaming_data_lake_spark.locks import acquire_flock
from streaming_data_lake_spark.overlay import rmtree_reclaim, young_entry


class VersionedTable:
    """A parquet table with numbered snapshot versions."""

    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.table_dir = table_dir
        os.makedirs(table_dir, exist_ok=True)

    def _meta_path(self) -> str:
        return os.path.join(self.table_dir, "_snapshots.json")

    def _read_meta(self) -> list[dict]:
        """Parse the snapshot log, tolerating a TORN FINAL line
        (tests/test_torn_writes.py): the log is append-mode, so a crash mid-
        append (or a power loss that loses the tail block) leaves a
        half-written last record — and a hard parse error here
        bricked EVERY later operation on the table (latest_version,
        commit, snapshots, read all route through this). A torn tail
        is exactly the already-handled "crash between the v{N} rename
        and the metadata append" state — the version dir may exist
        unrecorded, which _next_version's disk scan and
        expire_snapshots' dir-listing candidates both cover — so the
        half record is dropped. A torn NON-final line is real
        corruption (append-only logs tear only at the tail) and still
        raises."""
        if not os.path.exists(self._meta_path()):
            return []
        with open(self._meta_path()) as f:
            lines = [ln for ln in f if ln.strip()]
        out: list[dict] = []
        for i, line in enumerate(lines):
            try:
                out.append(json.loads(line))
            except ValueError:
                if i == len(lines) - 1:
                    break  # torn tail from a crashed append — ignore
                raise ValueError(
                    f"corrupt snapshot log {self._meta_path()!r}: "
                    f"unparseable NON-final line {i + 1} — an append-only "
                    f"log tears only at the tail; inspect before use"
                ) from None
        return out

    def _repair_torn_tail(self) -> None:
        """Physically truncate a torn final record BEFORE appending:
        _read_meta's read-side tolerance alone is
        DEFEATED by commit() — the torn half-line has no trailing
        newline, so an 'a'-mode append GLUES the new JSON record onto
        it. That glued line is itself unparseable, so the fresh
        commit's metadata is silently dropped as "the torn tail"
        (latest_version/read go stale after a successful commit), and
        the commit after THAT makes the glued line non-final —
        permanently bricking the table with the NON-final-line error.
        Repair = truncate to the end of the last newline-terminated
        line (append-only logs tear only at the tail, so the torn
        bytes are exactly the suffix after the last ``\\n``). Runs
        under the commit flock, so no concurrent appender can be
        mid-write when we truncate."""
        path = self._meta_path()
        if not os.path.exists(path):
            return
        with open(path, "r+b") as fh:
            fh.seek(0, os.SEEK_END)
            size = fh.tell()
            if size == 0:
                return
            fh.seek(size - 1)
            if fh.read(1) == b"\n":
                return
            fh.seek(0)
            keep = fh.read().rfind(b"\n") + 1  # 0 when no newline at all
            fh.truncate(keep)

    def latest_version(self) -> int:
        meta = self._read_meta()
        return meta[-1]["version"] if meta else 0

    def _next_version(self) -> int:
        """One past the highest version seen in metadata OR on disk.
        Scanning disk too makes commit crash-safe: a crash between the
        v{N} rename and the metadata append leaves an unrecorded v{N}
        directory, and computing from metadata alone would re-collide
        with it (ENOTEMPTY) on every later commit."""
        disk = 0
        for entry in os.listdir(self.table_dir):
            if entry.startswith("v") and entry[1:].isdigit():
                disk = max(disk, int(entry[1:]))
        return max(self.latest_version(), disk) + 1

    _SCRATCH_MIN_AGE_S = 3600.0

    def _sweep_stale_scratch(self) -> None:
        """Remove crash-leaked commit scratch and expire-parked
        version bytes (``__tmp_`` inside the table dir — the
        lake-level orphan sweep never descends here). Age-guarded so
        a concurrent writer's live scratch AND a straddling reader's
        expire-parked snapshot survive. The guard is the SHARED
        overlay.young_entry rule, because a private mtime-only
        check read expire-parked dirs as instantly old — os.rename
        PRESERVES the directory's mtime, so a version written hours
        ago looked hours old one second after expire_snapshots parked
        it, and the very next commit reclaimed it under a mid-scan
        time-travel reader (the exact race expire-by-rename exists to
        eliminate). rename refreshes the inode's ctime, which
        young_entry takes into account."""
        import time

        now = time.time()
        for entry in os.listdir(self.table_dir):
            if "__tmp_" not in entry:
                continue
            path = os.path.join(self.table_dir, entry)
            if young_entry(path, now, self._SCRATCH_MIN_AGE_S):
                continue
            # The shared loud-reclamation convention: races silent,
            # persistent EACCES/EIO surfaces once on stderr; retried
            # next commit.
            rmtree_reclaim(path, "VersionedTable._sweep_stale_scratch")

    def _link_data_files(self, src_dir: str, dst_dir: str) -> int:
        """Hard-link every data file of ``src_dir`` into ``dst_dir``
        (recursing through partition subdirs), skipping hidden /
        underscore metadata (``_SUCCESS``, sidecars — the new write
        has its own). Spark part-file names embed a write UUID, so a
        collision means corruption, not coincidence — raise."""
        linked = 0
        for root, _dirs, files in os.walk(src_dir):
            rel = os.path.relpath(root, src_dir)
            out = dst_dir if rel == "." else os.path.join(dst_dir, rel)
            for f in files:
                if f.startswith((".", "_")):
                    continue
                os.makedirs(out, exist_ok=True)
                sf, df_ = os.path.join(root, f), os.path.join(out, f)
                if os.path.exists(df_):
                    raise FileExistsError(
                        f"snapshot file name collision: {df_} already written"
                    )
                try:
                    os.link(sf, df_)
                except OSError:  # cross-device: fall back to copy
                    shutil.copy2(sf, df_)
                linked += 1
        return linked

    def commit(self, df: DataFrame, operation: str = "append") -> int:
        """Write a new immutable snapshot; returns its version number.

        ``operation`` selects the commit semantics, as in Iceberg's
        snapshot ``operation`` field:

        - ``"append"``: ``df`` holds ONLY the rows to add. The new
          version hard-links the previous version's data files
          (manifest reuse — no bytes copied) and writes just ``df``
          as new files. On a table with no prior version this is the
          initial full write.
        - ``"overwrite"`` (or any other label): ``df`` is the FULL
          new table contents, materialized completely.

        Either way every published ``v{N}`` dir is self-contained
        (readers need exactly one version directory) and ``n_rows``
        records the full table count at that version.

        An append whose schema differs from the previous version is
        REJECTED: a linked-append ``v{N}`` dir mixes files from
        multiple writes, and a plain parquet read of a mixed-schema
        dir resolves to one arbitrary footer's schema — an evolved
        column would drop nondeterministically. Iceberg
        likewise gates column changes behind explicit ALTER TABLE;
        here the evolution path is an ``overwrite`` commit (which
        materializes a uniform-schema version — see
        ``schema_evolution_read`` for the mergeSchema read pattern
        over heterogeneous HISTORY).

        The whole commit holds a blocking per-table flock on
        ``_commit.lock`` inside the table dir: two unserialized committers
        race _next_version's disk scan to the SAME v{N} — the loser
        hits ENOTEMPTY on the rename at best, interleaves the
        metadata log at worst. Under the flock the late committer
        blocks, then numbers past the winner. Where flock is
        unavailable the documented single-writer assumption applies —
        loudly, with no fd leak (locks.acquire_flock).
        """
        lock_fh = acquire_flock(
            os.path.join(self.table_dir, "_commit.lock"),
            f"VersionedTable commit {self.table_dir!r}",
        )
        try:
            return self._commit_locked(df, operation)
        finally:
            if lock_fh is not None:
                lock_fh.close()  # releases the flock

    def _commit_locked(self, df: DataFrame, operation: str) -> int:
        self._sweep_stale_scratch()
        self._repair_torn_tail()
        version = self._next_version()
        prev = os.path.join(self.table_dir, f"v{self.latest_version()}")
        link_prev = (
            operation == "append" and version > 1 and os.path.isdir(prev)
        )
        if link_prev:
            prev_fields = {
                (f.name, f.dataType.simpleString())
                for f in self.spark.read.parquet(prev).schema.fields
            }
            new_fields = {
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            }
            if prev_fields != new_fields:
                raise ValueError(
                    f"append schema differs from v{self.latest_version()} "
                    f"(only in previous: {sorted(prev_fields - new_fields)}, "
                    f"only in append: {sorted(new_fields - prev_fields)}); "
                    f"a linked-append version dir must be schema-uniform — "
                    f"commit the full evolved table with operation='overwrite'"
                )
        tmp = os.path.join(self.table_dir, f"__tmp_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        # n_rows = previous snapshot's recorded count + the staged
        # files' count, read BEFORE linking the previous version in:
        # counting the fully-linked dir opens every
        # accumulated part file's footer on every small append —
        # O(all files) per commit, contradicting the module's
        # append-IO-proportional-to-appended-data contract. Linked
        # files are byte-identical to the prior version's, whose
        # count was recorded at ITS commit.
        n_rows = self.spark.read.parquet(tmp).count()
        if link_prev:
            n_rows += self._read_meta()[-1]["n_rows"]
            self._link_data_files(prev, tmp)
        final = os.path.join(self.table_dir, f"v{version}")
        os.rename(tmp, final)
        with open(self._meta_path(), "a") as f:
            f.write(
                json.dumps(
                    {"version": version, "operation": operation, "n_rows": n_rows}
                )
                + "\n"
            )
        return version

    def read(self, version: int | None = None) -> DataFrame:
        """Read the table at ``version`` (time travel) or latest."""
        v = self.latest_version() if version is None else version
        path = os.path.join(self.table_dir, f"v{v}")
        if not os.path.isdir(path):
            raise ValueError(f"version {v} does not exist in {self.table_dir}")
        return self.spark.read.parquet(path)

    def snapshots(self) -> DataFrame:
        """Snapshot metadata table: (version, operation, n_rows) —
        the ``table$snapshots`` analog."""
        meta = self._read_meta()
        return self.spark.createDataFrame(
            [(m["version"], m["operation"], m["n_rows"]) for m in meta],
            "version int, operation string, n_rows long",
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """X2 analog: drop all but the newest ``keep_last`` versions'
        data directories (metadata rows are kept, as Iceberg keeps
        history of expired snapshots in the metadata log).

        Holds the per-table commit flock, because with
        ``keep_last=0`` an unserialized expire could rename the
        previous version out from under a concurrent append commit's
        _link_data_files walk — os.walk silently skips vanished
        subdirectories, so the commit would publish a PARTIAL version
        as if complete. Under the flock, expire and commit
        serialize."""
        lock_fh = acquire_flock(
            os.path.join(self.table_dir, "_commit.lock"),
            f"expire_snapshots {self.table_dir!r}",
        )
        try:
            return self._expire_snapshots_locked(keep_last)
        finally:
            if lock_fh is not None:
                lock_fh.close()  # releases the flock

    def _expire_snapshots_locked(self, keep_last: int) -> list[int]:
        versions = [m["version"] for m in self._read_meta()]
        retained = set(versions[-keep_last:]) if keep_last else set()
        # Candidates come from metadata AND the directory listing: a
        # crash between the v{N} rename and the metadata append (the
        # case _next_version numbers past) leaves a full UNRECORDED
        # v{N} dir that metadata-only candidates would never expire —
        # an unbounded storage leak. An orphan
        # NEWER than every recorded version is left alone (it may be
        # a commit mid-recovery); older orphans expire with their
        # recorded peers.
        on_disk = set()
        for e in os.listdir(self.table_dir):
            if e.startswith("v") and e[1:].isdigit() and os.path.isdir(
                os.path.join(self.table_dir, e)
            ):
                on_disk.add(int(e[1:]))
        newest_recorded = max(versions, default=0)
        candidates = sorted(
            v
            for v in (set(versions) | on_disk)
            if v not in retained and v <= newest_recorded
        )
        # Report only versions whose data ACTUALLY existed — the
        # retained metadata history alone would re-report
        # already-deleted versions on every later call.
        #
        # Expire by RENAME, not inline rmtree, like every other
        # retirement in the engine: a time-travel reader mid-scan
        # of an expiring version would otherwise see its directory
        # being emptied — a silent partial read, worse than the clean
        # "version does not exist" a post-expiry lookup gets. Renamed
        # to table-internal ``__tmp_`` scratch, the reader's
        # already-resolved inode stays a complete snapshot; fresh
        # lookups fail loudly; _sweep_stale_scratch reclaims the
        # bytes age-guarded at a later commit.
        self._sweep_stale_scratch()  # reclaim PRIOR expiries' parked bytes
        expired = []
        for v in candidates:
            if v not in on_disk:
                continue
            src = os.path.join(self.table_dir, f"v{v}")
            try:
                os.rename(src, os.path.join(self.table_dir, f"__tmp_{uuid.uuid4().hex}"))
            except OSError as exc:
                # Do NOT fall back to an inline rmtree: that
                # reintroduces the partial-listing reader race the
                # rename-parking exists to eliminate, on precisely the
                # filesystems where rename is flaky. Skip LOUDLY (the
                # engine's degradation convention): a persistent
                # failure must be distinguishable from already-expired,
                # or storage grows with no signal.
                import sys

                print(
                    f"expire_snapshots: cannot park v{v} of "
                    f"{self.table_dir!r} ({exc!r}); skipped — a later "
                    f"expire retries",
                    file=sys.stderr,
                )
                continue
            expired.append(v)
        return expired
